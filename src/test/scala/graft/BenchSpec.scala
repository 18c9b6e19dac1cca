package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench failure accounting: a query that throws is recorded as failed,
  * never as a fast query.
  */
class BenchSpec extends SparkSuite {

  test("a throwing query is listed under failed and left out of queries and total") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(1000).toDF("id")
    val boom: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(1).select(raise_error(lit("deliberate bench failure")))
    val sweep = Bench.sweep(spark, Seq("q_ok" -> ok, "q_boom" -> boom), sf, sf)
    assert(sweep.times.map(_._1) == Seq("q_ok"))
    assert(sweep.failed.map(_._1) == Seq("q_boom"))
    assert(sweep.failed.head._2.contains("deliberate bench failure"))

    val json = new ObjectMapper()
    val full = json.readTree(sweep.json(sf))
    assert(full.get("metric").asText == "total")
    assert(!full.get("queries").has("q_boom"))
    assert(full.get("failed").get("q_boom").asText.contains("deliberate bench failure"))
    assert(full.get("value").asDouble == full.get("queries").get("q_ok").asDouble)
    val compact = json.readTree(sweep.compactJson(sf))
    assert(compact.get("metric").asText == "total_compact")
    assert(compact.get("value").asDouble == sweep.times.head._2)
    assert(compact.get("n_queries").asInt == 1 && compact.get("n_failed").asInt == 1)
    assert(!compact.has("queries_file"))
  }
}
