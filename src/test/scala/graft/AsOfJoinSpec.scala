package graft

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** AsOfJoin.latestBefore semantics + its leftId-uniqueness contract. */
class AsOfJoinSpec extends SparkSuite {
  import spark.implicits._

  test("latestBefore picks the latest right row at-or-before, ties broken, misses null") {
    val left = Seq(
      (1L, "u1", 100L), // matches t=90 (latest <= 100)
      (2L, "u1", 50L),  // matches t=50 (equality included)
      (3L, "u2", 10L),  // no right row <= 10 -> nulls
      (4L, "u3", 99L)   // key with tied right ts -> max tieBreak wins
    ).toDF("id", "k", "ts")
    val right = Seq(
      ("u1", 50L, 500.0, 1L),
      ("u1", 90L, 900.0, 2L),
      ("u1", 120L, 1200.0, 3L),
      ("u2", 20L, 200.0, 4L),
      ("u3", 80L, 801.0, 5L),
      ("u3", 80L, 802.0, 6L)
    ).toDF("rk", "rts", "amount", "rid")

    val out = AsOfJoin.latestBefore(
      left, right,
      leftKey = "k", rightKey = "rk", leftTs = "ts", rightTs = "rts",
      leftId = "id", pickCols = Seq("amount", "rid"), tieBreak = "rid")
      .select("id", "amount", "rid")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).sortBy(_._1)

    assert(out === Seq(
      (1L, Some(900.0), Some(2L)),
      (2L, Some(500.0), Some(1L)),
      (3L, None, None),
      (4L, Some(802.0), Some(6L))))
  }

  test("latestBefore orders a date rightTs like the same days as timestamps, and rejects a string rightTs") {
    val left = Seq(
      (1L, "u1", "2024-01-10 12:00:00"), // latest day <= ts: 01-08
      (2L, "u1", "2024-01-05 00:00:00"), // equality included: 01-05
      (3L, "u1", "2024-01-01 00:00:00")  // before every right row: null
    ).toDF("id", "k", "ts").withColumn("ts", to_timestamp(col("ts")))
    val right = Seq(("u1", "2024-01-05", 1L), ("u1", "2024-01-08", 2L),
      ("u1", "2024-01-12", 3L)).toDF("rk", "day", "rid")
    def picks(rightTs: org.apache.spark.sql.Column) =
      AsOfJoin.latestBefore(left, right.withColumn("rts", rightTs),
        leftKey = "k", rightKey = "rk", leftTs = "ts", rightTs = "rts",
        leftId = "id", pickCols = Seq("rid"), tieBreak = "rid")
        .select("id", "rid").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    val byDate = picks(to_date(col("day")))
    assert(byDate === Seq((1L, Some(2L)), (2L, Some(1L)), (3L, None)))
    assert(byDate === picks(to_date(col("day")).cast("timestamp")))
    val e = intercept[IllegalArgumentException](picks(col("day")))
    assert(e.getMessage.contains("'rts'") && e.getMessage.contains("string"))
  }

  test("contract: q_join_asof's leftId (event_id) is unique in the fixture") {
    // latestBefore groups by leftId alone and re-joins 1:1 on it, so a
    // duplicate id would merge distinct rows' picks and fan out the
    // final join — guard the call site's assumption against data drift.
    val ev = Tables(spark, sf, "events")
    assert(ev.count() === ev.select("event_id").distinct().count())
  }
}
