package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** The test session is built by the same factory every main uses, so
  * it must carry every factory setting; and streaming drains run with
  * the fixed state-partition count whatever the session's shuffle
  * partitions are.
  */
class GraftSessionSpec extends SparkSuite {

  test("the test session carries every GraftSession setting") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[8]")
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.warehouse.dir") == Tables.scratch("warehouse"))
    assert(conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    assert(spark.sessionState.conf.adaptiveExecutionEnabled, "AQE must be on")
    // a graft SQL function resolves: the extensions are loaded
    val cos = spark.sql("SELECT cosine_sim(array(1.0f, 0.0f), array(2.0f, 0.0f))")
      .head().getAs[Number](0).doubleValue
    assert(math.abs(cos - 1.0) < 1e-9)
  }

  test("runToMemory drains with StatePartitions state stores and restores shuffle partitions") {
    val ckpt = Tables.scratch(s"state_parts_${System.nanoTime()}")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val out = StreamOps.runToMemory(
        StreamOps.eventsStream(spark, sf).groupBy("event_type").count(),
        "complete", Some(ckpt))
      val batch = Tables(spark, sf, "events").groupBy("event_type").count()
      assert(out.exceptAll(batch).isEmpty && batch.exceptAll(out).isEmpty)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3",
        "the caller's shuffle partitions must be restored")
      val parts = spark.read.format("state-metadata").load(ckpt)
        .select(col("numPartitions")).collect().map(_.getInt(0)).toSet
      assert(parts == Set(StreamOps.StatePartitions), s"state partitions: $parts")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
