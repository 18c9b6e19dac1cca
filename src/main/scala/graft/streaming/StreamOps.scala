package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming plumbing (SURVEY §2.B.8, lifecycle S3).
  *
  * Streams are the same parquet tables read through the file streaming
  * source (offset tracking = the reference's listStatus analog,
  * `CubefsFileSystem.java:280-336`); results land in a memory sink via
  * an AvailableNow-style drain so batch-equivalence is directly
  * checkable against the DuckDB oracle. Checkpoint durability maps to
  * the reference's hsync contract (`CubefsOutputStream.java:135-141`).
  */
object StreamOps {
  private val counter = new AtomicInteger(0)

  /** Shuffle (= state-store) partitions of every streaming drain. A
    * streaming query creates one state-store instance per shuffle
    * partition, and at fixture scale the per-batch commit machinery of
    * one store per core dominates wall-clock; 8 stores size the state
    * to the data volume, exactly what you'd tune on a cluster. Results
    * are partition-count-independent, up to the summation order of
    * floating-point aggregates (last-ulp differences).
    */
  val StatePartitions: Int = 8

  /** Run `body` with `spark.sql.shuffle.partitions` at
    * [[StatePartitions]], restoring the caller's value afterwards.
    */
  private def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** All stateful streaming runs on the RocksDB state store. The
    * default HDFS-backed provider keeps every key's state on the
    * executor HEAP — at a 100 TB keyspace (billions of session/dedup/
    * join keys) that OOMs; RocksDB spills state to local disk and
    * bounds memory by block cache, which is the only configuration
    * that survives scale. Set session-wide (not per-query, not
    * restored): a uniform provider means every checkpoint — including
    * ones re-read later by the statestore data source
    * (q_stream_state_reader) — was written and is read by the same
    * provider, and no query's timing is skewed by a leaked flip from
    * an earlier one.
    */
  def ensureRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Per-micro-batch commit machinery, not semantics (results are
    // checkpoint-format-independent):
    //  - changelog checkpointing commits each batch as the batch's
    //    CHANGES (an O(updates) changelog file) instead of uploading a
    //    full RocksDB snapshot per store per batch; snapshots move to
    //    the background maintenance thread. At scale the per-batch
    //    durability cost becomes O(state updated), not O(state held) —
    //    and the state source (q_stream_state_reader) replays
    //    changelogs on read, so re-reading checkpoints is unchanged.
    //  - trackTotalNumberOfRows=false drops the read-before-write each
    //    put/delete pays to maintain the numRowsTotal METRIC; no query
    //    reads that metric.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
      "false")
  }

  /** Pin part-file mtimes to their (range-ordered) name order.
    * FileStreamSource picks files oldest (modification time, path)
    * first, while parallel write tasks finish in random order — without
    * the pin, a later range split could stream before an earlier one
    * and break the watermark's arrival-order guarantee. Hadoop
    * `FileSystem.setTimes` (not `java.io.File`), so the paced sources
    * work against any Hadoop-FS store, not just local disk.
    */
  private def pinMtimesToRangeOrder(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(p)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    parts.zipWithIndex.foreach { case (st, i) =>
      fs.setTimes(st.getPath, 1755000000000L + i * 1000L, -1L)
    }
  }

  /** The events table as a stream (schema fixed from the batch read;
    * ts normalized to µs TimestampType by the same rule as `Tables`,
    * whichever parquet encoding the testdata generation used).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evPath = Tables.path(dir, "events")
    val rawSchema = spark.read.parquet(evPath).schema
    val p = new org.apache.hadoop.fs.Path(evPath)
    val raw =
      if (p.getFileSystem(spark.sessionState.newHadoopConf())
          .getFileStatus(p).isDirectory)
        // multi-file table (e.g. a ScaleUp-synthesized sf): the dir IS
        // the stream source
        spark.readStream.schema(rawSchema).parquet(evPath)
      else
        // single-file table (driver testdata): the file source requires
        // a directory, so stream the sf dir with a glob selecting the
        // events file
        spark.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    Tables.normalizeTs(raw)
  }

  /** The events table as a rate-limited multi-batch stream: a
    * range-split copy (nSplits time-ordered files, mtimes pinned to the
    * range order — FileStreamSource picks oldest (modTime, path) first
    * while parallel write tasks would randomize mtimes) read with
    * maxFilesPerTrigger=1, so an AvailableNow run processes nSplits
    * micro-batches in event-time order. Join/agg state must then
    * survive across batch boundaries, which the single-batch glob
    * source never exercises. Time-range splitting keeps watermark
    * semantics exact: each batch's event times follow the previous
    * batch's, so the watermark only moves past fully-arrived data.
    */
  def eventsStreamPaced(spark: SparkSession, dir: String, nSplits: Int): DataFrame =
    tableStreamPaced(spark, dir, "events", "ts", nSplits)
      .transform(Tables.normalizeTs)

  /** [[eventsStreamPaced]] generalized to any fixture table: range-split
    * on `orderCol` into `nSplits` files (mtimes pinned to range order)
    * and stream them one per micro-batch — the rate-limited ingest
    * harness for batch-continuous operators (snapshot MERGE, index
    * appendDocs) that must be exercised across real batch boundaries.
    */
  def tableStreamPaced(spark: SparkSession, dir: String, table: String,
      orderCol: String, nSplits: Int): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(Tables.path(dir, table))
    val src = Tables.scratch(s"paced_src_${counter.incrementAndGet()}")
    raw.repartitionByRange(nSplits, col(orderCol)).write.mode("overwrite").parquet(src)
    pinMtimesToRangeOrder(spark, src)
    spark.readStream
      .schema(raw.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "part-*")
      .parquet(src)
  }

  /** Exactly-once recovery drill (the reference's hsync durability
    * contract, `CubefsOutputStream.java:116-141`, exercised end to
    * end): split `events` into `nSplits` time-range files, stream them
    * one file per micro-batch through `build` into a parquet FILE sink
    * with a checkpoint, hard-stop the query after its first committed
    * batch (simulated crash — stop() can interrupt a batch mid-write),
    * then restart from the SAME checkpoint and drain. The file sink's
    * transactional metadata log must dedup any half-committed batch, so
    * the combined output equals a single uninterrupted run.
    *
    * Range splitting (not hash) matters: file i+1's event times all
    * follow file i's, so the watermark only ever moves past data that
    * has fully arrived and no row is dropped as late — batch
    * equivalence stays exact. FileStreamSource picks files oldest
    * (modification time, path) first and parallel write tasks finish in
    * random order, so mtimes are pinned to the range order explicitly.
    *
    * Returns (sink read-back, run-1 batch count, run-2 batch count).
    */
  def runWithRecovery(
      events: DataFrame, nSplits: Int,
      build: DataFrame => DataFrame): (DataFrame, Long, Long) = {
    val spark = events.sparkSession
    val id = counter.incrementAndGet()
    val src = Tables.scratch(s"recovery_src_$id")
    val sink = Tables.scratch(s"recovery_sink_$id")
    val ckpt = Tables.scratch(s"recovery_ckpt_$id")
    events.repartitionByRange(nSplits, col("ts"))
      .write.mode("overwrite").parquet(src)
    pinMtimesToRangeOrder(spark, src)
    val schema = spark.read.parquet(src).schema
    def start() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      build(stream).writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // state partitions pinned as in runToMemory: the checkpoint pins
    // the partition count at first start, and both runs share one
    // checkpoint, so the count is consistent across the kill/restart
    ensureRocksDbStateStore(spark)
    withStatePartitions(spark) {
      val q1 = start()
      try {
        while (q1.recentProgress.isEmpty && q1.isActive) Thread.sleep(25)
      } finally q1.stop()
      q1.awaitTermination()
      val b1 = q1.recentProgress.length.toLong
      val q2 = start()
      q2.awaitTermination()
      val b2 = q2.recentProgress.length.toLong
      (spark.read.parquet(sink), b1, b2)
    }
  }

  /** Drain a streaming DataFrame into a memory sink and return the
    * result table. `outputMode`: complete for aggregations (emits full
    * state), append for stateless/finalized-only operators.
    */
  def runToMemory(df: DataFrame, outputMode: String,
      checkpoint: Option[String] = None): DataFrame = {
    val name = s"graft_sink_${counter.incrementAndGet()}"
    val spark = df.sparkSession
    ensureRocksDbStateStore(spark)
    withStatePartitions(spark) {
      val writer = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
      checkpoint.foreach(writer.option("checkpointLocation", _))
      val q = writer.start()
      q.awaitTermination()
    }
    spark.table(name)
  }
}
