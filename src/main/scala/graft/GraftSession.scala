package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one place a graft session is built. Every main and the test
  * suite start here, so the configuration the oracle checks (Verify,
  * the tests) is the configuration the benchmarks time.
  */
object GraftSession {

  /** Local cores when the caller names none: `SPARK_GRAFT_CPUS`, else
    * every available processor.
    */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC
    * session time, nanos-timestamp parquet read as long (see
    * `Tables.normalizeTs`), a per-JVM warehouse under `Tables.scratch`,
    * the RocksDB state store (see `StreamOps.ensureRocksDbStateStore`)
    * and no UI. `extensions = false` leaves out `GraftExtensions`: a
    * stock-Spark session, which only the plain-Spark control run
    * (`Baseline`) needs.
    */
  def local(cpus: Int = defaultCpus, extensions: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", Tables.scratch("warehouse"))
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
    if (extensions) b.config("spark.sql.extensions", "graft.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop the storage blocks a finished query left behind. Queries
    * that localCheckpoint (dedup, clustering, snapshot proofs) persist
    * blocks until the GC + ContextCleaner cycle notices them; across
    * many sequential queries on one heap they evict later queries'
    * working set and skew their timings. Blocking, so the removal never
    * overlaps the next query, and only when blocks exist.
    */
  /** The filesystem that serves `path`, resolved through the session's
    * Hadoop conf — the one Spark's own scans of that path use, so a
    * `graft://` mount or an `fs.*` key set on the session reaches the
    * engine's metadata reads and writes too.
    */
  private[graft] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private[graft] def releaseLeakedBlocks(spark: SparkSession): Unit = {
    val leaked = spark.sparkContext.getPersistentRDDs.values
    if (leaked.nonEmpty) leaked.foreach(_.unpersist(blocking = true))
  }
}
