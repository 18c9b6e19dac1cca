package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators for shuffle avoidance at scale
  * (SURVEY §4.2 "Partitioning & shuffle"): bucketing for co-located
  * joins and salting for skewed keys.
  */
object Partitioning {

  /** Write both sides as bucketed+sorted tables on the join key and
    * join them: with matching bucket counts Spark plans a sort-merge
    * join with NO Exchange on either side — the 100 TB repeated-join
    * pattern (pay the shuffle once at write time, never at read time).
    */
  def bucketedJoin(
      spark: SparkSession,
      left: DataFrame, right: DataFrame,
      key: String, buckets: Int,
      leftTable: String, rightTable: String): DataFrame = {
    def save(df: DataFrame, name: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      // the in-memory catalog forgets tables across sessions but the
      // managed location survives — clear it or saveAsTable refuses
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + "/" + name)
      val fs = graft.GraftSession.fsOf(spark, loc.toString)
      if (fs.exists(loc)) fs.delete(loc, true)
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    }
    save(left, leftTable)
    save(right, rightTable)
    spark.table(leftTable).join(spark.table(rightTable), key)
  }

  /** Cluster-sorted write: range-partition on the cluster keys and
    * sort within partitions before writing, so every output file covers
    * a narrow, non-overlapping key range. Parquet min/max statistics
    * then prune whole files/row groups for selective filters — at
    * 100 TB, layout is the dominant scan-cost lever (a filter on an
    * unclustered table reads every file; on a clustered one it reads
    * the few files whose range intersects the predicate).
    */
  def clusteredWrite(df: DataFrame, path: String, numFiles: Int, keys: String*): Unit =
    df.repartitionByRange(numFiles, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bit-interleave two 16-bit-scaled int columns into a Z-order key
    * (Morton code). Pure Catalyst shift/and/or tree — constant-folded
    * into whole-stage codegen, no custom kernel needed.
    */
  def interleave16(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-ORDER clustered write: scale both keys into 16-bit rank space
    * (min/max from one cheap pre-pass — the same stats a warehouse
    * already has), interleave their bits into a Morton key, and
    * range-partition + sort on it. Every output file then covers a
    * narrow range in BOTH dimensions, so parquet min/max pruning works
    * for a filter on either key — single-key clustering gives one dim
    * a ~full-range spread per file. The standard multi-dimensional
    * layout for 100 TB fact tables queried along more than one axis.
    */
  def zorderWrite(
      df: DataFrame, path: String, numFiles: Int,
      keyA: String, keyB: String): Unit = {
    // coalesce: min/max are NULL over an empty input — the z-key
    // degenerates to the constant 0 and the write is an empty layout
    val r = df.agg(
      coalesce(min(col(keyA)).cast("double"), lit(0.0)),
      coalesce(max(col(keyA)).cast("double"), lit(0.0)),
      coalesce(min(col(keyB)).cast("double"), lit(0.0)),
      coalesce(max(col(keyB)).cast("double"), lit(0.0))).head()
    val (aLo, aHi, bLo, bHi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    def scaled(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0)
      else ((col(c).cast("double") - lit(lo)) * lit(65535.0 / (hi - lo)))
        .cast("int")
    val z = interleave16(scaled(keyA, aLo, aHi), scaled(keyB, bLo, bHi))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Salted join for skewed keys: the skewed (large) side gets a random
    * salt in [0, saltFactor); the small side is replicated saltFactor
    * times; the join key becomes (key, salt), spreading a hot key over
    * saltFactor reducers. (AQE skew-join handles this adaptively; the
    * explicit form is for engines/pipelines where the skew is known
    * up front, and keeps working when AQE is off.)
    */
  def saltedJoin(
      large: DataFrame, small: DataFrame,
      key: String, saltFactor: Int): DataFrame = {
    val salted = large.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltFactor)))
    val replicated = small
      .withColumn("__salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
