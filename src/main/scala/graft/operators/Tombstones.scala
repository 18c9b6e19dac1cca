package graft.operators

import graft.InFlight.{await, inFlight}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Sequence-scoped deletes, written once for both persisted indexes
  * ([[TextIndex]], [[IvfIndex]]): how a delete is recorded, committed,
  * applied, pinned and reclaimed.
  *
  *   - Record: every deleted id is stamped with the index's committed
  *     ingest seq at delete time (`del_seq`) and hides only rows
  *     ingested at or below it, so a re-ingest after the delete (a
  *     higher seq) is visible at once, with no compaction in between.
  *   - Commit: [[record]] stages the file under `_ingest_tmp_*` and
  *     publishes it into `_tombstones` with [[Commit.publishFiles]]. It
  *     masks nothing until the index's CAS'd manifest commit lists it:
  *     `n_tombs=` (the listed row count) and one `tombfile:` line per
  *     file ([[Tombs]]). A crash before that commit leaves the old
  *     state whole.
  *   - Apply: [[horizon]] reads only the listed files, as ONE directory
  *     read filtered on file name (a list of paths would open the store
  *     once per file); [[mask]] anti-joins it, broadcast up to
  *     `graft.textindex.tombBroadcastMax` listed rows (the key predates
  *     the vector index; it governs both) and shuffled past it.
  *   - Pin: an epoch pin is the index's manifest content, so it lists
  *     the pin's files — a delete committed after the pin reuses the
  *     pinned seq, and only the file list tells the two apart (why
  *     Iceberg snapshots track their delete files). A pinned name that
  *     no longer exists matches no file: a no-op.
  *   - Fold and reclaim: compaction commits the list it still needs
  *     (empty once the deletes are folded into the rows), then
  *     [[sweep]] deletes every file that neither the live manifest nor
  *     a live epoch pin lists; `vacuumIndex` runs the same sweep
  *     age-guarded, which also reclaims a crashed delete's published
  *     but never committed file.
  */
private[graft] object Tombstones {

  /** The sidecar directory under an index root. */
  val Dir = "_tombstones"

  private val FileLine = "tombfile:"
  private val CountKey = "n_tombs="

  /** The committed delete state a manifest carries: listed row count
    * (the mask-strategy switch) and listed file names. */
  final case class Tombs(n: Long, files: Seq[String]) {
    def isEmpty: Boolean = files.isEmpty
    def lines: Seq[String] = s"$CountKey$n" +: files.map(FileLine + _)
  }

  val Empty: Tombs = Tombs(0L, Nil)

  /** The [[Tombs]] of a manifest or pin. */
  def parse(lines: Seq[String]): Tombs =
    Tombs(lines.collectFirst { case l if l.startsWith(CountKey) =>
        l.stripPrefix(CountKey).toLong }.getOrElse(0L),
      lines.filter(_.startsWith(FileLine)).map(_.stripPrefix(FileLine)))

  /** The sidecar schema: `del_id` in the index's own id type. Reads
    * declare it, so files of mixed id widths upcast or fail loudly. */
  def schema(idType: DataType): StructType =
    StructType(Seq(StructField("del_id", idType), StructField("del_seq", LongType)))

  private def broadcastMax(spark: SparkSession): Long =
    spark.conf.getOption("graft.textindex.tombBroadcastMax")
      .map(_.toLong).getOrElse(1000000L)

  /** Stage `ids` (a `del_id` column) stamped with `seq` and publish the
    * file into the sidecar; `alongside` runs concurrently with the
    * staging write. Returns `tombs` grown by the new file and its rows —
    * the caller commits them in its manifest — and `alongside`'s result.
    */
  def record[T](fs: FileSystem, path: String, ids: DataFrame, seq: Long,
      tombs: Tombs)(alongside: => T): (Tombs, T) = {
    val obs = org.apache.spark.sql.Observation(
      s"tomb_count_${java.util.UUID.randomUUID}")
    val tmp = Commit.stageDir(path)
    val writeF = inFlight {
      ids.select(col("del_id"), lit(seq).as("del_seq"))
        .observe(obs, count(lit(1)).as("n"))
        .coalesce(1).write.parquet(tmp.toString)
      obs.get("n").asInstanceOf[Long]
    }
    val result = alongside
    val n = await(writeF)
    val published = Commit.publishFiles(fs, tmp, new Path(path, Dir), seq)
    fs.delete(tmp, true)
    (Tombs(tombs.n + n, tombs.files ++ published), result)
  }

  /** The per-id horizon `(del_id, del_seq = max)` over `files`; None
    * when nothing is listed. */
  def horizon(spark: SparkSession, path: String, files: Seq[String],
      idType: DataType): Option[DataFrame] =
    if (files.isEmpty) None
    else Some(spark.read.schema(schema(idType)).parquet(s"$path/$Dir")
      .filter(col("_metadata.file_name").isin(files: _*))
      .groupBy("del_id").agg(max("del_seq").as("del_seq")))

  /** Anti-join `horizon` out of `df`: a row dies when a tombstone for
    * its id sits at or above its ingest seq. `n` is the listed row
    * count that picks broadcast or shuffle. */
  def mask(spark: SparkSession, df: DataFrame, idCol: String, seqCol: String,
      horizon: DataFrame, n: Long): DataFrame = {
    val h = if (n <= broadcastMax(spark)) broadcast(horizon) else horizon
    df.join(h, df(idCol) === h("del_id") && df(seqCol) <= h("del_seq"), "left_anti")
  }

  /** `df` under the committed deletes `tombs`; identity when none. */
  def masked(spark: SparkSession, path: String, tombs: Tombs, df: DataFrame,
      idCol: String, seqCol: String): DataFrame =
    horizon(spark, path, tombs.files, df.schema(idCol).dataType)
      .fold(df)(mask(spark, df, idCol, seqCol, _, tombs.n))

  /** Delete every sidecar file that none of `keep` (the live manifest's
    * and every live pin's state) lists and that is older than
    * `olderThanMs`; the directory goes too when nothing is kept.
    * Returns the deleted names. */
  def sweep(fs: FileSystem, path: String, keep: Seq[Tombs],
      olderThanMs: Long = 0L): Seq[String] = {
    val dir = new Path(path, Dir)
    if (!fs.exists(dir)) return Seq.empty
    val kept = keep.flatMap(_.files).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val all = fs.listStatus(dir).toSeq
    val drop = all.filter(s =>
      !kept.contains(s.getPath.getName) && s.getModificationTime <= cutoff)
    if (drop.size == all.size) fs.delete(dir, true)
    else drop.foreach(s => fs.delete(s.getPath, false))
    drop.map(_.getPath.getName)
  }
}
