package graft.operators

import graft.GraftSession.fsOf
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Partition-sharded versioned snapshots — the fact-table-scale
  * variant of [[Snapshots]] (whose own scale note,
  * `Snapshots.scala`, flags whole-table copy-on-write as
  * dimension-only). Here a MERGE rewrites ONLY the partitions that
  * contain touched keys; every other partition's files are carried
  * into the new version untouched — same paths, same bytes. At 100 TB
  * that is the difference between a commit costing O(delta-partitions)
  * and O(table).
  *
  * Layout: `root/parts/<partDir>/v_<N>/part-*.parquet` where
  * `<partDir>` is the hive-escaped `__p=<value>` directory produced by
  * Spark's partitioned writer and `N` is the table version that last
  * rewrote the partition. The manifest (the same immutable numbered
  * chain as [[Snapshots]], published by [[Commit.publish]] — tmp +
  * rename-to-fresh-name, last-wins) maps partition dir → data version:
  *
  *   `__p=A<TAB>3`   — partition A's data lives at parts/__p=A/v_3
  *
  * Every manifest sequence K IS table version K, and all manifests
  * are retained, so time travel resolves any old K directly. The
  * partition column is duplicated into a `__p` staging column for the
  * writer and kept in the data files themselves, so reading a set of
  * partition dirs needs no hive-path inference.
  *
  * Commits are single-writer: [[commitMerge]] CASes its manifest on
  * the one it read, so a concurrent commit fails loudly, and it stages
  * under fresh `_ingest_tmp_*` names that the next commit clears, so a
  * crashed commit never blocks its re-run.
  *
  * MERGE cardinality rules: at most one update row per key (standard),
  * and a key never moves between partitions (the partition value is
  * part of the row's identity — Iceberg's identity-partitioning
  * contract; violating it would strand the stale copy in the old
  * partition, which this layout by design never rewrites).
  */
object PartitionedSnapshots {
  private val StagePartCol = "__p"

  private def partPath(root: String, dir: String, v: Int) =
    s"$root/parts/$dir/v_$v"

  /** Write `df` partitioned by `partCol` into `stage`; returns the
    * partition dir names written. The writer's own hive escaping
    * defines the dir names, so value→dir mapping is consistent by
    * construction.
    */
  private def stageParts(fs: FileSystem, stage: Path, df: DataFrame,
      partCol: String): Seq[String] = {
    df.withColumn(StagePartCol, col(partCol))
      .write.partitionBy(StagePartCol).parquet(stage.toString)
    fs.listStatus(stage).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Stage-write `df` and move each produced partition dir under
    * `parts/<dir>/v_<v>`. Returns the partition dir names written. */
  private def writeVersion(fs: FileSystem, root: String, stage: Path,
      df: DataFrame, partCol: String, v: Int): Seq[String] = {
    val dirs = stageParts(fs, stage, df, partCol)
    dirs.foreach { d =>
      val dest = new Path(partPath(root, d, v))
      fs.mkdirs(dest.getParent)
      if (!fs.rename(new Path(stage, d), dest))
        throw new java.io.IOException(s"failed to publish partition $d at v$v")
    }
    dirs
  }

  /** partition dir → data version, from manifest sequence `version`
    * (latest when None). */
  def mapping(spark: SparkSession, root: String, version: Option[Int] = None): Map[String, Int] = {
    val fs = fsOf(spark, root)
    val seqs = Commit.numbered(fs, root, Commit.Manifest.prefix)
    require(seqs.nonEmpty, s"no partitioned snapshot table at $root")
    val v = version.getOrElse(seqs.max)
    require(seqs.contains(v), s"version $v not committed (have ${seqs.mkString(",")})")
    parseMapping(Commit.read(fs, root, Commit.Manifest, v))
  }

  private def parseMapping(lines: Seq[String]): Map[String, Int] =
    lines.map { line =>
      val Array(dir, dv) = line.split("\t")
      dir -> dv.toInt
    }.toMap

  /** Committed table versions in ascending order; empty if no table. */
  def versions(spark: SparkSession, root: String): Seq[Int] =
    Commit.numbered(fsOf(spark, root), root, Commit.Manifest.prefix)

  // ── empty-table readability ─────────────────────────────────────────
  // A partitioned write of ZERO rows produces ZERO partition dirs — a
  // version can legitimately map no partitions (an empty create, or a
  // table whose every row was deleted), and `spark.read.parquet()` of
  // no paths cannot infer a schema. The table's schema is therefore
  // recorded ONCE at create as a sidecar, and empty mappings read as
  // an empty TYPED frame — the same keep-the-schema rule as IvfIndex's
  // full-erasure compaction.

  private val SchemaFile = "_schema.json"

  private def writeSchema(fs: FileSystem, root: String, df: DataFrame): Unit =
    Commit.writeString(fs, new Path(root, SchemaFile), df.schema.json)

  private def emptyTyped(spark: SparkSession, root: String): Option[DataFrame] = {
    val p = new Path(root, SchemaFile)
    val f = fsOf(spark, root)
    if (!f.exists(p)) None
    else Some(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.DataType.fromJson(Commit.readString(f, p))
        .asInstanceOf[org.apache.spark.sql.types.StructType]))
  }

  /** Create the table at version 1 (drops any existing table at root). */
  def create(spark: SparkSession, root: String, df: DataFrame, partCol: String): Int = {
    val fs = fsOf(spark, root)
    fs.delete(new Path(root), true)
    val stage = Commit.stageDir(root)
    val dirs = writeVersion(fs, root, stage, df, partCol, 1)
    fs.delete(stage, true)
    // schema sidecar BEFORE the manifest commit (the commit publishes)
    writeSchema(fs, root, df)
    Commit.publish(fs, root, Commit.Manifest, dirs.sorted.map(d => s"$d\t1"))
  }

  /** The union of the data dirs `m` maps; an empty `m` reads as an
    * empty typed frame, or throws `missing` on a pre-sidecar table. */
  private def readMapped(spark: SparkSession, root: String, m: Map[String, Int],
      missing: => Exception): DataFrame =
    if (m.isEmpty) emptyTyped(spark, root).getOrElse(throw missing)
    else spark.read.parquet(m.toSeq.sorted.map { case (d, v) => partPath(root, d, v) }: _*)

  /** Read table version `version` (latest when None): the union of
    * every partition's manifest-resolved data dir. */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame =
    readMapped(spark, root, mapping(spark, root, version), new IllegalStateException(
      s"version maps no partitions and no schema sidecar exists at $root"))

  /** Hive-style dir-name unescape: decode ONLY %XX sequences (the
    * inverse of Hive/Spark's escapePathName). java.net.URLDecoder is
    * the wrong tool here — it additionally turns a literal '+' into a
    * space, which partition escaping never encodes, so a value like
    * "a+b" would become unselectable. */
  private def unescapePathName(path: String): String = {
    val sb = new StringBuilder(path.length)
    var i = 0
    while (i < path.length) {
      val c = path.charAt(i)
      if (c == '%' && i + 2 < path.length) {
        val code =
          try Integer.parseInt(path.substring(i + 1, i + 3), 16)
          catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Read ONLY the partitions whose raw value satisfies `keep` —
    * manifest-level partition pruning: the plan contains just the
    * selected partitions' data dirs, so unselected partitions cost
    * zero I/O, zero file listing, zero scan tasks. This is the
    * metadata-pruning contract Iceberg/Hive tables provide and a
    * 100 TB read depends on (a WHERE on the partition column must not
    * enumerate the other 10 000 partitions' files). The hive-escaped
    * dir name is decoded back to the raw value before `keep` sees it.
    * SQL semantics: a predicate matching no partition returns an empty
    * (typed) relation, not an error.
    */
  def readPartitions(spark: SparkSession, root: String,
      keep: String => Boolean, version: Option[Int] = None): DataFrame =
    readMapped(spark, root, mapping(spark, root, version).filter { case (d, _) =>
      keep(unescapePathName(d.stripPrefix(s"$StagePartCol=")))
    }, new IllegalArgumentException(
      "no partition matches the filter (and no schema sidecar exists)"))

  /** MERGE `updates` into the latest version, rewriting ONLY the
    * partitions that appear in `updates`. Returns the new table
    * version. Untouched partitions' manifest entries — and therefore
    * their files — carry over verbatim.
    *
    * Crash-safe: the stage directories of a crashed commit are cleared
    * first, and the rewritten partitions land at a data version above
    * every `v_N` already in their directories (a crashed commit may
    * have published some before its manifest), so a re-run converges
    * with no cleanup. The manifest CASes on the one `cur` was read
    * from.
    */
  def commitMerge(spark: SparkSession, root: String, updates: DataFrame,
      key: String, partCol: String): Int = {
    val f = fsOf(spark, root)
    Commit.names(f, root).filter(Commit.isStaged)
      .foreach(n => f.delete(new Path(root, n), true))
    val (mseq, lines) = Commit.latest(f, root).getOrElse(
      throw new IllegalArgumentException(s"no partitioned snapshot table at $root"))
    val cur = parseMapping(lines)
    val stage = Commit.stageDir(root)
    // Discover the touched partition dirs by stage-writing the delta
    // itself — delta-sized I/O, and the dir names are escaped by the
    // same writer that will write the merged output.
    val touched = stageParts(f, new Path(stage, "probe"),
      updates.select(col(partCol)).distinct(), partCol)
    val next = (mseq +: touched.flatMap(d =>
      Commit.names(f, s"$root/parts/$d").flatMap(Commit.seqOf(_, "v_")))).max + 1

    val existingTouched = touched.filter(cur.contains)
    val target =
      if (existingTouched.isEmpty) updates.limit(0)
      else spark.read.parquet(
        existingTouched.map(d => partPath(root, d, cur(d))): _*)
    val merged = Upsert.merge(target, updates, key)
    val written = writeVersion(f, root, new Path(stage, "data"), merged, partCol, next)
    f.delete(stage, true)
    // refresh the schema sidecar on EVERY commit (one driver file
    // write): a create-time-only sidecar would hand empty reads a
    // schema that disagrees with non-empty reads once a later commit
    // widened the row type
    writeSchema(f, root, merged)
    val entries = (cur -- written) ++ written.map(_ -> next)
    Commit.publish(f, root, Commit.Manifest,
      entries.toSeq.sorted.map { case (d, v) => s"$d\t$v" },
      expectedNext = Some(mseq + 1))
  }

  /** (path, length, modificationTime) of every data file a version
    * resolves, sorted — the identity probe for "untouched partitions'
    * files are byte-identical across a commit". */
  def fileIdentity(spark: SparkSession, root: String, version: Option[Int] = None,
      partDir: Option[String] = None): Seq[(String, Long, Long)] = {
    val f = fsOf(spark, root)
    val m = mapping(spark, root, version)
    val picked = partDir.fold(m)(d => m.filter(_._1 == d))
    picked.toSeq.sorted.flatMap { case (d, v) =>
      f.listStatus(new Path(partPath(root, d, v)))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
        .sortBy(_._1)
    }
  }
}
