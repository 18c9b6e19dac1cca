package graft.operators

import graft.GraftSession.fsOf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.nio.charset.StandardCharsets

/** Versioned table snapshots with time travel — the capability the
  * reference's declared ecosystem gets from Iceberg tables under
  * Presto/Spark (reference `README.md:75-88`), re-expressed over plain
  * parquet: each commit writes an immutable `v_N` directory and then
  * swaps a one-file manifest, so
  *
  *   - readers resolve versions through the MANIFEST, never by listing
  *     the directory — a half-written `v_N` dir is invisible until its
  *     manifest entry lands (snapshot isolation, Iceberg's core trick);
  *   - the manifest swap (write tmp + rename) is the single commit
  *     point — rename is atomic on HDFS-like stores, so a crashed
  *     commit leaves the table at the previous version, never corrupt;
  *   - old versions are immutable: a MERGE produces the NEXT snapshot
  *     (copy-on-write via [[Upsert.merge]]); `read(root, Some(v))` of
  *     an old version returns bit-identical data forever.
  *
  * All I/O goes through Hadoop `FileSystem` (not `java.io`), so the
  * layer ports to any Hadoop-FS-compatible store — including the
  * cfs:// scheme the reference connector serves — unchanged.
  *
  * Scale note (100 TB): this is whole-table copy-on-write — right for
  * dimension-sized tables (the MERGE target use case here). For fact
  * tables a production layout shards the manifest by partition and
  * rewrites only touched partitions; the commit protocol (immutable
  * data dirs + atomic manifest swap) is identical, only the manifest
  * granularity changes.
  */
object Snapshots {
  private[operators] val ManifestPrefix = "_manifest.v_"

  private def versionPath(root: String, v: Int) = s"$root/v_$v"

  // Manifests are immutable, monotonically numbered files
  // (_manifest.v_1, _manifest.v_2, ...); the LIVE manifest is the one
  // with the highest sequence. Committing writes a NEW name (tmp +
  // rename onto a path that does not exist — atomic on HDFS-like
  // stores, and the rename FAILS rather than clobbers if a concurrent
  // committer won the race). The previous manifest is never deleted
  // before the new one is fully durable, so there is no instant at
  // which the table has no resolvable manifest — the flaw of a
  // delete-then-rename swap, where a crash in the window loses the
  // whole table.
  private[operators] def manifestSeqs(spark: SparkSession, root: String): Seq[Int] = {
    val f = fsOf(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(ManifestPrefix).toInt).toOption)
      .toSeq.sorted
  }

  private[operators] def readManifestLines(spark: SparkSession, root: String, seq: Int): Seq[String] = {
    val f = fsOf(spark, root)
    val in = f.open(new Path(root, ManifestPrefix + seq))
    try {
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      new String(bytes, StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty).toSeq
    } finally in.close()
  }

  private def readManifest(spark: SparkSession, root: String, seq: Int): Seq[Int] =
    readManifestLines(spark, root, seq).map(_.toInt).sorted

  /** Committed versions in ascending order; empty if no table. */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val seqs = manifestSeqs(spark, root)
    if (seqs.isEmpty) Seq.empty else readManifest(spark, root, seqs.max)
  }

  /** Commit `lines` as the next manifest; returns the new sequence.
    * `sweep` keeps only the new manifest + one recovery spare — the
    * whole-table layout wants that (version history lives INSIDE the
    * manifest); the partition-sharded layout keeps every manifest,
    * because each sequence IS a table version (time travel resolves
    * old sequences directly).
    */
  /** `expectedNext`: compare-and-swap commit — commit EXACTLY at that
    * manifest number or fail. Callers that computed their state from
    * manifest n pass n+1, so a concurrent commit that landed since the
    * state was read surfaces as a loud conflict instead of silently
    * publishing totals/generations derived from a stale base (the
    * lost-update window of recomputing `next` at commit time). A
    * zombie writer whose intent lease was stolen dies here too.
    */
  private[graft] def writeManifestLines(spark: SparkSession, root: String,
      lines: Seq[String], sweep: Boolean,
      expectedNext: Option[Int] = None): Int = {
    val f = fsOf(spark, root)
    val seqs = manifestSeqs(spark, root)
    val next = expectedNext.getOrElse(if (seqs.isEmpty) 1 else seqs.max + 1)
    if (seqs.exists(_ >= next))
      throw new java.io.IOException(
        s"manifest commit conflict for $root at seq $next: a concurrent " +
          s"commit already published seq ${seqs.max} — state was derived " +
          "from a stale manifest; re-read and retry")
    val tmp = new Path(root, s".tmp_manifest_$next")
    val out = f.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // Atomic commit point. Renaming onto an EXISTING path returns
    // false on Hadoop FileSystems → a lost race surfaces as a commit
    // conflict instead of silently overwriting the winner.
    if (!f.rename(tmp, new Path(root, ManifestPrefix + next))) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"manifest commit conflict for $root at seq $next (concurrent commit?)")
    }
    // Best-effort cleanup of superseded manifests, keeping the
    // immediately previous one as a recovery spare. A crash here only
    // leaves extra manifest files; resolution is last-wins regardless.
    if (sweep)
      seqs.filter(_ < next - 1)
        .foreach(s => f.delete(new Path(root, ManifestPrefix + s), false))
    next
  }

  private def writeManifest(spark: SparkSession, root: String, vs: Seq[Int]): Unit =
    writeManifestLines(spark, root, vs.sorted.map(_.toString), sweep = true): Unit

  /** Next fresh version number — GLOBAL across main and every branch
    * ref, so a commit on any ref can never write into a `v_N` dir
    * another ref already staged (the data-dir namespace is shared even
    * though histories are per-ref).
    */
  private def nextVersion(spark: SparkSession, root: String): Int =
    (versions(spark, root) ++
      branches(spark, root).flatMap(branchVersions(spark, root, _))).max + 1

  // ---- transactional per-file column stats -------------------------
  //
  // Registered stats columns make the table maintain an Iceberg-style
  // per-file min/max sidecar for EVERY version, written after the
  // version's data and BEFORE the manifest swap that publishes it —
  // so stats and file membership commit atomically: a reader that can
  // resolve a version always finds its stats, and there is no
  // stale-index reconciliation problem by construction (the gap the
  // standalone `DataSkipping` side index has to close with live-
  // listing checks). Registration also makes every engine-owned
  // rewrite (MERGE commit, compaction) range-cluster its files on the
  // stats columns — tight per-file bounds are what make the stats
  // prune (Delta liquid-clustering semantics: the declared skipping
  // columns drive the layout).
  private val StatsColsFile = "_stats_columns"
  private def statsPath(root: String, v: Int) = s"${versionPath(root, v)}/_stats"

  /** The table's registered stats/clustering columns; empty when the
    * table was created without them. */
  def statsColumns(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(root, StatsColsFile)
    val f = fsOf(spark, root)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        StandardCharsets.UTF_8).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
  }

  private def writeColumnStats(spark: SparkSession, root: String, v: Int,
      cols: Seq[String]): Unit =
    DataSkipping.fileStats(spark, versionPath(root, v), cols)
      .coalesce(1).write.mode("overwrite").parquet(statsPath(root, v))

  private def clustered(df: DataFrame, cols: Seq[String], nFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(math.max(1, nFiles), cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
  }

  /** A version's per-file column stats (file_path, min_X/max_X,
    * n_rows) — the `files` metadata table, published atomically with
    * the version it describes. Metadata-only aggregates (count/min/
    * max) read from here without touching a data file, with no
    * reconciliation caveats: the version's file set is immutable.
    */
  def columnStats(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in manifest (have ${vs.mkString(",")})")
    spark.read.parquet(statsPath(root, v))
  }

  /** Read a version through a scan that prunes files from its OWN
    * transactional stats ([[DataSkipping.scanWithIndex]]): any
    * pushed-down range/equality predicate on a registered column
    * skips the files whose bounds exclude it, at planning time.
    */
  def readPruned(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in manifest (have ${vs.mkString(",")})")
    DataSkipping.scanWithIndex(spark, versionPath(root, v), statsPath(root, v))
  }

  /** [[readPruned]] with the predicate bound at construction: the
    * version's transaction-log stats not only prune the scan but also
    * size the RELATION ESTIMATE to the surviving files' bytes, so a
    * selective read of a big snapshot joins as a BROADCAST side on a
    * cold session — no ANALYZE, no data scan; the stats the commit
    * published drive the join strategy (plan-asserted in
    * SnapshotsSpec). Row results are identical to
    * `readPruned(...).filter(predicate)`.
    */
  def readPrunedWhere(spark: SparkSession, root: String,
      predicate: Column, version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in manifest (have ${vs.mkString(",")})")
    DataSkipping.scanPrunedWhere(spark, versionPath(root, v),
      statsPath(root, v), predicate)
  }

  /** Create the table at version 1 (drops any existing table at root).
    * `statsCols` registers transactional per-file stats + clustered
    * rewrites for the table's whole life (see the stats section
    * above); v1 keeps the caller's own layout.
    */
  def create(spark: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil): Unit = {
    val f = fsOf(spark, root)
    f.delete(new Path(root), true)
    df.write.parquet(versionPath(root, 1))
    if (statsCols.nonEmpty) {
      val out = f.create(new Path(root, StatsColsFile), true)
      try out.write(statsCols.mkString(",").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      writeColumnStats(spark, root, 1, statsCols)
    }
    writeManifest(spark, root, Seq(1))
  }

  /** The resolved data directory of a committed version (latest when
    * `version` is None) — for manifest-stats TVF annotations that
    * derive exact row counts from parquet footers without a job.
    */
  def versionDir(spark: SparkSession, root: String,
      version: Option[Int] = None): String = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in manifest (have ${vs.mkString(",")})")
    versionPath(root, v)
  }

  /** [[versionDir]] resolved through a BRANCH ref's manifest. */
  def branchVersionDir(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): String = {
    val bvs = branchVersions(spark, root, name)
    val v = version.getOrElse(bvs.max)
    require(bvs.contains(v),
      s"version $v not on branch '$name' (have ${bvs.mkString(",")})")
    versionPath(root, v)
  }

  /** Read a specific version, or the latest when `version` is None. */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not in manifest (have ${vs.mkString(",")})")
    spark.read.parquet(versionPath(root, v))
  }

  /** MERGE `updates` into the latest snapshot and commit the result as
    * the next version (copy-on-write). Returns the new version number.
    * The new `v_N` directory is fully written BEFORE the manifest swap
    * publishes it; concurrent readers keep resolving the old version
    * until the swap.
    */
  def commitMerge(spark: SparkSession, root: String,
      updates: DataFrame, key: String, evolveSchema: Boolean = false): Int = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val next = nextVersion(spark, root)
    val merged =
      if (evolveSchema) Upsert.mergeEvolve(read(spark, root), updates, key)
      else Upsert.merge(read(spark, root), updates, key)
    val statCols = statsColumns(spark, root)
    val shaped =
      if (statCols.isEmpty) merged
      // engine-owned rewrite: keep the previous version's file count,
      // cluster on the registered columns so per-file bounds stay tight
      else clustered(merged, statCols, dataFiles(spark, root, vs.max).length)
    shaped.write.parquet(versionPath(root, next))
    if (statCols.nonEmpty) writeColumnStats(spark, root, next, statCols)
    writeManifest(spark, root, vs :+ next)
    next
  }

  /** DELETE … WHERE as a new snapshot commit (the Delta/Iceberg DELETE
    * verb, and the GDPR-erasure path when the predicate is a key
    * anti-set): rows where `predicate` is TRUE are absent from the NEW
    * version; every prior version keeps them — time-travelable and
    * auditable until `expire` drops it, exactly like [[rollback]]'s
    * history contract. SQL semantics on nulls: a NULL predicate keeps
    * the row (DELETE removes only TRUE matches). Registered stats
    * columns keep their clustered-rewrite treatment so per-file bounds
    * stay tight for [[readPruned]]. Returns the new version number.
    */
  def commitDelete(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val next = nextVersion(spark, root)
    val remaining = read(spark, root).filter(not(coalesce(predicate, lit(false))))
    val statCols = statsColumns(spark, root)
    val shaped =
      if (statCols.isEmpty) remaining
      else clustered(remaining, statCols, dataFiles(spark, root, vs.max).length)
    shaped.write.parquet(versionPath(root, next))
    if (statCols.nonEmpty) writeColumnStats(spark, root, next, statCols)
    writeManifest(spark, root, vs :+ next)
    next
  }

  /** UPDATE … SET … WHERE as a new snapshot commit (the Delta/Iceberg
    * UPDATE verb, completing the DML triple with [[commitMerge]] and
    * [[commitDelete]]): rows where `predicate` is TRUE get each column
    * in `set` replaced by its expression (evaluated against the OLD
    * row, SQL semantics — all assignments see pre-update values);
    * non-matching and NULL-predicate rows pass through unchanged.
    * History contract identical to the other verbs. Returns the new
    * version number.
    */
  def commitUpdate(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    require(set.nonEmpty, "commitUpdate needs at least one assignment")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val next = nextVersion(spark, root)
    val cur = read(spark, root)
    // SQL UPDATE fails analysis on an unknown SET target; a silent
    // no-op commit would be strictly worse. Match with the session's
    // resolver so case sensitivity follows spark.sql.caseSensitive.
    val resolver = spark.sessionState.analyzer.resolver
    val unknown = set.keys.filterNot(k => cur.columns.exists(resolver(_, k)))
    require(unknown.isEmpty,
      s"UPDATE SET references unknown column(s) ${unknown.mkString(", ")}; " +
        s"table columns: ${cur.columns.mkString(", ")}")
    val hit = coalesce(predicate, lit(false))
    // one select, every assignment against the old row — sequential
    // withColumn would let one SET read another's output
    val updated = cur.select(cur.columns.map { c =>
      set.collectFirst { case (k, e) if resolver(c, k) => e } match {
        case Some(e) => when(hit, e).otherwise(cur(c)).as(c)
        case None => cur(c)
      }
    }: _*)
    val statCols = statsColumns(spark, root)
    val shaped =
      if (statCols.isEmpty) updated
      else clustered(updated, statCols, dataFiles(spark, root, vs.max).length)
    shaped.write.parquet(versionPath(root, next))
    if (statCols.nonEmpty) writeColumnStats(spark, root, next, statCols)
    writeManifest(spark, root, vs :+ next)
    next
  }

  /** Roll the table back to `toVersion` by committing a NEW version
    * whose data is a byte-identical FS-level copy of `toVersion`'s
    * files (Iceberg's rollback-as-new-snapshot: history is append-only,
    * so the rolled-past versions stay time-travelable and auditable
    * until `expire` drops them — rollback never destroys evidence of
    * the bad commit). Returns the new version number.
    *
    * The copy is file I/O, not a Spark recompute — no re-encode, no
    * nondeterminism, the restored snapshot is bit-identical to the
    * target. Right for the dimension-scale CoW tables this layout
    * serves; the partition-sharded layout ([[PartitionedSnapshots]])
    * makes the same operation metadata-only (a new manifest sequence
    * re-pointing at the old partition files, zero data movement),
    * which is the fact-scale form.
    */
  def rollback(spark: SparkSession, root: String, toVersion: Int): Int = {
    val vs = versions(spark, root)
    require(vs.contains(toVersion),
      s"version $toVersion not in manifest (have ${vs.mkString(",")})")
    val next = nextVersion(spark, root)
    val f = fsOf(spark, root)
    org.apache.hadoop.fs.FileUtil.copy(
      f, new Path(versionPath(root, toVersion)),
      f, new Path(versionPath(root, next)),
      false, spark.sessionState.newHadoopConf())
    // the byte-copy carries the target's _stats sidecar, but its
    // file_path values name the OLD version's files — rewrite the
    // stats against the new paths before publishing (conservative
    // lookups would otherwise just stop pruning, never miscount)
    val statCols = statsColumns(spark, root)
    if (statCols.nonEmpty) writeColumnStats(spark, root, next, statCols)
    writeManifest(spark, root, vs :+ next)
    next
  }

  /** Change data feed between two committed versions (Delta's
    * `table_changes` / Iceberg's changelog analog): the row-level diff
    * keyed on `key`, labeled insert / delete / update_preimage /
    * update_postimage. Computed as ONE full-outer join of the two
    * snapshots on the key with null-safe struct comparison — no
    * per-version driver loop, no all-column shuffle beyond the single
    * join, so the cost is O(|vFrom| + |vTo|) at any table size.
    * Unchanged rows (struct-equal on both sides) do not appear.
    *
    * Output: all table columns (pre-image values for delete/
    * update_preimage, post-image for insert/update_postimage) plus
    * `_change_type` — Delta's CDF column contract.
    *
    * Schema evolution between the two versions is handled by aligning
    * both sides on the UNION of their columns — vTo's columns first
    * (Delta's CDF uses the post-image schema), then any columns vTo
    * dropped; a side that lacks a column contributes a typed null.
    * So a row whose only change is in an evolved column classifies as
    * an update, and insert/update_postimage rows keep the new columns.
    */
  def changes(spark: SparkSession, root: String,
      vFrom: Int, vTo: Int, key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(spark, root, Some(vFrom))
    val b = read(spark, root, Some(vTo))
    val cols = b.columns.toSeq ++ a.columns.toSeq.filterNot(b.columns.contains(_))
    val typeOf = (a.schema.fields ++ b.schema.fields)
      .map(f => f.name -> f.dataType).toMap // later wins: prefer vTo's type
    def aligned(df: DataFrame): Seq[Column] = {
      val have = df.columns.toSet
      cols.map { c =>
        (if (have(c)) col(c).cast(typeOf(c)) else lit(null).cast(typeOf(c))).as(c)
      }
    }
    val aS = a.select(col(key).as("__k"), struct(aligned(a): _*).as("__a"))
    val bS = b.select(col(key).as("__k"), struct(aligned(b): _*).as("__b"))
    val j = aS.join(bS, Seq("__k"), "full_outer")
    // SINGLE-PASS labeling: each joined row explodes into its 0–2
    // change rows, so the full-outer join executes exactly once. The
    // union-of-three-filters formulation re-runs the join per branch
    // (exchange reuse saves the shuffle, not the join CPU) — 3× the
    // join work at any scale, for identical output.
    def tagged(img: Column, tag: String): Column =
      struct(img.as("img"), lit(tag).as("_change_type"))
    j.select(explode(
        when(col("__a").isNull, array(tagged(col("__b"), "insert")))
          .when(col("__b").isNull, array(tagged(col("__a"), "delete")))
          .when(!(col("__a") <=> col("__b")),
            array(tagged(col("__a"), "update_preimage"),
              tagged(col("__b"), "update_postimage")))
          .otherwise(array().cast(
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("img",
                  aS.schema("__a").dataType),
                org.apache.spark.sql.types.StructField("_change_type",
                  org.apache.spark.sql.types.StringType))))))).as("__ch"))
      .select(col("__ch.img.*"), col("__ch._change_type").as("_change_type"))
  }

  private def dataFiles(spark: SparkSession, root: String, v: Int) =
    fsOf(spark, root).listStatus(new Path(versionPath(root, v)))
      .filter(_.getPath.getName.startsWith("part-"))

  /** Committed data files of a version (count, total bytes) — the
    * observable a compaction changes. */
  def fileStats(spark: SparkSession, root: String, v: Int): (Int, Long) = {
    val files = dataFiles(spark, root, v)
    (files.length, files.map(_.getLen).sum)
  }

  /** Bin-pack the latest snapshot into ~`targetBytes` files and commit
    * the rewrite as the next version (Iceberg's `rewrite_data_files`).
    * Content-identical by construction — the plan is scan → shuffle-
    * free-where-possible repartition → write, no row transformation.
    * Returns (newVersion, filesBefore, filesAfter).
    *
    * Small-file pressure is the dominant failure mode of streaming/CDC
    * ingestion at scale: every micro-batch MERGE leaves one more file
    * set, and scan cost grows with file count (task scheduling, footer
    * reads, no row-group locality) long before data volume grows. The
    * file count is sized from the version's MEASURED bytes, so the
    * rewrite lands at target size regardless of how fragmented the
    * input was.
    */
  def compact(spark: SparkSession, root: String, targetBytes: Long): (Int, Int, Int) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val cur = vs.max
    val (nBefore, totalBytes) = fileStats(spark, root, cur)
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val next = nextVersion(spark, root)
    val cur0 = spark.read.parquet(versionPath(root, cur))
    val statCols = statsColumns(spark, root)
    val shaped =
      if (statCols.isEmpty) cur0.repartition(nFiles)
      else clustered(cur0, statCols, nFiles) // bin-pack AND re-cluster
    shaped.write.parquet(versionPath(root, next))
    if (statCols.nonEmpty) writeColumnStats(spark, root, next, statCols)
    writeManifest(spark, root, vs :+ next)
    (next, nBefore, dataFiles(spark, root, next).length)
  }

  /** The table's version history as a DataFrame (Iceberg's `snapshots`
    * metadata table / Delta's DESCRIBE HISTORY): one row per published
    * version with its file count, total bytes, and row count.
    *
    * File counts and bytes come from driver-side listStatus (metadata
    * only, O(versions) listings); row counts come from ONE Spark scan
    * over all live version directories at once, grouped by the version
    * extracted from `_metadata.file_path` — a single action regardless
    * of version count, instead of the naive one-count-job-per-version
    * loop that serializes O(versions) scheduling round-trips.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val listing = vs.map { v =>
      val (nFiles, bytes) = fileStats(spark, root, v)
      (v, nFiles, bytes)
    }.toDF("version", "n_files", "total_bytes")
    val rowCounts = spark.read.parquet(vs.map(versionPath(root, _)): _*)
      .select(regexp_extract(col("_metadata.file_path"), "/v_(\\d+)/[^/]*$", 1)
        .cast("int").as("version"))
      .groupBy("version").agg(count(lit(1)).as("n_rows"))
    listing.join(rowCounts, Seq("version"), "left")
      .select(col("version"), col("n_files"), col("total_bytes"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
      .orderBy("version")
  }

  // ---- branches: named refs / write-audit-publish ------------------
  //
  // Iceberg-style branch refs over the same immutable `v_N` dirs: a
  // branch is its OWN manifest chain (`_branch.<name>.v_<seq>`, same
  // tmp+rename-onto-fresh-name commit protocol as main), initialized
  // to main's history up to the fork version. Staged commits allocate
  // GLOBALLY fresh version numbers (max over main + every branch), so
  // branch and main data dirs never collide, and they are recorded
  // ONLY in the branch manifest — invisible to every main reader until
  // [[fastForward]] publishes the branch ref as main's manifest in one
  // atomic swap. This is the write-audit-publish pattern: stage on a
  // branch, audit the staged snapshot (expectations / row checks),
  // publish by fast-forward, or walk away and [[dropBranch]].

  private def branchManifestPrefix(name: String) = s"_branch.$name.v_"

  private def requireBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_-]+"),
      s"branch name must be [A-Za-z0-9_-]+: '$name'")

  private def branchSeqs(spark: SparkSession, root: String, name: String): Seq[Int] = {
    val f = fsOf(spark, root)
    val rootPath = new Path(root)
    val prefix = branchManifestPrefix(name)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toInt).toOption)
      .toSeq.sorted
  }

  private def writeBranchManifest(spark: SparkSession, root: String,
      name: String, vs: Seq[Int], expectFirst: Boolean = false): Unit = {
    val f = fsOf(spark, root)
    val seqs = branchSeqs(spark, root, name)
    require(!expectFirst || seqs.isEmpty, s"branch '$name' already exists at $root")
    val next = if (seqs.isEmpty) 1 else seqs.max + 1
    val tmp = new Path(root, s".tmp_branch_${name}_$next")
    val out = f.create(tmp, true)
    try out.write(vs.sorted.map(_.toString).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // rename onto a fresh name is the atomic commit; a lost race (two
    // creators, two committers) surfaces as a conflict, never a clobber
    if (!f.rename(tmp, new Path(root, branchManifestPrefix(name) + next))) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"branch manifest commit conflict for '$name' at $root seq $next")
    }
    seqs.filter(_ < next - 1)
      .foreach(s => f.delete(new Path(root, branchManifestPrefix(name) + s), false))
  }

  /** Names of the table's live branches. */
  def branches(spark: SparkSession, root: String): Seq[String] = {
    val f = fsOf(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).map(_.getPath.getName)
      .filter(_.startsWith("_branch."))
      .flatMap { n =>
        val body = n.stripPrefix("_branch.")
        val i = body.lastIndexOf(".v_")
        if (i > 0) Some(body.substring(0, i)) else None
      }.toSeq.distinct.sorted
  }

  /** The branch's committed versions (its visible history), ascending. */
  def branchVersions(spark: SparkSession, root: String, name: String): Seq[Int] = {
    val seqs = branchSeqs(spark, root, name)
    require(seqs.nonEmpty, s"no branch '$name' at $root")
    val f = fsOf(spark, root)
    val in = f.open(new Path(root, branchManifestPrefix(name) + seqs.max))
    try {
      val bytes = org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
      new String(bytes, StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).map(_.toInt).toSeq.sorted
    } finally in.close()
  }

  /** Fork a branch from main at `at` (default: the current head). The
    * branch starts with main's history up to the fork version; staged
    * commits land on the branch only.
    */
  def createBranch(spark: SparkSession, root: String, name: String,
      at: Option[Int] = None): Unit = {
    requireBranchName(name)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val atV = at.getOrElse(vs.max)
    require(vs.contains(atV), s"fork version $atV not in manifest")
    writeBranchManifest(spark, root, name, vs.filter(_ <= atV), expectFirst = true)
  }

  /** Read the branch head (or a specific version on the branch). */
  def readBranch(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): DataFrame = {
    val bvs = branchVersions(spark, root, name)
    val v = version.getOrElse(bvs.max)
    require(bvs.contains(v), s"version $v not on branch '$name' (have ${bvs.mkString(",")})")
    spark.read.parquet(versionPath(root, v))
  }

  /** Commit `df` wholesale as the branch's next version — the staging
    * verb of write-audit-publish. The version number is allocated
    * globally (max over main + every branch) so data dirs never
    * collide; the commit is recorded only in the branch's manifest, so
    * main readers cannot see it. Registered stats columns get the same
    * clustered-rewrite + sidecar treatment as main commits, so a
    * published branch version prunes identically. Returns the version.
    */
  def commitToBranch(spark: SparkSession, root: String, name: String,
      df: DataFrame): Int = {
    val bvs = branchVersions(spark, root, name) // also validates the branch
    val next = nextVersion(spark, root)
    val statCols = statsColumns(spark, root)
    val shaped =
      if (statCols.isEmpty) df
      else clustered(df, statCols, dataFiles(spark, root, bvs.max).length)
    shaped.write.parquet(versionPath(root, next))
    if (statCols.nonEmpty) writeColumnStats(spark, root, next, statCols)
    writeBranchManifest(spark, root, name, bvs :+ next)
    next
  }

  /** Publish the branch: atomically swap MAIN's manifest to the
    * branch's history. Requires main to be an ancestor of the branch
    * (main's versions are a prefix of the branch's) — if main advanced
    * since the fork the publish is not a fast-forward and the caller
    * must rebase (re-stage off the new head). Returns the new main
    * head version. The branch ref stays; [[dropBranch]] retires it.
    */
  def fastForward(spark: SparkSession, root: String, name: String): Int = {
    val bvs = branchVersions(spark, root, name)
    val mvs = versions(spark, root)
    require(bvs.startsWith(mvs),
      s"main advanced since the fork of '$name' " +
        s"(main ${mvs.mkString(",")} is not a prefix of branch ${bvs.mkString(",")}); rebase")
    if (bvs != mvs) writeManifest(spark, root, bvs)
    bvs.max
  }

  /** Retire a branch ref. Its staged-but-unpublished version dirs
    * become orphans that [[vacuum]] reclaims (age-guarded).
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    val f = fsOf(spark, root)
    branchSeqs(spark, root, name).foreach(s =>
      f.delete(new Path(root, branchManifestPrefix(name) + s), false))
  }

  /** Delete crash-leaked `v_N` directories that no manifest ever
    * published (Iceberg's `remove_orphan_files`): a crash between
    * `commitMerge`'s data write and its manifest swap leaves a `v_N`
    * dir that readers can never resolve and `expire` never touches (it
    * only deletes versions DROPPED from the manifest). Also sweeps
    * stale `.tmp_manifest_*` / `.tmp_branch_*` files from crashed
    * manifest writes. Returns the deleted directory/file names.
    *
    * Versions referenced by ANY live branch ref count as live — a
    * staged-but-unpublished branch commit is resolvable through its
    * branch and must survive vacuum until [[dropBranch]] retires the
    * ref.
    *
    * `olderThanMs` guards against racing an in-flight commit (whose
    * data dir legitimately precedes its manifest entry): only orphans
    * whose modification time is at least that old are removed —
    * Iceberg's own safeguard for this exact race. Tests pass 0.
    */
  def vacuum(spark: SparkSession, root: String, olderThanMs: Long = 3600000L): Seq[String] = {
    val f = fsOf(spark, root)
    val live = versions(spark, root).toSet ++
      branches(spark, root).flatMap(branchVersions(spark, root, _))
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = f.listStatus(new Path(root)).toSeq.filter { st =>
      val n = st.getPath.getName
      val leakedData = st.isDirectory && n.startsWith("v_") &&
        scala.util.Try(n.stripPrefix("v_").toInt).toOption.exists(!live.contains(_))
      val leakedTmp = !st.isDirectory &&
        (n.startsWith(".tmp_manifest_") || n.startsWith(".tmp_branch_"))
      (leakedData || leakedTmp) && st.getModificationTime <= cutoff
    }
    orphans.foreach(st => f.delete(st.getPath, true))
    orphans.map(_.getPath.getName)
  }

  /** Expire all but the newest `retain` versions (Iceberg's
    * `expire_snapshots`): swap the manifest FIRST — the atomic commit
    * point, after which no reader can resolve an expired version —
    * then delete the now-unpublished directories. A crash between the
    * two steps leaks directories (cleaned by the next expire) but can
    * never break a read. Returns the expired version numbers.
    */
  def expire(spark: SparkSession, root: String, retain: Int): Seq[Int] = {
    require(retain >= 1, s"must retain at least 1 version: $retain")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no snapshot table at $root")
    val keep = vs.takeRight(retain)
    val drop = vs.dropRight(retain)
    if (drop.nonEmpty) {
      writeManifest(spark, root, keep)
      val f = fsOf(spark, root)
      // a version expired from MAIN may still be resolvable through a
      // live branch ref (a fork below the expiry horizon) — drop it
      // from main's history but keep its data until the branch retires
      val branchLive = branches(spark, root)
        .flatMap(branchVersions(spark, root, _)).toSet
      drop.filterNot(branchLive.contains)
        .foreach(v => f.delete(new Path(versionPath(root, v)), true))
    }
    drop
  }
}
