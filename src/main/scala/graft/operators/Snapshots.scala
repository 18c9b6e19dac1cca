package graft.operators

import graft.GraftSession.fsOf
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Versioned table snapshots with time travel — the capability the
  * reference's declared ecosystem gets from Iceberg tables under
  * Presto/Spark (reference `README.md:75-88`), re-expressed over plain
  * parquet: each commit writes an immutable `v_N` directory and then
  * swaps a one-file manifest, so
  *
  *   - readers resolve versions through the MANIFEST, never by listing
  *     the directory — a half-written `v_N` dir is invisible until its
  *     manifest entry lands (snapshot isolation, Iceberg's core trick);
  *   - a rewrite stages its data under a fresh name and moves it onto
  *     the next free `v_N`, so two commits never write one directory;
  *   - the manifest swap (write tmp + rename, a CAS on the manifest the
  *     commit read) is the single commit
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
  private def versionPath(root: String, v: Int) = s"$root/v_$v"
  private val VersionPrefix = "v_"

  // Manifests are immutable, monotonically numbered files committed
  // through [[Commit.publish]]; the LIVE manifest is the one with the
  // highest number, and its body lists the committed versions.

  /** A chain's committed versions and the manifest number they were
    * read from (0 before the first publish). */
  private case class Head(vs: Seq[Int], mseq: Int)

  private def headOf(fs: FileSystem, root: String,
      chain: Commit.Chain = Commit.Manifest): Head =
    Commit.latest(fs, root, chain).fold(Head(Nil, 0)) { case (n, lines) =>
      Head(lines.map(_.toInt).sorted, n)
    }

  /** Main's head; throws when there is no table. */
  private def mainHead(fs: FileSystem, root: String): Head = {
    val head = headOf(fs, root)
    require(head.vs.nonEmpty, s"no snapshot table at $root")
    head
  }

  /** Committed versions in ascending order; empty if no table. */
  def versions(spark: SparkSession, root: String): Seq[Int] =
    headOf(fsOf(spark, root), root).vs

  // version history lives INSIDE the manifest, so only the new
  // manifest and one recovery spare are kept. The publish CASes on the
  // manifest `head` was read from: a commit derived from a stale head
  // fails with a Commit.Conflict instead of landing and dropping the
  // concurrent commit's version from the history.
  private def writeManifest(fs: FileSystem, root: String, head: Head,
      vs: Seq[Int], chain: Commit.Chain = Commit.Manifest): Unit =
    Commit.publish(fs, root, chain, vs.sorted.map(_.toString),
      expectedNext = Some(head.mseq + 1), sweep = true): Unit

  /** The committed version `version` (the head when None) of main, or
    * of branch `branch` — the one resolver every read goes through. */
  private def resolve(spark: SparkSession, root: String, version: Option[Int],
      branch: Option[String] = None): Int = {
    val fs = fsOf(spark, root)
    val (vs, where) = branch match {
      case Some(name) => (branchHead(fs, root, name).vs, s"on branch '$name'")
      case None => (mainHead(fs, root).vs, "in manifest")
    }
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v not $where (have ${vs.mkString(",")})")
    v
  }

  /** Next fresh version number: above every committed version and
    * every `v_N` directory on disk. The data-dir namespace is shared
    * by main and every branch ref (histories are per-ref), and a
    * commit that failed before its manifest publish leaves a `v_N`
    * that no manifest names; a new commit writes into neither, so a
    * re-run after such a failure needs no [[vacuum]] first.
    */
  private def nextVersion(fs: FileSystem, root: String, vs: Seq[Int]): Int =
    (vs ++ Commit.names(fs, root).flatMap(Commit.seqOf(_, VersionPrefix))).max + 1

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
  def statsColumns(spark: SparkSession, root: String): Seq[String] =
    statsColumnsOf(fsOf(spark, root), root)

  private def statsColumnsOf(fs: FileSystem, root: String): Seq[String] = {
    val p = new Path(root, StatsColsFile)
    if (!fs.exists(p)) Seq.empty
    else Commit.readString(fs, p).split(",").map(_.trim).filter(_.nonEmpty).toSeq
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
      version: Option[Int] = None): DataFrame =
    spark.read.parquet(statsPath(root, resolve(spark, root, version)))

  /** Read a version through a scan that prunes files from its OWN
    * transactional stats ([[DataSkipping.scanWithIndex]]): any
    * pushed-down range/equality predicate on a registered column
    * skips the files whose bounds exclude it, at planning time.
    */
  def readPruned(spark: SparkSession, root: String,
      version: Option[Int] = None): DataFrame = {
    val v = resolve(spark, root, version)
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
    val v = resolve(spark, root, version)
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
    val fs = fsOf(spark, root)
    fs.delete(new Path(root), true)
    df.write.parquet(versionPath(root, 1))
    if (statsCols.nonEmpty) {
      Commit.writeString(fs, new Path(root, StatsColsFile), statsCols.mkString(","))
      writeColumnStats(spark, root, 1, statsCols)
    }
    writeManifest(fs, root, Head(Nil, 0), Seq(1))
  }

  /** The resolved data directory of a committed version (latest when
    * `version` is None) — for manifest-stats TVF annotations that
    * derive exact row counts from parquet footers without a job.
    */
  def versionDir(spark: SparkSession, root: String,
      version: Option[Int] = None): String =
    versionPath(root, resolve(spark, root, version))

  /** [[versionDir]] resolved through a BRANCH ref's manifest. */
  def branchVersionDir(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): String =
    versionPath(root, resolve(spark, root, version, Some(name)))

  /** Read a specific version, or the latest when `version` is None. */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame =
    spark.read.parquet(versionPath(root, resolve(spark, root, version)))

  /** MERGE `updates` into the latest snapshot and commit the result as
    * the next version (copy-on-write). Returns the new version number.
    * The new `v_N` directory is fully written BEFORE the manifest swap
    * publishes it; concurrent readers keep resolving the old version
    * until the swap.
    */
  def commitMerge(spark: SparkSession, root: String,
      updates: DataFrame, key: String, evolveSchema: Boolean = false): Int = {
    val fs = fsOf(spark, root)
    val head = mainHead(fs, root)
    val cur = spark.read.parquet(versionPath(root, head.vs.max))
    commitRewrite(spark, fs, root, Commit.Manifest, head)(rewrite(fs, root, head,
      if (evolveSchema) Upsert.mergeEvolve(cur, updates, key)
      else Upsert.merge(cur, updates, key)))
  }

  /** Commit the next version of `chain` on top of `head`: `write` fills
    * a fresh stage directory (it gets the registered stats columns),
    * which then moves onto the next fresh version number; the stats
    * sidecar follows, then the CAS'd manifest publish — the commit
    * point. Returns the new version number.
    */
  private def commitRewrite(spark: SparkSession, fs: FileSystem, root: String,
      chain: Commit.Chain, head: Head)(write: (String, Seq[String]) => Unit): Int = {
    val statCols = statsColumnsOf(fs, root)
    val stage = Commit.stageDir(root)
    write(stage.toString, statCols)
    val next = nextVersion(fs, root, head.vs)
    val dst = new Path(versionPath(root, next))
    // a rename onto an existing directory moves INTO it: a writer that
    // took `next` first shows up as our stage dir nested under its own
    val nested = new Path(dst, stage.getName)
    if (!fs.rename(stage, dst) || fs.exists(nested)) {
      fs.delete(nested, true)
      fs.delete(stage, true)
      throw new Commit.Conflict(s"commit conflict for $root/v_$next: the " +
        "version was taken by a concurrent commit (or the store refused the move)")
    }
    if (statCols.nonEmpty) writeColumnStats(spark, root, next, statCols)
    writeManifest(fs, root, head, head.vs :+ next, chain)
    next
  }

  /** The write of an engine-owned rewrite of `head`: with registered
    * stats columns it keeps the head's file count, clustered on those
    * columns so per-file bounds stay tight. */
  private def rewrite(fs: FileSystem, root: String, head: Head, df: DataFrame)(
      dir: String, statCols: Seq[String]): Unit =
    (if (statCols.isEmpty) df
     else clustered(df, statCols, dataFiles(fs, root, head.vs.max).length))
      .write.parquet(dir)

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
    val fs = fsOf(spark, root)
    val head = mainHead(fs, root)
    commitRewrite(spark, fs, root, Commit.Manifest, head)(rewrite(fs, root, head,
      spark.read.parquet(versionPath(root, head.vs.max))
        .filter(not(coalesce(predicate, lit(false))))))
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
    val fs = fsOf(spark, root)
    val head = mainHead(fs, root)
    val cur = spark.read.parquet(versionPath(root, head.vs.max))
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
    commitRewrite(spark, fs, root, Commit.Manifest, head)(rewrite(fs, root, head,
      cur.select(cur.columns.map { c =>
        set.collectFirst { case (k, e) if resolver(c, k) => e } match {
          case Some(e) => when(hit, e).otherwise(cur(c)).as(c)
          case None => cur(c)
        }
      }: _*)))
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
    val fs = fsOf(spark, root)
    val head = headOf(fs, root)
    require(head.vs.contains(toVersion),
      s"version $toVersion not in manifest (have ${head.vs.mkString(",")})")
    // the byte-copy carries the target's _stats sidecar, but its
    // file_path values name the OLD version's files — commitRewrite
    // rewrites the stats against the new paths before publishing
    // (conservative lookups would otherwise just stop pruning, never
    // miscount)
    commitRewrite(spark, fs, root, Commit.Manifest, head) { (dir, _) =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new Path(versionPath(root, toVersion)), fs, new Path(dir),
        false, spark.sessionState.newHadoopConf()): Unit
    }
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

  private def dataFiles(fs: FileSystem, root: String, v: Int) =
    fs.listStatus(new Path(versionPath(root, v)))
      .filter(_.getPath.getName.startsWith("part-"))

  /** Committed data files of a version (count, total bytes) — the
    * observable a compaction changes. */
  def fileStats(spark: SparkSession, root: String, v: Int): (Int, Long) = {
    val files = dataFiles(fsOf(spark, root), root, v)
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
    val fs = fsOf(spark, root)
    val head = mainHead(fs, root)
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val cur = head.vs.max
    val curFiles = dataFiles(fs, root, cur)
    val (nBefore, totalBytes) = (curFiles.length, curFiles.map(_.getLen).sum)
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val cur0 = spark.read.parquet(versionPath(root, cur))
    val next = commitRewrite(spark, fs, root, Commit.Manifest, head) { (dir, statCols) =>
      (if (statCols.isEmpty) cur0.repartition(nFiles)
       else clustered(cur0, statCols, nFiles)) // bin-pack AND re-cluster
        .write.parquet(dir)
    }
    (next, nBefore, dataFiles(fs, root, next).length)
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

  private def requireBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_-]+"),
      s"branch name must be [A-Za-z0-9_-]+: '$name'")

  /** Names of the table's live branches. */
  def branches(spark: SparkSession, root: String): Seq[String] =
    Commit.branches(fsOf(spark, root), root)

  /** The branch's committed versions (its visible history), ascending. */
  def branchVersions(spark: SparkSession, root: String, name: String): Seq[Int] =
    branchHead(fsOf(spark, root), root, name).vs

  private def branchHead(fs: FileSystem, root: String, name: String): Head = {
    val head = headOf(fs, root, Commit.branch(name))
    require(head.vs.nonEmpty, s"no branch '$name' at $root")
    head
  }

  /** Fork a branch from main at `at` (default: the current head). The
    * branch starts with main's history up to the fork version; staged
    * commits land on the branch only.
    */
  def createBranch(spark: SparkSession, root: String, name: String,
      at: Option[Int] = None): Unit = {
    requireBranchName(name)
    val fs = fsOf(spark, root)
    val vs = headOf(fs, root).vs
    require(vs.nonEmpty, s"no snapshot table at $root")
    val atV = at.getOrElse(vs.max)
    require(vs.contains(atV), s"fork version $atV not in manifest")
    // a branch's first manifest is number 1: an existing branch of the
    // same name (or a racing creator) makes that publish lose
    try Commit.publish(fs, root, Commit.branch(name),
      vs.filter(_ <= atV).map(_.toString), expectedNext = Some(1))
    catch { case _: Commit.Conflict =>
      throw new IllegalArgumentException(s"branch '$name' already exists at $root") }
  }

  /** Read the branch head (or a specific version on the branch). */
  def readBranch(spark: SparkSession, root: String, name: String,
      version: Option[Int] = None): DataFrame =
    spark.read.parquet(versionPath(root, resolve(spark, root, version, Some(name))))

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
    val fs = fsOf(spark, root)
    val head = branchHead(fs, root, name) // also validates the branch
    commitRewrite(spark, fs, root, Commit.branch(name), head)(rewrite(fs, root, head, df))
  }

  /** Publish the branch: atomically swap MAIN's manifest to the
    * branch's history. Requires main to be an ancestor of the branch
    * (main's versions are a prefix of the branch's) — if main advanced
    * since the fork the publish is not a fast-forward and the caller
    * must rebase (re-stage off the new head). Returns the new main
    * head version. The branch ref stays; [[dropBranch]] retires it.
    */
  def fastForward(spark: SparkSession, root: String, name: String): Int = {
    val fs = fsOf(spark, root)
    val bvs = branchHead(fs, root, name).vs
    val main = headOf(fs, root)
    require(bvs.startsWith(main.vs),
      s"main advanced since the fork of '$name' " +
        s"(main ${main.vs.mkString(",")} is not a prefix of branch ${bvs.mkString(",")}); rebase")
    if (bvs != main.vs) writeManifest(fs, root, main, bvs)
    bvs.max
  }

  /** Retire a branch ref. Its staged-but-unpublished version dirs
    * become orphans that [[vacuum]] reclaims (age-guarded).
    */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    val fs = fsOf(spark, root)
    val chain = Commit.branch(name)
    Commit.remove(fs, root, chain, Commit.numbered(fs, root, chain.prefix))
  }

  /** Delete crash-leaked `v_N` directories that no manifest ever
    * published (Iceberg's `remove_orphan_files`): a crash between
    * `commitMerge`'s data write and its manifest swap leaves a `v_N`
    * dir that readers can never resolve and `expire` never touches (it
    * only deletes versions DROPPED from the manifest). Also sweeps
    * the stage files of crashed manifest publishes
    * ([[Commit.isStaleTmp]]) and the stage directories of crashed
    * rewrites ([[Commit.isStaged]]). Returns the deleted
    * directory/file names.
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
    val fs = fsOf(spark, root)
    val live = headOf(fs, root).vs.toSet ++
      Commit.branches(fs, root).flatMap(branchHead(fs, root, _).vs)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = fs.listStatus(new Path(root)).toSeq.filter { st =>
      val n = st.getPath.getName
      val leakedData = st.isDirectory &&
        Commit.seqOf(n, VersionPrefix).exists(!live.contains(_))
      val leakedTmp = if (st.isDirectory) Commit.isStaged(n) else Commit.isStaleTmp(n)
      (leakedData || leakedTmp) && st.getModificationTime <= cutoff
    }
    orphans.foreach(st => fs.delete(st.getPath, true))
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
    val fs = fsOf(spark, root)
    val head = mainHead(fs, root)
    val keep = head.vs.takeRight(retain)
    val drop = head.vs.dropRight(retain)
    if (drop.nonEmpty) {
      writeManifest(fs, root, head, keep)
      // a version expired from MAIN may still be resolvable through a
      // live branch ref (a fork below the expiry horizon) — drop it
      // from main's history but keep its data until the branch retires
      val branchLive = Commit.branches(fs, root)
        .flatMap(branchHead(fs, root, _).vs).toSet
      drop.filterNot(branchLive.contains)
        .foreach(v => fs.delete(new Path(versionPath(root, v)), true))
    }
    drop
  }
}
