package graft.operators

import graft.functions.VectorExpressions._
import graft.InFlight.{await, inFlight}
import org.apache.hadoop.fs.Path
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor (SURVEY §2.B.9 "scale path"):
  * a k-means coarse quantizer partitions the corpus into nCentroids
  * inverted lists; a probe searches only its nProbes nearest lists and
  * re-ranks candidates by exact cosine. Candidate count scales with
  * corpus/nCentroids · nProbes — independent of total corpus size when
  * nCentroids grows with the data.
  *
  * The quantizer is Spark ML k-means (seeded, deterministic); list
  * assignment and search are plain DataFrame ops.
  *
  * == Persisted layout: the lists ARE partitions ==
  *
  * The index's whole point is that a search touches
  * corpus/nCentroids × nProbes rows — and that has to hold for I/O,
  * not just compute. The persisted corpus is therefore written
  * `partitionBy("cluster")`: each inverted list is its own partition
  * directory, the probe-side `cluster IN (<probed ids>)` filter is a
  * PARTITION filter Spark resolves during planning, and a search's
  * scan reads only the probed lists' files (numFiles-asserted in
  * DedupSpec, the same observable as `q_table_skip_scan`). A flat
  * layout with a join-side cluster filter bounds the compute but
  * re-reads the ENTIRE corpus per search batch — at 100 TB that is
  * the difference between an index and a scan.
  *
  * Alongside each row's float vector the lists carry its int8 code
  * (`q_code`, per-vector max-abs scale — the `q_embed_quantize`
  * format): [[searchTopKQuantized]] runs its coarse pass over the
  * codes (4× less I/O and memory bandwidth) and its exact re-rank
  * over the float column of the SAME pruned files, so the whole
  * two-stage query reads index files only — IVF-PQ-lite.
  */
object IvfIndex {

  /** Fit the quantizer and return (corpus with cluster col, centroids
    * as (centroid_id, centroid_vec float-array) frame).
    */
  def fit(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, seed: Long = 42L): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val withVec = corpus.withColumn("__v", array_to_vector(col(vecCol)))
    // random-point init (seeded), not k-means||: the FAISS clustering
    // default for IVF coarse quantizers — quantizer quality only shifts
    // WHERE list boundaries fall (search correctness is probe-set
    // exact either way), while k-means||'s extra init passes are pure
    // build latency (~5 jobs before the first Lloyd iteration)
    val model = new KMeans()
      .setK(nCentroids).setSeed(seed).setInitMode("random")
      .setFeaturesCol("__v").setPredictionCol("cluster")
      .fit(withVec)
    val assigned = model.transform(withVec).drop("__v")
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toDF("centroid_id", "centroid_vec")
    (assigned, centroids)
  }

  /** Int8 codes for the coarse pass, denormalized onto the inverted
    * lists at write time (identical formula to `q_embed_quantize`:
    * per-vector max-abs scale, floor(x+0.5) half-up rounding — exact
    * integers, reproducible cross-engine). Stored as array<tinyint> —
    * a QUARTER of the float column's bytes, which is the whole point
    * of scanning codes in the coarse pass. Zero-norm vectors keep
    * their row (scale 0, all-zero code): an index must not silently
    * drop corpus rows, and the coarse score simply ranks them last.
    */
  private def withCodes(df: DataFrame, vecCol: String): DataFrame = df
    .withColumn("q_scale",
      array_max(transform(col(vecCol), x => abs(x))).cast("double"))
    .withColumn("q_code", when(col("q_scale") > 0,
        transform(col(vecCol), x =>
          floor(x.cast("double") * (lit(127.0) / col("q_scale")) + lit(0.5))
            .cast("byte")))
      .otherwise(transform(col(vecCol), _ => lit(0).cast("byte"))))

  /** Persist a fitted index under `path`: the cluster-assigned corpus
    * written `partitionBy("cluster")` — one partition directory per
    * inverted list, the layout [[searchTopK]]'s probed-cluster filter
    * prunes at planning time — plus int8 codes per row and the
    * centroid table. Fit ONCE, search many — at scale a k-means refit
    * per lookup is the difference between an index and a scan.
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, path: String, seed: Long = 42L): Unit = {
    val (assigned, centroids) = fit(corpus, idCol, vecCol, nCentroids, seed)
    // the rebuild is itself a maintenance verb and SERIALIZES with the
    // others through the writer intent: a rebuild racing an in-flight
    // append/compaction fails loudly at acquire instead of deleting
    // the holder's intent marker as "stale state" (which would reopen
    // the unsynchronized-writer window — the holder's owner-checked
    // release then no-ops and a third verb could acquire mid-flight)
    MaintenanceLock.withLockToken(corpus.sparkSession, path) { token =>
    // cluster-exclusive shuffle before the partitioned write: ONE file
    // per inverted list instead of write-tasks × clusters small files
    // (the TextIndex bucket rule) — nCentroids doubles as the build's
    // write-parallelism lever, exactly how an IVF sizes itself: more
    // data → more lists → more parallel writers AND smaller probes
    // idempotent init: a rebuild over a previously-used path must not
    // inherit stale tombstones, seq markers, OR centroid generations —
    // a leftover `_cgen_*` marker would make liveCentroidGen resolve a
    // pre-rebuild centroid set whose cluster ids don't match the fresh
    // `assigned` layout (silently wrong search, and vacuumIndex could
    // then reap the new build's lists as "unreferenced"). The assigned
    // dir is removed explicitly too: the overwrite below truncates it
    // only under STATIC partitionOverwriteMode, and a caller session
    // running dynamic mode would otherwise leave retired rebalance
    // lists (cluster ids the fresh build never writes) alive.
    val fs = fsOf(corpus.sparkSession, path)
    // ownership re-check before the sweep: it is destructive and not
    // CAS'd — a rebuild whose lease was somehow stolen (JVM paused
    // past the full lease despite heartbeats) must die HERE, before it
    // can delete a live successor's uncommitted artifacts
    MaintenanceLock.assertHeld(corpus.sparkSession, path, token)
    if (fs.exists(new Path(path)))
      fs.listStatus(new Path(path)).map(_.getPath)
        .filter { p =>
          val n = p.getName
          n.startsWith(SeqPrefix) || n == TombstonesDir ||
            n.startsWith(CGenPrefix) || n.startsWith("centroids_g") ||
            n == "assigned"
        }
        .foreach(fs.delete(_, true))
    // the centroid table is independent of the assigned write (both
    // derive from the completed fit), so it lands as a concurrent job —
    // the build returns only once BOTH artifacts are on disk
    val centF = inFlight {
      centroids.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    }
    withCodes(assigned, vecCol)
      .withColumn("ingest_seq", lit(0L))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assigned")
    await(centF)
    }
  }

  // ── centroid generations ──────────────────────────────────────────
  // [[rebalanceIndex]] republishes the centroid table; the swap must be
  // atomic for readers (a search plans against ONE coherent centroid
  // set) and safe against concurrent maintenance. Same discipline as
  // TextIndex/Snapshots: the new generation's data directory is written
  // fully, then a zero-byte `_cgen_<n>` marker is created with
  // fail-if-exists — the marker IS the commit (two racing rebalances
  // cannot both create it), and readers resolve max(committed marker).
  // Generation 0 is the [[buildIndex]] layout (`centroids`, no marker),
  // so indexes that were never rebalanced need no manifest at all.

  private val CGenPrefix = "_cgen_"

  private def fsOf(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def centroidsGenPath(path: String, gen: Int): String =
    if (gen == 0) s"$path/centroids" else s"$path/centroids_g$gen"

  /** Live centroid generation: the max committed `_cgen_<n>` marker,
    * or 0 (the plain buildIndex layout).
    */
  def liveCentroidGen(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) 0
    else fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(CGenPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(CGenPrefix).toInt).toOption)
      .foldLeft(0)(math.max)
  }

  // ── ingest sequences ──────────────────────────────────────────────
  // Every row carries the `ingest_seq` of the batch that wrote it
  // (build = 0). An append RESERVES its seq first (`_seq_<n>.reserved`
  // marker, fail-if-exists), writes its rows, then COMMITS by renaming
  // the marker to `_seq_<n>`. Readers admit only rows whose seq is at
  // or below the max committed seq and not a crashed reservation — so
  // a batch that died between its parquet write and its commit is
  // invisible, and the re-run (which reserves a FRESH seq past the
  // orphan) can never make duplicates visible. Tombstones are
  // seq-scoped (`del_seq` = max committed at delete time): a row
  // survives unless a tombstone for its id sits AT OR ABOVE its own
  // ingest seq, which makes retract → re-ingest O(changes) with no
  // compaction in between — the TextIndex fmt-4 discipline applied to
  // the vector index. [[compactLists]] folds tombstones, squashes
  // surviving rows to the max committed seq, and clears stale markers.

  private val SeqPrefix = "_seq_"
  private val ReservedSuffix = ".reserved"

  /** (committed seqs, crashed/in-flight reserved seqs) from the root
    * markers. Build-time rows (seq 0) are implicitly committed.
    */
  private def seqMarkers(spark: SparkSession, path: String): (Set[Long], Set[Long]) = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) return (Set.empty, Set.empty)
    val names = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(SeqPrefix)).toSeq
    def num(n: String, suffix: String) =
      scala.util.Try(n.stripPrefix(SeqPrefix).stripSuffix(suffix).toLong).toOption
    (names.filterNot(_.endsWith(ReservedSuffix)).flatMap(num(_, "")).toSet,
      names.filter(_.endsWith(ReservedSuffix)).flatMap(num(_, ReservedSuffix)).toSet)
  }

  /** Max committed ingest seq (0 for a never-appended index). */
  def maxCommittedSeq(spark: SparkSession, path: String): Long =
    seqMarkers(spark, path)._1.foldLeft(0L)(math.max)

  private def reserveSeq(spark: SparkSession, path: String): Long = {
    val (committed, reserved) = seqMarkers(spark, path)
    val next = (committed ++ reserved).foldLeft(0L)(math.max) + 1
    val fs = fsOf(spark, path)
    if (!fs.createNewFile(new Path(s"$path/$SeqPrefix$next$ReservedSuffix")))
      throw new IllegalStateException(
        s"concurrent IVF append: seq $next already reserved")
    next
  }

  private def commitSeq(spark: SparkSession, path: String, seq: Long): Unit = {
    val fs = fsOf(spark, path)
    if (!fs.rename(new Path(s"$path/$SeqPrefix$seq$ReservedSuffix"),
        new Path(s"$path/$SeqPrefix$seq")))
      throw new IllegalStateException(s"IVF seq commit failed for $seq")
  }

  /** Load a persisted index: (assigned corpus at COMMITTED visibility,
    * LIVE centroids). The visibility filter admits rows with
    * `ingest_seq <= max committed` minus crashed reservations, so a
    * half-published append is never served. Retired inverted lists a
    * past [[rebalanceIndex]] left on disk are harmless through this
    * API: every search restricts the scan to `cluster IN (<probed
    * ids>)` and only live centroids are ever probed, so an
    * unreferenced list's files are planned away with the unprobed
    * ones. [[vacuumIndex]] reclaims them.
    */
  def loadIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val (committed, reserved) = seqMarkers(spark, path)
    val maxC = committed.foldLeft(0L)(math.max)
    val raw = spark.read.parquet(s"$path/assigned")
    val visible0 = raw.filter(col("ingest_seq") <= maxC)
    val visible =
      if (reserved.isEmpty) visible0
      else visible0.filter(!col("ingest_seq").isin(reserved.toSeq: _*))
    (visible, liveCentroids(spark, path))
  }

  /** Load the LIVE view of a persisted index: like [[loadIndex]] but
    * with pending [[deleteFromIndex]] tombstones masked out of the
    * assigned corpus (broadcast anti-join — identity when no deletes
    * are pending, and the mask sits ABOVE the scan so probed-cluster
    * partition pruning is unaffected). Searches over a mutated index
    * should read through this; maintenance verbs read raw.
    */
  def loadLive(spark: SparkSession, path: String,
      idCol: String): (DataFrame, DataFrame) = {
    val (assigned, centroids) = loadIndex(spark, path)
    (maskDeleted(spark, path, assigned, idCol), centroids)
  }

  /** The live committed PIN — what [[IndexEpoch.publish]] embeds (the
    * Iceberg snapshot pattern): the max committed ingest seq PLUS the
    * tombstone sidecar's file list. The file list is load-bearing: a
    * delete committed just after the pin carries `del_seq` equal to
    * the pinned seq (tombstones are stamped with the max committed
    * seq AT delete time), so seq arithmetic alone cannot tell
    * "deleted at pin" from "deleted after pin" — only the listing
    * can, exactly why Iceberg snapshots track their delete files.
    * One listing, no Spark job.
    */
  def exportPin(spark: SparkSession, path: String): Seq[String] = {
    val seq = maxCommittedSeq(spark, path)
    val tombDir = new Path(s"$path/$TombstonesDir")
    val tombFiles =
      if (!fsOf(spark, path).exists(tombDir)) Seq.empty[String]
      else fsOf(spark, path).listStatus(tombDir).map(_.getPath.getName)
        .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq.sorted
    // the CENTROID GENERATION is part of the pin: after a rebalance the
    // live generation's lists double-hold moved rows (retired dir +
    // new sub-lists, until vacuum), and only the pinned generation's
    // cluster set reads each row exactly once
    Seq(s"seq=$seq", s"cgen=${liveCentroidGen(spark, path)}") ++
      tombFiles.map("tombfile:" + _)
  }

  /** [[loadLive]] AT A PIN ([[exportPin]]) — the epoch-coordinated
    * read ([[IndexEpoch]]): rows admit iff `ingest_seq <=` the pinned
    * seq (minus crashed reservations), and the tombstone horizon is
    * exactly the pin's file list — an append or delete committed
    * AFTER the pin is invisible, so the epoch reader sees the index
    * exactly as it was when the pin published. With the epoch root
    * REGISTERED (`graft.epoch.roots`), layout maintenance retains the
    * pinned rows, tombstone files, and centroid generation
    * ([[IndexEpoch]] — enforced retention), so the read stays valid
    * until the epoch is expired; unregistered pins keep the old
    * until-layout-maintenance lifetime.
    */
  def loadLiveAsOf(spark: SparkSession, path: String, idCol: String,
      pin: Seq[String]): (DataFrame, DataFrame) = {
    val asOfSeq = pin.collectFirst {
      case l if l.startsWith("seq=") => l.stripPrefix("seq=").toLong
    }.getOrElse(sys.error("IVF pin missing seq"))
    val tombFiles = pin.filter(_.startsWith("tombfile:"))
      .map(n => s"$path/$TombstonesDir/${n.stripPrefix("tombfile:")}")
    // the pinned centroid GENERATION scopes the read: its cluster set
    // is the partition filter (a rebalance since the pin double-holds
    // moved rows across retired + new lists — only the pinned
    // generation's clusters read each row exactly once), and its
    // centroid table is what searches against this view must probe.
    // Pins predating the cgen line fall back to the live generation.
    val pinGen = pin.collectFirst {
      case l if l.startsWith("cgen=") => l.stripPrefix("cgen=").toInt
    }.getOrElse(liveCentroidGen(spark, path))
    val pinCentroids = spark.read.parquet(centroidsGenPath(path, pinGen))
    val pinClusters = pinCentroids.select("centroid_id")
      .collect().map(_.getInt(0)).toSeq
    val (_, reserved) = seqMarkers(spark, path)
    val raw = spark.read.parquet(s"$path/assigned")
      .filter(col("cluster").isin(pinClusters: _*))
      .filter(col("ingest_seq") <= asOfSeq)
    val visible =
      if (reserved.isEmpty) raw
      else raw.filter(!col("ingest_seq").isin(reserved.toSeq: _*))
    val masked =
      if (tombFiles.isEmpty) visible
      else {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("del_id",
            visible.schema(idCol).dataType),
          org.apache.spark.sql.types.StructField("del_seq",
            org.apache.spark.sql.types.LongType)))
        val pinned = spark.read.schema(schema).parquet(tombFiles: _*)
          .groupBy("del_id").agg(max("del_seq").as("del_seq"))
        visible.join(broadcast(pinned),
          visible(idCol) === pinned("del_id") &&
            visible("ingest_seq") <= pinned("del_seq"),
          "left_anti")
      }
    (masked, pinCentroids)
  }

  /** Incremental maintenance: assign NEW vectors to the EXISTING
    * centroids (nearest-centroid, no refit) and append them to the
    * persisted inverted lists — FAISS's add-without-train, the ingest
    * path an index needs at scale: a per-batch k-means refit re-scans
    * the whole corpus, while assignment is one broadcast crossJoin +
    * `min_by` partial aggregation over the batch — O(batch ×
    * nCentroids) work, no shuffle of anything corpus-sized, no window.
    * The append lands INSIDE the cluster partition directories (same
    * `partitionBy` layout as the build), so searches over the grown
    * index keep pruning to probed lists. Ties break by centroid id,
    * matching the deterministic argmin the fit-time transform
    * computes. Centroid staleness under distribution drift is the
    * caller's rebuild-cadence policy, as in any IVF system.
    */
  // ── centroid pairing: literal projection, broadcast fallback ─────
  // The centroid table is driver-resident BY CONSTRUCTION — the
  // KMeans model that produced it lives on the driver, and every
  // maintenance verb already treats nCentroids rows as metadata
  // (listSizes, probedClusterIds, vacuum). Exploit that: embed the
  // collected set as ONE array<struct> literal (a single Literal
  // object — Spark broadcasts stage task binaries, so it ships once
  // per executor exactly like a broadcast var) and nearest-centroid
  // math becomes a PURE PROJECTION — no broadcast-exchange job, no
  // crossJoin row explosion, no window, no groupBy shuffle. Past
  // `graft.ivf.centroidLiteralMaxFloats` (default 16M floats ≈ 64 MB
  // — beyond any single-level IVF a sane deployment runs before
  // sharding the quantizer) the pairing falls back to the broadcast
  // crossJoin shapes.

  private def centroidLiteralMaxFloats(spark: SparkSession): Long =
    spark.conf.getOption("graft.ivf.centroidLiteralMaxFloats")
      .map(_.toLong).getOrElse(16L * 1024 * 1024)

  /** Collected centroids sorted by id as an
    * `array<struct<_1:int,_2:array<float>>>` literal, or None past
    * the size gate. When `centroids` is the driver-cached
    * LocalRelation [[liveCentroids]] serves, the collect here is a
    * local table scan — NO Spark job.
    */
  private def centroidsAsLiteral(centroids: DataFrame): Option[Column] = {
    val rows = centroids.select("centroid_id", "centroid_vec").collect()
    val floats = rows.iterator.map(_.getSeq[Float](1).length.toLong).sum
    if (floats > centroidLiteralMaxFloats(centroids.sparkSession)) None
    else Some(typedLit(
      rows.map(r => (r.getInt(0), r.getSeq[Float](1))).sortBy(_._1).toSeq))
  }

  // ── driver-cached centroid table ──────────────────────────────────
  // The centroid table is driver-resident by construction (the KMeans
  // model lives on the driver), yet every search/append used to
  // re-READ its parquet through a Spark job — pure job-submission
  // latency on repeated searches (measured +1.4 s on the multi-search
  // q_hybrid_cdc verb). The live generation now serves from a
  // signature-validated driver cache as a LocalRelation: the
  // signature is the directory's (name, length, mtime) listing — one
  // FS metadata call, EXACT invalidation because every rewrite path
  // (rebuild, rebalance) writes fresh UUID part names — and past the
  // size gate the read falls back to a plain distributed scan,
  // uncached.

  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, org.apache.spark.sql.types.StructType,
        java.util.List[org.apache.spark.sql.Row])]()

  private def dirSignature(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): String =
    fs.listStatus(dir)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")

  /** The LIVE centroid table, served from the driver cache when its
    * on-disk bytes sit under the literal gate (nCentroids is a chosen
    * parameter — metadata, not data).
    */
  private def liveCentroids(spark: SparkSession, path: String): DataFrame = {
    val p = centroidsGenPath(path, liveCentroidGen(spark, path))
    val fs = fsOf(spark, path)
    val dir = new Path(p)
    val statuses = fs.listStatus(dir)
    // gate on raw parquet bytes (floats are ≥4B encoded): past it the
    // table is genuinely big — stream it, never collect
    if (statuses.map(_.getLen).sum > centroidLiteralMaxFloats(spark) * 4)
      return spark.read.parquet(p)
    val sig = statuses
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
    val cached = centroidCache.get(p)
    val (schema, rows) =
      if (cached != null && cached._1 == sig) (cached._2, cached._3)
      else {
        val df = spark.read.parquet(p)
        val r = java.util.Arrays.asList(df.collect(): _*)
        if (centroidCache.size > 64) centroidCache.clear()
        centroidCache.put(p, (sig, df.schema, r))
        (df.schema, r)
      }
    spark.createDataFrame(rows, schema)
  }

  /** (dist, centroid_id) struct per centroid for `vec` — struct
    * lexicographic ordering makes array_min/sort_array reproduce
    * min_by's (cdist, centroid_id) tie-break exactly.
    */
  private def centroidDists(cl: Column, vec: Column): Column =
    transform(cl, ct =>
      struct(l2_dist(vec, ct("_2")).as("d"), ct("_1").as("c")))

  /** Nearest-centroid assignment of a batch, ALL caller columns
    * preserved. Literal path: one array_min over the centroid
    * distances — a narrow projection, nothing moves. Fallback:
    * broadcast crossJoin (batch × nCentroids candidate rows)
    * collapsed by ONE min_by aggregation over the full row struct —
    * partial aggregation folds each id's candidates map-side, so one
    * full-width row per batch id shuffles and there is no join-back.
    * Ties break by centroid id either way, matching the deterministic
    * argmin the fit-time transform computes.
    */
  private def assignToCentroids(batch: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    centroidsAsLiteral(centroids) match {
      case Some(cl) =>
        batch.withColumn("cluster",
          array_min(centroidDists(cl, col(vecCol)))("c"))
      case None =>
        val payload = batch.columns.filterNot(_ == idCol)
        batch.crossJoin(broadcast(centroids))
          .withColumn("__cdist", l2_dist(col(vecCol), col("centroid_vec")))
          .groupBy(idCol)
          .agg(min_by(
            struct((payload.map(col) :+ col("centroid_id").as("cluster")): _*),
            struct(col("__cdist"), col("centroid_id"))).as("__best"))
          .select(col(idCol) +: (payload :+ "cluster")
            .map(c => col(s"__best.$c")): _*)
    }

  def appendToIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    // single-writer intent (MaintenanceLock): the seq reservation
    // already makes two same-seq appends loud, but an append racing a
    // compaction/rebalance could have its rows dropped by the
    // dynamic-overwrite rewrite, its reservation stranded by marker
    // hygiene, or its target list retired mid-write — the intent
    // makes every such interleaving fail loudly BEFORE any write
    MaintenanceLock.withLock(spark, path) {
    // the LIVE centroid table only (driver-cached) — loadIndex would
    // also list the assigned layout's files for its visibility view,
    // an O(lists) metadata read the append never consumes
    val centroids = liveCentroids(spark, path)
    // reserve → write → commit: the batch's rows are invisible (seq
    // above the committed ceiling) until the marker rename lands, so a
    // crash mid-append publishes nothing and the re-run's FRESH seq
    // can't collide with the orphan rows
    val seq = reserveSeq(spark, path)
    withCodes(assignToCentroids(newVecs, centroids, idCol, vecCol), vecCol)
      .withColumn("ingest_seq", lit(seq))
      .repartition(col("cluster")) // one file per touched list per batch
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$path/assigned")
    commitSeq(spark, path, seq)
    }
  }

  // ── deletion (retraction) ─────────────────────────────────────────

  private val TombstonesDir = "tombstones"

  /** Retract vectors from a persisted index — the GDPR-erasure /
    * unlearning verb, O(deleted ids): one tombstone append, no list is
    * read or rewritten. Tombstones are SEQ-SCOPED — each carries the
    * max committed ingest seq at delete time, and the mask removes a
    * row only if a tombstone for its id sits at or above the row's own
    * ingest seq. Deletion is therefore visible immediately and
    * exactly, AND a later [[appendToIndex]] re-adding the same id is
    * visible the moment it lands (its rows carry a higher seq) — no
    * compaction in the update path, the TextIndex fmt-4 discipline.
    * Every read path ([[loadLive]], and [[listSizes]] /
    * [[rebalanceIndex]] internally) applies the mask as a broadcast
    * anti-join; [[compactLists]] later folds tombstones physically.
    */
  def deleteFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    // intent held across the tombstone append: a racing compaction
    // clears the tombstone dir LAST assuming it folded everything —
    // a tombstone landing mid-compaction would be cleared unfolded
    // (a silently lost erasure)
    MaintenanceLock.withLock(spark, path) {
    // tombstones are keyed in the INDEX'S OWN id type (read from the
    // assigned layout's parquet footer — a metadata read): a blind
    // cast("long") would turn a string-keyed index's erasure verb into
    // a silent no-op (cast → null → anti-join matches nothing). Ids
    // that don't fit the index type fail LOUDLY instead — validated
    // INSIDE the write job (raise_error on the first uncastable id),
    // so the verb is ONE Spark job, not a count pass plus a write
    // pass; a raised error aborts the write before any file commits,
    // the same visibility as the former pre-count.
    val idType = spark.read.parquet(s"$path/assigned").schema(idCol).dataType
    val seq = maxCommittedSeq(spark, path)
    val typed = ids.select(col(idCol).as("__raw"))
      .withColumn("del_id",
        when(col("__raw").isNotNull && col("__raw").cast(idType).isNull,
          raise_error(concat(
            lit("deleteFromIndex: id '"), col("__raw").cast("string"),
            lit(s"' not castable to the index id type $idType"))).cast(idType))
        .otherwise(col("__raw").cast(idType)))
      .select("del_id").distinct()
      .withColumn("del_seq", lit(seq))
    try typed.coalesce(1).write.mode("append").parquet(s"$path/$TombstonesDir")
    catch {
      // surface the in-job validation as the API's contract exception
      case e: Throwable if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(8).exists(c => Option(c.getMessage)
            .exists(_.contains("not castable to the index id type"))) =>
        throw new IllegalArgumentException(
          "deleteFromIndex: id(s) not castable to the index id type " +
            s"$idType — no tombstone was published", e)
    }
    }
  }

  /** Per-id tombstone horizon: (del_id, del_seq = max over that id's
    * tombstones). Read with an EXPLICIT schema — del_id in the index's
    * own id type, del_seq long — so a sidecar holding files of mixed
    * del_id widths (e.g. a pre-typed-delete index whose old files were
    * written long before [[deleteFromIndex]] learned native keying)
    * either reads deterministically via parquet upcast or fails LOUDLY,
    * instead of mis-typing on whichever footer schema-merge picks.
    */
  private def tombstonesOf(spark: SparkSession, path: String,
      idType: org.apache.spark.sql.types.DataType): Option[DataFrame] = {
    val p = new Path(s"$path/$TombstonesDir")
    if (fsOf(spark, path).exists(p)) {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("del_id", idType),
        org.apache.spark.sql.types.StructField("del_seq",
          org.apache.spark.sql.types.LongType)))
      Some(spark.read.schema(schema).parquet(p.toString)
        .groupBy("del_id").agg(max("del_seq").as("del_seq")))
    } else None
  }

  private def tombstonesExist(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new Path(s"$path/$TombstonesDir"))

  /** Pinned vector-index states across every live epoch of every
    * registered epoch root ([[IndexEpoch.livePins]]): (pinned seq,
    * pinned tombstone file names, pinned centroid generation) — what
    * the layout-maintenance verbs must RETAIN. Pins predating the
    * cgen line pin generation 0; pins from a sibling stack sharing
    * the conf only over-retain.
    */
  private def epochPinnedVec(spark: SparkSession): Seq[(Long, Seq[String], Int)] =
    IndexEpoch.livePins(spark)._2.flatMap { pin =>
      pin.collectFirst {
        case l if l.startsWith("seq=") => l.stripPrefix("seq=").toLong
      }.map { seq =>
        (seq,
          pin.filter(_.startsWith("tombfile:")).map(_.stripPrefix("tombfile:")),
          pin.collectFirst {
            case l if l.startsWith("cgen=") => l.stripPrefix("cgen=").toInt
          }.getOrElse(0))
      }
    }

  /** Cluster ids of every epoch-pinned centroid generation that exists
    * on disk — lists [[purgeUnreferencedLists]] must treat as
    * referenced whatever the live generation says.
    */
  private def epochPinnedClusterIds(spark: SparkSession, path: String): Set[Int] = {
    val fs = fsOf(spark, path)
    epochPinnedVec(spark).map(_._3).distinct.flatMap { g =>
      val p = centroidsGenPath(path, g)
      if (fs.exists(new Path(p)))
        spark.read.parquet(p).select("centroid_id")
          .collect().map(_.getInt(0)).toSeq
      else Seq.empty
    }.toSet
  }

  /** Anti-join the tombstone horizon out of an index frame: a row dies
    * only when a tombstone for its id is AT OR ABOVE the row's ingest
    * seq — re-ingested rows carry a higher seq and pass. Identity when
    * no deletes are pending; broadcast-sized otherwise (deleted ids are
    * tiny next to a list scan — an index whose deletes outrun its
    * compaction cadence should compact, not ship a giant horizon).
    */
  private def maskDeleted(spark: SparkSession, path: String,
      df: DataFrame, idCol: String): DataFrame =
    tombstonesOf(spark, path, df.schema(idCol).dataType) match {
      case Some(t) =>
        df.join(broadcast(t),
          df(idCol) === t("del_id") && df("ingest_seq") <= t("del_seq"),
          "left_anti")
      case None => df
    }

  /** Fold pending tombstones into the physical layout: every live list
    * is rewritten without its masked rows (one dynamic-partition
    * overwrite — only live partitions are touched), lists left empty
    * are dropped, and the tombstone sidecar is cleared LAST. Crash-safe
    * by mask idempotence: at any interruption point the surviving
    * tombstones still mask whatever a half-done rewrite left behind,
    * so reads stay exact and a re-run completes the fold.
    */
  def compactLists(spark: SparkSession, path: String, idCol: String): Unit = {
    if (!tombstonesExist(spark, path)) return
    MaintenanceLock.withLockToken(spark, path) { token =>
    val (assigned, centroids) = loadIndex(spark, path)
    val live = centroids.select("centroid_id").collect().map(_.getInt(0)).toSeq
    val maxC = maxCommittedSeq(spark, path)
    // surviving rows squash to the max committed seq, which lets the
    // stale seq markers retire below. Safe against the rewrite-done/
    // tombstones-not-yet-cleared crash window: a re-added row's
    // tombstone necessarily sits STRICTLY below maxC (its re-ingest
    // committed a higher seq), so the squashed row still clears the
    // horizon; fully-dead ids have no rows left to mask.
    //
    // ENFORCED EPOCH-PIN RETENTION: with live epoch pins registered
    // (graft.epoch.roots), the fold keeps every row ANY pin still
    // serves (ingest_seq ≤ pin seq and not masked under the pin's own
    // tombstone files), seqs are NOT squashed (the pins' ceilings must
    // keep partitioning rows), and the tombstone sidecar is retained
    // in full (pinned files are opened by path by the as-of reads;
    // unpinned files still mask the kept-but-dead rows for live
    // readers — re-applying either against purged rows is a no-op).
    // Compaction still reclaims everything dead to live AND every pin;
    // expiring the epoch releases the rest to the next pass.
    val pins = epochPinnedVec(spark)
    val base = assigned.filter(col("cluster").isin(live: _*))
    val kept =
      if (pins.isEmpty)
        maskDeleted(spark, path, base, idCol)
          .withColumn("ingest_seq", lit(maxC))
      else {
        val idT = base.schema(idCol).dataType
        var df = tombstonesOf(spark, path, idT) match {
          case Some(liveT) => base.join(broadcast(liveT),
            base(idCol) === liveT("del_id") &&
              base("ingest_seq") <= liveT("del_seq"), "left_outer")
          case None => base.withColumn("del_seq", lit(null).cast("long"))
        }
        var keepCond = col("del_seq").isNull // not dead to live readers
        // a pinned tombstone file that no longer EXISTS is a no-op —
        // the livePins over-retention contract: a pin can outlive its
        // index incarnation (a rebuild clears the sidecar while an old
        // epoch still names its files; a sibling stack can share the
        // conf), and reading a dangling name would abort the whole
        // compaction instead of simply not masking for that pin
        val tombFs = fsOf(spark, path)
        pins.zipWithIndex.foreach { case ((pseq, ptombs0, _), j) =>
          val ptombs = ptombs0.filter(n =>
            tombFs.exists(new Path(s"$path/$TombstonesDir/$n")))
          val visibleToPin =
            if (ptombs.isEmpty) col("ingest_seq") <= lit(pseq)
            else {
              val schema = org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("del_id", idT),
                org.apache.spark.sql.types.StructField("del_seq",
                  org.apache.spark.sql.types.LongType)))
              val ph = spark.read.schema(schema)
                .parquet(ptombs.map(n => s"$path/$TombstonesDir/$n"): _*)
                .groupBy("del_id").agg(max("del_seq").as("del_seq"))
                .select(col("del_id").as(s"pdel_id_$j"),
                  col("del_seq").as(s"pdel_seq_$j"))
              df = df.join(broadcast(ph),
                df(idCol) === ph(s"pdel_id_$j") &&
                  df("ingest_seq") <= ph(s"pdel_seq_$j"), "left_outer")
              col("ingest_seq") <= lit(pseq) && col(s"pdel_seq_$j").isNull
            }
          keepCond = keepCond || visibleToPin
        }
        df.filter(keepCond).select(base.columns.map(col): _*)
      }
    // which lists still have rows once the mask applies — observed ON
    // the rewrite job itself: a dir the dynamic overwrite never
    // touches still holds its stale rows (post-write state can't
    // tell), and a separate pre-count would scan the masked index
    // twice. collect_set(cluster) carries nCentroids values: metadata.
    val obs = org.apache.spark.sql.Observation(
      s"ivf_compact_${java.util.UUID.randomUUID}")
    // ownership re-check at the point of no return: the rewrite below
    // is the verb's first NON-CAS'd destructive step (a dynamic
    // overwrite replaces live partition directories in place) — a
    // compaction whose lease was somehow stolen despite the heartbeat
    // (a JVM paused past the full lease) must die HERE, before it can
    // drop a successor append's rows from the partitions it rewrites
    MaintenanceLock.assertHeld(spark, path, token)
    // dynamic mode scoped to THIS write via the per-writer option —
    // never the session conf: maintenance verbs now run on concurrent
    // threads of one session (InFlight chains in LlmPipeline), and a
    // session-global set/restore racing a sibling compaction could
    // flip ITS in-flight overwrite back to STATIC, whose whole-dir
    // truncate forfeits the crash-safety this rewrite was chosen for
    kept.observe(obs, collect_set(col("cluster")).as("clusters"))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$path/assigned")
    // a fully-masked rewrite runs ZERO write tasks, so the metric row
    // never materializes and the observation resolves to an EMPTY map
    // — that IS the all-lists-deleted signal, not an error
    val nonEmpty = obs.get.getOrElse("clusters", scala.collection.Seq.empty[Int])
      .asInstanceOf[scala.collection.Seq[Int]].toSet
    // second ownership re-check before the hygiene tail (explicit list
    // deletes, retired-list purge, tombstone clear, seq-marker sweep):
    // none of these steps is CAS'd, and each is destructive
    MaintenanceLock.assertHeld(spark, path, token)
    val fs = fsOf(spark, path)
    // full-erasure edge: when EVERY row was tombstoned the dynamic
    // overwrite touched no partition and the per-list deletes below
    // would leave assigned/ without a single parquet file — bricking
    // every later loadIndex/deleteFromIndex with "Unable to infer
    // schema". Keep the layout readable by writing ONE empty-but-
    // schema'd file into the lowest live list (overwrite replaces that
    // list's stale files in the same step, so at any crash point the
    // surviving tombstones still mask whatever is on disk); searches
    // return zero rows and appendToIndex re-grows the index normally.
    val keepSchemaIn =
      if (nonEmpty.isEmpty && live.nonEmpty) Some(live.min) else None
    keepSchemaIn.foreach { sentinel =>
      kept.drop("cluster").limit(0).repartition(1)
        .write.mode("overwrite").parquet(s"$path/assigned/cluster=$sentinel")
    }
    // a list whose rows were ALL deleted produces no output partition,
    // so the dynamic overwrite never replaces its directory — drop it
    // explicitly (BEFORE the tombstones clear, so a crash here still
    // masks the leftover rows)
    live.filterNot(nonEmpty).filterNot(keepSchemaIn.contains).foreach { c =>
      fs.delete(new Path(s"$path/assigned/cluster=$c"), true) }
    // retired lists a past rebalance left on disk still physically
    // hold rows for ids retired-then-deleted — and the tombstone clear
    // below would erase the only mask hiding them. Erasure (q_forget)
    // is a PHYSICAL claim, so compaction reclaims every unreferenced
    // list here, before the tombstones go (no age guard / no spare:
    // compaction is stop-the-world for readers of superseded
    // generations, the same contract as the live-list rewrite above
    // that just replaced their files).
    // `live` above IS the live generation's centroid set, so the purge
    // re-uses it instead of re-collecting the centroid parquet (one
    // fewer job in the compaction path)
    purgeUnreferencedLists(spark, path, olderThanMs = 0L, keepSpare = false,
      knownReferenced = Some(live.toSet))
    // the sidecar clears only with NO live pins: pinned files are read
    // by path by the as-of reads, and unpinned files mask the retained
    // pin-visible dead rows for live readers (see the retention note
    // on the rewrite above)
    if (pins.isEmpty)
      fs.delete(new Path(s"$path/$TombstonesDir"), true): Unit
    // marker hygiene, LAST: every surviving row now sits at maxC, so
    // finals below maxC and crashed reservations (whose orphan rows
    // this rewrite just dropped) can retire. Partial deletion here is
    // harmless — visibility only needs the max final marker.
    val (committed, reserved) = seqMarkers(spark, path)
    committed.filter(_ < maxC).foreach(s =>
      fs.delete(new Path(s"$path/$SeqPrefix$s"), false))
    reserved.foreach(s =>
      fs.delete(new Path(s"$path/$SeqPrefix$s$ReservedSuffix"), false))
    }
  }

  /** Per-list LIVE row counts (tombstones masked) — the skew
    * diagnostic [[rebalanceIndex]] acts on and [[skewReport]] polls at
    * cadence. nCentroids rows (parameter-sized, never data-sized), so
    * collecting it is a metadata read.
    *
    * QUIESCED fast path: with no pending tombstones and no reserved
    * (in-flight or crashed) ingest seqs, EVERY row on disk is visible
    * — a row's seq is either committed (≤ the ceiling) or still
    * carries its `.reserved` marker, and compaction removes orphan
    * rows together with their reservations — so the per-list counts
    * are exactly each live cluster directory's parquet FOOTER row
    * sums: one driver metadata pass, NO Spark job, no corpus scan.
    * That is what makes the skew advisory a cadence-pollable verb at
    * 100 TB (an advisory that re-counts the corpus per poll is a scan,
    * not an advisory). Any pending tombstone or reservation falls back
    * to the exact masked aggregate.
    */
  def listSizes(spark: SparkSession, path: String,
      idCol: String): Seq[(Int, Long)] = {
    val (_, reserved) = seqMarkers(spark, path)
    if (!tombstonesExist(spark, path) && reserved.isEmpty)
      return listSizesBound(spark, path)
    val (assigned, centroids) = loadIndex(spark, path)
    val live = centroids.select("centroid_id").collect().map(_.getInt(0)).toSeq
    val counted = maskDeleted(spark, path,
        assigned.filter(col("cluster").isin(live: _*)), idCol)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // empty lists report 0: a centroid with no rows is still live
    live.sorted.map(c => (c, counted.getOrElse(c, 0L)))
  }

  /** Per-list UPPER-BOUND row counts from parquet FOOTERS — one driver
    * metadata pass, NO Spark job, at any corpus size. On a QUIESCED
    * index (no pending tombstones, no reserved seqs) the bound IS the
    * exact live count; under load it over-counts by exactly the
    * masked/invisible rows (tombstoned rows not yet folded, rows of an
    * in-flight or crashed reservation), which only shrink on fold.
    * This is [[skewReport]]'s sizing source: an advisory polled at
    * cadence must stay metadata-sized even on an index that never
    * quiesces (continuous delete load) — exactness is only needed by
    * [[rebalanceIndex]] itself, which re-measures with the masked
    * aggregate ([[listSizes]]) before acting.
    */
  def listSizesBound(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    // centroid ids come from the driver-cached LIVE centroid table (a
    // LocalRelation on a warm session — no job past the first read)
    val live = liveCentroids(spark, path)
      .select("centroid_id").collect().map(_.getInt(0)).toSeq
    val fs = fsOf(spark, path)
    live.sorted.map { c =>
      val dir = new Path(s"$path/assigned/cluster=$c")
      // empty lists report 0: a centroid with no rows is still live
      (c, if (fs.exists(dir))
        graft.plans.ManifestSized.parquetRowCount(spark, dir.toString)
      else 0L)
    }
  }

  /** Pending tombstone ROW count from the sidecar's parquet footers —
    * driver metadata; an upper bound on masked rows (tombstones for
    * since-re-ingested or repeatedly-deleted ids fold to fewer dead
    * rows than sidecar rows).
    */
  def tombstoneRowCount(spark: SparkSession, path: String): Long =
    if (tombstonesExist(spark, path))
      graft.plans.ManifestSized.parquetRowCount(spark, s"$path/$TombstonesDir")
    else 0L

  /** One-row skew ADVISORY — the observability half of
    * [[rebalanceIndex]], so a pipeline can schedule the repair at
    * cadence from SQL (`graft_ivf_skew` TVF) instead of an operator
    * eyeballing list sizes. Names the lists [[rebalanceIndex]] would
    * split under the same `maxListFactor` rule (size strictly above
    * factor × mean, and ≥ 2 rows — a 1-row list can never be a hot
    * spot), using the SAME selection arithmetic over
    * [[listSizesBound]]'s footer counts. On a QUIESCED index the
    * bound is exact, so `rebalance_advised = false` ⇔ a rebalance run
    * would be a no-op; under pending tombstones/reservations the
    * advisory sizes are upper bounds (the poll stays METADATA-sized —
    * zero Spark jobs — even on an index that never quiesces under
    * continuous delete load; `total_live` subtracts the tombstone
    * sidecar's footer count). The repair itself re-measures exactly.
    */
  def skewReport(spark: SparkSession, path: String, idCol: String,
      maxListFactor: Double = 2.0): DataFrame = {
    val sizes = listSizesBound(spark, path)
    val total = math.max(0L,
      sizes.map(_._2).sum - tombstoneRowCount(spark, path))
    val mean = if (sizes.isEmpty) 0.0
      else sizes.map(_._2).sum.toDouble / sizes.size
    val hot = sizes.filter(s => s._2 > maxListFactor * mean && s._2 >= 2)
      .map(_._1).sorted
    import spark.implicits._
    Seq((sizes.size.toLong, total,
        sizes.map(_._2).foldLeft(0L)(math.max),
        math.round(maxListFactor * 10000),
        hot.length.toLong, hot.mkString(","), hot.nonEmpty))
      .toDF("n_lists", "total_live", "max_list", "factor_bp",
        "n_hot", "hot_lists", "rebalance_advised")
  }

  /** Split oversized inverted lists — the maintenance verb for
    * hot-centroid skew. Real corpora drift: a centroid that captures a
    * dense region accumulates a list far above corpus/nCentroids, and
    * every search probing it pays that list's scan — the IVF promise
    * (probe cost ≈ corpus/nCentroids × nProbes) quietly erodes. The
    * standard repair (FAISS re-trains; Milvus/Vespa re-shard) is to
    * split the hot lists without touching the cold ones.
    *
    * Each list whose size exceeds `maxListFactor × mean` is split by a
    * seeded 2-means fitted on THAT LIST ONLY (a partition-pruned read —
    * O(hot lists) total, never O(corpus)), and its rows land in TWO
    * FRESH cluster ids appended as new partition directories. Fresh
    * ids — not reusing the hot id — is what makes the publish atomic:
    * the new directories are invisible (no centroid references them)
    * until the single centroid-generation commit retires the hot
    * centroids and adds the sub-centroids, at which point every new
    * search plans against the split layout and never probes the
    * retired lists again. A crash anywhere before the marker commit
    * leaves the old generation fully live and the orphan directories
    * unreferenced (re-run to completion, [[vacuumIndex]] to reclaim);
    * in-flight searches that planned against the old generation keep
    * reading the retired lists, which stay on disk until vacuum — the
    * TextIndex reader-spare discipline.
    *
    * Returns the split (retired) cluster ids; empty when the index is
    * already balanced. Run at cadence until empty — a grotesquely hot
    * list halves per pass.
    */
  def rebalanceIndex(spark: SparkSession, path: String, idCol: String,
      vecCol: String, maxListFactor: Double = 2.0,
      seed: Long = 42L): Seq[Int] = MaintenanceLock.withLockToken(
      spark, path) { token =>
    // re-run repair FIRST (the appendDocs purge-before-republish rule):
    // a prior rebalance that crashed after appending its sub-lists but
    // before its commit left orphan directories in exactly the fresh
    // ids THIS run will allocate — appending into them again would
    // duplicate every moved row. Purge unreferenced lists up front
    // (no age guard: rebalance is a single-writer maintenance verb,
    // like compaction — concurrency is excluded by the CAS commit).
    // Ownership re-check first: the purge is destructive and not
    // CAS'd — a rebalance whose lease was stolen must die here, before
    // it can delete a live peer's uncommitted sub-lists (whose CAS
    // commit would then publish bricked lists).
    MaintenanceLock.assertHeld(spark, path, token)
    purgeUnreferencedLists(spark, path, olderThanMs = 0L, keepSpare = true)
    val (assigned, centroids) = loadIndex(spark, path)
    val sizes = listSizes(spark, path, idCol)
    if (sizes.isEmpty) return Seq.empty
    val mean = sizes.map(_._2).sum.toDouble / sizes.size
    // a 2-means needs two rows; a 1-row list can never be a hot spot
    val hot = sizes.filter(s => s._2 > maxListFactor * mean && s._2 >= 2)
      .map(_._1)
    if (hot.isEmpty) return Seq.empty
    var nextId = centroids.agg(max("centroid_id")).head().getInt(0)
    val newCents = Seq.newBuilder[(Int, Array[Float])]
    hot.foreach { h =>
      // ONE list's rows — the probed-cluster partition filter prunes
      // the scan to this list's files, so a split reads what it splits.
      // Tombstoned rows fold out here for free (the split IS a rewrite)
      val rows = maskDeleted(spark, path,
          assigned.filter(col("cluster") === h), idCol)
        .withColumn("__v", array_to_vector(col(vecCol)))
      val model = new KMeans().setK(2).setSeed(seed)
        .setFeaturesCol("__v").setPredictionCol("__sub").fit(rows)
      val ids = Seq(nextId + 1, nextId + 2); nextId += 2
      model.transform(rows).drop("__v")
        .withColumn("cluster",
          when(col("__sub") === 0, lit(ids(0))).otherwise(lit(ids(1))))
        .drop("__sub")
        .repartition(col("cluster")) // one file per sub-list
        .write.mode("append").partitionBy("cluster")
        .parquet(s"$path/assigned")
      model.clusterCenters.zipWithIndex.foreach { case (c, i) =>
        newCents += ((ids(i), c.toArray.map(_.toFloat))) }
    }
    // ONE commit covering every split: write the next centroid
    // generation fully, then CAS the marker. Keep the previous
    // generation as the in-flight readers' spare; sweep older ones.
    import spark.implicits._
    val gen = liveCentroidGen(spark, path)
    val updated = centroids.filter(!col("centroid_id").isin(hot: _*))
      .unionByName(newCents.result().toDF("centroid_id", "centroid_vec"))
    updated.coalesce(1).write.mode("overwrite")
      .parquet(centroidsGenPath(path, gen + 1))
    val fs = fsOf(spark, path)
    val marker = new Path(s"$path/$CGenPrefix${gen + 1}")
    val created = try { fs.createNewFile(marker) } catch {
      case _: java.io.IOException => false }
    if (!created)
      throw new IllegalStateException(
        s"concurrent IVF maintenance: commit marker $marker already exists")
    // the older-generation sweep is destructive and not CAS'd (the
    // commit above was) — re-assert ownership before deleting what an
    // in-flight successor might still be reading as ITS spare
    MaintenanceLock.assertHeld(spark, path, token)
    // epoch-pinned centroid generations survive the sweep: a live
    // pin's as-of read resolves its generation's centroid table and
    // cluster set directly (enforced retention)
    val pinnedCg = epochPinnedVec(spark).map(_._3).toSet
    (1 until gen).filterNot(pinnedCg.contains).foreach { g =>
      fs.delete(new Path(centroidsGenPath(path, g)), true)
      fs.delete(new Path(s"$path/$CGenPrefix$g"), false)
    }
    hot
  }

  /** Reclaim inverted lists the LIVE centroid generation no longer
    * references: lists retired by committed [[rebalanceIndex]] runs
    * and orphan sub-lists of a rebalance that crashed before its
    * commit. Age-guarded like Snapshots.vacuum — the guard is what
    * protects in-flight readers that planned against the previous
    * generation (the internal pre-split repair instead keeps the
    * spare generation's lists unconditionally, since the orphans it
    * must remove are referenced by NO committed generation). Returns
    * the deleted directory names.
    */
  def vacuumIndex(spark: SparkSession, path: String,
      olderThanMs: Long = 3600000L): Seq[String] =
    MaintenanceLock.withLock(spark, path) {
      purgeUnreferencedLists(spark, path, olderThanMs, keepSpare = false)
    }

  private def purgeUnreferencedLists(spark: SparkSession, path: String,
      olderThanMs: Long, keepSpare: Boolean,
      knownReferenced: Option[Set[Int]] = None): Seq[String] = {
    val fs = fsOf(spark, path)
    val gen = liveCentroidGen(spark, path)
    val refGens =
      if (keepSpare) math.max(0, gen - 1) to gen else gen to gen
    // callers that already hold the live set (compactLists) pass it in;
    // only valid when the reference set is exactly the live generation.
    // Lists any EPOCH-PINNED generation references are always retained
    // on top — the enforced-retention contract (IndexEpoch).
    val referenced = knownReferenced.filter(_ => !keepSpare).getOrElse {
      refGens.flatMap { g =>
        val p = centroidsGenPath(path, g)
        if (fs.exists(new Path(p)))
          spark.read.parquet(p).select("centroid_id")
            .collect().map(_.getInt(0)).toSeq
        else Seq.empty
      }.toSet
    } ++ epochPinnedClusterIds(spark, path)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dirs = fs.listStatus(new Path(s"$path/assigned")).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("cluster=") &&
          scala.util.Try(n.stripPrefix("cluster=").toInt).toOption
            .exists(!referenced.contains(_)) &&
          st.getModificationTime <= cutoff
      }
    dirs.foreach(st => fs.delete(st.getPath, true))
    dirs.map(_.getPath.getName)
  }

  /** Each probe's nProbes nearest centroids: (probe_id, probe_vec,
    * cluster). Literal path: per-row sort_array + slice over the
    * centroid-distance structs — a projection, no crossJoin fanout
    * and no window (sort cost is nCentroids·log per row, parameter-
    * sized). Fallback keeps the crossJoin + window, which is still
    * safe at any corpus size — a probe's window partition holds
    * nCentroids rows, a chosen parameter, never data-scaled.
    */
  private def probeLists(centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, nProbes: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    centroidsAsLiteral(centroids) match {
      case Some(cl) =>
        p.select(col("probe_id"), col("probe_vec"),
            explode(slice(sort_array(centroidDists(cl, col("probe_vec"))),
              1, nProbes)).as("__n"))
          .select(col("probe_id"), col("probe_vec"), col("__n")("c").as("cluster"))
      case None =>
        val wC = Window.partitionBy("probe_id")
          .orderBy(col("cdist").asc, col("centroid_id").asc)
        p.crossJoin(broadcast(centroids))
          .withColumn("cdist", l2_dist(col("probe_vec"), col("centroid_vec")))
          .withColumn("crank", row_number().over(wC))
          .filter(col("crank") <= nProbes)
          .select(col("probe_id"), col("probe_vec"),
            col("centroid_id").as("cluster"))
    }
  }

  /** The distinct cluster ids a probe batch will touch — the literals
    * of the partition filter. Driver-sized by construction: at most
    * nCentroids ints regardless of probe or corpus count (the ONE
    * driver-side step of a search, and the price of turning the
    * probed-cluster predicate into planning-time partition pruning).
    * Public so specs can assert the pruned file set against it.
    */
  def probedClusterIds(centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, nProbes: Int): Seq[Int] =
    probeLists(centroids, probes, idCol, vecCol, nProbes)
      .select("cluster").distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Approximate top-k over a prebuilt index (no refit): search the
    * nProbes nearest inverted lists, exact cosine re-rank. The
    * probed-cluster restriction is applied as `cluster IN (<ids>)` ON
    * THE INDEX SCAN — against the [[buildIndex]] layout that is a
    * partition filter, so planning elides every unprobed list's files
    * and the scan's I/O is O(probed lists), not O(corpus).
    */
  def searchTopK(
      assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbes: Int): DataFrame = {
    val pl = probeLists(centroids, probes, idCol, vecCol, nProbes)
    // ONE tiny driver collect (≤ nCentroids ints) turns the probed-
    // cluster predicate into partition-filter literals
    val probed = pl.select("cluster").distinct().collect().map(_.getInt(0)).toSeq
    // candidates: corpus rows in any probed list; exact re-rank with
    // the bounded-heap cut — a probe's candidate set is
    // corpus/nCentroids × nProbes rows, which a row_number window
    // would funnel into ONE sort task per probe at scale. (Pending
    // tombstones are masked upstream when the caller loads the index
    // through [[loadLive]] — the partition pruning this scan relies on
    // survives the mask, an anti-join above the filtered scan.)
    val c = assigned.filter(col("cluster").isin(probed: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"),
        col("cluster"))
    val cands = c.join(broadcast(pl), Seq("cluster"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("probe_vec"), col("neighbor_vec")))
    SimilaritySearch.heapTopK(cands.select("probe_id", "neighbor_id", "cos"), "cos", k)
  }

  /** Radius (range) search over a prebuilt index — FAISS
    * `range_search` / Milvus radius query: ALL neighbors whose cosine
    * similarity is at least `minCos`, not a fixed k. Same access path
    * as [[searchTopK]] — the probed-cluster restriction is a partition
    * filter, so I/O is O(probed lists) — but the cut is the threshold
    * itself: a simple filter, no heap, no window, output sized by the
    * match set. The verb top-k can't express: "everything this
    * similar", the dedup/recall shape (near-dup mining uses exactly
    * this with a jaccard/cosine floor).
    */
  def searchRadius(
      assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, minCos: Double, nProbes: Int): DataFrame = {
    val pl = probeLists(centroids, probes, idCol, vecCol, nProbes)
    val probed = pl.select("cluster").distinct().collect().map(_.getInt(0)).toSeq
    val c = assigned.filter(col("cluster").isin(probed: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"),
        col("cluster"))
    c.join(broadcast(pl), Seq("cluster"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("probe_vec"), col("neighbor_vec")))
      .filter(col("cos") >= minCos)
      .select("probe_id", "neighbor_id", "cos")
  }

  /** Batch kNN JOIN: every row of a DATA-SIZED probe table gets its k
    * nearest index rows — the table×table shape (label propagation,
    * cluster assignment, dedup candidate generation) that
    * [[searchTopK]] must not serve, because searchTopK broadcasts the
    * probe→list pairing (right for a query batch, fatal for a table:
    * a broadcast side must fit on every executor). Here the pairing is
    * a SHUFFLE hash join keyed on `cluster`: both sides repartition on
    * the list id, each probe meets only its nProbes lists' rows, and
    * the per-probe cut is the bounded heap — nothing data-sized is
    * ever broadcast or windowed. Probe-side fanout is nProbes rows per
    * probe (parameter-sized); candidate volume is
    * Σ_probe nProbes × corpus/nCentroids, the IVF contract. Hot lists
    * (many probes probing the same cluster) are AQE skew-join
    * territory — the key is the list id, exactly the knob
    * [[rebalanceIndex]] maintains.
    *
    * The scan restricts to the LIVE centroid table's cluster ids as a
    * partition filter (≤ nCentroids literals, never probe-sized) — it
    * prunes rebalance-retired lists at planning time and, when the
    * probe table is selective enough to touch few lists, unprobed ones
    * too; a table-scale probe set typically touches every list, so the
    * real scale lever is the shuffle join itself.
    */
  def knnJoin(
      assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbes: Int): DataFrame = {
    val pl = probeLists(centroids, probes, idCol, vecCol, nProbes)
    // live-cluster partition filter from the CENTROID table (nCentroids
    // ints — parameter-sized), not from the data-sized probe pairing
    val live = centroids.select("centroid_id").collect().map(_.getInt(0)).toSeq
    val c = assigned.filter(col("cluster").isin(live: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"),
        col("cluster"))
    // plain (unhinted) equi-join on cluster: Spark shuffles both sides
    // via ENSURE_REQUIREMENTS exchanges; no broadcast of the data-sized
    // probe pairing, and — deliberately — no explicit repartition: a
    // user REPARTITION_BY_COL shuffle is a partitioning AQE must
    // preserve, so OptimizeSkewedJoin would refuse to split a hot
    // list's partition (plan-asserted in PlanSpec's hot-list test)
    val cands = c.join(pl, Seq("cluster"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("probe_vec"), col("neighbor_vec")))
    SimilaritySearch.heapTopK(cands.select("probe_id", "neighbor_id", "cos"), "cos", k)
  }

  /** IVF-PQ-lite two-stage search over a [[buildIndex]] layout: the
    * coarse pass scores the PROBED lists' int8 codes (the same
    * `cluster IN` partition pruning as [[searchTopK]], but the scan
    * reads only the id/code/scale columns — a quarter of the float
    * vector's bytes), keeps nCandidates per probe with the bounded
    * heap, and only those candidates run the exact float cosine —
    * read from the embedding column OF THE SAME pruned index files,
    * so the entire query's input set is index files (inputFiles-
    * asserted in DedupSpec): the corpus table is never touched at
    * query time. Composition of `q_sim_rerank`'s two-stage cut with
    * the IVF layout: stage-1 I/O is O(probed lists)/4, stage-2 is a
    * broadcast-candidate semi-read, and the re-rank is exact over the
    * surviving ids. Zero-norm probes are dropped (cosine undefined),
    * matching [[SimilaritySearch.quantizedRerankTopK]].
    */
  def searchTopKQuantized(
      assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbes: Int,
      nCandidates: Int): DataFrame = {
    val pq = withCodes(
        probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec")),
        "probe_vec")
      .filter(col("q_scale") > 0)
      .select(col("probe_id"), col("probe_vec"),
        col("q_scale").as("p_scale"), col("q_code").as("p_code"))
    val pl = probeLists(centroids, pq.select(col("probe_id").as("id"),
        col("probe_vec").as("v")), "id", "v", nProbes)
      .join(pq, "probe_id")
      .select("probe_id", "cluster", "p_scale", "p_code")
    val probed = pl.select("cluster").distinct().collect().map(_.getInt(0)).toSeq
    // stage 1: int8 coarse scores over the pruned lists' code columns
    // only — the single biggest read of the query at 1/4 width
    val codes = assigned.filter(col("cluster").isin(probed: _*))
      .select(col(idCol).as("neighbor_id"), col("q_code"), col("q_scale"),
        col("cluster"))
    val scored = codes.join(broadcast(pl), Seq("cluster"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("qdot",
        aggregate(zip_with(col("p_code"), col("q_code"),
          // explicit widening: tinyint × tinyint must not multiply in
          // byte arithmetic (−127·−127 overflows a byte)
          (a, b) => a.cast("long") * b.cast("long")), lit(0L), (acc, v) => acc + v))
      .withColumn("approx",
        col("qdot").cast("double") * col("p_scale") * col("q_scale") / lit(16129.0))
    val candIds = SimilaritySearch.heapTopK(
        scored.select("probe_id", "neighbor_id", "approx"), "approx", nCandidates)
      .select("probe_id", "neighbor_id")
    // stage 2: exact cosine for the candidates, floats read from the
    // SAME pruned partitions (column pruning gives this scan the
    // embedding column the coarse scan never read)
    val floats = assigned.filter(col("cluster").isin(probed: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"))
    val exact = floats.join(
        broadcast(candIds.join(pq.select("probe_id", "probe_vec"), "probe_id")),
        Seq("neighbor_id"))
      .withColumn("cos", cosine_sim(col("probe_vec"), col("neighbor_vec")))
    SimilaritySearch.heapTopK(exact.select("probe_id", "neighbor_id", "cos"), "cos", k)
  }

  /** Consolidate two IVF shards into ONE index at `dstPath` — the
    * vector twin of `TextIndex.mergeIndexes` (shard-parallel build,
    * one merge; FAISS `merge_from` re-expressed). The PRIMARY shard
    * (`aPath`) donates its centroid set: its live rows keep their
    * cluster assignments and move unchanged, while the secondary
    * shard's live rows re-assign to the primary's centroids through
    * the same O(batch × nCentroids) broadcast-crossJoin + `min_by`
    * path [[appendToIndex]] uses — no k-means refit, nothing
    * corpus-sized broadcast. Both sides read through their LIVE views
    * (seq ceiling + tombstone mask), so pending deletes fold during
    * the merge. The result is a fresh generation-0 layout (seq 1, no
    * tombstones, `partitionBy(cluster)` pruning intact); sources are
    * left untouched. Centroid fidelity for the secondary's region is
    * the caller's rebuild-cadence call, as with any add-without-train.
    * Doc-id disjointness is validated loudly (an id live in both
    * shards would duplicate its vector silently).
    */
  def mergeIndexes(spark: SparkSession, aPath: String, bPath: String,
      dstPath: String, idCol: String, vecCol: String): Unit = {
    // the sources are read LAZILY by the write job below, after dst is
    // cleared — a dst aliasing a source would destroy the shard before
    // it is read
    require(dstPath != aPath && dstPath != bPath,
      s"mergeIndexes: dstPath ($dstPath) must differ from both source " +
        "shards — the destination is cleared before the sources are read")
    val (liveA0, centroids) = loadLive(spark, aPath, idCol)
    val (liveB0, centroidsB) = loadLive(spark, bPath, idCol)
    // restrict each shard to its own LIVE centroids' lists (a partition
    // filter, like every search): a shard that was rebalanced but not
    // vacuumed still holds each moved row in BOTH its retired and its
    // live list — loadLive alone would carry both copies into the
    // merge, where they land in the SAME merged list (duplicate top-k
    // hits) or resurrect retired cluster ids in dst
    val liveIdsA = centroids.select("centroid_id").collect().map(_.getInt(0)).toSeq
    val liveIdsB = centroidsB.select("centroid_id").collect().map(_.getInt(0)).toSeq
    val liveA = liveA0.filter(col("cluster").isin(liveIdsA: _*))
    val liveB = liveB0.filter(col("cluster").isin(liveIdsB: _*))
    val overlap = liveA.select(idCol).join(liveB.select(idCol), idCol).count()
    require(overlap == 0,
      s"mergeIndexes: $overlap id(s) live in BOTH shards — shards must " +
        "partition the corpus")
    val fs = fsOf(spark, dstPath)
    fs.delete(new Path(dstPath), true)
    // secondary rows re-assign to the primary's centroid set (the
    // appendToIndex path); primary rows keep their clusters verbatim
    val reassigned =
      assignToCentroids(liveB.drop("cluster"), centroids, idCol, vecCol)
    liveA.unionByName(reassigned.select(liveA.columns.map(col): _*))
      .withColumn("ingest_seq", lit(0L))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$dstPath/assigned")
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$dstPath/centroids")
  }

  /** Convenience fit+search in one call (small corpora / tests). */
  def topK(
      corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbes: Int = 4): DataFrame = {
    val (assigned, centroids) = fit(corpus, idCol, vecCol, nCentroids)
    searchTopK(assigned, centroids, probes, idCol, vecCol, k, nProbes)
  }
}
