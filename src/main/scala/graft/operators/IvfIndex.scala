package graft.operators

import graft.functions.VectorExpressions._
import graft.InFlight.{await, inFlight}
import graft.GraftSession.fsOf
import org.apache.hadoop.fs.{FileSystem, Path}
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
  *
  * == Commit protocol ==
  *
  * The committed state is one [[Commit.Manifest]] chain at the index
  * root — `fmt`, `seq` (the committed ingest seq), `cgen` (the live
  * centroid generation), `lists` (the live list generation) and the
  * committed deletes (`n_tombs`, `tombfile:` lines, [[Tombstones]]) —
  * the TextIndex discipline. Every verb reads it once and commits with
  * a CAS at the next manifest number, so a verb whose state went stale
  * fails instead of publishing over a successor. Readers admit rows
  * with `ingest_seq <= seq`; an append stages its batch, renames it
  * into the live lists as `s<seq>-` files above that ceiling, and
  * becomes visible only when its manifest lands. A delete publishes
  * its tombstone file and commits the list naming it. A rebalance
  * commits `cgen+1`, a compaction `lists+1` and an empty tombstone
  * list, and [[buildIndex]] / [[mergeIndexes]] clear their root under
  * the writer intent and publish their first manifest last. A
  * directory without a manifest, or with another format, is not read:
  * it is refused with its path.
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

  // ── committed state ───────────────────────────────────────────────
  // Every row carries the `ingest_seq` of the batch that wrote it
  // (build = 0). Deletes are the sequence-scoped [[Tombstones]] the
  // TextIndex shares: a row survives unless a committed tombstone for
  // its id sits AT OR ABOVE its own ingest seq, which makes retract →
  // re-ingest O(changes) with no compaction in between.

  /** ivf2 = ivf1 plus the committed tombstone files listed in the
    * manifest (`n_tombs=`, `tombfile:` lines). */
  private val Fmt = "ivf2"

  /** The manifest content: committed ingest seq, live centroid
    * generation, live list generation, the committed deletes, and the
    * manifest number it was read from (a commit CASes at `mseq + 1`).
    */
  private case class State(seq: Long, cgen: Int, lists: Int,
      tombs: Tombstones.Tombs, mseq: Int)

  private def stateOf(fs: FileSystem, path: String): State = {
    val (mseq, lines) = manifestOf(fs, path)
    parseState(lines, mseq, path)
  }

  private def manifestOf(fs: FileSystem, path: String): (Int, Seq[String]) =
    Commit.latest(fs, path).getOrElse(throw new IllegalStateException(
      s"$path has no IVF index manifest (no index, a build that never " +
        "committed, or a layout this binary does not read) — rebuild " +
        "with buildIndex"))

  /** The state a manifest or an [[exportPin]] pin names. */
  private def parseState(lines: Seq[String], mseq: Int, path: String): State = {
    val kv = lines.filter(_.contains("="))
      .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    if (!kv.get("fmt").contains(Fmt))
      throw new IllegalStateException(
        s"$path: manifest format ${kv.getOrElse("fmt", "?")} is not $Fmt " +
          "— rebuild with buildIndex")
    State(kv("seq").toLong, kv("cgen").toInt, kv("lists").toInt,
      Tombstones.parse(lines), mseq)
  }

  private def commit(fs: FileSystem, path: String, st: State): Unit =
    Commit.publish(fs, path, Commit.Manifest,
      Seq(s"fmt=$Fmt", s"seq=${st.seq}", s"cgen=${st.cgen}", s"lists=${st.lists}") ++
        st.tombs.lines,
      expectedNext = Some(st.mseq + 1), sweep = true): Unit

  /** The first manifest of a fresh layout (build, merge). */
  private val Fresh = State(seq = 0L, cgen = 0, lists = 0, Tombstones.Empty, mseq = 0)

  // Generation 0 of the centroids and of the lists is the buildIndex
  // layout (`centroids`, `assigned`); [[rebalanceIndex]] and
  // [[compactLists]] write the next generation fully before the
  // manifest names it.
  private def centroidsGenPath(path: String, gen: Int): String =
    if (gen == 0) s"$path/centroids" else s"$path/centroids_g$gen"

  private def listsGenPath(path: String, gen: Int): String =
    if (gen == 0) s"$path/assigned" else s"$path/assigned_g$gen"

  private def listsGenOf(name: String): Option[Int] =
    if (name == "assigned") Some(0) else Commit.seqOf(name, "assigned_g")

  /** Live centroid generation, from the manifest. */
  def liveCentroidGen(spark: SparkSession, path: String): Int =
    stateOf(fsOf(spark, path), path).cgen

  /** Committed ingest seq (0 for a never-appended index), from the
    * manifest.
    */
  def maxCommittedSeq(spark: SparkSession, path: String): Long =
    stateOf(fsOf(spark, path), path).seq

  /** The live list directory (`partitionBy("cluster")`) — for callers
    * that read the physical layout (erasure audits, file-count
    * assertions). Searches go through [[loadIndex]]/[[loadLive]].
    */
  def listsDir(spark: SparkSession, path: String): String =
    listsGenPath(path, stateOf(fsOf(spark, path), path).lists)

  /** Persist a fitted index under `path`: the cluster-assigned corpus
    * written `partitionBy("cluster")` — one partition directory per
    * inverted list, the layout [[searchTopK]]'s probed-cluster filter
    * prunes at planning time — plus int8 codes per row and the
    * centroid table. Fit ONCE, search many — at scale a k-means refit
    * per lookup is the difference between an index and a scan. The
    * manifest publishes last, so a half-written build is never read.
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, path: String, seed: Long = 42L): Unit = {
    val (assigned, centroids) = fit(corpus, idCol, vecCol, nCentroids, seed)
    // the rebuild is itself a maintenance verb and SERIALIZES with the
    // others through the writer intent: a rebuild racing an in-flight
    // append/compaction fails loudly at acquire instead of deleting
    // the holder's intent marker as "stale state"
    MaintenanceLock.rebuilding(corpus.sparkSession, path) { fs =>
    // the centroid table is independent of the assigned write (both
    // derive from the completed fit), so it lands as a concurrent job
    val centF = inFlight {
      centroids.coalesce(1).write.mode("overwrite").parquet(centroidsGenPath(path, 0))
    }
    // cluster-exclusive shuffle before the partitioned write: ONE file
    // per inverted list instead of write-tasks × clusters small files
    // (the TextIndex bucket rule) — nCentroids doubles as the build's
    // write-parallelism lever, exactly how an IVF sizes itself: more
    // data → more lists → more parallel writers AND smaller probes
    withCodes(assigned, vecCol)
      .withColumn("ingest_seq", lit(0L))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(listsGenPath(path, 0))
    await(centF)
    commit(fs, path, Fresh)
    }
  }

  /** (assigned corpus at COMMITTED visibility, LIVE centroids) of
    * state `st`.
    */
  private def loadAt(spark: SparkSession, fs: FileSystem, path: String,
      st: State): (DataFrame, DataFrame) =
    (spark.read.parquet(listsGenPath(path, st.lists))
      .filter(col("ingest_seq") <= st.seq),
      liveCentroids(spark, fs, path, st.cgen))

  /** Load a persisted index: (assigned corpus at COMMITTED visibility,
    * LIVE centroids). The visibility filter admits rows with
    * `ingest_seq <=` the manifest's seq, so a half-published append is
    * never served. Retired inverted lists a past [[rebalanceIndex]]
    * left on disk are harmless through this API: every search
    * restricts the scan to `cluster IN (<probed ids>)` and only live
    * centroids are ever probed, so an unreferenced list's files are
    * planned away with the unprobed ones. [[vacuumIndex]] reclaims
    * them.
    */
  def loadIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val fs = fsOf(spark, path)
    loadAt(spark, fs, path, stateOf(fs, path))
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
    val fs = fsOf(spark, path)
    val st = stateOf(fs, path)
    val (assigned, centroids) = loadAt(spark, fs, path, st)
    (maskDeleted(spark, path, st.tombs, assigned, idCol), centroids)
  }

  /** The live committed PIN — what [[IndexEpoch.publish]] embeds (the
    * Iceberg snapshot pattern: a pin carries the state, not a pointer
    * to it): the manifest CONTENT, as [[TextIndex.exportManifest]]
    * exports it — committed seq, centroid generation and the committed
    * tombstone FILE list. The file list is load-bearing: a delete
    * committed just after the pin carries `del_seq` equal to the pinned
    * seq, so seq arithmetic alone cannot tell "deleted at pin" from
    * "deleted after pin" — only the list can ([[Tombstones]]). The
    * centroid generation scopes the read: after a rebalance the live
    * generation's lists double-hold moved rows (retired dir + new
    * sub-lists, until vacuum), and only the pinned generation's cluster
    * set reads each row exactly once. One manifest read, no Spark job.
    */
  def exportPin(spark: SparkSession, path: String): Seq[String] = {
    val (_, lines) = manifestOf(fsOf(spark, path), path)
    parseState(lines, 0, path): Unit // refuses a format this binary does not read
    lines
  }

  /** [[loadLive]] AT A PIN ([[exportPin]]) — the epoch-coordinated
    * read ([[IndexEpoch]]): the pin parses with the live state's
    * parser; rows admit iff `ingest_seq <=` the pinned seq, and the
    * tombstone horizon is exactly the pin's file list — an append or
    * delete committed AFTER the pin is invisible, so the epoch reader
    * sees the index exactly as it was when the pin published. Rows come
    * from the LIVE list generation: a compaction under a registered pin
    * carries every row the pin serves into its new generation. With the
    * epoch root REGISTERED (`graft.epoch.roots`), layout maintenance
    * retains the pinned rows, tombstone files, and centroid generation
    * ([[IndexEpoch]] — enforced retention), so the read stays valid
    * until the epoch is expired; unregistered pins keep the old
    * until-layout-maintenance lifetime.
    */
  def loadLiveAsOf(spark: SparkSession, path: String, idCol: String,
      pin: Seq[String]): (DataFrame, DataFrame) = {
    val pinned = parseState(pin, 0, path)
    val st = stateOf(fsOf(spark, path), path)
    // the pinned centroid GENERATION is the partition filter and the
    // centroid table searches against this view must probe
    val pinCentroids = spark.read.parquet(centroidsGenPath(path, pinned.cgen))
    val visible = spark.read.parquet(listsGenPath(path, st.lists))
      .filter(col("cluster").isin(centroidIds(pinCentroids): _*))
      .filter(col("ingest_seq") <= pinned.seq)
    (maskDeleted(spark, path, pinned.tombs, visible, idCol), pinCentroids)
  }

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

  /** The LIVE centroid table, served from the driver cache when its
    * on-disk bytes sit under the literal gate (nCentroids is a chosen
    * parameter — metadata, not data).
    */
  private def liveCentroids(spark: SparkSession, fs: FileSystem, path: String,
      gen: Int): DataFrame = {
    val p = centroidsGenPath(path, gen)
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
  def appendToIndex(newVecs: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = newVecs.sparkSession
    // single-writer intent (MaintenanceLock): an append racing a
    // compaction/rebalance could land in a list generation being
    // superseded or a list being retired mid-write — the intent makes
    // every such interleaving fail loudly BEFORE any write
    MaintenanceLock.withLock(spark, path) {
    val fs = fsOf(spark, path)
    val st = stateOf(fs, path)
    val lists = new Path(listsGenPath(path, st.lists))
    // a PRIOR append that crashed mid-publish left `s<seq>-` files
    // above the committed seq — invisible, but this batch publishes at
    // that same seq, so purge them first or the commit below would
    // make both copies visible at once
    Commit.purgeOrphanFiles(fs, lists, st.seq)
    val seq = st.seq + 1
    // stage → publish → commit: the batch's rows carry a seq above the
    // committed ceiling, so nothing of it is visible until the
    // manifest lands. The centroids are the driver-cached live table.
    val tmp = Commit.stageDir(path)
    withCodes(assignToCentroids(newVecs,
        liveCentroids(spark, fs, path, st.cgen), idCol, vecCol), vecCol)
      .withColumn("ingest_seq", lit(seq))
      .repartition(col("cluster")) // one file per touched list per batch
      .write.partitionBy("cluster").parquet(tmp.toString)
    Commit.publishFiles(fs, tmp, lists, seq)
    fs.delete(tmp, true)
    commit(fs, path, st.copy(seq = seq))
    }
  }

  // ── deletion (retraction) ─────────────────────────────────────────

  /** Retract vectors from a persisted index — the GDPR-erasure /
    * unlearning verb, O(deleted ids): one tombstone file, no list is
    * read or rewritten. Tombstones are SEQ-SCOPED ([[Tombstones]]) —
    * each carries the committed ingest seq at delete time, and the mask
    * removes a row only if a tombstone for its id sits at or above the
    * row's own ingest seq. Deletion is therefore visible at its
    * manifest commit and exact, AND a later [[appendToIndex]] re-adding
    * the same id is visible the moment it lands (its rows carry a
    * higher seq) — no compaction in the update path. The file stages,
    * publishes, and masks nothing until the CAS'd manifest commit lists
    * it. Every read path ([[loadLive]], and [[listSizes]] /
    * [[rebalanceIndex]] internally) applies the mask as an anti-join;
    * [[compactLists]] later folds tombstones physically.
    */
  def deleteFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    // intent held across the tombstone publish and commit: a racing
    // compaction would fold a list that misses this delete
    MaintenanceLock.withLock(spark, path) {
    val fs = fsOf(spark, path)
    val st = stateOf(fs, path)
    // tombstones are keyed in the INDEX'S OWN id type (read from the
    // list layout's parquet footer — a metadata read): a blind
    // cast("long") would turn a string-keyed index's erasure verb into
    // a silent no-op (cast → null → anti-join matches nothing). Ids
    // that don't fit the index type fail LOUDLY instead — validated
    // INSIDE the write job (raise_error on the first uncastable id),
    // so the verb is ONE Spark job, not a count pass plus a write
    // pass; a raised error aborts the write before any file publishes.
    val idType = spark.read.parquet(listsGenPath(path, st.lists)).schema(idCol).dataType
    val typed = ids.select(col(idCol).as("__raw"))
      .withColumn("del_id",
        when(col("__raw").isNotNull && col("__raw").cast(idType).isNull,
          raise_error(concat(
            lit("deleteFromIndex: id '"), col("__raw").cast("string"),
            lit(s"' not castable to the index id type $idType"))).cast(idType))
        .otherwise(col("__raw").cast(idType)))
      .select("del_id").distinct()
    val (tombs, _) =
      try Tombstones.record(fs, path, typed, st.seq, st.tombs)(())
      catch {
        // surface the in-job validation as the API's contract exception
        case e: Throwable if Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .take(8).exists(c => Option(c.getMessage)
              .exists(_.contains("not castable to the index id type"))) =>
          throw new IllegalArgumentException(
            "deleteFromIndex: id(s) not castable to the index id type " +
              s"$idType — no tombstone was published", e)
      }
    commit(fs, path, st.copy(tombs = tombs))
    }
  }

  /** Pinned vector-index states across every live epoch of every
    * registered epoch root ([[IndexEpoch.livePins]]) — what the
    * layout-maintenance verbs must RETAIN. A pin this binary's format
    * cannot parse is skipped (it could not be served anyway); pins
    * from a sibling stack sharing the conf only over-retain.
    */
  private def epochPins(spark: SparkSession): Seq[State] =
    IndexEpoch.livePins(spark)._2.flatMap(pin =>
      scala.util.Try(parseState(pin, 0, "epoch pin")).toOption)

  /** Cluster ids of every epoch-pinned centroid generation that exists
    * on disk — lists the layout-maintenance verbs must treat as
    * referenced whatever the live generation says.
    */
  private def epochPinnedClusterIds(spark: SparkSession, fs: FileSystem,
      path: String): Set[Int] =
    epochPins(spark).map(_.cgen).distinct
      .flatMap(genClusterIds(spark, fs, path, _)).toSet

  /** Cluster ids of centroid generation `g`; empty when it is gone. */
  private def genClusterIds(spark: SparkSession, fs: FileSystem, path: String,
      g: Int): Seq[Int] = {
    val p = centroidsGenPath(path, g)
    if (fs.exists(new Path(p))) centroidIds(spark.read.parquet(p)) else Seq.empty
  }

  /** `df` under the committed deletes `tombs` ([[Tombstones.masked]]):
    * a row dies only when a tombstone for its id is AT OR ABOVE the
    * row's ingest seq — re-ingested rows carry a higher seq and pass.
    * Identity when no deletes are committed.
    */
  private def maskDeleted(spark: SparkSession, path: String,
      tombs: Tombstones.Tombs, df: DataFrame, idCol: String): DataFrame =
    Tombstones.masked(spark, path, tombs, df, idCol, "ingest_seq")

  private def centroidIds(centroids: DataFrame): Seq[Int] =
    centroids.select("centroid_id").collect().map(_.getInt(0)).toSeq

  /** Fold committed tombstones into the physical layout: the kept rows
    * of every live list are written as the NEXT list generation (lists
    * left empty simply do not appear in it), the manifest then names
    * that generation with an empty tombstone list, and the superseded
    * generation and the tombstone files no manifest or live pin lists
    * are deleted after the commit. Readers see the old generation or
    * the new one, never a list in between; a crash before the commit
    * leaves an unreferenced generation that the re-run overwrites, and
    * one after it leaves garbage that [[vacuumIndex]] reclaims.
    */
  def compactLists(spark: SparkSession, path: String, idCol: String): Unit = {
    val fs = fsOf(spark, path)
    if (stateOf(fs, path).tombs.isEmpty) return
    MaintenanceLock.withLockToken(spark, path) { token =>
    val st = stateOf(fs, path)
    val (assigned, centroids) = loadAt(spark, fs, path, st)
    val live = centroidIds(centroids)
    // surviving rows squash to the committed seq: the fold is one
    // ingest point, and every row that survives it already sits above
    // its id's tombstones, so the squash cannot expose it to one.
    //
    // ENFORCED EPOCH-PIN RETENTION: with live epoch pins registered
    // (graft.epoch.roots), the fold keeps every row ANY pin still
    // serves (ingest_seq ≤ pin seq and not masked under the pin's own
    // tombstone files) — including the lists of pinned retired
    // centroid generations — seqs are NOT squashed (the pins' ceilings
    // must keep partitioning rows), and the committed tombstone list
    // stays as it is (it still masks the kept-but-dead rows for live
    // readers). Compaction still reclaims everything dead to live AND
    // every pin; expiring the epoch releases the rest to the next pass.
    val pins = epochPins(spark)
    val carried = (live ++ epochPinnedClusterIds(spark, fs, path)).distinct
    val base = assigned.filter(col("cluster").isin(carried: _*))
    val kept =
      if (pins.isEmpty)
        maskDeleted(spark, path, st.tombs, base, idCol)
          .withColumn("ingest_seq", lit(st.seq))
      else {
        // one left-outer join per horizon, the live one first: a row
        // stays when it is live or some pin still serves it
        val idT = base.schema(idCol).dataType
        val horizons = (st.tombs +: pins.map(_.tombs)).zipWithIndex.flatMap {
          case (t, j) => Tombstones.horizon(spark, path, t.files, idT).map(h =>
            j -> h.select(col("del_id").as(s"h${j}_id"), col("del_seq").as(s"h${j}_del")))
        }
        val joined = horizons.foldLeft(base) { case (df, (j, h)) =>
          df.join(broadcast(h),
            df(idCol) === h(s"h${j}_id") && df("ingest_seq") <= h(s"h${j}_del"),
            "left_outer")
        }
        def unmasked(j: Int) =
          if (horizons.exists(_._1 == j)) col(s"h${j}_del").isNull else lit(true)
        val keep = unmasked(0) +: pins.zipWithIndex.map { case (p, j) =>
          col("ingest_seq") <= lit(p.seq) && unmasked(j + 1) }
        joined.filter(keep.reduce(_ || _)).select(base.columns.map(col): _*)
      }
    // which lists still have rows — observed ON the rewrite job
    // itself, not by a second scan. collect_set(cluster) carries
    // nCentroids values: metadata.
    val obs = org.apache.spark.sql.Observation(
      s"ivf_compact_${java.util.UUID.randomUUID}")
    val next = listsGenPath(path, st.lists + 1)
    // a crashed earlier attempt may have left this generation half
    // written; the intent is ours, so it is nobody's in-flight output
    MaintenanceLock.assertHeld(spark, path, token)
    fs.delete(new Path(next), true)
    kept.observe(obs, collect_set(col("cluster")).as("clusters"))
      .repartition(col("cluster"))
      .write.partitionBy("cluster").parquet(next)
    // full-erasure edge: when EVERY row was tombstoned the write above
    // produced no list at all, and a generation without a single
    // parquet file would brick every later loadIndex/deleteFromIndex
    // with "Unable to infer schema". Keep the layout readable with ONE
    // empty-but-schema'd file in the lowest live list; searches return
    // zero rows and appendToIndex re-grows the index normally. (A
    // fully-masked rewrite runs ZERO write tasks, so the observation
    // resolves to an EMPTY map — that IS the signal, not an error.)
    val nonEmpty = obs.get.getOrElse("clusters", scala.collection.Seq.empty[Int])
      .asInstanceOf[scala.collection.Seq[Int]]
    if (nonEmpty.isEmpty && live.nonEmpty)
      kept.drop("cluster").limit(0).repartition(1)
        .write.parquet(s"$next/cluster=${live.min}")
    val folded = st.copy(lists = st.lists + 1,
      tombs = if (pins.isEmpty) Tombstones.Empty else st.tombs)
    commit(fs, path, folded)
    // after the commit nothing reads the old generation or the
    // tombstone files no manifest or pin lists; both deletes are
    // destructive and not CAS'd, so re-assert ownership first. Erasure
    // (q_forget) is a PHYSICAL claim: older generations (a crashed pass
    // may have left more than one) hold the folded rows and retired
    // lists, so they go now, with no reader spare — compaction is
    // stop-the-world for readers of the superseded generation.
    MaintenanceLock.assertHeld(spark, path, token)
    Commit.names(fs, path).filter(listsGenOf(_).exists(_ != folded.lists))
      .foreach(n => fs.delete(new Path(path, n), true))
    Tombstones.sweep(fs, path, folded.tombs +: pins.map(_.tombs)): Unit
    }
  }

  /** Per-list LIVE row counts (tombstones masked) — the skew
    * diagnostic [[rebalanceIndex]] acts on and [[skewReport]] polls at
    * cadence. nCentroids rows (parameter-sized, never data-sized), so
    * collecting it is a metadata read.
    *
    * Fast path: with no pending tombstones, every row in a file at or
    * below the seq ceiling is visible, so the per-list counts are
    * exactly [[listSizesBound]]'s parquet FOOTER row sums: one driver
    * metadata pass, NO Spark job, no corpus scan. That is what makes
    * the skew advisory a cadence-pollable verb at 100 TB (an advisory
    * that re-counts the corpus per poll is a scan, not an advisory).
    * Pending tombstones fall back to the exact masked aggregate.
    */
  def listSizes(spark: SparkSession, path: String,
      idCol: String): Seq[(Int, Long)] = {
    val fs = fsOf(spark, path)
    sizesAt(spark, fs, path, stateOf(fs, path), idCol)
  }

  private def sizesAt(spark: SparkSession, fs: FileSystem, path: String,
      st: State, idCol: String): Seq[(Int, Long)] = {
    if (st.tombs.isEmpty) return boundAt(spark, fs, path, st)
    val (assigned, centroids) = loadAt(spark, fs, path, st)
    val live = centroidIds(centroids)
    val counted = maskDeleted(spark, path, st.tombs,
        assigned.filter(col("cluster").isin(live: _*)), idCol)
      .groupBy("cluster").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // empty lists report 0: a centroid with no rows is still live
    live.sorted.map(c => (c, counted.getOrElse(c, 0L)))
  }

  /** Per-list UPPER-BOUND row counts from parquet FOOTERS — one driver
    * metadata pass, NO Spark job, at any corpus size. Only files at or
    * below the committed seq count (a crashed append's `s<seq>-` files
    * above it never do), so with no pending tombstones the bound IS
    * the exact live count; under deletes it over-counts by exactly the
    * tombstoned rows not yet folded. This is [[skewReport]]'s sizing
    * source: an advisory polled at cadence must stay metadata-sized
    * even on an index that never quiesces (continuous delete load) —
    * exactness is only needed by [[rebalanceIndex]] itself, which
    * re-measures with the masked aggregate ([[listSizes]]) before
    * acting.
    */
  def listSizesBound(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    val fs = fsOf(spark, path)
    boundAt(spark, fs, path, stateOf(fs, path))
  }

  private def boundAt(spark: SparkSession, fs: FileSystem, path: String,
      st: State): Seq[(Int, Long)] = {
    // centroid ids come from the driver-cached LIVE centroid table (a
    // LocalRelation on a warm session — no job past the first read)
    val live = centroidIds(liveCentroids(spark, fs, path, st.cgen))
    val committed = (name: String) => Commit.appendSeqOf(name).forall(_ <= st.seq)
    live.sorted.map { c =>
      val dir = new Path(s"${listsGenPath(path, st.lists)}/cluster=$c")
      // empty lists report 0: a centroid with no rows is still live
      (c, if (fs.exists(dir))
        graft.plans.ManifestSized.parquetRowCount(spark, dir.toString, committed)
      else 0L)
    }
  }

  /** One-row skew ADVISORY — the observability half of
    * [[rebalanceIndex]], so a pipeline can schedule the repair at
    * cadence from SQL (`graft_ivf_skew` TVF) instead of an operator
    * eyeballing list sizes. Names the lists [[rebalanceIndex]] would
    * split under the same `maxListFactor` rule (size strictly above
    * factor × mean, and ≥ 2 rows — a 1-row list can never be a hot
    * spot), using the SAME selection arithmetic over
    * [[listSizesBound]]'s footer counts. With no pending tombstones
    * the bound is exact, so `rebalance_advised = false` ⇔ a rebalance
    * run would be a no-op; under pending tombstones the advisory sizes
    * are upper bounds (the poll stays METADATA-sized — zero Spark jobs
    * — even on an index that never quiesces under continuous delete
    * load; `total_live` subtracts the manifest's committed tombstone
    * row count, an upper bound on masked rows). The repair itself
    * re-measures exactly.
    */
  def skewReport(spark: SparkSession, path: String, idCol: String,
      maxListFactor: Double = 2.0): DataFrame = {
    val fs = fsOf(spark, path)
    val st = stateOf(fs, path)
    val sizes = boundAt(spark, fs, path, st)
    val total = math.max(0L, sizes.map(_._2).sum - st.tombs.n)
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
    * until the single manifest commit of the next centroid generation
    * retires the hot centroids and adds the sub-centroids, at which
    * point every new search plans against the split layout and never
    * probes the retired lists again. A crash anywhere before the
    * commit leaves the old generation fully live and the orphan
    * directories unreferenced (re-run to completion, [[vacuumIndex]]
    * to reclaim); in-flight searches that planned against the old
    * generation keep reading the retired lists, which stay on disk
    * until vacuum — the TextIndex reader-spare discipline.
    *
    * Returns the split (retired) cluster ids; empty when the index is
    * already balanced. Run at cadence until empty — a grotesquely hot
    * list halves per pass.
    */
  def rebalanceIndex(spark: SparkSession, path: String, idCol: String,
      vecCol: String, maxListFactor: Double = 2.0,
      seed: Long = 42L): Seq[Int] = MaintenanceLock.withLockToken(
      spark, path) { token =>
    val fs = fsOf(spark, path)
    val st = stateOf(fs, path)
    // re-run repair FIRST (the appendDocs purge-before-republish rule):
    // a prior rebalance that crashed after appending its sub-lists but
    // before its commit left orphan directories in exactly the fresh
    // ids THIS run will allocate — appending into them again would
    // duplicate every moved row. Purge unreferenced lists up front
    // (no age guard: rebalance is a single-writer maintenance verb).
    // Ownership re-check first: the purge is destructive and not
    // CAS'd — a rebalance whose lease was stolen must die here, before
    // it can delete a live peer's uncommitted sub-lists.
    MaintenanceLock.assertHeld(spark, path, token)
    purgeUnreferencedLists(spark, fs, path, st, olderThanMs = 0L, keepSpare = true)
    val (assigned, centroids) = loadAt(spark, fs, path, st)
    val sizes = sizesAt(spark, fs, path, st, idCol)
    val mean = sizes.map(_._2).sum.toDouble / math.max(1, sizes.size)
    // a 2-means needs two rows; a 1-row list can never be a hot spot
    val hot = sizes.filter(s => s._2 > maxListFactor * mean && s._2 >= 2)
      .map(_._1)
    if (hot.nonEmpty) {
      var nextId = centroids.agg(max("centroid_id")).head().getInt(0)
      val newCents = Seq.newBuilder[(Int, Array[Float])]
      hot.foreach { h =>
        // ONE list's rows — the probed-cluster partition filter prunes
        // the scan to this list's files, so a split reads what it
        // splits. Tombstoned rows fold out here for free (the split IS
        // a rewrite)
        val rows = maskDeleted(spark, path, st.tombs,
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
          .parquet(listsGenPath(path, st.lists))
        model.clusterCenters.zipWithIndex.foreach { case (c, i) =>
          newCents += ((ids(i), c.toArray.map(_.toFloat))) }
      }
      // ONE commit covering every split: write the next centroid
      // generation fully, then CAS the manifest naming it. Keep the
      // previous generation as the in-flight readers' spare; sweep
      // older ones.
      import spark.implicits._
      centroids.filter(!col("centroid_id").isin(hot: _*))
        .unionByName(newCents.result().toDF("centroid_id", "centroid_vec"))
        .coalesce(1).write.mode("overwrite")
        .parquet(centroidsGenPath(path, st.cgen + 1))
      commit(fs, path, st.copy(cgen = st.cgen + 1))
      // the older-generation sweep is destructive and not CAS'd (the
      // commit above was) — re-assert ownership before deleting what an
      // in-flight successor might still be reading as ITS spare.
      // Epoch-pinned centroid generations survive it: a live pin's
      // as-of read resolves its generation's centroid table and
      // cluster set directly (enforced retention)
      MaintenanceLock.assertHeld(spark, path, token)
      val pinnedCg = epochPins(spark).map(_.cgen).toSet
      (1 until st.cgen).filterNot(pinnedCg.contains).foreach(g =>
        fs.delete(new Path(centroidsGenPath(path, g)), true))
    }
    hot
  }

  /** Reclaim what no committed state references: inverted lists the
    * LIVE centroid generation no longer names (retired by committed
    * [[rebalanceIndex]] runs, or orphan sub-lists of a rebalance that
    * crashed before its commit), list generations other than the live
    * one (a compaction's superseded or uncommitted output), staged
    * `_ingest_tmp_*` batches and manifest stage files of crashed
    * verbs, `s<seq>-` files above the committed seq (a crashed
    * append's half-published batch, invisible already), and tombstone
    * files neither the manifest nor a live pin lists (a crashed
    * delete's published but never committed file). Age-guarded
    * like Snapshots.vacuum — the guard is what protects in-flight
    * readers that planned against the previous centroid generation
    * (the internal pre-split repair instead keeps the spare
    * generation's lists unconditionally, since the orphans it must
    * remove are referenced by NO committed generation). Returns the
    * deleted names.
    */
  def vacuumIndex(spark: SparkSession, path: String,
      olderThanMs: Long = 3600000L): Seq[String] =
    MaintenanceLock.withLock(spark, path) {
      val fs = fsOf(spark, path)
      val st = stateOf(fs, path)
      val cutoff = System.currentTimeMillis() - olderThanMs
      val stale = fs.listStatus(new Path(path)).toSeq.filter { s =>
        val n = s.getPath.getName
        (listsGenOf(n).exists(_ != st.lists) || Commit.isStaged(n) ||
          Commit.isStaleTmp(n)) && s.getModificationTime <= cutoff
      }
      stale.foreach(s => fs.delete(s.getPath, true))
      stale.map(_.getPath.getName) ++
        Commit.purgeOrphanFiles(fs, new Path(listsGenPath(path, st.lists)),
          st.seq, olderThanMs) ++
        purgeUnreferencedLists(spark, fs, path, st, olderThanMs, keepSpare = false) ++
        Tombstones.sweep(fs, path, st.tombs +: epochPins(spark).map(_.tombs), olderThanMs)
    }

  private def purgeUnreferencedLists(spark: SparkSession, fs: FileSystem,
      path: String, st: State, olderThanMs: Long,
      keepSpare: Boolean): Seq[String] = {
    val refGens =
      if (keepSpare) math.max(0, st.cgen - 1) to st.cgen else st.cgen to st.cgen
    // lists any EPOCH-PINNED generation references are always retained
    // on top — the enforced-retention contract (IndexEpoch)
    val referenced = refGens.flatMap(genClusterIds(spark, fs, path, _)).toSet ++
      epochPinnedClusterIds(spark, fs, path)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dirs = fs.listStatus(new Path(listsGenPath(path, st.lists))).toSeq
      .filter { s =>
        val n = s.getPath.getName
        n.startsWith("cluster=") &&
          scala.util.Try(n.stripPrefix("cluster=").toInt).toOption
            .exists(!referenced.contains(_)) &&
          s.getModificationTime <= cutoff
      }
    dirs.foreach(s => fs.delete(s.getPath, true))
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
    * the merge. The result is a fresh generation-0 layout (seq 0, no
    * tombstones, `partitionBy(cluster)` pruning intact) whose manifest
    * publishes last; sources are left untouched. Centroid fidelity for
    * the secondary's region is the caller's rebuild-cadence call, as
    * with any add-without-train. Doc-id disjointness is validated
    * loudly (an id live in both shards would duplicate its vector
    * silently).
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
    val liveA = liveA0.filter(col("cluster").isin(centroidIds(centroids): _*))
    val liveB = liveB0.filter(col("cluster").isin(centroidIds(centroidsB): _*))
    val overlap = liveA.select(idCol).join(liveB.select(idCol), idCol).count()
    require(overlap == 0,
      s"mergeIndexes: $overlap id(s) live in BOTH shards — shards must " +
        "partition the corpus")
    // the destination is a rebuild: it serializes with every other
    // maintenance verb on dst through the writer intent
    MaintenanceLock.rebuilding(spark, dstPath) { fs =>
    // secondary rows re-assign to the primary's centroid set (the
    // appendToIndex path); primary rows keep their clusters verbatim
    val reassigned =
      assignToCentroids(liveB.drop("cluster"), centroids, idCol, vecCol)
    liveA.unionByName(reassigned.select(liveA.columns.map(col): _*))
      .withColumn("ingest_seq", lit(0L))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(listsGenPath(dstPath, 0))
    centroids.coalesce(1).write.mode("overwrite").parquet(centroidsGenPath(dstPath, 0))
    commit(fs, dstPath, Fresh)
    }
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
