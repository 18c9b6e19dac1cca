package graft.operators

import graft.GraftSession.fsOf
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.InFlight.{await, inFlight}

/** Persisted inverted text index: term-bucketed posting lists, so a
  * search touches O(query terms) partitions instead of scanning the
  * corpus.
  *
  * The reference serves text corpora to Spark SQL / Presto / Flink as
  * raw files (`README.md:71-88`) — every keyword query is a full scan.
  * This operator is the scale path a 100 TB corpus needs: one offline
  * build job writes `(term, doc_id, tf)` postings hash-partitioned by
  * term into `nBuckets` directories, plus per-term document frequencies
  * as a sibling stats table. A conjunctive (AND) search then
  *
  *   1. computes the query terms' buckets with the SAME hash the build
  *      used (deterministic, data-independent),
  *   2. reads ONLY those partition directories — Spark's partition
  *      pruning resolves `bucket IN (...)` at planning time, so the
  *      other `nBuckets - |terms|` directories are never listed or
  *      opened (plan-asserted in TextIndexSpec),
  *   3. groups the surviving postings by document and keeps documents
  *      matching ALL terms (count of distinct matched terms = arity).
  *
  * Postings are laid out one file per (bucket, shuffle partition); at
  * 100 TB the per-bucket posting lists are further split by the write
  * parallelism, and a search's input volume is the true posting-list
  * size, independent of corpus row count. Scoring is tf-sum (the BM25
  * contributions in `q_text_bm25` compose on top of the same postings).
  *
  * == Commit protocol ==
  *
  * Rewritable index artifacts are GENERATION directories published
  * through the same immutable-manifest swap [[Snapshots]] uses for its
  * tables (write the new `_postings_g<N>` / `_term_stats_g<N>` dir
  * fully, then commit ONE manifest file naming the live generations):
  *
  *   - a reader resolves generations through the manifest, never by
  *     listing — a half-written compaction or stats refresh is
  *     invisible until its manifest lands, so concurrent reads see
  *     either the old or the new layout, never a mix, and a crash
  *     mid-maintenance leaves the index at the previous generation;
  *   - the superseded generation is kept as a recovery spare for one
  *     more maintenance cycle (readers that resolved it mid-query keep
  *     working), then swept;
  *   - posting APPENDS add files inside the live generation without a
  *     generation bump, but they become VISIBLE only at the batch's
  *     manifest commit: every published file name carries its ingest
  *     seq (`s<seq>-part-…`) and every reader masks rows with
  *     `seq > manifest seq`, so a batch that crashed between its file
  *     renames and its commit is invisible — and the re-run first
  *     purges those orphaned above-seq files before publishing again,
  *     so a crashed append can never leave duplicate posting rows.
  *
  * Writer concurrency follows the Snapshots contract: the manifest
  * rename fails rather than clobbers, so racing maintenance jobs
  * surface as a commit conflict (operationally: one maintenance writer
  * at a time; readers need no coordination at all).
  *
  * == Deletes and updates: sequence-scoped tombstones ==
  *
  * Every ingest (build = 1, each append bumps by 1) carries a
  * monotonic SEQUENCE number recorded in the manifest and stamped on
  * every posting and doc-length row it writes. A delete records each
  * id with `del_seq = live manifest seq` through [[Tombstones]] (the
  * delete protocol the vector index shares), and readers mask only
  * rows with `row.seq <= del_seq` — the
  * per-segment deleted-docs contract of a merge-based index (e.g.
  * Lucene), re-expressed on parquet. The payoff is UPDATE maintenance
  * that is O(changes): retract (tombstone the old ids) then re-ingest
  * (append the new text at a HIGHER seq) — the re-ingested postings
  * outrank the tombstone and are visible immediately, with NO
  * intervening compaction. Compaction remains a cadence/space policy
  * (fold tombstones physically, recount df exactly), never a
  * correctness prerequisite for updates.
  */
object TextIndex {
  private val PostingsPrefix = "_postings_g"
  private val StatsPrefix = "_term_stats_g"
  private val DocStatsPrefix = "_doc_stats_g"

  /** File count for the df sidecar — vocabulary-sized data (a few
    * bytes per distinct term), where the default shuffle-partition
    * fan-out writes dozens of KB-sized files a per-batch refresh then
    * re-reads and re-lists forever.
    */
  private val StatsFiles = 8

  /** Index layout version. Bump on ANY change to the tokenizer, the
    * bucket hash, or the postings schema — probe-side code refuses an
    * index whose recorded fmt it does not recognize, because probing
    * with mismatched parameters is a silent wrong-bucket miss (the same
    * failure class the DataSkipping bloom format row guards against).
    * fmt 7 = fmt 6 with the tombstone files in the [[Tombstones]]
    * schema the vector index shares (`del_id`, `del_seq`).
    * fmt 6 = fmt 5 plus the committed tombstone files LISTED in the
    * manifest (`tombfile:` lines): a delete stages its file, publishes
    * it, and only the manifest commit makes it mask anything, so a
    * crash in between leaves search and corpus totals agreeing.
    * fmt 5 = fmt 4 plus the seq-CEILING visibility rule (readers mask
    * `seq > manifest seq`, append files are named `s<seq>-…` so a
    * crashed batch is purgeable before its re-run) and the tombstone
    * count carried in the manifest (`n_tombs`, the mask-strategy
    * switch). fmt 4 = sequence-scoped tombstones (ingest seq stamped
    * on every posting/doc-stats row; tombstones mask
    * `seq <= tombstone.seq` only), doc length denormalized into
    * posting rows, and corpus stats (n_docs, sum_dl) maintained
    * transactionally in the manifest — BM25 touches ONLY pruned
    * postings + the df sidecar (fmt 3 was generation dirs + manifest
    * commit + id-only tombstones; fmt 2 a flat append-only doc-stats
    * dir; fmt 1 flat dirs with in-place sidecar overwrite).
    */
  private val Fmt = 7

  /** Explicit artifact schemas: every index read DECLARES its schema
    * instead of inferring — no footer sampling at planning time (at
    * scale, inference opens files before the query even plans), and
    * empty artifacts (empty first batch, all-empty-text batch, empty
    * corpus) read as empty frames instead of failing inference.
    */
  private val PostingsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("dl", LongType),
      StructField("term", StringType), StructField("tf", LongType),
      StructField("positions", ArrayType(IntegerType)),
      StructField("seq", LongType), StructField("bucket", IntegerType)))
  }
  private val StatsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("term", StringType), StructField("df", LongType)))
  }
  private val DocStatsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType), StructField("dl", LongType),
      StructField("seq", LongType)))
  }

  /** The live (postings, term-stats, doc-stats) generation triple,
    * resolved from the highest committed manifest — the only way any
    * read path locates data.
    */
  private case class Gens(postings: Int, stats: Int, docs: Int)

  /** The full index descriptor. Everything lives IN the manifest (not
    * a parquet sidecar): resolving it is one small FS read, so the
    * probe-side format/bucket check — and now BM25's corpus scalars —
    * cost no Spark job (the former 1-row-parquet `head()` was a full
    * job on EVERY search; the former doc-stats aggregate was an
    * O(docs) scan on every BM25 query).
    *
    * `seq` is the ingest sequence (see the tombstone contract above);
    * `nDocs`/`sumDl` are the LIVE corpus totals — build sets them,
    * append adds its batch, delete recounts them under the new
    * tombstones, compaction recounts them exactly from the rewritten
    * sidecar. `tombs` is the committed delete state ([[Tombstones]]):
    * the listed files, the only ones any reader applies, and their row
    * count (grown by each delete, zeroed when compaction folds them) —
    * the mask-strategy switch.
    */
  // `mseq` is the MANIFEST number this state was read from (0 for a
  // fresh build) — the commit CASes at mseq+1, so a state derived from
  // a superseded manifest cannot publish (see Commit.publish).
  private case class IndexState(fmt: Int, nBuckets: Int, seq: Long,
      nDocs: Long, sumDl: Long, gens: Gens, mseq: Int = 0,
      tombs: Tombstones.Tombs = Tombstones.Empty)

  private def readState(fs: FileSystem, path: String): IndexState = {
    val (mseq, lines) = manifestOf(fs, path)
    parseState(lines, mseq)
  }

  private def manifestOf(fs: FileSystem, path: String): (Int, Seq[String]) = {
    val head = Commit.latest(fs, path)
    require(head.nonEmpty, s"no text index manifest at $path")
    head.get
  }

  private def parseState(lines: Seq[String], mseq: Int): IndexState = {
    val kv = lines.filter(_.contains("="))
      .map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val fmt = kv("fmt").toInt
    require(fmt == Fmt,
      s"text index has format $fmt; this binary speaks $Fmt only")
    IndexState(fmt, kv("n_buckets").toInt, kv("seq").toLong,
      kv("n_docs").toLong, kv("sum_dl").toLong,
      Gens(kv("postings").toInt, kv("term_stats").toInt,
        kv("doc_stats").toInt), mseq = mseq, tombs = Tombstones.parse(lines))
  }

  /** The live committed PIN — what [[IndexEpoch.publish]] embeds (the
    * Iceberg catalog/snapshot pattern: a pin must carry the state, not
    * point at it): the manifest CONTENT (manifest files are swept past
    * one round), which lists the committed tombstone FILES (tombstones
    * are seq-scoped, but a delete committed just after the pin reuses
    * the pinned seq — only the file list separates "deleted at pin"
    * from "deleted after pin", exactly why Iceberg snapshots track
    * delete files). One FS read, no Spark job.
    */
  def exportManifest(spark: SparkSession, path: String): Seq[String] =
    manifestOf(fsOf(spark, path), path)._2

  private def readGens(spark: SparkSession, path: String): Gens =
    readState(fsOf(spark, path), path).gens

  private def commitState(fs: FileSystem, path: String,
      st: IndexState): Unit =
    Commit.publish(fs, path, Commit.Manifest,
      Seq(s"fmt=$Fmt", s"n_buckets=${st.nBuckets}", s"seq=${st.seq}",
        s"n_docs=${st.nDocs}", s"sum_dl=${st.sumDl}",
        s"postings=${st.gens.postings}", s"term_stats=${st.gens.stats}",
        s"doc_stats=${st.gens.docs}") ++ st.tombs.lines,
      expectedNext = Some(st.mseq + 1), sweep = true): Unit

  /** The manifest's LIVE corpus totals (n_docs, sum_dl) — the BM25
    * inputs, read straight off the committed manifest with zero jobs.
    */
  def corpusTotals(spark: SparkSession, path: String): (Long, Long) = {
    val st = readState(fsOf(spark, path), path)
    (st.nDocs, st.sumDl)
  }

  private def postingsPath(path: String, g: Int) = s"$path/$PostingsPrefix$g"
  private def statsPath(path: String, g: Int) = s"$path/$StatsPrefix$g"
  private def docStatsPath(path: String, g: Int) = s"$path/$DocStatsPrefix$g"

  /** The live postings directory — for callers that need the raw
    * partition layout (specs assert file counts and pruning against
    * it). Everything else should go through [[prunedPostings]].
    */
  def postingsDir(spark: SparkSession, path: String): String =
    postingsPath(path, readGens(spark, path).postings)

  /** Pinned index states across every live epoch of every registered
    * epoch root ([[IndexEpoch.livePins]]) — the generations and
    * tombstone files that generation sweeps, the compaction's
    * tombstone sweep and vacuum must RETAIN. A pin this binary's
    * format cannot parse is skipped (it could not be served anyway);
    * pins from a sibling stack sharing the conf only over-retain.
    */
  private def epochPinnedText(spark: SparkSession): Seq[IndexState] =
    IndexEpoch.livePins(spark)._1.flatMap(pin =>
      scala.util.Try(parseState(pin, 0)).toOption)

  /** The generation numbers live epoch pins hold for `prefix` — the
    * enforced-retention set [[sweepGens]] and [[vacuumIndex]] exclude.
    */
  private def epochPinnedGens(spark: SparkSession, prefix: String): Set[Int] =
    epochPinnedText(spark).map { st =>
      prefix match {
        case PostingsPrefix => st.gens.postings
        case StatsPrefix => st.gens.stats
        case _ => st.gens.docs
      }
    }.toSet

  /** Best-effort sweep of superseded generation dirs, keeping
    * `keepFloor` and everything newer (the previous generation stays
    * as the in-flight readers' spare — the Snapshots recovery-spare
    * rule applied to data dirs) and every generation a live epoch pins,
    * whatever its age (the branch-ref shield lifted from
    * Snapshots.vacuum). A crash here only leaks directories.
    */
  private def sweepGens(spark: SparkSession, fs: FileSystem, path: String,
      prefix: String, keepFloor: Int): Unit = {
    val pinned = epochPinnedGens(spark, prefix)
    fs.listStatus(new Path(path))
      .filter(s => Commit.seqOf(s.getPath.getName, prefix)
        .exists(g => g < keepFloor && !pinned.contains(g)))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** Bucket id for a term — xxhash64 (seed 42, Spark's default) mod
    * nBuckets, computed identically at build and search time. Must stay
    * a pure Catalyst expression so the build side never leaves codegen.
    */
  private def bucketOf(term: Column, nBuckets: Int) =
    pmod(xxhash64(term), lit(nBuckets.toLong)).cast("int")

  /** One pass over `docs`: tokenize, count per-(doc, term), bucket by
    * term hash, write partitioned postings + per-term df stats + the
    * per-doc lengths ([[docStats]]) that keep corpus stats exact. `dl`
    * counts ALL tokens (not just distinct terms) and is DENORMALIZED
    * onto every posting row (one long, dictionary-encoded to almost
    * nothing in parquet), so BM25 never joins a doc-length table;
    * zero-token documents keep their sidecar row — corpus-side n_docs
    * and sum(dl) must count them. Drops any existing index at `path`,
    * holding the writer intent ([[MaintenanceLock.rebuilding]]), so a
    * rebuild racing another maintenance verb fails loudly.
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit =
    MaintenanceLock.rebuilding(docs.sparkSession, path) { fs =>
    val spark = docs.sparkSession
    // bucket-exclusive shuffle before the partitioned write: ONE file
    // per bucket instead of write-tasks × buckets. nBuckets is the
    // build-parallelism lever — each bucket is written by one task, so
    // a corpus-scale build sizes nBuckets to (a multiple of) the
    // cluster's cores, which simultaneously right-sizes the per-bucket
    // posting files a search reads.
    val postings = tokenizePostings(docs, idCol, textCol, nBuckets, seq = 1L)
    // the doc-length sidecar is INDEPENDENT of the postings write (both
    // read `docs`), so it runs as a concurrent job — standard
    // multi-thread job submission against one SparkSession; the
    // scheduler interleaves their stages and the build's wall-clock is
    // max(postings, sidecar) + df instead of the sum. The manifest
    // commit below still waits for every artifact.
    val sideF = inFlight {
      writeDocStats(docs, idCol, textCol, docStatsPath(path, 1),
        SaveMode.Overwrite, seq = 1L)
    }
    postings.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(postingsPath(path, 1))
    // df (document frequency) per term, re-read from the just-written
    // postings: no second tokenization pass over the corpus
    // repartition, NOT coalesce: coalesce would fold the df
    // aggregation itself down to StatsFiles tasks (it merges the
    // upstream stages' partitions), serializing a corpus-sized agg;
    // the extra shuffle here moves only vocabulary-sized rows
    spark.read.schema(PostingsSchema).parquet(postingsPath(path, 1))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .repartition(StatsFiles)
      .write.mode("overwrite").parquet(statsPath(path, 1))
    val (n, dl) = await(sideF)
    // single commit point: data dirs above are invisible until this.
    // Build parameters travel IN the manifest — a probe that
    // re-supplied its own bucket count could silently hash into the
    // wrong partitions and miss every posting.
    commitState(fs, path, IndexState(Fmt, nBuckets, seq = 1L,
      nDocs = n, sumDl = dl, Gens(postings = 1, stats = 1, docs = 1)))
    }

  /** (row count, sum of dl) of a doc-stats frame — the two corpus
    * scalars the manifest carries for BM25.
    */
  private def docTotals(ds: DataFrame): (Long, Long) = {
    val r = ds.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Doc lengths via a second tokenization of the (batch's) text.
    * MEASURED choice over the derive-from-postings alternative
    * (dl = sum(tf) per doc + id-anti-join for zero-token docs): at
    * fixture document lengths the extra regex pass costs 0.2 s where
    * the postings re-shuffle costs 0.7 s — the aggregation-and-join
    * machinery outweighs the tokenize it avoids. A corpus of much
    * longer documents shifts the balance; both formulations keep the
    * zero-token-doc rows the sidecar contract requires.
    *
    * Returns the batch's (row count, sum of dl) — collected as an
    * `observe` metric DURING the write job, so the manifest corpus
    * totals cost no second pass over the batch.
    */
  private def writeDocStats(docs: DataFrame, idCol: String, textCol: String,
      dir: String, mode: SaveMode, seq: Long): (Long, Long) = {
    val obs = org.apache.spark.sql.Observation(
      s"doc_totals_${java.util.UUID.randomUUID}")
    docs.select(col(idCol).cast("long").as("doc_id"),
        size(Dedup.tokens(col(textCol))).cast("long").as("dl"),
        lit(seq).as("seq"))
      .observe(obs, count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("dl"))
      .write.mode(mode).parquet(dir)
    (obs.get("n").asInstanceOf[Long], obs.get("dl").asInstanceOf[Long])
  }

  /** Postings are POSITIONAL: alongside tf, each (doc, term) row keeps
    * the sorted token offsets of the term — what phrase and proximity
    * queries consume. One posexplode pass; tf = size(positions), so the
    * frequency-only consumers (searchAll, bm25) pay nothing extra at
    * query time (column pruning drops `positions` from their scans).
    * `dl` (the doc's TOTAL token count) rides the grouping key — it is
    * functionally dependent on doc_id, so widening the key costs
    * nothing and saves the per-doc join BM25 would otherwise need.
    */
  private[graft] def tokenizePostings(docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int, seq: Long): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .withColumn("seq", lit(seq))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))

  /** The merged df-stats plan for an append: existing sidecar
    * (vocabulary-sized) ∪ the NEW batch's per-term df, re-aggregated.
    * df is associative, so the refresh's input volume is
    * O(batch + vocabulary) — the posting files are NEVER re-read
    * (input-volume-asserted in TextIndexSpec). Package-private so the
    * spec can assert the plan's scan set directly.
    */
  private[graft] def mergedStats(spark: SparkSession, path: String,
      statsGen: Int, batchPostings: DataFrame): DataFrame =
    spark.read.schema(StatsSchema).parquet(statsPath(path, statsGen))
      .unionByName(batchPostings.groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum("df").as("df"))

  /** Incremental maintenance: index a NEW batch of documents into an
    * existing index without touching the corpus already indexed — the
    * continuous-ingestion path, per batch:
    *
    *   1. tokenize ONCE (stamped with the NEXT ingest seq), shuffle on
    *      `bucket`, and write the batch's postings to a private
    *      `_ingest_tmp_*` dir — the bucket-keyed repartition yields ONE
    *      file per bucket per batch (the naive task×bucket write leaves
    *      shuffle-parallelism × buckets files per batch, which is what
    *      makes long ingests compaction-bound);
    *   2. derive the batch's per-term df from the WRITTEN parquet — a
    *      column-pruned batch-sized read; no second tokenization pass,
    *      no caching of the positions arrays (measured ~2x slower than
    *      the re-read at any batch size: the columnar cache encode of
    *      the position arrays costs more than the tokenize it saves);
    *   3. merge that df with the previous sidecar generation (df is
    *      associative) into the NEXT stats generation — input volume
    *      O(batch + vocabulary), NEVER the postings, whose volume is
    *      corpus-order;
    *   4. publish by per-file rename into the live generations
    *      (metadata ops; job-UUID part names cannot collide) — the
    *      batch postings first, its doc-stats rows last — then commit
    *      the manifest (new stats generation, bumped seq, corpus totals
    *      grown by the batch).
    *
    * Total cost per batch: O(new docs + vocabulary), independent of
    * index size. Crash windows, honestly: before any rename — only an
    * `_ingest_tmp_*` orphan and an uncommitted stats generation, both
    * swept by [[vacuumIndex]], neither visible to readers. AFTER the
    * renames start but before the manifest commit — the batch's
    * published files sit in the live generation but every reader masks
    * `seq > manifest seq`, so NOTHING of the half-published batch is
    * visible (search, BM25 totals, df all still agree). The re-run is
    * then safe by construction: it first purges the crashed batch's
    * `s<seq>-` files (seq above the committed manifest) before
    * publishing its own — without that purge a re-run would duplicate
    * every posting row of the batch at the same seq, permanently
    * corrupting tf sums, phrase counts, and the df recount. Both
    * sidecar artifacts stage in the tmp dir and publish in this same
    * window, so no ordering leaves doc-stats rows for docs that have
    * no postings.
    *
    * Caller contract: `docs` must not be LIVE in the index — new
    * doc_ids, or tombstoned ones being re-ingested (the update path:
    * their new rows carry a seq above the tombstone's and are visible
    * immediately; exactly-once de-dup upstream is
    * `q_dedup_incremental`'s job).
    */
  def appendDocs(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val fs = fsOf(spark, path)
    if (Commit.numbered(fs, path, Commit.Manifest.prefix).isEmpty) {
      // first batch of a streaming ingest: no index yet — bootstrap
      // one, but ONLY into virgin ground. A non-empty dir without a
      // manifest is an unrecognized (legacy/corrupted) layout;
      // buildIndex would silently DELETE it and replace it with an
      // index of just this batch — refuse loudly instead.
      require(Commit.names(fs, path).isEmpty,
        s"$path is non-empty but has no index manifest — refusing to " +
          "bootstrap over an unrecognized layout; rebuild explicitly " +
          "with buildIndex")
      return buildIndex(docs, idCol, textCol, path)
    }
    // single-writer intent held from before the first shared-dir write
    // to after the manifest commit: a racing maintenance verb fails
    // loudly HERE instead of overwriting this batch's sidecar
    // generation, purging its staged files, or stranding its seq
    MaintenanceLock.withLock(spark, path) {
    // the bucket count comes from the index being appended to — never
    // from the caller, who could otherwise split one term across two
    // bucket layouts
    val st = readState(fs, path)
    val newSeq = st.seq + 1
    // a PRIOR append that crashed mid-publish left `s<seq>-` files
    // above the committed seq — masked from every reader, but this
    // batch publishes at that same seq, so purge them first or the
    // commit below would make both copies visible at once
    Commit.purgeOrphanFiles(fs, new Path(postingsPath(path, st.gens.postings)), st.seq)
    Commit.purgeOrphanFiles(fs, new Path(docStatsPath(path, st.gens.docs)), st.seq)
    val tmp = Commit.stageDir(path).toString
    tokenizePostings(docs, idCol, textCol, st.nBuckets, newSeq)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$tmp/postings")
    // the batch's doc-stats STAGE in the same tmp dir (publishing them
    // straight into the live generation would put dl rows for
    // postings-less docs on disk if this append crashes pre-publish);
    // the batch totals ride the write as observe metrics
    val (batchN, batchDl) = writeDocStats(docs, idCol, textCol,
      s"$tmp/docstats", SaveMode.Overwrite, newSeq)
    val bucketDirs = fs.listStatus(new Path(s"$tmp/postings"))
      .filter(_.getPath.getName.startsWith("bucket="))
    // an all-empty batch (a streaming source can deliver one) touches
    // no postings and no stats generation — only the seq/totals commit
    val newStatsGen = bucketDirs.nonEmpty
    if (newStatsGen)
      mergedStats(spark, path, st.gens.stats,
          spark.read.schema(PostingsSchema).parquet(s"$tmp/postings"))
        .repartition(StatsFiles)
        .write.mode("overwrite").parquet(statsPath(path, st.gens.stats + 1))
    // publish under seq-prefixed names: the name IS the crash-recovery
    // metadata (purgeable without opening a footer), and the reader's
    // seq ceiling keeps the batch invisible until the commit below
    Commit.publishFiles(fs, new Path(s"$tmp/postings"),
      new Path(postingsPath(path, st.gens.postings)), newSeq)
    Commit.publishFiles(fs, new Path(s"$tmp/docstats"),
      new Path(docStatsPath(path, st.gens.docs)), newSeq)
    fs.delete(new Path(tmp), true)
    val stats1 = if (newStatsGen) st.gens.stats + 1 else st.gens.stats
    commitState(fs, path, st.copy(seq = newSeq,
      nDocs = st.nDocs + batchN, sumDl = st.sumDl + batchDl,
      gens = st.gens.copy(stats = stats1)))
    if (newStatsGen)
      sweepGens(spark, fs, path, StatsPrefix, keepFloor = st.gens.stats)
    }
  }

  /** Conjunctive search: documents containing ALL `terms`, scored by
    * total tf. Only the terms' bucket partitions are read; tombstoned
    * postings are masked inside [[prunedPostings]].
    */
  def searchAll(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAll needs at least one term")
    prunedPostings(spark, path, terms)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"))
      .filter(col("n_terms") === terms.distinct.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** [[searchAll]] AT A PINNED MANIFEST — the epoch-coordinated read
    * ([[IndexEpoch]]): the same pruned-bucket access path, but
    * generations, the seq ceiling, AND the tombstone horizon resolve
    * from the pinned manifest CONTENT (an [[exportManifest]] export —
    * embedded in the epoch, so it survives the manifest-file sweep),
    * so postings appended after the pin are invisible and docs
    * deleted after the pin still serve. With the epoch root REGISTERED
    * (`graft.epoch.roots`), layout maintenance retains the pinned
    * generations and tombstone files ([[IndexEpoch]] — enforced
    * retention), so the read stays valid until the epoch is expired;
    * unregistered pins keep the old until-layout-maintenance lifetime.
    */
  def searchAllAsOf(spark: SparkSession, path: String,
      terms: Seq[String], manifest: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAllAsOf needs at least one term")
    val distinctTerms = terms.distinct
    pinnedPrunedPostings(spark, path, distinctTerms, parseState(manifest, 0))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"))
      .filter(col("n_terms") === distinctTerms.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** The pinned-manifest counterpart of [[prunedPostings]]: the query
    * terms' bucket partitions of the PINNED postings generation, under
    * the pinned seq ceiling and the pinned tombstone FILE LIST — a
    * delete committed after the pin lives in a file the pin never
    * listed, so it cannot reach back (the delete-file tracking that
    * makes the pin a true snapshot). Shared by every as-of read.
    */
  private def pinnedPrunedPostings(spark: SparkSession, path: String,
      distinctTerms: Seq[String], st: IndexState): DataFrame = {
    val raw = spark.read.schema(PostingsSchema)
      .parquet(postingsPath(path, st.gens.postings))
      .filter(col("bucket").isin(distinctTerms.map(bucketIdOf(_, st.nBuckets)): _*))
      .filter(col("term").isin(distinctTerms: _*))
      .filter(col("seq") <= st.seq)
    maskDeleted(spark, path, st, raw)
  }

  /** [[bm25]] AT A PINNED MANIFEST — the epoch-coordinated RANKED read
    * that completes the as-of surface (searchAllAsOf serves raw tf;
    * ranking needs the corpus scalars too): generations, seq ceiling,
    * tombstone horizon AND n_docs/avgdl all resolve from the pinned
    * manifest CONTENT, and per-term df aggregates from the same pinned
    * masked rows — so a coordinator-pinned search tier serves the
    * IDENTICAL BM25 ranking before and after post-pin mutation and
    * (with the epoch root registered) layout maintenance. Same formula,
    * constants, and integer inputs as [[bm25]].
    */
  def bm25AsOf(spark: SparkSession, path: String, terms: Seq[String],
      k: Int, manifest: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25AsOf needs at least one term")
    val st = parseState(manifest, 0)
    val nDocs = st.nDocs.toDouble
    val avgdl = if (st.nDocs == 0) 0.0 else st.sumDl.toDouble / st.nDocs.toDouble
    val tf = pinnedPrunedPostings(spark, path, terms.distinct, st)
      .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"),
        col("dl").cast("double").as("dl"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfT), "term")
      .withColumn("contrib",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
      .groupBy("doc_id").agg(sum("contrib").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Disjunctive (OR) search: documents containing ANY of `terms`,
    * with the matched-term count and total tf — same pruned access
    * path as [[searchAll]], no arity filter.
    */
  def searchAny(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAny needs at least one term")
    prunedPostings(spark, path, terms)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"))
      .select(col("doc_id"), col("n_terms"), col("total_tf"))
  }

  /** Proximity search: documents where `a` and `b` occur within
    * `window` token offsets of each other (either order), with the
    * count of such co-occurrences. Same positional postings as
    * [[phraseSearch]]; the pair join is range-banded — each position
    * joins on its window bucket and the adjacent one, so the predicate
    * is an equi-join + filter, never a per-doc cross product of all
    * positions (a term repeated k times in one doc contributes O(k)
    * banded rows, not O(k²) comparisons).
    */
  def proximitySearch(spark: SparkSession, path: String, a: String,
      b: String, window: Int): DataFrame = {
    require(a != b, "proximitySearch terms must differ")
    require(window >= 1, "window must be >= 1")
    val postings = prunedPostings(spark, path, Seq(a, b))
    def side(term: String, p: String) = postings
      .filter(col("term") === term)
      .select(col("doc_id"), explode(col("positions")).as(p))
    val left = side(a, "pa")
      .withColumn("band", explode(array(
        (col("pa") / window).cast("long"),
        (col("pa") / window).cast("long") + 1,
        (col("pa") / window).cast("long") - 1)))
    val right = side(b, "pb")
      .withColumn("band", (col("pb") / window).cast("long"))
    left.join(right, Seq("doc_id", "band"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .select("doc_id", "pa", "pb").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_pairs"))
  }

  /** Synonym-group search — Lucene's SynonymQuery-inside-BooleanQuery
    * shape served from the index: each group is a disjunction (a term
    * OR its synonyms), a document must match at least one member of
    * EVERY group; total tf sums over all matched members. ONE pruned
    * postings scan covers every expanded term (the groups' union
    * drives the bucket partition filter), the term→group mapping is a
    * literal CASE over query-sized groups (codegen'd, no join), and
    * the gate is a per-doc distinct-group count — searchAll's arity
    * rule lifted from terms to groups. Terms must not repeat across
    * groups (a shared member would satisfy two groups with one
    * occurrence — ambiguous query, rejected loudly).
    */
  def searchSynonyms(spark: SparkSession, path: String,
      groups: Seq[Seq[String]]): DataFrame = {
    require(groups.nonEmpty && groups.forall(_.nonEmpty),
      "searchSynonyms needs non-empty groups")
    val flat = groups.flatten
    require(flat.distinct.size == flat.size,
      "searchSynonyms: a term appears in more than one group")
    val grpOf = groups.zipWithIndex
      .flatMap { case (g, i) => g.map(_ -> i) }
      .foldLeft(lit(-1)) { case (acc, (term, i)) =>
        when(col("term") === term, lit(i)).otherwise(acc) }
    prunedPostings(spark, path, flat)
      .withColumn("grp", grpOf)
      .groupBy("doc_id")
      .agg(countDistinct("grp").as("n_groups"), sum("tf").as("total_tf"))
      .filter(col("n_groups") === groups.size)
      .select(col("doc_id"), col("total_tf"))
  }

  /** Consolidate two index SHARDS into one index at `dstPath` — the
    * shard-merge a sharded corpus build runs (build per ingest shard
    * in parallel, merge once — Lucene's segment merge at whole-index
    * granularity). Each shard contributes its LIVE view (committed
    * seq ceiling + tombstone mask through the standard read path), so
    * pending deletes FOLD during the merge for free; the union
    * re-buckets to the destination layout in ONE bucket-keyed shuffle
    * (shards with different nBuckets merge correctly), df recounts
    * exactly from the merged postings, the doc sidecars union, and
    * everything publishes through the same single-manifest-commit
    * protocol as [[buildIndex]], holding dst's writer intent — a crash
    * leaves no index at dst, a re-run overwrites cleanly.
    * O(|shard postings|), the corpus is never re-tokenized.
    *
    * Doc-id spaces must be DISJOINT (shards of one corpus): validated
    * against the two doc sidecars — a doc present in both shards
    * would double its postings silently, so the merge fails loudly
    * instead. The sidecar join is O(docs), nothing next to the
    * postings pass this call already pays.
    */
  def mergeIndexes(spark: SparkSession, aPath: String, bPath: String,
      dstPath: String, nBuckets: Int = 64): Unit = {
    val stA = readState(fsOf(spark, aPath), aPath)
    val stB = readState(fsOf(spark, bPath), bPath)
    def liveSide(path: String, st: IndexState) = (
      maskDeleted(spark, path, st,
        spark.read.schema(PostingsSchema)
          .parquet(postingsPath(path, st.gens.postings))
          .filter(col("seq") <= st.seq)),
      maskDeleted(spark, path, st,
        spark.read.schema(DocStatsSchema)
          .parquet(docStatsPath(path, st.gens.docs))
          .filter(col("seq") <= st.seq)))
    val (postA, docsA) = liveSide(aPath, stA)
    val (postB, docsB) = liveSide(bPath, stB)
    val overlap = docsA.select("doc_id")
      .join(docsB.select("doc_id"), "doc_id").count()
    require(overlap == 0,
      s"mergeIndexes: $overlap doc id(s) live in BOTH shards — shards " +
        "must partition the corpus")
    MaintenanceLock.rebuilding(spark, dstPath) { fs =>
    // one bucket-keyed shuffle re-buckets the union to the dst layout;
    // seq squashes to 1 (the merged index is a fresh build lineage)
    postA.unionByName(postB)
      .withColumn("bucket", bucketOf(col("term"), nBuckets))
      .withColumn("seq", lit(1L))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(postingsPath(dstPath, 1))
    // doc sidecar union rides with the merged totals as observe
    // metrics; df recounts from the just-written merged postings
    // (column-pruned to `term`, the buildIndex rule) — both jobs are
    // independent of each other and run concurrently
    val obs = org.apache.spark.sql.Observation(
      s"merge_totals_${java.util.UUID.randomUUID}")
    val sideF = inFlight {
      docsA.unionByName(docsB).withColumn("seq", lit(1L))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(sum("dl"), lit(0L)).as("dl"))
        .repartition(StatsFiles)
        .write.mode("overwrite").parquet(docStatsPath(dstPath, 1))
      (obs.get("n").asInstanceOf[Long], obs.get("dl").asInstanceOf[Long])
    }
    spark.read.schema(PostingsSchema).parquet(postingsPath(dstPath, 1))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .repartition(StatsFiles)
      .write.mode("overwrite").parquet(statsPath(dstPath, 1))
    val (n, dl) = await(sideF)
    commitState(fs, dstPath, IndexState(Fmt, nBuckets, seq = 1L,
      nDocs = n, sumDl = dl, Gens(postings = 1, stats = 1, docs = 1)))
    }
  }

  /** Wildcard (prefix) search served ENTIRELY from the index —
    * Lucene's `PrefixQuery` shape re-expressed: the prefix resolves
    * against the TERM DICTIONARY first (the df sidecar — vocabulary-
    * sized, [[StatsFiles]] files, column-pruned to `term`), and only
    * the resolved terms' bucket partitions are then scanned through
    * the standard [[prunedPostings]] path (disjunctive semantics:
    * per-doc matched-term count + total tf, like [[searchAny]]).
    * Neither the corpus nor any unmatched bucket is touched; the
    * resolution pass is O(vocab), which is the floor for a wildcard
    * on a hash-bucketed layout (the hash destroys prefix locality by
    * design — range-bucketing would buy prefix pruning at the cost of
    * hot-spotting skewed vocabularies).
    *
    * The resolved term list is driver-collected and CAPPED at
    * `maxTerms` — failing loudly above it, the
    * maxDeterminizedStates/rewrite-cap rule every production engine
    * applies: an uncapped wildcard expansion is a query-shape error
    * at scale, not a bigger query. The dictionary may still name
    * terms whose every posting is tombstone-masked (df stays stale
    * until compaction, by documented contract) — those terms simply
    * match no postings, so results stay exact under deletes.
    */
  def searchPrefix(spark: SparkSession, path: String, prefix: String,
      maxTerms: Int = 64): DataFrame = {
    require(prefix.nonEmpty, "searchPrefix needs a non-empty prefix")
    val matched = termStats(spark, path)
      .filter(col("term").startsWith(prefix))
      .select("term").orderBy("term")
      .limit(maxTerms + 1)
      .collect().map(_.getString(0)).toSeq
    require(matched.size <= maxTerms,
      s"prefix '$prefix*' expands past the $maxTerms-term cap; narrow it")
    if (matched.isEmpty)
      // empty result with searchAny's exact shape, no postings touched
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_terms",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("total_tf",
            org.apache.spark.sql.types.LongType))))
    else searchAny(spark, path, matched)
  }

  /** The bucket-pruned postings scan for `terms` — the partition filter
    * is on the index's partition column, so pruning happens at planning
    * time (verified via inputFiles in TextIndexSpec). The postings
    * generation is resolved through the manifest ONCE, here — the scan
    * then stays pinned to that immutable-until-swept directory for the
    * query's whole life (snapshot-consistent reads under concurrent
    * compaction). Tombstone masking happens HERE, at posting-row
    * granularity, so every search verb (AND/OR/phrase/proximity/BM25)
    * inherits delete- and update-exactness from the one access path.
    */
  def prunedPostings(spark: SparkSession, path: String,
      terms: Seq[String]): DataFrame = {
    val st = readState(fsOf(spark, path), path) // one manifest read: gens + params
    val distinctTerms = terms.distinct
    maskDeleted(spark, path, st,
      spark.read.schema(PostingsSchema).parquet(postingsPath(path, st.gens.postings))
        .filter(col("bucket").isin(distinctTerms.map(bucketIdOf(_, st.nBuckets)): _*))
        .filter(col("term").isin(distinctTerms: _*))
        // seq CEILING: rows above the committed manifest seq belong to
        // an append that has not (or never will have) committed — the
        // crash-window invisibility half of the append contract
        .filter(col("seq") <= st.seq))
  }

  /** Exact phrase search from the positional postings: documents where
    * `phrase`'s terms appear at consecutive token offsets, with the
    * occurrence count. Reads only the phrase terms' bucket partitions;
    * each term's positions explode normalized to the phrase START
    * offset (pos - i), so an n-term phrase is an (n-1)-fold equi-join
    * on (doc_id, start) — hash joins on doc-keyed rows, candidate-sized
    * inputs, never the corpus. Repeated terms in the phrase work: each
    * slot joins its own normalized copy.
    */
  def phraseSearch(spark: SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "phraseSearch needs at least two terms")
    val postings = prunedPostings(spark, path, phrase)
    val slots = phrase.zipWithIndex.map { case (term, i) =>
      postings.filter(col("term") === term)
        .select(col("doc_id"), explode(col("positions")).as(s"p_$i"))
        .withColumn("start", col(s"p_$i") - i)
        .select("doc_id", "start")
    }
    slots.reduce(_.join(_, Seq("doc_id", "start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
  }

  /** Index-served snippet/highlight selection: for each document
    * matching ALL `terms` (conjunctive, like [[searchAll]]), the best
    * `width`-token window — the one covering the most query-term
    * occurrences, ties to the earliest start. Computed ENTIRELY from
    * the positional postings (the same pruned, tombstone-masked read
    * as every other verb): no document text is scanned; the caller
    * joins `doc_id` back to a forward table only to render the chosen
    * offsets. That inversion is the point at scale — highlighting by
    * re-reading and re-tokenizing every hit document is a corpus-sized
    * text scan, while this is arithmetic on hit-sized posting rows.
    *
    * Window scoring uses the proximity-search banding trick: every
    * matched position is a candidate window START; occurrences land in
    * a window iff `start <= pos < start + width`, so pairing starts
    * with occupants is an equi-join on the width-sized band (a
    * position's window can only reach into its own band and the next),
    * never a per-doc cross product of all positions.
    *
    * Output: (doc_id, snip_start, snip_hits) — snip_start the chosen
    * window's first token offset (0-based, the tokenizer's posexplode
    * coordinates), snip_hits the query-term occurrences it covers.
    */
  def snippets(spark: SparkSession, path: String, terms: Seq[String],
      width: Int): DataFrame = {
    require(terms.nonEmpty, "snippets needs at least one term")
    require(width >= 1, "width must be >= 1")
    val postings = prunedPostings(spark, path, terms)
    // conjunctive gate first: only docs containing every term get a
    // snippet (the searchAll contract), and the position work below
    // runs on the gated, hit-sized rows only
    val matched = postings.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"))
      .filter(col("n_terms") === terms.distinct.size)
      .select("doc_id")
    val pos = postings.join(matched, Seq("doc_id"))
      .select(col("doc_id"), explode(col("positions")).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val starts = pos.select(col("doc_id"), col("pos").as("start"))
      .withColumn("band", (col("start") / width).cast("long"))
    val occupants = pos
      .withColumn("band", explode(array(
        (col("pos") / width).cast("long"),
        (col("pos") / width).cast("long") - 1)))
    val windowed = starts.join(occupants, Seq("doc_id", "band"))
      .filter(col("pos") >= col("start") && col("pos") < col("start") + width)
      .groupBy("doc_id", "start")
      .agg(count(lit(1)).as("n_hits"))
    // best window per doc: most hits, earliest start on ties — a
    // max_by over the (n_hits, -start) order, no window sort. The
    // ordering packs into one decimal (pack_ord; starts are
    // non-negative positions, so Long.MaxValue - start encodes the
    // descending tiebreak), keeping both picks inside a HashAggregate
    // — a struct ordering would demote the aggregate to SortAggregate.
    // The pack embeds start, so it is unique per (doc_id, start) row
    // and both picks land on the same window.
    val bestOrd = graft.functions.VectorExpressions.pack_ord(
      col("n_hits"), lit(Long.MaxValue) - col("start"))
    windowed.groupBy("doc_id")
      .agg(max_by(col("start"), bestOrd).as("snip_start"),
        max_by(col("n_hits"), bestOrd).as("snip_hits"))
      .select(col("doc_id"), col("snip_start"), col("snip_hits"))
  }

  /** Compact the posting files: each `appendDocs` batch adds files to
    * every bucket it touches, so a long-running streaming ingest leaves
    * O(batches) small files per bucket and every search pays their open
    * cost. One shuffle keyed on `bucket` rewrites the live generation
    * into a NEW generation with one file per bucket. With no pending
    * deletes the rewrite is content-identical and sidecars are
    * untouched; with tombstones present ([[deleteDocs]]) the rewrite
    * ALSO physically purges the masked postings (seq-scoped: a
    * re-ingested doc's newer rows survive), recounts per-term df
    * exactly, rewrites the doc-length sidecar to the live rows, and
    * recomputes the manifest corpus totals from it — the merge step of
    * the Lucene deleted-docs contract — publishing all three new
    * generations in one manifest commit.
    *
    * The swap is the manifest commit: the new generation is fully
    * written first, readers keep resolving the old one until the
    * commit, and the old generation survives one more cycle as the
    * in-flight readers' spare before being swept. A crash anywhere
    * leaves the index serving the OLD generation with at worst a
    * leaked directory — never a missing or half-visible bucket.
    * Concurrent APPENDS during a compaction are the one excluded
    * interleaving (their files would land in the generation being
    * superseded): maintenance writers serialize, per the Snapshots
    * conflict-on-commit contract.
    */
  def compactIndex(spark: SparkSession, path: String): Unit =
    MaintenanceLock.withLock(spark, path) {
    val fs = fsOf(spark, path)
    val st = readState(fs, path) // includes the format check
    val gens = st.gens
    val live = spark.read.schema(PostingsSchema).parquet(postingsPath(path, gens.postings))
      .filter(col("seq") <= st.seq) // crashed-append orphans die here too
    val kept = maskDeleted(spark, path, st, live)
    kept.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(postingsPath(path, gens.postings + 1))
    val next =
      if (st.tombs.isEmpty)
        st.copy(gens = gens.copy(postings = gens.postings + 1))
      else {
        // deletes fold in: recount per-term df from the compacted
        // postings (exact reconciliation of the one delete-stale stat)
        // and drop masked rows from the doc-length sidecar — all
        // three generations publish in the ONE manifest commit below,
        // with the corpus totals recounted from the rewritten sidecar
        // (self-healing: any drift the incremental adds/subtracts
        // could ever accumulate dies here). The df refresh and the
        // sidecar rewrite are independent jobs — submitted
        // concurrently ([[inFlight]]); the commit awaits both — and
        // the corpus totals ride the sidecar write as an `observe`
        // metric, not a fourth job re-reading what was just written.
        val dfF = inFlight {
          spark.read.schema(PostingsSchema).parquet(postingsPath(path, gens.postings + 1))
            .groupBy("term").agg(count(lit(1)).as("df"))
            .repartition(StatsFiles)
            .write.mode("overwrite").parquet(statsPath(path, gens.stats + 1))
        }
        val obs = org.apache.spark.sql.Observation(
          s"compact_totals_${java.util.UUID.randomUUID}")
        maskDeleted(spark, path, st,
            spark.read.schema(DocStatsSchema).parquet(docStatsPath(path, gens.docs))
              .filter(col("seq") <= st.seq))
          .observe(obs, count(lit(1)).as("n"),
            coalesce(sum("dl"), lit(0L)).as("dl"))
          .repartition(StatsFiles)
          .write.mode("overwrite").parquet(docStatsPath(path, gens.docs + 1))
        val (n, dl) = (obs.get("n").asInstanceOf[Long],
          obs.get("dl").asInstanceOf[Long])
        await(dfF)
        st.copy(nDocs = n, sumDl = dl, tombs = Tombstones.Empty,
          gens = Gens(gens.postings + 1, gens.stats + 1, gens.docs + 1))
      }
    commitState(fs, path, next)
    // tombstones are folded into the new generations; re-applying them
    // against data they no longer match is a no-op, so a crash between
    // the commit and this sweep costs nothing. Files a live epoch pin
    // LISTS are retained: the pin's as-of read applies them (its
    // delete-file tracking), and against the pinned OLD generation they
    // still carry meaning — only the unpinned files clear.
    if (!st.tombs.isEmpty)
      Tombstones.sweep(fs, path, Tombstones.Empty +: epochPinnedText(spark).map(_.tombs))
    sweepGens(spark, fs, path, PostingsPrefix, keepFloor = gens.postings)
    if (!st.tombs.isEmpty) {
      sweepGens(spark, fs, path, StatsPrefix, keepFloor = gens.stats)
      sweepGens(spark, fs, path, DocStatsPrefix, keepFloor = gens.docs)
    }
    }

  /** Delete crash-leaked artifacts that no manifest references — a
    * maintenance job that died after fully writing its new generation
    * but before the manifest commit leaves a directory readers can
    * never resolve ([[Snapshots.vacuum]]'s orphan rule applied to
    * generations). Swept: generation dirs STRICTLY BELOW the reader
    * spare (live-1), `_ingest_tmp_*` orphans, and the stage files of
    * crashed manifest publishes ([[Commit.isStaleTmp]]). Generations NUMBERED ABOVE the live one
    * are deliberately NOT candidates — they are indistinguishable from
    * an in-flight maintenance writer's about-to-commit output, and
    * deleting one would publish a missing directory when its manifest
    * lands; a crashed higher generation is reclaimed instead by the
    * next successful maintenance op, which overwrites that generation
    * number on its way to the commit. Also swept: `s<seq>-` data
    * files inside the LIVE generations whose seq exceeds the
    * committed manifest seq — a crashed append's half-published
    * batch (already invisible to readers via the seq ceiling;
    * reclaimed eagerly by the next append, or here by age), and
    * tombstone files neither the manifest nor a live pin lists (a
    * crashed delete's published but never committed file).
    * `olderThanMs` additionally
    * age-guards everything swept; tests pass 0. Returns the deleted
    * names.
    */
  def vacuumIndex(spark: SparkSession, path: String,
      olderThanMs: Long = 3600000L): Seq[String] =
    MaintenanceLock.withLock(spark, path) {
    val fs = fsOf(spark, path)
    val st0 = readState(fs, path)
    val gens = st0.gens
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphanFiles =
      Commit.purgeOrphanFiles(fs, new Path(postingsPath(path, gens.postings)),
        st0.seq, olderThanMs) ++
      Commit.purgeOrphanFiles(fs, new Path(docStatsPath(path, gens.docs)),
        st0.seq, olderThanMs)
    val pinnedByPrefix = Seq(PostingsPrefix, StatsPrefix, DocStatsPrefix)
      .map(p => p -> epochPinnedGens(spark, p)).toMap
    def leakedGen(name: String, prefix: String, live: Int) =
      Commit.seqOf(name, prefix)
        // epoch-pinned generations are never orphans: a live pin's
        // as-of read still resolves them (enforced retention)
        .exists(g => g < live - 1 && !pinnedByPrefix(prefix).contains(g))
    val orphans = fs.listStatus(new Path(path)).toSeq.filter { st =>
      val n = st.getPath.getName
      val leaked = leakedGen(n, PostingsPrefix, gens.postings) ||
        leakedGen(n, StatsPrefix, gens.stats) ||
        leakedGen(n, DocStatsPrefix, gens.docs) ||
        Commit.isStaged(n) || Commit.isStaleTmp(n)
      leaked && st.getModificationTime <= cutoff
    }
    orphans.foreach(st => fs.delete(st.getPath, true))
    orphanFiles ++ orphans.map(_.getPath.getName) ++ Tombstones.sweep(fs, path,
      st0.tombs +: epochPinnedText(spark).map(_.tombs), olderThanMs)
    }

  /** One-row observability view of the live manifest — fmt, bucket
    * count, committed seq, corpus totals (with the derived avgdl), the
    * tombstone horizon, and the live artifact generations. Manifest
    * read only: zero Spark jobs, O(1) at any index size — the row an
    * operator dashboards or a planner consults before choosing a
    * compaction cadence.
    */
  def indexStats(spark: SparkSession, path: String): DataFrame = {
    val st = readState(fsOf(spark, path), path)
    import spark.implicits._
    Seq((st.fmt, st.nBuckets, st.seq, st.nDocs, st.sumDl,
      if (st.nDocs == 0) 0.0 else st.sumDl.toDouble / st.nDocs.toDouble,
      st.tombs.n, st.gens.postings, st.gens.stats, st.gens.docs))
      .toDF("fmt", "n_buckets", "seq", "n_docs", "sum_dl", "avgdl",
        "n_tombs", "postings_gen", "stats_gen", "doc_stats_gen")
  }

  /** Per-term document frequencies from the persisted stats table. */
  def termStats(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(StatsSchema).parquet(statsPath(path, readGens(spark, path).stats))

  /** Per-doc token counts from the persisted stats table (raw —
    * includes tombstone-masked rows until the next reconciling
    * compaction; mask with the same seq rule via [[prunedPostings]]'s
    * helper if live-only rows are needed).
    */
  def docStats(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(DocStatsSchema).parquet(docStatsPath(path, readGens(spark, path).docs))

  /** Mark documents as DELETED (GDPR-erasure / retraction verb for the
    * index): the ids are recorded as [[Tombstones]] stamped with the
    * CURRENT manifest seq, and every read path masks postings with
    * `seq <= del_seq` — exact immediately for all tf-based results
    * (searchAll/searchAny/phrase/proximity) and, via the manifest
    * corpus totals this call commits, for BM25's n_docs/avgdl;
    * per-term df keeps counting tombstoned docs until the next
    * [[compactIndex]] physically purges their postings and recounts df
    * exactly — Lucene's deleted-docs-bitmap + merge contract,
    * re-expressed.
    *
    * RE-ADDING a deleted doc needs NO compaction: [[appendDocs]] bumps
    * the ingest seq past the tombstone, so the re-ingested postings
    * are visible the moment they publish — the update protocol is
    * retract → re-ingest, O(changes), as `q_text_index_cdc` runs
    * end-to-end.
    *
    * Cost: O(ids) for the tombstone write plus ONE column-pruned scan
    * of the doc-length sidecar that RECOUNTS the live totals under the
    * full tombstone horizon (new tombstones included), derived from
    * (sidecar, committed horizon + this batch) alone — which lets it
    * run CONCURRENTLY with the tombstone write (the horizon is built
    * in memory, not re-read from disk). The new tombstone file masks
    * nothing until the manifest commit lists it next to the
    * recounted totals, so searches and totals flip together, and a
    * crash anywhere before that commit leaves the old state whole.
    */
  def deleteDocs(docIds: DataFrame, idCol: String, path: String): Unit = {
    val spark = docIds.sparkSession
    MaintenanceLock.withLock(spark, path) {
    val fs = fsOf(spark, path)
    val st = readState(fs, path)
    val ids = docIds.select(col(idCol).cast("long").as("del_id")).distinct()
    // the recount's mask is the POST-delete horizon built in memory:
    // the committed tombstones unioned with this batch's ids —
    // bit-identical to re-reading them after the write, which is what
    // lets the recount job run alongside the tombstone write
    val newT = ids.withColumn("del_seq", lit(st.seq))
    val horizon = Tombstones.horizon(spark, path, st.tombs.files,
        org.apache.spark.sql.types.LongType)
      .fold(newT)(_.unionByName(newT))
      .groupBy("del_id").agg(max("del_seq").as("del_seq"))
    val (tombs, (n, dl)) = Tombstones.record(fs, path, ids, st.seq, st.tombs) {
      docTotals(Tombstones.mask(spark,
        spark.read.schema(DocStatsSchema).parquet(docStatsPath(path, st.gens.docs))
          .filter(col("seq") <= st.seq),
        "doc_id", "seq", horizon, st.tombs.n))
    }
    commitState(fs, path, st.copy(nDocs = n, sumDl = dl, tombs = tombs))
    }
  }

  /** Mask tombstoned rows out of a (doc_id, seq)-carrying frame under
    * the deletes state `st` lists ([[Tombstones.masked]]): a row
    * survives unless some tombstone for its doc is AT OR ABOVE its
    * ingest seq. Rows re-ingested after the delete carry a higher seq
    * and pass — the whole point of seq-scoping. Identity when no
    * deletes are committed.
    */
  private def maskDeleted(spark: SparkSession, path: String,
      st: IndexState, df: DataFrame): DataFrame =
    Tombstones.masked(spark, path, st.tombs, df, "doc_id", "seq")

  /** BM25 top-k served ENTIRELY from the index — the corpus is never
    * touched at query time, and neither is any doc-length table or
    * sidecar: the per-query input is exactly the terms' pruned bucket
    * partitions (whose rows carry the denormalized `dl`), and the
    * per-term df aggregates from those SAME masked rows — a live doc
    * contributes exactly one surviving posting row per term (tombstone
    * masking removes every superseded seq), so the count is the true
    * live df with NO recount debt after deletes or retract→re-ingest
    * updates (the df SIDECAR, by documented contract, keeps counting
    * tombstoned docs until compaction — it serves corpus-wide jobs
    * like TF-IDF, not this query-term path). The corpus scalars
    * (n_docs, avgdl) come off the MANIFEST — zero Spark jobs, exact
    * under append and delete because every maintenance commit
    * maintains them. Same formula and constants as `q_text_bm25`
    * (k1=1.2, b=0.75), computed from identical integers — avgdl is
    * the same sum/count double division Spark's `avg` performs — so
    * scores match the corpus-side computation exactly, including
    * under mutation (q_hybrid_cdc's hash gate covers exactly that).
    */
  def bm25(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame = {
    val st = readState(fsOf(spark, path), path)
    val nDocs = st.nDocs.toDouble
    val avgdl = if (st.nDocs == 0) 0.0 else st.sumDl.toDouble / st.nDocs.toDouble
    val tf = prunedPostings(spark, path, terms)
      .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"),
        col("dl").cast("double").as("dl"))
    // second consumer of the same pruned scan — column pruning hands
    // the df pass just the term/mask columns of the terms' buckets, so
    // exactness costs one narrow re-read of pruned partitions, not a
    // sidecar whose counts go stale under tombstones
    val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(dfT), "term")
      .withColumn("contrib",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1) *
          col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
      .groupBy("doc_id").agg(sum("contrib").as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Graded-relevance IDEAL ranking for retrieval evaluation:
    * relevance(doc) = total tf of `terms` in doc — the same
    * pruned-postings integers [[bm25]] consumes, so the eval's ground
    * truth is index-served too (one pruned scan, corpus never read).
    * Top-k by (rel desc, doc_id asc) through the bounded heap — no
    * per-query corpus-sized sort at any scale. Returns
    * (rank, doc_id, rel).
    */
  def relevanceTopK(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame =
    SimilaritySearch.heapTopK(
        prunedPostings(spark, path, terms)
          .groupBy("doc_id").agg(sum("tf").cast("double").as("rel"))
          .select(lit(1L).as("probe_id"), col("doc_id").as("neighbor_id"),
            col("rel")),
        "rel", k)
      .select(col("rank"), col("neighbor_id").as("doc_id"), col("rel"))

  /** Driver-side twin of [[bucketOf]] for computing the partition
    * filter literals: evaluates the same XxHash64 expression Catalyst
    * runs in the build job, so build and probe can never disagree.
    */
  private def bucketIdOf(term: String, nBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val h = XxHash64(Seq(Literal(UTF8String.fromString(term), StringType)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
    val m = h % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }
}
