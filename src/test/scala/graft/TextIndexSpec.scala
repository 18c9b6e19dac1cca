package graft

import graft.operators.{Dedup, IvfIndex, MaintenanceLock, TextIndex}
import org.apache.spark.sql.functions._

/** Inverted-index contract: search equals a direct corpus computation,
  * and — the point of the operator — touches only the query terms'
  * bucket partitions.
  */
class TextIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val idx: String = {
    val out = Tables.scratch("textindex_docs")
    TextIndex.buildIndex(
      Tables(spark, sf, "documents"), "doc_id", "text", out, nBuckets = 64)
    out
  }

  private def directTf(terms: Seq[String]) =
    Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))

  test("conjunctive search equals the direct corpus computation") {
    val terms = Seq("hash", "merge", "vector")
    val expected = directTf(terms)
      .groupBy("doc_id")
      .agg(countDistinct("w").as("nt"), sum("tf").as("total_tf"))
      .filter(col("nt") === 3)
      .select("doc_id", "total_tf")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val got = TextIndex.searchAll(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.nonEmpty, "fixture should contain docs matching all three terms")
    assert(got === expected)
  }

  test("a doc matching only SOME terms is excluded (AND semantics)") {
    val terms = Seq("hash", "merge", "vector")
    val partial = directTf(terms)
      .groupBy("doc_id").agg(countDistinct("w").as("nt"))
      .filter(col("nt") === 2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(partial.nonEmpty, "fixture should have partial matches to exclude")
    val hits = TextIndex.searchAll(spark, idx, terms)
      .collect().map(_.getLong(0)).toSet
    assert(partial.intersect(hits).isEmpty)
  }

  test("search reads ONLY the query terms' bucket partitions") {
    val pdir = TextIndex.postingsDir(spark, idx)
    val allBuckets = spark.read.parquet(pdir).select("bucket")
      .distinct().count()
    assert(allBuckets > 10, s"expected many populated buckets, got $allBuckets")
    // numFiles metric after execution = files inside the selected
    // partitions only (planning-time pruning of the partition filter).
    // Expected ceiling: exactly the on-disk files of the <=3 bucket
    // dirs the query terms hash to.
    val pruned = TextIndex.prunedPostings(spark, idx, Seq("hash", "merge", "vector"))
    val hitBuckets = pruned.select("bucket").distinct()
      .collect().map(_.getInt(0))
    assert(hitBuckets.nonEmpty && hitBuckets.length <= 3)
    val filesInHitBuckets = hitBuckets.map { b =>
      new java.io.File(s"$pdir/bucket=$b")
        .listFiles().count(_.getName.endsWith(".parquet")).toLong
    }.sum
    val prunedN = graft.operators.DataSkipping.scannedFiles(pruned)
    val totalN = graft.operators.DataSkipping.scannedFiles(
      spark.read.parquet(pdir))
    assert(prunedN > 0 && prunedN <= filesInHitBuckets,
      s"scan read $prunedN files; the ${hitBuckets.length} hit buckets hold $filesInHitBuckets")
    assert(prunedN < totalN,
      s"no pruning observed: $prunedN of $totalN files")
  }

  test("incremental append equals a from-scratch full build") {
    val docs = Tables(spark, sf, "documents")
    val out = Tables.scratch("textindex_incr")
    TextIndex.buildIndex(docs.filter(col("doc_id") < 250), "doc_id", "text", out)
    TextIndex.appendDocs(docs.filter(col("doc_id") >= 250), "doc_id", "text", out)
    val terms = Seq("hash", "merge", "vector")
    val incr = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val full = TextIndex.searchAll(spark, idx, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(incr.nonEmpty && incr === full)
    val sIncr = TextIndex.termStats(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val sFull = TextIndex.termStats(spark, idx)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sIncr === sFull)
    // BM25 is served from postings + BOTH sidecars; equality here means
    // doc lengths and term dfs survived the incremental path too
    val bIncr = TextIndex.bm25(spark, out, terms, k = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    val bFull = TextIndex.bm25(spark, idx, terms, k = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    assert(bIncr.nonEmpty && bIncr === bFull)
  }

  test("phrase search: consecutive positions only, repeated terms, incremental parity") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta"), // "alpha beta" twice
      (2L, "beta alpha beta gamma"),       // once (at offset 1)
      (3L, "alpha gamma beta alpha"),      // never adjacent
      (4L, "echo echo echo")               // "echo echo" twice (overlapping)
    ).toDF("doc_id", "text")
    val out = Tables.scratch("textindex_phrase")
    TextIndex.buildIndex(docs, "doc_id", "text", out, nBuckets = 8)
    val ab = TextIndex.phraseSearch(spark, out, Seq("alpha", "beta"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ab === Map(1L -> 2L, 2L -> 1L))
    val ee = TextIndex.phraseSearch(spark, out, Seq("echo", "echo"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ee === Map(4L -> 2L))
    assert(TextIndex.phraseSearch(spark, out, Seq("gamma", "echo")).count() === 0)

    // positions survive the incremental path identically
    val incr = Tables.scratch("textindex_phrase_incr")
    TextIndex.buildIndex(docs.filter(col("doc_id") <= 2), "doc_id", "text", incr, nBuckets = 8)
    // appendDocs reads the bucket count from the index's persisted
    // meta — a caller cannot split one term across two layouts
    TextIndex.appendDocs(docs.filter(col("doc_id") > 2), "doc_id", "text", incr)
    val abIncr = TextIndex.phraseSearch(spark, incr, Seq("alpha", "beta"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(abIncr === ab)
  }

  test("compactIndex: one file per bucket, content-identical results") {
    val docs = Tables(spark, sf, "documents")
    val out = Tables.scratch("textindex_compact")
    TextIndex.buildIndex(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", out)
    TextIndex.appendDocs(docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", out)
    TextIndex.appendDocs(docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", out)
    def bucketFiles() = new java.io.File(TextIndex.postingsDir(spark, out))
      .listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(bucketFiles().exists(_ > 1),
      "three ingest batches should leave multi-file buckets to compact")
    val terms = Seq("hash", "merge", "vector")
    val before = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val phraseBefore = TextIndex.phraseSearch(spark, out, Seq("table", "hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // a reader that resolved its postings generation BEFORE the
    // compaction keeps working afterwards: the superseded generation
    // survives one cycle as the in-flight readers' spare
    val pinned = TextIndex.searchAll(spark, out, terms)
    TextIndex.compactIndex(spark, out)
    val files = bucketFiles()
    assert(files.nonEmpty && files.forall(_ == 1),
      s"every bucket should hold exactly one file after compaction: ${files.toSeq}")
    val after = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val phraseAfter = TextIndex.phraseSearch(spark, out, Seq("table", "hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(after === before && phraseAfter === phraseBefore)
    val pinnedRows = pinned.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pinnedRows === before,
      "pre-compaction reader must still resolve the old generation")
  }

  test("maintenance is manifest-gated: uncommitted generations are invisible") {
    val docs = Tables(spark, sf, "documents")
    val out = Tables.scratch("textindex_atomic")
    TextIndex.buildIndex(docs.filter(col("doc_id") < 300), "doc_id", "text", out)
    val terms = Seq("hash", "merge", "vector")
    val s1 = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(s1.nonEmpty)
    // simulate a compaction/stats refresh that crashed AFTER fully
    // writing its new generation dirs but BEFORE the manifest commit:
    // wrong-content dirs at higher generation numbers
    spark.read.parquet(TextIndex.postingsDir(spark, out))
      .filter(col("doc_id") < 10)
      .write.partitionBy("bucket").parquet(s"$out/_postings_g99")
    TextIndex.termStats(spark, out).withColumn("df", col("df") * 1000)
      .write.parquet(s"$out/_term_stats_g99")
    // readers resolve through the manifest, never by directory listing
    // — the half-committed generations change NOTHING
    val s2 = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(s2 === s1, "uncommitted generation leaked into a read")
    val df1 = TextIndex.termStats(spark, out)
      .filter(col("term") === "hash").collect().map(_.getLong(1)).toSeq
    // a committed maintenance op still works with the orphans present
    TextIndex.compactIndex(spark, out)
    val s3 = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(s3 === s1)
    val df2 = TextIndex.termStats(spark, out)
      .filter(col("term") === "hash").collect().map(_.getLong(1)).toSeq
    assert(df2 === df1)
  }

  test("deleteDocs: tombstoned docs vanish from every search; compaction reconciles BM25") {
    val docs = Tables(spark, sf, "documents")
    val out = Tables.scratch("textindex_delete")
    TextIndex.buildIndex(docs, "doc_id", "text", out)
    val terms = Seq("hash", "merge", "vector")
    val before = TextIndex.searchAll(spark, out, terms)
      .collect().map(_.getLong(0)).toSet
    assert(before.exists(_ % 7 == 0), "fixture should have hits to delete")
    TextIndex.deleteDocs(docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
      "doc_id", out)
    // exact immediately for every tf-based search
    val after = TextIndex.searchAll(spark, out, terms)
      .collect().map(_.getLong(0)).toSet
    assert(after === before.filterNot(_ % 7 == 0))
    assert(TextIndex.searchAny(spark, out, terms)
      .collect().map(_.getLong(0)).forall(_ % 7 != 0))
    assert(TextIndex.phraseSearch(spark, out, Seq("table", "hash"))
      .collect().map(_.getLong(0)).forall(_ % 7 != 0))
    assert(TextIndex.proximitySearch(spark, out, "hash", "table", 3)
      .collect().map(_.getLong(0)).forall(_ % 7 != 0))
    // compaction folds the tombstones in: postings physically gone,
    // df recounted — BM25 must now equal a FRESH index built on the
    // live docs only, score for score
    TextIndex.compactIndex(spark, out)
    assert(!new java.io.File(s"$out/_tombstones").exists())
    assert(spark.read.parquet(TextIndex.postingsDir(spark, out))
      .filter(col("doc_id") % 7 === 0).count() === 0)
    val fresh = Tables.scratch("textindex_delete_fresh")
    TextIndex.buildIndex(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", fresh)
    val gotBm = TextIndex.bm25(spark, out, terms, k = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    val freshBm = TextIndex.bm25(spark, fresh, terms, k = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    assert(gotBm.nonEmpty && gotBm === freshBm)
    // term stats reconciled exactly too
    val gotDf = TextIndex.termStats(spark, out)
      .filter(col("term").isin(terms: _*))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val freshDf = TextIndex.termStats(spark, fresh)
      .filter(col("term").isin(terms: _*))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotDf === freshDf)
  }

  test("vacuumIndex sweeps only BELOW the reader spare; higher gens are writer-protected") {
    val docs = Tables(spark, sf, "documents")
    val out = Tables.scratch("textindex_vacuum")
    TextIndex.buildIndex(docs.filter(col("doc_id") < 200), "doc_id", "text", out)
    TextIndex.appendDocs(docs.filter(col("doc_id") >= 200 && col("doc_id") < 300),
      "doc_id", "text", out) // stats gen 2 live, gen 1 = spare
    val terms = Seq("hash", "merge", "vector")
    val s1 = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // leak zoo: generations NEWER than live (indistinguishable from an
    // in-flight maintenance writer's about-to-commit output — must
    // SURVIVE), one below the spare, an ingest tmp, a tmp manifest
    spark.read.parquet(TextIndex.postingsDir(spark, out)).limit(5)
      .write.partitionBy("bucket").parquet(s"$out/_postings_g7")
    TextIndex.termStats(spark, out).limit(5)
      .write.parquet(s"$out/_term_stats_g9")
    TextIndex.termStats(spark, out).limit(5)
      .write.parquet(s"$out/_term_stats_g0")
    TextIndex.termStats(spark, out).limit(1)
      .write.parquet(s"$out/_ingest_tmp_crashed")
    new java.io.File(s"$out/.tmp_manifest_99").createNewFile()
    val deleted = TextIndex.vacuumIndex(spark, out, olderThanMs = 0)
    assert(deleted.toSet === Set("_term_stats_g0", "_ingest_tmp_crashed",
      ".tmp_manifest_99"), s"vacuumed: $deleted")
    // the higher-numbered dirs were NOT treated as leaked — deleting
    // them could publish a missing directory under a slow writer whose
    // manifest commit is still in flight
    assert(new java.io.File(s"$out/_postings_g7").exists(), "writer-protected gen swept")
    assert(new java.io.File(s"$out/_term_stats_g9").exists(), "writer-protected gen swept")
    // live + spare generations untouched, search identical
    assert(new java.io.File(s"$out/_term_stats_g1").exists(), "spare swept")
    assert(new java.io.File(s"$out/_term_stats_g2").exists(), "live swept")
    val s2 = TextIndex.searchAll(spark, out, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(s2 === s1)
    // the age guard: fresh orphans survive a default-window vacuum
    TextIndex.termStats(spark, out).limit(1)
      .write.parquet(s"$out/_term_stats_g0")
    assert(TextIndex.vacuumIndex(spark, out).isEmpty)
  }

  test("re-delivered ingest batch is exactly-once under the retract guard (upsert composition)") {
    // foreachBatch is at-least-once: a batch whose appendDocs committed
    // but whose streaming offset did not will be DELIVERED AGAIN on
    // restart. The retract-then-append composition (deleteDocs on the
    // batch ids, then appendDocs) makes re-delivery an upsert — the
    // tombstone masks the first copy, the re-append lands above the
    // horizon, and exactly one live copy survives any number of
    // deliveries. A naked re-append, by contrast, doubles every tf —
    // the hazard the guard removes (both arms measured here).
    val batch = Seq((1L, "hash merge hash"), (2L, "hash vector")).toDF("doc_id", "text")
    val out = Tables.scratch("textindex_redeliver")
    def ingestGuarded(): Unit = {
      TextIndex.deleteDocs(batch.select("doc_id"), "doc_id", out)
      TextIndex.appendDocs(batch, "doc_id", "text", out)
    }
    TextIndex.appendDocs(batch, "doc_id", "text", out) // first delivery
    def tf(): Map[Long, Long] = TextIndex.searchAll(spark, out, Seq("hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val once = tf()
    assert(once === Map(1L -> 2L, 2L -> 1L))
    ingestGuarded() // re-delivery 1
    ingestGuarded() // re-delivery 2
    assert(tf() === once, "guarded re-delivery changed the live tf")
    // manifest totals also exactly-once (BM25's n_docs/sum_dl inputs)
    assert(TextIndex.corpusTotals(spark, out)._1 === 2L)
    // the naked re-append CORRUPTS — duplicate posting rows break the
    // conjunctive matched-terms invariant (searchAll counts term rows
    // per doc, so a doubled doc no longer matches n_terms exactly and
    // vanishes). Measured here to document why the guard is
    // load-bearing for at-least-once delivery.
    TextIndex.appendDocs(batch, "doc_id", "text", out)
    assert(tf() !== once, "naked re-delivery silently looked exactly-once")
  }

  test("seq-scoped tombstones: delete → re-ingest is visible with NO compaction") {
    val docs = Seq(
      (1L, "hash merge"), (2L, "hash vector"), (3L, "merge vector hash")
    ).toDF("doc_id", "text")
    val out = Tables.scratch("textindex_seqtomb")
    TextIndex.buildIndex(docs, "doc_id", "text", out, nBuckets = 8)
    // UPDATE doc 2: retract, then re-ingest the new text — the whole
    // protocol; no compactIndex anywhere before the final fold
    TextIndex.deleteDocs(Seq(2L).toDF("doc_id"), "doc_id", out)
    assert(TextIndex.searchAll(spark, out, Seq("hash"))
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    TextIndex.appendDocs(Seq((2L, "hash hash merge")).toDF("doc_id", "text"),
      "doc_id", "text", out)
    // visible immediately with the NEW tf: the re-ingested postings
    // carry a seq above the tombstone's and pass the mask
    val hits = TextIndex.searchAll(spark, out, Seq("hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(new java.io.File(s"$out/_tombstones").exists(),
      "protocol must not have needed a reconciling compaction")
    // positional queries see only the new text's offsets
    val ph = TextIndex.phraseSearch(spark, out, Seq("hash", "merge"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ph === Map(1L -> 1L, 2L -> 1L))
    // a SECOND delete tombstones at the bumped seq — masks the
    // re-ingested rows too
    TextIndex.deleteDocs(Seq(2L).toDF("doc_id"), "doc_id", out)
    assert(TextIndex.searchAll(spark, out, Seq("hash"))
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // compaction stays a cadence op: folding now purges doc 2 fully,
    // and BM25 equals a fresh index over the live docs — manifest
    // corpus totals and recounted df both exact
    TextIndex.compactIndex(spark, out)
    assert(spark.read.parquet(TextIndex.postingsDir(spark, out))
      .filter(col("doc_id") === 2L).count() === 0)
    val fresh = Tables.scratch("textindex_seqtomb_fresh")
    TextIndex.buildIndex(docs.filter(col("doc_id") =!= 2L),
      "doc_id", "text", fresh, nBuckets = 8)
    val gotBm = TextIndex.bm25(spark, out, Seq("hash"), k = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    val freshBm = TextIndex.bm25(spark, fresh, Seq("hash"), k = 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e6)))
    assert(gotBm.nonEmpty && gotBm === freshBm)
  }

  test("appendDocs bootstraps only into virgin ground; manifest-less layouts refuse") {
    val out = Tables.scratch("textindex_bootstrap_guard")
    // unrecognized layout: data present, no manifest — a legacy index
    // or one whose manifest was lost. Silent rebuild = data loss.
    Seq((1L, "x")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$out/_postings_g1")
    val ex = intercept[IllegalArgumentException] {
      TextIndex.appendDocs(Seq((2L, "y")).toDF("doc_id", "text"),
        "doc_id", "text", out)
    }
    assert(ex.getMessage.contains("refusing to bootstrap"))
    assert(new java.io.File(s"$out/_postings_g1").exists(),
      "the unrecognized layout must be left untouched")
    // an absent dir still bootstraps the streaming first batch
    val virgin = Tables.scratch("textindex_bootstrap_virgin")
    TextIndex.appendDocs(Seq((1L, "hash merge")).toDF("doc_id", "text"),
      "doc_id", "text", virgin)
    assert(TextIndex.searchAll(spark, virgin, Seq("hash")).count() === 1)
  }

  test("append's stats refresh reads the sidecar, never the postings") {
    val docs = Tables(spark, sf, "documents")
    val out = Tables.scratch("textindex_statsvol")
    TextIndex.buildIndex(docs.filter(col("doc_id") < 300), "doc_id", "text", out)
    // the merged-stats plan for a new batch: its ONLY file inputs must
    // be the vocabulary-sized _term_stats sidecar plus the BATCH's own
    // tmp-dir postings (exactly what appendDocs feeds it) — an
    // O(batch + vocab) refresh, proven on the plan itself: the live
    // postings generation, corpus-order volume, appears nowhere
    val tmp = Tables.scratch("textindex_statsvol_batch")
    Seq((9001L, "hash merge vector hash")).toDF("doc_id", "text")
      .select(col("doc_id"),
        posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .write.parquet(tmp)
    val plan = TextIndex.mergedStats(spark, out, statsGen = 1,
      spark.read.parquet(tmp))
    val files = plan.inputFiles
    assert(files.nonEmpty)
    val allowed = (f: String) =>
      f.contains("_term_stats_g") || f.contains("textindex_statsvol_batch")
    assert(files.forall(allowed),
      s"stats refresh read outside sidecar+batch: ${files.filterNot(allowed).take(3).mkString(", ")}")
    assert(!files.exists(_.contains("_postings_g")),
      "stats refresh touched the live postings generation")
    // and the end-to-end append still yields exact stats (associative
    // df merge == from-scratch recount over the union corpus)
    TextIndex.appendDocs(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400),
      "doc_id", "text", out)
    val merged = TextIndex.termStats(spark, out)
      .filter(col("term").isin("hash", "merge", "vector"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val direct = Tables(spark, sf, "documents")
      .filter(col("doc_id") < 400)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
      .filter(col("w").isin("hash", "merge", "vector"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .groupBy("w").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged === direct)
  }

  test("bm25 reads pruned postings ONLY — no doc-stats or df-sidecar file in the plan") {
    // fmt 4 denormalizes dl onto posting rows and keeps n_docs/sum_dl
    // in the manifest; df aggregates from the same masked pruned rows
    // (the sidecar's counts go stale under tombstones — documented
    // contract), so a query's scan set is exactly the terms' posting
    // partitions: no doc-length sidecar, no term-stats sidecar
    val files = TextIndex.bm25(spark, idx, Seq("hash", "merge", "vector"), k = 10)
      .inputFiles
    assert(files.nonEmpty)
    assert(!files.exists(_.contains("_doc_stats")),
      "bm25 still scans the doc-length sidecar")
    assert(!files.exists(_.contains("_term_stats")),
      "bm25 still scans the df sidecar (stale under tombstones)")
    assert(files.forall(_.contains("_postings_g")),
      s"bm25 read outside the postings: ${files.filterNot(
        _.contains("_postings_g")).take(3).mkString(", ")}")
  }

  test("absent term returns empty; stats df matches direct doc counts") {
    assert(TextIndex.searchAll(spark, idx,
      Seq("zzz_not_a_token_zzz")).count() === 0)
    val stats = TextIndex.termStats(spark, idx)
      .filter(col("term").isin("hash", "merge"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val direct = directTf(Seq("hash", "merge"))
      .groupBy("w").agg(count(lit(1)).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(stats === direct)
  }

  test("crashed append: invisible before commit, re-run leaves NO duplicate postings") {
    val out = Tables.scratch("textindex_crash_append")
    TextIndex.buildIndex(Seq((1L, "hash merge")).toDF("doc_id", "text"),
      "doc_id", "text", out, nBuckets = 8)
    // simulate an append of doc 2 that crashed AFTER renaming its
    // posting files into the live generation but BEFORE the manifest
    // commit: same tokenize, same seq stamp, same s<seq>- publish
    // names — only the commit is missing
    val batch = Seq((2L, "hash vector")).toDF("doc_id", "text")
    val tmp = Tables.scratch("textindex_crash_tmp")
    TextIndex.tokenizePostings(batch, "doc_id", "text", nBuckets = 8, seq = 2L)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val genDir = new org.apache.hadoop.fs.Path(TextIndex.postingsDir(spark, out))
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.startsWith("bucket=")).foreach { d =>
        val dst = new org.apache.hadoop.fs.Path(genDir, d.getPath.getName)
        if (!fs.exists(dst)) fs.mkdirs(dst)
        fs.listStatus(d.getPath).foreach(f =>
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dst,
            s"s2-${f.getPath.getName}")))
      }
    // seq CEILING: the half-published batch (seq 2 > manifest seq 1)
    // is invisible to every search verb
    assert(TextIndex.searchAll(spark, out, Seq("vector")).count() === 0,
      "crashed batch leaked into search before its commit")
    assert(TextIndex.searchAll(spark, out, Seq("hash"))
      .collect().map(_.getLong(0)).toSet === Set(1L))
    // the RE-RUN publishes the batch for real; without the orphan
    // purge both copies would commit at seq 2 and tf would double
    TextIndex.appendDocs(batch, "doc_id", "text", out)
    val hits = TextIndex.searchAll(spark, out, Seq("hash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits === Map(1L -> 1L, 2L -> 1L),
      s"re-run after crash duplicated postings: $hits")
    val dfStats = TextIndex.termStats(spark, out)
      .filter(col("term") === "vector").collect().map(_.getLong(1))
    assert(dfStats.toSeq === Seq(1L), "df counted the crashed batch's rows")
  }

  test("tombstone horizon past the broadcast ceiling masks via a shuffled anti-join, still exact") {
    val out = Tables.scratch("textindex_tomb_guard")
    TextIndex.buildIndex(
      (1L to 8L).map(i => (i, s"hash term$i")).toDF("doc_id", "text"),
      "doc_id", "text", out, nBuckets = 8)
    spark.conf.set("graft.textindex.tombBroadcastMax", "2")
    try {
      TextIndex.deleteDocs((3L to 6L).toDF("doc_id"), "doc_id", out)
      val q = TextIndex.searchAll(spark, out, Seq("hash"))
      assert(q.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 7L, 8L))
      // the mask's LeftAnti join must NOT be broadcast once the
      // manifest's n_tombs exceeds the ceiling
      q.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      import org.apache.spark.sql.catalyst.plans.LeftAnti
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case other => (other +: other.children.flatMap(allNodes)) ++
          other.subqueries.flatMap(allNodes)
      }
      val antiBroadcasts = allNodes(q.queryExecution.executedPlan).collect {
        case b: BroadcastHashJoinExec if b.joinType == LeftAnti => b
      }
      assert(antiBroadcasts.isEmpty,
        "tombstone mask still broadcasts past the ceiling")
    } finally spark.conf.unset("graft.textindex.tombBroadcastMax")
    // and back under the ceiling the broadcast path returns (cheap
    // sanity that the switch reads the manifest count, not the conf
    // default): 4 tombstone rows > default? no — default is 1M, so
    // the same search now broadcasts again
    val again = TextIndex.searchAll(spark, out, Seq("hash"))
    assert(again.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 7L, 8L))
  }

  test("snippets: most-hits window wins, ties to earliest start, conjunctive gate, index-only input") {
    val out = Tables.scratch("textindex_snip")
    // doc 1: best 4-token window is [6,10) covering three hits (pos
    //   6,7,9); the early window at 0 covers only two (pos 0, 2)
    // doc 2: two hits in one window at 0 — but missing 'beta', so the
    //   conjunctive gate must drop it entirely
    // doc 3: all three terms far apart — every window holds exactly
    //   one hit, so the tie must resolve to the EARLIEST start (pos 0)
    val docs = Seq(
      (1L, "alpha x beta x x x alpha beta x alpha"),
      (2L, "alpha gamma alpha x x x x x x x"),
      (3L, "alpha x x x x beta x x x x gamma")
    ).toDF("doc_id", "text")
    TextIndex.buildIndex(docs, "doc_id", "text", out, nBuckets = 8)
    val got = TextIndex.snippets(spark, out, Seq("alpha", "beta"), width = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 6L, 3L), (3L, 0L, 1L)))
    // gamma joins the query: doc 3 now gates in with all three terms,
    // doc 1 gates OUT (no gamma)
    val got3 = TextIndex.snippets(spark, out, Seq("alpha", "beta", "gamma"), width = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got3 === Seq((3L, 0L, 1L)))
    // the whole computation is index-served: no input file outside the
    // index directory (the doc text is never read)
    val files = TextIndex.snippets(spark, out, Seq("alpha", "beta"), width = 4).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("textindex_snip")),
      s"snippet read outside the index: ${files.filterNot(_.contains("textindex_snip")).take(3).mkString(", ")}")
  }

  test("searchPrefix: dictionary-resolved wildcard equals searchAny; cap and empty cases") {
    val out = Tables.scratch("textindex_prefix")
    val docs = Seq(
      (1L, "merge merged merger alpha"),
      (2L, "merge alpha beta"),
      (3L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    TextIndex.buildIndex(docs, "doc_id", "text", out, nBuckets = 8)
    val got = TextIndex.searchPrefix(spark, out, "merge")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1 matches 3 dictionary terms (merge, merged, merger), doc 2
    // one; doc 3 none
    assert(got === Seq((1L, 3L, 3L), (2L, 1L, 1L)))
    // equals searchAny over the resolved term set
    val any = TextIndex.searchAny(spark, out, Seq("merge", "merged", "merger"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === any)
    // no dictionary match → empty frame with the searchAny shape
    val none = TextIndex.searchPrefix(spark, out, "zzz")
    assert(none.columns.toSeq === Seq("doc_id", "n_terms", "total_tf"))
    assert(none.count() === 0L)
    // capped expansion fails loudly, never silently truncates
    intercept[IllegalArgumentException] {
      TextIndex.searchPrefix(spark, out, "merge", maxTerms = 2)
    }
    // deletes stay exact: tombstone doc 1, its postings mask out of the
    // prefix search even though the dictionary still lists its terms
    TextIndex.deleteDocs(Seq(1L).toDF("doc_id"), "doc_id", out)
    val afterDel = TextIndex.searchPrefix(spark, out, "merge")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(afterDel === Seq((2L, 1L, 1L)))
  }

  test("mergeIndexes: cross-bucket-count shard merge equals a full build; deletes fold; overlap rejected") {
    val docs = Tables(spark, sf, "documents")
    val a = Tables.scratch("textindex_merge_a")
    val b = Tables.scratch("textindex_merge_b")
    val dst = Tables.scratch("textindex_merge_dst")
    TextIndex.buildIndex(docs.filter(col("doc_id") < 100),
      "doc_id", "text", a, nBuckets = 16)
    TextIndex.buildIndex(docs.filter(col("doc_id") >= 100),
      "doc_id", "text", b, nBuckets = 64)
    // a pending delete in shard A must FOLD during the merge
    TextIndex.deleteDocs(Seq(42L).toDF("doc_id"), "doc_id", a)
    TextIndex.mergeIndexes(spark, a, b, dst)
    val full = Tables.scratch("textindex_merge_full")
    TextIndex.buildIndex(docs.filter(col("doc_id") =!= 42L),
      "doc_id", "text", full, nBuckets = 64)
    val terms = Seq("hash", "merge", "vector")
    def res(p: String) = TextIndex.searchAll(spark, p, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(res(dst) === res(full), "merged search diverged from full build")
    // BM25 consumes the merged manifest totals + recounted df — the
    // merged index must score identically to the full build
    def bm(p: String) = TextIndex.bm25(spark, p, terms, 10)
      .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9)))
      .sorted.toSeq
    assert(bm(dst) === bm(full), "merged BM25 diverged from full build")
    // physical purge: doc 42's postings are not in the merged layout
    assert(spark.read.parquet(TextIndex.postingsDir(spark, dst))
      .filter(col("doc_id") === 42L).count() === 0L)
    // overlapping shards are a loud error
    intercept[IllegalArgumentException] {
      TextIndex.mergeIndexes(spark, a, a, Tables.scratch("textindex_merge_bad"))
    }
  }

  test("searchSynonyms: group-conjunctive semantics; cross-group term rejected") {
    val out = Tables.scratch("textindex_syn")
    val docs = Seq(
      (1L, "hash join x"),          // g0 via hash, g1 via join → match, tf 2
      (2L, "key merge key"),        // g0 via key(2), g1 via merge → match, tf 3
      (3L, "hash key x"),           // only g0 → no match
      (4L, "join merge x")          // only g1 → no match
    ).toDF("doc_id", "text")
    TextIndex.buildIndex(docs, "doc_id", "text", out, nBuckets = 8)
    val got = TextIndex.searchSynonyms(spark, out,
        Seq(Seq("hash", "key"), Seq("merge", "join")))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 2L), (2L, 3L)))
    intercept[IllegalArgumentException] {
      TextIndex.searchSynonyms(spark, out,
        Seq(Seq("hash", "key"), Seq("key", "join")))
    }
  }

  // ── concurrency drills: the single-writer intent + manifest CAS ────
  // Every doc in these fixtures contains the token "common", so
  // searchAll("common") IS the live-doc set — the independent count the
  // manifest totals are asserted against after every interleaving.

  private def maintDocs(ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"common $tag w$i term${i % 7}"))
      .toDF("doc_id", "text")

  private def liveDocCount(path: String): Long =
    TextIndex.searchAll(spark, path, Seq("common")).count()

  private def manifestTotals(path: String): (Long, Long) = {
    val r = TextIndex.indexStats(spark, path)
      .select("seq", "n_docs").head()
    (r.getLong(0), r.getLong(1))
  }

  test("a held writer intent blocks append/delete/compact loudly; release unblocks") {
    val out = Tables.scratch("textindex_lock_block")
    TextIndex.buildIndex(maintDocs(0 until 20, "base"), "doc_id", "text",
      out, nBuckets = 8)
    val token = MaintenanceLock.acquire(spark, out)
    try {
      intercept[IllegalStateException] {
        TextIndex.appendDocs(maintDocs(100 until 110, "blocked"),
          "doc_id", "text", out)
      }
      intercept[IllegalStateException] {
        TextIndex.deleteDocs(Seq(1L).toDF("doc_id"), "doc_id", out)
      }
      intercept[IllegalStateException] { TextIndex.compactIndex(spark, out) }
      // nothing published while blocked
      assert(manifestTotals(out) === ((1L, 20L)))
      assert(liveDocCount(out) === 20L)
    } finally MaintenanceLock.release(spark, out, token)
    // release unblocks: the same append now lands
    TextIndex.appendDocs(maintDocs(100 until 110, "ok"), "doc_id", "text", out)
    assert(manifestTotals(out) === ((2L, 30L)))
    assert(liveDocCount(out) === 30L)
  }

  test("a held writer intent blocks every rebuild: buildIndex and mergeIndexes of both indexes throw and leave the marker") {
    val out = Tables.scratch("rebuild_lock_block")
    val (ta, tb) = (Tables.scratch("rebuild_lock_ta"), Tables.scratch("rebuild_lock_tb"))
    val (va, vb) = (Tables.scratch("rebuild_lock_va"), Tables.scratch("rebuild_lock_vb"))
    TextIndex.buildIndex(maintDocs(0 until 10, "a"), "doc_id", "text", ta, nBuckets = 4)
    TextIndex.buildIndex(maintDocs(10 until 20, "b"), "doc_id", "text", tb, nBuckets = 4)
    def vecs(ids: Range) = ids.map(i => (i.toLong, Array(i.toFloat, 1f))).toDF("doc_id", "embedding")
    IvfIndex.buildIndex(vecs(0 until 6), "doc_id", "embedding", nCentroids = 2, path = va)
    IvfIndex.buildIndex(vecs(6 until 12), "doc_id", "embedding", nCentroids = 2, path = vb)
    val token = MaintenanceLock.acquire(spark, out)
    try {
      Seq[() => Unit](
        () => TextIndex.buildIndex(maintDocs(0 until 5, "x"), "doc_id", "text", out),
        () => TextIndex.mergeIndexes(spark, ta, tb, out, nBuckets = 4),
        () => IvfIndex.buildIndex(vecs(0 until 6), "doc_id", "embedding", nCentroids = 2, path = out),
        () => IvfIndex.mergeIndexes(spark, va, vb, out, "doc_id", "embedding")
      ).foreach { verb =>
        val e = intercept[IllegalStateException](verb())
        assert(e.getMessage.contains("concurrent index maintenance"), e.getMessage)
        assert(MaintenanceLock.isHeld(spark, out, token), "a rebuild removed the held marker")
      }
    } finally MaintenanceLock.release(spark, out, token)
  }

  test("q_text_tfidf_pairs gives bit-identical rows under 3 and 11 shuffle partitions") {
    val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
    def run(n: Int) = {
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      SparkEntry.queries("q_text_tfidf_pairs")(spark, sf).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))
    }
    try {
      val a = run(3)
      assert(a.nonEmpty)
      assert(run(11) === a)
    } finally prev.fold(spark.conf.unset("spark.sql.shuffle.partitions"))(
      spark.conf.set("spark.sql.shuffle.partitions", _))
  }

  test("intent acquisition is a true CAS: N racing acquirers, exactly one winner per round") {
    val out = Tables.scratch("textindex_lock_cas")
    new java.io.File(out).mkdirs()
    (1 to 5).foreach { round =>
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
      val threads = (1 to 4).map { _ =>
        val t = new Thread(() => {
          barrier.await()
          results.add(
            try Some(MaintenanceLock.acquire(spark, out))
            catch { case _: IllegalStateException => None })
        })
        t.start(); t
      }
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val winners = results.iterator().asScala.toSeq.flatten
      assert(winners.length === 1,
        s"round $round: ${winners.length} acquirers won the same intent")
      MaintenanceLock.release(spark, out, winners.head)
    }
  }

  test("lease steal under contention: N acquirers racing one EXPIRED marker produce at most one winner per round") {
    // the steal path (delete + re-create) is the lease protocol's
    // least atomic corner; under contention the create must still
    // elect at most one holder (losers fail loudly and retry)
    val out = Tables.scratch("textindex_lock_steal_race")
    new java.io.File(out).mkdirs()
    spark.conf.set("graft.index.writerLeaseMs", "0")
    try (1 to 5).foreach { round =>
      MaintenanceLock.acquire(spark, out) // the expired "dead" holder
      Thread.sleep(15)
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
      val threads = (1 to 4).map { _ =>
        val t = new Thread(() => {
          barrier.await()
          results.add(
            try Some(MaintenanceLock.acquire(spark, out))
            catch { case _: IllegalStateException => None })
        })
        t.start(); t
      }
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val winners = results.iterator().asScala.toSeq.flatten
      // the expired marker could be stolen by exactly one racer; a
      // second racer may then steal THAT marker too (it is also
      // instantly expired under the 0ms test lease) — so the invariant
      // under an expired lease is "some winner exists and the marker
      // survives", not single-winner (single-winner on LIVE markers is
      // the previous test). What must never happen: zero state (no
      // marker) while a winner believes it holds.
      assert(winners.nonEmpty, s"round $round: no acquirer won an expired lease")
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(MaintenanceLock.markerPath(out)),
        s"round $round: winners exist but no intent marker on disk")
      winners.foreach(MaintenanceLock.release(spark, out, _))
      fs.delete(MaintenanceLock.markerPath(out), false)
    } finally spark.conf.unset("graft.index.writerLeaseMs")
  }

  test("lease steal: an expired intent is stolen; the zombie's release cannot evict the stealer") {
    val out = Tables.scratch("textindex_lock_steal")
    new java.io.File(out).mkdirs()
    spark.conf.set("graft.index.writerLeaseMs", "0")
    try {
      val zombie = MaintenanceLock.acquire(spark, out)
      Thread.sleep(20) // age past the 0ms lease
      val stealer = MaintenanceLock.acquire(spark, out) // steal succeeds
      assert(stealer !== zombie)
      // the zombie waking up and releasing must NOT remove the
      // stealer's marker (owner-checked release)
      MaintenanceLock.release(spark, out, zombie)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(fs.exists(MaintenanceLock.markerPath(out)),
        "zombie release evicted the stealer's intent")
      MaintenanceLock.release(spark, out, stealer)
      assert(!fs.exists(MaintenanceLock.markerPath(out)))
    } finally spark.conf.unset("graft.index.writerLeaseMs")
  }

  test("manifest commit is a CAS: two committers from the same base state — second fails loudly") {
    val root = Tables.scratch("manifest_cas_drill")
    // both writers derived their state from "no manifest" → both
    // target seq 1; the first rename wins, the second must conflict
    // rather than publish state computed from a stale base
    import graft.operators.Commit
    val fs = GraftSession.fsOf(spark, root)
    assert(Commit.publish(
      fs, root, Commit.Manifest, Seq("a=1"), expectedNext = Some(1)) === 1)
    intercept[java.io.IOException] {
      Commit.publish(
        fs, root, Commit.Manifest, Seq("a=2"), expectedNext = Some(1))
    }
    // a writer that re-read state proceeds at the next number
    assert(Commit.publish(
      fs, root, Commit.Manifest, Seq("a=3"), expectedNext = Some(2)) === 2)
  }

  test("two threads racing appendDocs: winner publishes, loser fails loudly; totals count exactly the winners") {
    val out = Tables.scratch("textindex_race_append")
    TextIndex.buildIndex(maintDocs(0 until 30, "base"), "doc_id", "text",
      out, nBuckets = 8)
    val batches = Map(
      "raceA" -> maintDocs(1000 until 1200, "raceA"),
      "raceB" -> maintDocs(2000 until 2200, "raceB"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Option[Throwable]]()
    val threads = batches.map { case (name, df) =>
      val t = new Thread(() => {
        barrier.await()
        outcomes.put(name,
          try { TextIndex.appendDocs(df, "doc_id", "text", out); None }
          catch { case e: Throwable => Some(e) })
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val winners = batches.keys.filter(outcomes.get(_).isEmpty).toSeq
    assert(winners.nonEmpty, "at least one racer must publish")
    // every loser failed LOUDLY with the protocol's exceptions — the
    // intent gate or (zombie window) the manifest CAS — never silently
    outcomes.forEach { (name, res) =>
      res.foreach { e =>
        assert(e.isInstanceOf[IllegalStateException] ||
          e.isInstanceOf[java.io.IOException],
          s"$name failed with unexpected ${e.getClass}: ${e.getMessage}")
      }
    }
    // no lost postings, no double counts: totals equal base + winners,
    // and the independent live-doc count agrees with the manifest
    val expected = 30L + winners.map(w => batches(w).count()).sum
    assert(manifestTotals(out)._2 === expected)
    assert(liveDocCount(out) === expected)
    // each winner's batch is searchable exactly once
    winners.foreach { w =>
      assert(TextIndex.searchAll(spark, out, Seq(w.toLowerCase)).count()
        === batches(w).count())
    }
    // a loser retried AFTER the winner commits lands cleanly
    batches.keys.filterNot(winners.contains).foreach { l =>
      TextIndex.appendDocs(batches(l), "doc_id", "text", out)
      assert(TextIndex.searchAll(spark, out, Seq(l.toLowerCase)).count()
        === batches(l).count())
    }
    assert(manifestTotals(out)._2 === 430L)
    assert(liveDocCount(out) === 430L)
  }

  test("appendDocs racing compactIndex on a tombstoned index: loser loud, no resurrections, totals exact") {
    val out = Tables.scratch("textindex_race_compact")
    TextIndex.buildIndex(maintDocs(0 until 40, "base"), "doc_id", "text",
      out, nBuckets = 8)
    TextIndex.deleteDocs((0L until 10L).toDF("doc_id"), "doc_id", out)
    val batch = maintDocs(3000 until 3150, "compactrace")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Option[Throwable]]()
    val tAppend = new Thread(() => {
      barrier.await()
      outcomes.put("append",
        try { TextIndex.appendDocs(batch, "doc_id", "text", out); None }
        catch { case e: Throwable => Some(e) })
    })
    val tCompact = new Thread(() => {
      barrier.await()
      outcomes.put("compact",
        try { TextIndex.compactIndex(spark, out); None }
        catch { case e: Throwable => Some(e) })
    })
    tAppend.start(); tCompact.start(); tAppend.join(); tCompact.join()
    outcomes.forEach { (name, res) =>
      res.foreach { e =>
        assert(e.isInstanceOf[IllegalStateException] ||
          e.isInstanceOf[java.io.IOException],
          s"$name failed with unexpected ${e.getClass}: ${e.getMessage}")
      }
    }
    // run whichever verb lost to completion, sequentially
    if (outcomes.get("append").nonEmpty)
      TextIndex.appendDocs(batch, "doc_id", "text", out)
    if (outcomes.get("compact").nonEmpty)
      TextIndex.compactIndex(spark, out)
    // end state must be exact regardless of interleaving: 30 live base
    // docs + the batch, deleted docs never resurrect
    assert(liveDocCount(out) === 180L)
    assert(manifestTotals(out)._2 === 180L)
    assert(TextIndex.searchAll(spark, out, Seq("base")).count() === 30L)
    assert(TextIndex.searchAll(spark, out, Seq("compactrace")).count() === 150L)
  }

  test("a sibling job killed mid-append publishes NOTHING: no manifest commit, intent released") {
    val out = Tables.scratch("textindex_killed_sibling")
    TextIndex.buildIndex(maintDocs(0 until 25, "base"), "doc_id", "text",
      out, nBuckets = 8)
    val before = manifestTotals(out)
    // poison one row's text: whichever concurrent job evaluates it
    // first (postings write or doc-stats sidecar) dies mid-verb
    val poisoned = maintDocs(500 until 520, "poison")
      .withColumn("text", when(col("doc_id") === 510L,
        raise_error(lit("injected sibling-job failure"))).otherwise(col("text")))
    val thrown = intercept[Throwable] {
      TextIndex.appendDocs(poisoned, "doc_id", "text", out)
    }
    assert(Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null).take(8)
      .exists(c => Option(c.getMessage).exists(_.contains("injected sibling-job failure"))))
    // reader sees the OLD state: same manifest seq, same totals, no
    // poison batch rows visible
    assert(manifestTotals(out) === before)
    assert(liveDocCount(out) === 25L)
    assert(TextIndex.searchAll(spark, out, Seq("poison")).count() === 0L)
    // the intent was released on the failure path: a clean append
    // proceeds immediately and reconciles the crashed batch's leavings
    TextIndex.appendDocs(maintDocs(500 until 520, "clean"), "doc_id", "text", out)
    assert(liveDocCount(out) === 45L)
    assert(TextIndex.searchAll(spark, out, Seq("clean")).count() === 20L)
    assert(TextIndex.searchAll(spark, out, Seq("poison")).count() === 0L)
  }

  test("lease age prefers the BODY timestamp: a coarse-mtime store cannot expire a fresh marker") {
    val out = Tables.scratch("textindex_lock_body_ts")
    new java.io.File(out).mkdirs()
    val holder = MaintenanceLock.acquire(spark, out)
    val marker = new java.io.File(
      MaintenanceLock.markerPath(out).toUri.getPath)
    // a second-granularity (or skewed) store rounds the mtime into the
    // past — the body timestamp the holder wrote must win, so the
    // marker is NOT stealable
    assert(marker.setLastModified(System.currentTimeMillis() - 3600000L))
    spark.conf.set("graft.index.writerLeaseMs", "60000")
    try {
      intercept[IllegalStateException] { MaintenanceLock.acquire(spark, out) }
      assert(MaintenanceLock.isHeld(spark, out, holder))
      // converse: a stale BODY timestamp is stolen even under a fresh
      // mtime (mtime is only the pre-timestamp-marker fallback)
      java.nio.file.Files.write(marker.toPath,
        s"$holder\n${System.currentTimeMillis() - 3600000L}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val stealer = MaintenanceLock.acquire(spark, out)
      assert(stealer !== holder)
      assert(MaintenanceLock.isHeld(spark, out, stealer))
      MaintenanceLock.release(spark, out, stealer)
    } finally spark.conf.unset("graft.index.writerLeaseMs")
  }

  test("heartbeat keeps a long verb's lease alive past the nominal lease age") {
    // the round-14 gap: a verb longer than writerLeaseMs used to age
    // out of its OWN lease and could be stolen mid-run — two live
    // writers. withLock now re-stamps the body timestamp from a daemon
    // thread, so only a genuinely dead holder's marker expires.
    val out = Tables.scratch("textindex_lock_heartbeat")
    new java.io.File(out).mkdirs()
    spark.conf.set("graft.index.writerLeaseMs", "400")
    spark.conf.set("graft.index.writerHeartbeatMs", "100")
    try {
      MaintenanceLock.withLockToken(spark, out) { token =>
        // the verb runs 3× the lease; every one of these acquire
        // attempts would steal an un-heartbeated marker
        var stolen: Option[String] = None
        (1 to 6).foreach { _ =>
          Thread.sleep(200)
          try stolen = Some(MaintenanceLock.acquire(spark, out))
          catch { case _: IllegalStateException => () }
        }
        assert(stolen.isEmpty, s"lease stolen mid-verb despite heartbeats: $stolen")
        MaintenanceLock.assertHeld(spark, out, token)
      }
    } finally {
      spark.conf.unset("graft.index.writerLeaseMs")
      spark.conf.unset("graft.index.writerHeartbeatMs")
    }
  }

  test("assertHeld aborts a writer whose lease was stolen; a zombie heartbeat cannot re-stamp the stealer's marker") {
    // the ownership re-check IVF compaction runs at its points of no
    // return (before the dynamic-overwrite rewrite and before the
    // hygiene tail), drilled at the lock layer
    val out = Tables.scratch("textindex_lock_stolen_assert")
    new java.io.File(out).mkdirs()
    val zombie = MaintenanceLock.acquire(spark, out)
    MaintenanceLock.assertHeld(spark, out, zombie) // held: passes
    spark.conf.set("graft.index.writerLeaseMs", "0")
    val stealer = try { Thread.sleep(10); MaintenanceLock.acquire(spark, out) }
      finally spark.conf.unset("graft.index.writerLeaseMs")
    intercept[IllegalStateException] {
      MaintenanceLock.assertHeld(spark, out, zombie) }
    assert(!MaintenanceLock.heartbeat(spark, out, zombie),
      "a zombie heartbeat re-stamped the stealer's marker")
    assert(MaintenanceLock.isHeld(spark, out, stealer),
      "the zombie's probes disturbed the stealer's intent")
    MaintenanceLock.release(spark, out, stealer)
  }

  test("steal is conditional on the observed token: a fresh successor marker in the check-delete window is never evicted") {
    // check-then-act regression drill: acquirer A sees an expired
    // marker, but before A's delete lands the expired holder releases
    // and a NEW holder B acquires. A's conditional evict re-reads the
    // body and must leave B's fresh marker alone. Simulated by
    // swapping the marker between A's age observation and its steal:
    // with lease 60 s and a fresh body timestamp, A's re-read sees a
    // token it did not observe expired → A must FAIL, not evict.
    val out = Tables.scratch("textindex_lock_cond_steal")
    new java.io.File(out).mkdirs()
    val marker = new java.io.File(
      MaintenanceLock.markerPath(out).toUri.getPath)
    // plant an EXPIRED marker (stale body ts), then a successor B
    // replaces it with a fresh one before A arrives — from A's view B's
    // marker is simply live, and under a live lease A must fail loudly
    java.nio.file.Files.write(marker.toPath,
      s"dead-holder\n${System.currentTimeMillis() - 3600000L}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.conf.set("graft.index.writerLeaseMs", "60000")
    try {
      val b = MaintenanceLock.acquire(spark, out) // steals the dead marker
      intercept[IllegalStateException] { MaintenanceLock.acquire(spark, out) }
      assert(MaintenanceLock.isHeld(spark, out, b),
        "a racing acquirer evicted the live successor's marker")
      MaintenanceLock.release(spark, out, b)
    } finally spark.conf.unset("graft.index.writerLeaseMs")
  }

  test("relevanceTopK: heap ideal equals the manual tf-sum ranking; search-eval metrics well-formed, perfect on an order-preserving corpus") {
    // crafted corpus: equal doc lengths, tf of 'alpha' strictly
    // decreasing in doc_id — for a single-term query BM25 is strictly
    // increasing in tf at fixed dl, so the served ranking EQUALS the
    // graded ideal and every metric must be exactly 1.0
    val docs = (0L until 12L).map { i =>
      val alphas = Seq.fill((12 - i).toInt)("alpha")
      val pad = Seq.fill(i.toInt)("filler")
      (i, (alphas ++ pad ++ Seq("tail")).mkString(" "))
    }.toDF("doc_id", "text")
    val idx = Tables.scratch("textindex_eval_spec")
    TextIndex.buildIndex(docs, "doc_id", "text", idx, nBuckets = 4)
    // heap ideal == manual tf-sum ranking (desc rel, asc doc)
    val ideal = TextIndex.relevanceTopK(spark, idx, Seq("alpha"), 5)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("rel")))
    assert(ideal.toSeq === (1 to 5).map(r => (r, (r - 1).toLong, (13 - r).toDouble)),
      s"heap ideal diverged from the manual ranking: ${ideal.toSeq}")
    // BM25 top-5 must equal the ideal order here → NDCG/P/RR all 1.0
    val ranked = TextIndex.bm25(spark, idx, Seq("alpha"), 5).collect()
      .map(_.getLong(0)).toSeq
    assert(ranked === ideal.map(_._2).toSeq,
      "BM25 at fixed dl did not order by tf")
    // the verb end-to-end on the real fixture: 3 rows, well-formed
    val rows = SparkEntry.queries("q_text_search_eval")(spark, sf).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      val (n, p, rr) = (r.getAs[Double]("ndcg10"), r.getAs[Double]("p10"),
        r.getAs[Double]("rr_best"))
      assert(n > 0.0 && n <= 1.0 + 1e-9, s"ndcg out of range: $n")
      assert(p >= 0.0 && p <= 1.0 && rr >= 0.0 && rr <= 1.0,
        s"p10/rr out of range: $p $rr")
    }
  }

  test("heartbeat hammer: tight re-stamping vs a spinning reader — isHeld never flickers, assertHeld never aborts a healthy holder") {
    // round-15 watch item 2: heartbeats used to rewrite the MARKER in
    // place (truncate-then-write), so a concurrent readBody — a
    // rival's age check or the verb's own assertHeld — could observe
    // an empty/partial body and spuriously abort a healthy verb. The
    // marker is now immutable after create and liveness is stamped in
    // a per-holder sidecar replaced with an atomic rename, so the
    // torn-read window is gone by construction. Hammer it: ~1 s of
    // 5 ms heartbeats against a reader spinning isHeld/assertHeld.
    val out = Tables.scratch("textindex_lock_hammer")
    new java.io.File(out).mkdirs()
    spark.conf.set("graft.index.writerLeaseMs", "60000")
    spark.conf.set("graft.index.writerHeartbeatMs", "5")
    try {
      MaintenanceLock.withLockToken(spark, out) { token =>
        val mismatches = new java.util.concurrent.atomic.AtomicInteger(0)
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val reader = new Thread(() => {
          while (!stop.get()) {
            if (!MaintenanceLock.isHeld(spark, out, token))
              mismatches.incrementAndGet()
            try MaintenanceLock.assertHeld(spark, out, token)
            catch { case _: IllegalStateException => mismatches.incrementAndGet() }
          }
        })
        reader.start()
        Thread.sleep(1000) // ~200 heartbeat rewrites under the spin
        stop.set(true); reader.join()
        assert(mismatches.get() === 0,
          s"${mismatches.get()} torn/false isHeld reads during heartbeats")
        // the sidecar is being stamped (liveness is real, not vacuous)
        val hb = new java.io.File(
          MaintenanceLock.hbPath(out, token).toUri.getPath)
        assert(hb.exists(), "no heartbeat sidecar was ever stamped")
      }
      // release removed both the marker and the sidecar
      val dir = new java.io.File(out)
      assert(!dir.listFiles().exists(_.getName.startsWith("_maint")),
        s"lock artifacts leaked: ${dir.listFiles().map(_.getName).mkString(",")}")
    } finally {
      spark.conf.unset("graft.index.writerLeaseMs")
      spark.conf.unset("graft.index.writerHeartbeatMs")
    }
  }

  test("a zombie's late heartbeat can never clobber the stealer's marker (the stamp touches only the zombie's own sidecar)") {
    // the round-15 check-then-act residue: isHeld-then-rewrite let a
    // zombie passing its check just before the steal overwrite the
    // stealer's fresh marker — two writers each believing they hold.
    // Heartbeats now write a per-holder sidecar and never the marker,
    // so even a stamp racing the steal is harmless. Drill the exact
    // post-steal interleaving and verify the marker BYTES.
    val out = Tables.scratch("textindex_lock_zombie_stamp")
    new java.io.File(out).mkdirs()
    val zombie = MaintenanceLock.acquire(spark, out)
    spark.conf.set("graft.index.writerLeaseMs", "0")
    val stealer = try { Thread.sleep(10); MaintenanceLock.acquire(spark, out) }
      finally spark.conf.unset("graft.index.writerLeaseMs")
    // the zombie hammers heartbeats AFTER the steal
    (1 to 20).foreach { _ =>
      assert(!MaintenanceLock.heartbeat(spark, out, zombie),
        "a zombie heartbeat claimed success after the steal")
    }
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(MaintenanceLock.markerPath(out).toUri.getPath)),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(body.startsWith(stealer + "\n"),
      s"marker no longer the stealer's after zombie stamps: ${body.take(60)}")
    assert(MaintenanceLock.isHeld(spark, out, stealer))
    assert(!MaintenanceLock.isHeld(spark, out, zombie))
    MaintenanceLock.release(spark, out, stealer)
  }
}
