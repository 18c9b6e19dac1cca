package graft

import graft.operators.{Dedup, HybridSearch, IvfIndex, SimilaritySearch, TextIndex}
import org.apache.spark.sql.functions._

/** Operator-level behavior on planted duplicates. */
class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup of 1
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "spark engines and shuffles are completely different content about") // token-set dup of 4
  ).toDF("doc_id", "text")

  /** Rewind an index to its previous commit by deleting its latest
    * manifest — the state a crash just before that commit leaves. */
  private def rewindManifest(path: String): Unit = {
    val fs = GraftSession.fsOf(spark, path)
    val n = graft.operators.Commit.numbered(fs, path, graft.operators.Commit.Manifest.prefix).max
    assert(fs.delete(new org.apache.hadoop.fs.Path(path,
      graft.operators.Commit.Manifest.prefix + n), false))
  }

  test("exact dedup keeps min id per content and counts copies") {
    val out = Dedup.exact(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(out.length == 4)
    val byId = out.map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(byId(1L) == 2) // docs 1+2 collapse
    assert(byId(3L) == 1)
  }

  test("minhash near-dups finds planted near-duplicates, not unrelated") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(pairs.contains((4L, 5L))) // same token set, different order
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).size == 1 })
  }

  test("incremental dedup finds new-vs-old and new-vs-new pairs, never old-vs-old") {
    // old corpus {1, 4}, new batch {2, 3, 5}: expect (1,2) (1,3) new×old,
    // (2,3) new×new, (4,5) new×old — and nothing between old docs only
    val index = Dedup.signatureIndex(docs.filter(col("doc_id").isin(1L, 4L)), "doc_id", "text")
    val newIdx = Dedup.signatureIndex(docs.filter(col("doc_id").isin(2L, 3L, 5L)), "doc_id", "text")
    val pairs = Dedup.incrementalNearDups(index, newIdx, threshold = 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
  }

  test("incremental dedup skew guard star-pairs oversized bands") {
    // 30 identical docs share every band → bucket size 30 > maxBucket
    // 10 → the quadratic path is skipped; every NEW doc star-pairs the
    // band's min-doc representative (an OLD doc), nothing is dropped
    val dup = (100L to 129L).map(i => (i, "same text repeated for bucket overflow test"))
      .toDF("doc_id", "text")
    val index = Dedup.signatureIndex(dup.filter(col("doc_id") < 115), "doc_id", "text")
    val newIdx = Dedup.signatureIndex(dup.filter(col("doc_id") >= 115), "doc_id", "text")
    val pairs = Dedup.incrementalNearDups(index, newIdx, threshold = 0.9, maxBucket = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === (115L to 129L).map(i => (100L, i)).toSet)
  }

  test("end-to-end corpus dedup keeps one representative per cluster") {
    // docs 1,2,3 form one near-dup cluster (rep 1); 4,5 another (rep 4)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.7)
    val labels = Dedup.duplicateClusters(pairs)
    val survivors = docs
      .join(labels, docs("doc_id") === labels("doc"), "left_outer")
      .filter(col("doc").isNull || col("doc") === col("label"))
      .select(col("doc_id"), col("doc").isNotNull.as("had_dups"))
      .as[(Long, Boolean)].collect().toMap
    assert(survivors === Map(1L -> true, 4L -> true))
  }

  test("simhash near-dups finds exact and near duplicates") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((4L, 5L)))
  }

  test("simhash md5 variant finds all pairs within the pigeonhole bound") {
    // md5-60bit distances on this fixture: (1,2)=0, (1,3)=(2,3)=3,
    // (4,5)=9, everything else 27. The 4-chunk banding is COMPLETE only
    // up to hamming 3 (pigeonhole) — so at maxHamming=3 the output must
    // be exactly the three guaranteed pairs; (4,5) at 9 is beyond the
    // recall contract (and indeed needs a lucky chunk collision).
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3,
        tokenHashMd5 = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("maxBucket guard bounds degenerate band buckets (giant all-dup cluster)") {
    // 30 identical docs: every band bucket they share has 30 members —
    // over maxBucket=10, so the quadratic self-join is skipped and the
    // bucket falls back to star pairing: exactly the 29 (rep=100, other)
    // edges instead of all 435 pairs, and the cluster stays connected.
    val giant = (100L until 130L).map(i => (i, "same giant duplicate cluster text repeated everywhere"))
    val all = (docs.as[(Long, String)].collect().toSeq ++ giant).toDF("doc_id", "text")
    val guarded = Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.7, maxBucket = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val giantPairs = guarded.filter { case (a, b) => a >= 100L || b >= 100L }
    assert(giantPairs == (101L until 130L).map(i => (100L, i)).toSet,
      "oversized buckets must produce exactly the linear star pairs")
    assert(guarded.contains((1L, 2L)) && guarded.contains((4L, 5L)))
    // star edges keep the giant cluster a single connected component
    val labels = Dedup.duplicateClusters(
      Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.7, maxBucket = 10)
        .select("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert((100L until 130L).forall(labels(_) == 100L))
    // without the guard the giant cluster produces all 435 pairs
    val unguarded = Dedup.minhashNearDups(all, "doc_id", "text", threshold = 0.7)
      .filter(col("doc_a") >= 100L).count()
    assert(unguarded == 30L * 29 / 2)
  }

  test("prefix jaccard join equals brute-force all-pairs jaccard") {
    import graft.functions.VectorExpressions
    val grams = docs.select(col("doc_id"),
      array_distinct(Dedup.shingles(Dedup.tokens(col("text")), 2)).as("grams"))
    val got = Dedup.prefixJaccardJoin(grams, "doc_id", "grams", threshold = 0.3)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val a = grams.select(col("doc_id").as("doc_a"), col("grams").as("g_a"))
    val b = grams.select(col("doc_id").as("doc_b"), col("grams").as("g_b"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", VectorExpressions.jaccard_tokens(col("g_a"), col("g_b")))
      .filter(col("jaccard") >= 0.3)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(got == brute, s"prefix join must be complete: $got vs $brute")
    assert(brute.nonEmpty) // sanity: the planted near-dups are above 0.3
  }

  test("duplicate clusters merge transitively") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
  }

  test("duplicate clusters converge on a long chain (pointer jumping)") {
    // diameter 200 ≫ maxIter=20: plain per-round min propagation would
    // silently stop short; the path-halving step makes it O(log d)
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.duplicateClusters(chain).as[(Long, Long)].collect()
    assert(labels.length == 201)
    assert(labels.forall(_._2 == 0L), "all chain nodes must share the min label")
  }

  test("duplicate clusters under reliable checkpointing (graft.dedup.reliableCheckpoint)") {
    // same chain workload routed through df.checkpoint() against a
    // durable dir — the cluster-survivability path: localCheckpoint
    // blocks die with an executor, reliable checkpoint files do not
    spark.conf.set("graft.dedup.reliableCheckpoint", "true")
    spark.conf.set("graft.dedup.checkpointDir",
      Tables.scratch("reliable_ckpt_test"))
    try {
      val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      val labels = Dedup.duplicateClusters(chain).as[(Long, Long)].collect()
      assert(labels.length == 201)
      assert(labels.forall(_._2 == 0L), "all chain nodes must share the min label")
      // the durable files genuinely exist (the point of the flag)
      val dir = new java.io.File(spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:"))
      assert(dir.exists && dir.listFiles.nonEmpty,
        "reliable mode wrote no checkpoint files")
      // and the minhash end-to-end path works under the flag too
      val docs = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"),
        (3L, "totally different words here now")).toDF("doc_id", "text")
      val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
        .filter(col("jaccard") >= 0.9)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L)))
    } finally {
      spark.conf.unset("graft.dedup.reliableCheckpoint")
      spark.conf.unset("graft.dedup.checkpointDir")
    }
  }

  test("embedding near-dups: identical vectors collide and verify") {
    val vecs = Seq(
      (1L, Array(0.5f, -0.25f, 0.8f, 0.1f)),
      (2L, Array(0.5f, -0.25f, 0.8f, 0.1f)),
      (3L, Array(-0.9f, 0.4f, 0.0f, 0.2f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDups(vecs, "vec_id", "embedding", threshold = 0.99)
      .select("vid_a", "vid_b").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L)))
  }

  test("ann lsh finds identical-vector neighbors (perfect recall at cos=1)") {
    val base = (0L until 50L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val withDup = base :+ (99L, base.head._2.clone)
    val df = withDup.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") === 99L)
    val ann = SimilaritySearch.lshTopK(df, probes, "vec_id", "embedding", k = 1)
      .select("neighbor_id").as[Long].collect()
    assert(ann.headOption.contains(0L))
  }

  test("lsh ann hashes all tables from ONE scan per side (no per-table re-scan)") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    val ann = SimilaritySearch.lshTopK(emb, probes, "vec_id", "embedding",
      k = 3, nBits = 5, nTables = 8)
    // the former unionAll form planned nTables scans per side (16 here);
    // the explode form reads the corpus once and the probes once (the
    // planner may even collapse the probe scan into a reused exchange)
    val scans = ann.queryExecution.executedPlan.collectLeaves()
      .count(_.toString.contains("Scan parquet"))
    assert(scans <= 2 && scans >= 1,
      s"expected at most corpus+probe = 2 parquet scans, got $scans")
    assert(ann.count() > 0)
  }

  test("multi-probe lsh: recall ≥ single-probe at the same corpus cost") {
    // corpus: 200 seeded random vectors; probes: 20 slightly-perturbed
    // copies, so each probe's true nearest neighbor is its source.
    // Multi-probe searches extra buckets on the PROBE side only, so at
    // fixed nTables (= fixed corpus hashing/shuffle cost) its candidate
    // set is a strict superset of single-probe's → recall can only go
    // up. The test also measures that the recall actually moves at this
    // fixture (not a vacuous ≥).
    val rnd = new scala.util.Random(5)
    val base = (0L until 200L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val probes = (0L until 20L).map { i =>
      val src = base(i.toInt * 7)._2
      (1000L + i, src.map(x => x + (rnd.nextFloat() - 0.5f) * 0.12f))
    }
    val corpus = base.toDF("vec_id", "embedding")
    val probeDf = probes.toDF("vec_id", "embedding")
    def recallAt1(nTables: Int, nFlips: Int): Double = {
      val hits = SimilaritySearch.lshTopK(corpus, probeDf, "vec_id", "embedding",
          k = 1, nBits = 10, nTables = nTables, nFlips = nFlips)
        .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toMap
      probes.count { case (pid, _) => hits.get(pid).contains((pid - 1000L) * 7) }
        .toDouble / probes.length
    }
    val single = recallAt1(nTables = 2, nFlips = 0)
    val multi = recallAt1(nTables = 2, nFlips = 3)
    assert(multi >= single, s"multi-probe recall $multi < single-probe $single")
    assert(multi > single, s"fixture vacuous: multi-probe did not add recall ($multi)")
    // and multi-probe at HALF the corpus cost reaches the 4-table recall
    val fourTables = recallAt1(nTables = 4, nFlips = 0)
    assert(multi >= fourTables,
      s"2-table multi-probe recall $multi below 4-table single-probe $fourTables")
  }

  test("lsh ann: score-then-dedup keeps pairs exact and the payload off the shuffle") {
    // round-19 rewrite: candidates are scored BEFORE the (probe,
    // neighbor) dedup, so duplicate (table, bucket) hits collapse over
    // narrow (ids, cos) rows instead of carrying the vectors through a
    // first(array) SortAggregate. Fixture: identical vectors collide in
    // EVERY table, guaranteeing multi-hit duplicate pairs.
    val rnd = new scala.util.Random(11)
    val base = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val withDups = base ++ base.take(5).map { case (i, v) => (100L + i, v.clone) }
    val corpus = withDups.toDF("vec_id", "embedding")
    val probeDf = corpus.filter(col("vec_id") >= 100L)
    val ann = SimilaritySearch.lshTopK(corpus, probeDf, "vec_id", "embedding",
      k = 3, nBits = 4, nTables = 6)
    val rows = ann.select("probe_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    // exactly one row per returned pair (the dedup is real)
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
    // every returned score equals the exact cosine of that pair — the
    // per-duplicate re-scoring introduced by the rewrite changes nothing
    val vecs = withDups.toMap
    rows.foreach { case (p, n, cos) =>
      val (a, b) = (vecs(p), vecs(n))
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val exact = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
      assert(math.abs(cos - exact) < 1e-6, s"pair ($p,$n): $cos vs $exact")
    }
    // each probe's top hit is its planted identical twin at cos ≈ 1
    val top1 = rows.filter(_._2 >= 0).groupBy(_._1).map { case (p, rs) =>
      p -> rs.minBy(r => -r._3) }
    (0L until 5L).foreach { i =>
      assert(top1(100L + i)._2 == i, s"probe ${100 + i} top hit not its twin") }
    // structural claim: no sort-based aggregate anywhere in the plan
    val sortAggs = ann.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s }
    assert(sortAggs.isEmpty, "pair dedup fell back to SortAggregate")
  }

  test("semantic dedup removes planted near-identical vectors, keeps the rest") {
    // 300 random corpus vectors + 30 jittered clones (cos ≥ 0.9999 to
    // their sources). SemDeDup must remove (almost all of) the clones —
    // boundary-split k-means cells are the only sanctioned loss — and
    // must never remove an original: originals' pairwise cosines are
    // far below the 0.99 threshold at 32 dims.
    val rnd = new scala.util.Random(11)
    val base = (0L until 300L).map(i => (i, Array.fill(32)(rnd.nextFloat() - 0.5f)))
    val clones = (0L until 30L).map { i =>
      val src = base(i.toInt * 10)._2
      (1000L + i, src.map(x => x + (rnd.nextFloat() - 0.5f) * 0.004f))
    }
    val corpus = (base ++ clones).toDF("vec_id", "embedding")
    val removed = Dedup.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.99, nClusters = 8)
      .collect()
    val removedIds = removed.map(_.getLong(0)).toSet
    assert(removedIds.forall(_ >= 1000L),
      s"an original was removed: ${removedIds.filter(_ < 1000L)}")
    assert(removedIds.size >= 27, s"recall too low: ${removedIds.size}/30 clones removed")
    removed.foreach { r =>
      assert(r.getLong(1) < r.getLong(0), "dup_of must be a smaller id")
      assert(r.getDouble(2) >= 0.99, s"removed with cos ${r.getDouble(2)} < threshold")
    }
  }

  test("PCA-conditioned semantic dedup: recall matches the raw-space form on planted clones; precision stays exact") {
    // the q_dedup_semantic fixture shape, judged against the raw-space
    // run: conditioning the quantizer in the top-8 PCA subspace must
    // not lose clone recall (a jittered clone projects next to its
    // source in ANY linear subspace), and can never lose precision
    // (the in-cluster confirm is the exact full-dim cosine either way)
    val rnd = new scala.util.Random(11)
    val base = (0L until 300L).map(i => (i, Array.fill(32)(rnd.nextFloat() - 0.5f)))
    val clones = (0L until 30L).map { i =>
      val src = base(i.toInt * 10)._2
      (1000L + i, src.map(x => x + (rnd.nextFloat() - 0.5f) * 0.004f))
    }
    val corpus = (base ++ clones).toDF("vec_id", "embedding").localCheckpoint()
    def audit(removed: Array[org.apache.spark.sql.Row]): Int = {
      val ids = removed.map(_.getLong(0)).toSet
      assert(ids.forall(_ >= 1000L), s"an original was removed: ${ids.filter(_ < 1000L)}")
      removed.foreach { r =>
        assert(r.getLong(1) < r.getLong(0) && r.getDouble(2) >= 0.99)
      }
      ids.size
    }
    val rawN = audit(Dedup.semanticDedup(corpus, "vec_id", "embedding",
      threshold = 0.99, nClusters = 8).collect())
    val pcaN = audit(Dedup.semanticDedupPca(corpus, "vec_id", "embedding",
      threshold = 0.99, nClusters = 8, pcaK = 8).collect())
    assert(pcaN >= 27, s"PCA-conditioned recall too low: $pcaN/30")
    assert(pcaN >= rawN - 2,
      s"conditioning lost recall vs raw space: $pcaN vs $rawN")
    // pcaK past the embedding dimension clamps to d (components
    // deflated past d are numerical residue, not blocking signal):
    // the run must behave exactly like the k = d run
    val clampedN = audit(Dedup.semanticDedupPca(corpus, "vec_id", "embedding",
      threshold = 0.99, nClusters = 8, pcaK = 64).collect())
    val atD = audit(Dedup.semanticDedupPca(corpus, "vec_id", "embedding",
      threshold = 0.99, nClusters = 8, pcaK = 32).collect())
    assert(clampedN === atD, s"pcaK>d run diverged from k=d: $clampedN vs $atD")
  }

  test("approx aggregates are within tolerance of exact (SURVEY §5.2.2)") {
    val li = Tables(spark, sf, "lineitem")
    val row = li.agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("apx"),
      countDistinct(col("l_orderkey")).as("exact"),
      expr("percentile_approx(l_quantity, 0.5, 10000)").as("apx_med"),
      expr("percentile(l_quantity, 0.5)").as("med")).collect().head
    val (apx, exact) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(apx - exact) / exact < 0.05, s"approx_count_distinct $apx vs $exact")
    assert(math.abs(row.getDouble(2) - row.getDouble(3)) <= 1.0,
      s"percentile_approx ${row.getDouble(2)} vs ${row.getDouble(3)}")
  }

  test("ivf ann finds identical-vector neighbors (same inverted list)") {
    import graft.operators.IvfIndex
    val base = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val withDup = base :+ (99L, base.head._2.clone)
    val df = withDup.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") === 99L)
    val hits = IvfIndex.topK(df, probes, "vec_id", "embedding", k = 1,
      nCentroids = 4, nProbes = 1)
      .select("neighbor_id").as[Long].collect()
    assert(hits.headOption.contains(0L))
  }

  test("ivf persisted index: build once, load, search without refit") {
    import graft.operators.IvfIndex
    val base = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val withDup = base :+ (99L, base.head._2.clone)
    val df = withDup.toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_test_index")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val (assigned, centroids) = IvfIndex.loadIndex(spark, path)
    assert(centroids.count() == 4)
    assert(assigned.columns.contains("cluster"))
    val probes = df.filter(col("vec_id") === 99L)
    val hits = IvfIndex.searchTopK(assigned, centroids, probes,
      "vec_id", "embedding", k = 1, nProbes = 1)
      .select("neighbor_id").as[Long].collect()
    assert(hits.headOption.contains(0L), s"expected planted dup, got ${hits.toSeq}")
  }

  test("ivf incremental append: no refit, appended vectors searchable") {
    import graft.operators.IvfIndex
    val base = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_incr_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val centroidsBefore = spark.read.parquet(s"$path/centroids")
      .orderBy("centroid_id").collect().map(_.toString)
    // append an exact clone of vec 0 — assignment must place it in
    // vec 0's list, so a SINGLE-probe search from the clone finds it
    IvfIndex.appendToIndex(
      Seq((99L, base.head._2.clone)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val (assigned, centroids) = IvfIndex.loadIndex(spark, path)
    assert(assigned.count() === 61)
    // centroids untouched (no refit)
    assert(spark.read.parquet(s"$path/centroids")
      .orderBy("centroid_id").collect().map(_.toString).toSeq
      === centroidsBefore.toSeq)
    // clone and source share a cluster
    val clusters = assigned.filter(col("vec_id").isin(0L, 99L))
      .select("cluster").distinct().count()
    assert(clusters === 1, "appended clone not in its source's inverted list")
    val hit = IvfIndex.searchTopK(assigned, centroids,
        assigned.filter(col("vec_id") === 99L).select("vec_id", "embedding"),
        "vec_id", "embedding", k = 1, nProbes = 1)
      .select("neighbor_id").as[Long].collect()
    assert(hit.headOption.contains(0L))
  }

  test("ivf search I/O is partition-pruned to the probed lists; PQ search reads index files only") {
    import graft.operators.{DataSkipping, IvfIndex}
    val base = (0L until 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding").repartition(4)
    val path = Tables.scratch("ivf_pruned_index")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 8, path = path)
    val (assigned, centroids) = IvfIndex.loadIndex(spark, path)
    val probes = df.filter(col("vec_id") < 3)
    // the probed-cluster restriction searchTopK applies must prune at
    // PLANNING time: the scan's numFiles equals the on-disk file count
    // of the probed cluster directories alone — the q_table_skip_scan
    // observable applied to the inverted-list layout
    val probed = IvfIndex.probedClusterIds(centroids, probes,
      "vec_id", "embedding", nProbes = 2)
    assert(probed.nonEmpty && probed.size < 8)
    def parquetFilesUnder(c: Int): Long = {
      val d = new java.io.File(s"$path/assigned/cluster=$c")
      if (!d.exists()) 0L
      else d.listFiles().count(_.getName.endsWith(".parquet")).toLong
    }
    val expectFiles = probed.map(parquetFilesUnder).sum
    val totalFiles = (0 until 8).map(parquetFilesUnder).sum
    val scanned = DataSkipping.scannedFiles(
      assigned.filter(col("cluster").isin(probed: _*)))
    assert(scanned === expectFiles,
      s"probed-list scan read $scanned files, expected $expectFiles")
    assert(scanned < totalFiles,
      "pruning read every inverted list — partition filter not applied")
    // the search itself stays correct over the pruned layout
    val hit = IvfIndex.searchTopK(assigned, centroids,
        Seq((999L, base.head._2.clone)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", k = 1, nProbes = 1)
      .select("neighbor_id").as[Long].collect()
    assert(hit.headOption.contains(0L))
    // IVF-PQ-lite: probing ALL lists with a corpus-wide candidate
    // budget makes the two-stage path exhaustive — it must equal
    // brute force EXACTLY (the re-rank is exact cosine)
    val pq = IvfIndex.searchTopKQuantized(assigned, centroids, probes,
      "vec_id", "embedding", k = 5, nProbes = 8, nCandidates = 200)
    val exact = graft.operators.SimilaritySearch.bruteForceTopK(
      df, probes, "vec_id", "embedding", k = 5)
    val pqRows = pq.select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val exRows = exact.select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(pqRows === exRows, "exhaustive PQ search diverged from brute force")
    // and the ENTIRE two-stage query reads index files only — the
    // corpus table never appears in its input set (probes here are
    // in-memory, so every file input must be an index artifact)
    val files = pq.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("ivf_pruned_index")),
      s"PQ search read outside the index: ${files.filterNot(_.contains("ivf_pruned_index")).take(3).mkString(", ")}")
  }

  test("ivf rebalance: atomic hot-list split, crash-rerun idempotent, vacuum reclaims") {
    import graft.operators.{IvfIndex, SimilaritySearch}
    // planted skew: 80 vectors packed into one dense region (one
    // centroid will own them all) + 20 scattered
    val rnd = new scala.util.Random(7)
    val hotRegion = (0L until 80L).map { i =>
      (i, Array.fill(16)(5.0f + (rnd.nextFloat() - 0.5f) * 0.2f)) }
    val scattered = (80L until 100L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4f - 2f)) }
    val df = (hotRegion ++ scattered).toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_rebal_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val before = IvfIndex.listSizes(spark, path, "vec_id")
    assert(before.map(_._2).sum === 100L)
    val probes = df.filter(col("vec_id") < 3)
    def exhaustive(): Seq[(Long, Int, Long)] = {
      val (a, c) = IvfIndex.loadIndex(spark, path)
      IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
          k = 5, nProbes = c.count().toInt)
        .select("probe_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    val exact = SimilaritySearch.bruteForceTopK(df, probes,
        "vec_id", "embedding", k = 5)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val split = IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
      maxListFactor = 1.5)
    assert(split.nonEmpty, s"planted skew not split: sizes $before")
    assert(IvfIndex.liveCentroidGen(spark, path) === 1)
    val after = IvfIndex.listSizes(spark, path, "vec_id")
    // every row moved exactly once; the hottest list genuinely shrank;
    // retired ids left the live centroid set
    assert(after.map(_._2).sum === 100L, s"rows lost/duplicated: $after")
    assert(after.map(_._2).max < before.map(_._2).max)
    assert(split.toSet.intersect(after.map(_._1).toSet).isEmpty)
    assert(exhaustive() === exact, "post-rebalance exhaustive search diverged")
    // retired lists survive the commit on disk (in-flight readers that
    // planned against gen 0 keep resolving) until vacuum reclaims them
    assert(split.forall(h => new java.io.File(s"$path/assigned/cluster=$h").exists()))
    val swept = IvfIndex.vacuumIndex(spark, path, olderThanMs = 0L)
    assert(split.forall(h => swept.contains(s"cluster=$h")), s"vacuum missed: $swept")
    assert(exhaustive() === exact, "post-vacuum search diverged")
    assert(IvfIndex.listSizes(spark, path, "vec_id").map(_._2).sum === 100L)
    // crash drill: a rebalance that appended sub-lists but died before
    // its commit must be invisible, and the re-run must not duplicate
    // the moved rows. Simulate by committing a second split, then
    // rewinding its manifest and deleting its centroid generation
    // (crash rewound to just before the commit — the orphan sub-list
    // dirs remain).
    val split2 = IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
      maxListFactor = 1.0) // anything above the mean splits
    assert(split2.nonEmpty)
    rewindManifest(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/centroids_g2"), true)
    assert(IvfIndex.liveCentroidGen(spark, path) === 1,
      "uncommitted generation became visible")
    assert(exhaustive() === exact, "crashed rebalance changed the gen-1 answer")
    assert(IvfIndex.listSizes(spark, path, "vec_id").map(_._2).sum === 100L)
    // the re-run purges the orphans before splitting — no duplicates
    val split3 = IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
      maxListFactor = 1.0)
    assert(split3.nonEmpty)
    assert(IvfIndex.liveCentroidGen(spark, path) === 2)
    assert(IvfIndex.listSizes(spark, path, "vec_id").map(_._2).sum === 100L,
      "crash re-run duplicated moved rows")
    assert(exhaustive() === exact, "post-rerun exhaustive search diverged")
  }

  test("ivf delete: mask immediate, compaction folds + drops emptied lists, re-add after compact") {
    import graft.operators.{IvfIndex, SimilaritySearch}
    val base = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_delete_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val probes = df.filter(col("vec_id") >= 57L)
    def exhaustiveLive(): Seq[(Long, Int, Long)] = {
      val (a, c) = IvfIndex.loadLive(spark, path, "vec_id")
      IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
          k = 5, nProbes = c.count().toInt)
        .select("probe_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    def brute(remaining: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      SimilaritySearch.bruteForceTopK(remaining, probes, "vec_id", "embedding", k = 5)
        .select("probe_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // retract a third of the corpus: visible immediately, exactly
    IvfIndex.deleteFromIndex(
      df.filter(col("vec_id") % 3 === 0).select("vec_id"), "vec_id", path)
    val live1 = df.filter(col("vec_id") % 3 =!= 0)
    assert(IvfIndex.listSizes(spark, path, "vec_id").map(_._2).sum === 40L)
    assert(exhaustiveLive() === brute(live1), "masked search diverged")
    // fold: physically purged, sidecar cleared, answer bit-identical
    val preFold = exhaustiveLive()
    IvfIndex.compactLists(spark, path, "vec_id")
    val raw = IvfIndex.loadIndex(spark, path)._1
    assert(raw.filter(col("vec_id") % 3 === 0).count() === 0L, "purge incomplete")
    assert(!new java.io.File(s"$path/_tombstones").exists())
    assert(exhaustiveLive() === preFold, "compaction changed the answer")
    // delete EVERY row of one list: its directory is dropped at fold
    val c0 = raw.groupBy("cluster").count().orderBy(col("count").asc)
      .head().getInt(0)
    val inC0 = raw.filter(col("cluster") === c0).select("vec_id")
      .collect().map(_.getLong(0))
    assert(inC0.nonEmpty)
    IvfIndex.deleteFromIndex(inC0.toSeq.toDF("vec_id"), "vec_id", path)
    IvfIndex.compactLists(spark, path, "vec_id")
    assert(!new java.io.File(s"${IvfIndex.listsDir(spark, path)}/cluster=$c0").exists(),
      "emptied inverted list's directory survived the fold")
    val live2 = live1.filter(!col("vec_id").isin(inC0.toSeq: _*))
    assert(exhaustiveLive() === brute(live2))
    // re-add a retracted vector AFTER the fold: findable again (the
    // documented tombstones-mask-by-id constraint, reconciled)
    IvfIndex.appendToIndex(
      Seq((0L, base.head._2.clone)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val clone = Seq((999L, base.head._2.clone)).toDF("vec_id", "embedding")
    val (a2, c2) = IvfIndex.loadLive(spark, path, "vec_id")
    val hit = IvfIndex.searchTopK(a2, c2, clone, "vec_id", "embedding",
        k = 1, nProbes = c2.count().toInt)
      .select("neighbor_id").as[Long].collect()
    assert(hit.headOption.contains(0L), s"re-added vector not findable: ${hit.toSeq}")
  }

  test("ivf rebuild over a rebalanced path resets generations (stale centroids purged)") {
    import graft.operators.{IvfIndex, SimilaritySearch}
    // first life: skewed corpus forces a rebalance → generation 1
    val rnd = new scala.util.Random(11)
    val hotRegion = (0L until 80L).map { i =>
      (i, Array.fill(16)(5.0f + (rnd.nextFloat() - 0.5f) * 0.2f)) }
    val scattered = (80L until 100L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4f - 2f)) }
    val df1 = (hotRegion ++ scattered).toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_rebuild_test")
    IvfIndex.buildIndex(df1, "vec_id", "embedding", nCentroids = 4, path = path)
    assert(IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
      maxListFactor = 1.5).nonEmpty)
    assert(IvfIndex.liveCentroidGen(spark, path) === 1)
    // second life: rebuild IN PLACE on a different corpus — the
    // rebuild-cadence flow for centroid drift. Stale generation
    // markers/dirs must not survive, or searches plan against
    // centroids whose cluster ids don't match the fresh layout.
    val df2 = (200L until 260L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(16)(r.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    IvfIndex.buildIndex(df2, "vec_id", "embedding", nCentroids = 4, path = path)
    assert(IvfIndex.liveCentroidGen(spark, path) === 0,
      "rebuild inherited a stale centroid generation")
    assert(!new java.io.File(s"$path/centroids_g1").exists())
    val (a, c) = IvfIndex.loadIndex(spark, path)
    assert(a.count() === 60L, "rebuild inherited rows from the first life")
    val probes = df2.limit(3)
    val got = IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
        k = 3, nProbes = 4)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val exact = SimilaritySearch.bruteForceTopK(df2, probes,
        "vec_id", "embedding", k = 3)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === exact, "post-rebuild search diverged from brute force")
    // nothing in the fresh build is vacuum-bait
    assert(IvfIndex.vacuumIndex(spark, path, olderThanMs = 0L).isEmpty,
      "fresh rebuild left unreferenced lists behind")
  }

  test("ivf delete keyed by non-numeric ids; incompatible ids fail loudly") {
    import graft.operators.IvfIndex
    val base = (0 until 40).map { i =>
      val rnd = new scala.util.Random(i)
      (s"doc-$i", Array.fill(8)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("doc_id", "embedding")
    val path = Tables.scratch("ivf_strid_test")
    IvfIndex.buildIndex(df, "doc_id", "embedding", nCentroids = 2, path = path)
    // a string-keyed index's tombstones must join in the string domain
    // — the old cast("long") made this erasure a silent no-op
    IvfIndex.deleteFromIndex(
      Seq("doc-0", "doc-1", "doc-2").toDF("doc_id"), "doc_id", path)
    assert(IvfIndex.listSizes(spark, path, "doc_id").map(_._2).sum === 37L,
      "string-id deletion was a no-op")
    IvfIndex.compactLists(spark, path, "doc_id")
    assert(IvfIndex.loadIndex(spark, path)._1
      .filter(col("doc_id").isin("doc-0", "doc-1", "doc-2")).count() === 0L)
    // a LONG-keyed index handed non-numeric ids must throw, not no-op
    val base2 = (0L until 10L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }
    val path2 = Tables.scratch("ivf_strid_test2")
    IvfIndex.buildIndex(base2.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 2, path = path2)
    intercept[IllegalArgumentException] {
      IvfIndex.deleteFromIndex(Seq("not-a-number").toDF("vec_id"),
        "vec_id", path2)
    }
  }

  test("ivf erasure survives rebalance: compaction physically purges retired lists") {
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(23)
    val hotRegion = (0L until 80L).map { i =>
      (i, Array.fill(16)(5.0f + (rnd.nextFloat() - 0.5f) * 0.2f)) }
    val scattered = (80L until 100L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4f - 2f)) }
    val df = (hotRegion ++ scattered).toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_erasure_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    // rebalance moves the hot rows into fresh lists but leaves the
    // RETIRED lists on disk (in-flight-reader spares) still holding
    // physical copies of every hot row
    assert(IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
      maxListFactor = 1.5).nonEmpty)
    // erase ids that lived in the retired lists, then fold
    val doomed = Seq(0L, 1L, 2L)
    IvfIndex.deleteFromIndex(doomed.toDF("vec_id"), "vec_id", path)
    IvfIndex.compactLists(spark, path, "vec_id")
    // the erasure claim is PHYSICAL: a raw read over every file of the
    // live list generation — committed, retired, or orphaned — must
    // show no residue (the q_forget audit discipline; masked is not
    // enough)
    val residue = spark.read.parquet(IvfIndex.listsDir(spark, path))
      .filter(col("vec_id").isin(doomed: _*)).count()
    assert(residue === 0L,
      s"$residue deleted row(s) physically persist in on-disk lists")
    assert(!new java.io.File(s"$path/_tombstones").exists())
    // and the fold didn't disturb the live answer set
    assert(IvfIndex.listSizes(spark, path, "vec_id").map(_._2).sum === 97L)
  }

  test("ivf shard merge: exhaustive search over merged equals brute force over union; overlap rejected; deletes fold") {
    import graft.operators.{IvfIndex, SimilaritySearch}
    val base = (0L until 80L).map { i =>
      val rnd = new scala.util.Random(i + 300)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding")
    val a = Tables.scratch("ivf_shmerge_a")
    val b = Tables.scratch("ivf_shmerge_b")
    val dst = Tables.scratch("ivf_shmerge_dst")
    IvfIndex.buildIndex(df.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", nCentroids = 4, path = a)
    IvfIndex.buildIndex(df.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", nCentroids = 4, path = b)
    // a pending delete in the secondary shard must fold during merge
    IvfIndex.deleteFromIndex(Seq(1L).toDF("vec_id"), "vec_id", b)
    IvfIndex.mergeIndexes(spark, a, b, dst, "vec_id", "embedding")
    val (assigned, centroids) = IvfIndex.loadIndex(spark, dst)
    assert(assigned.count() === 79L, "merged row count wrong")
    assert(assigned.filter(col("vec_id") === 1L).count() === 0L,
      "shard tombstone did not fold into the merge")
    val probes = df.filter(col("vec_id") < 3)
    val got = IvfIndex.searchTopK(assigned, centroids, probes,
        "vec_id", "embedding", k = 5, nProbes = centroids.count().toInt)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val exact = SimilaritySearch.bruteForceTopK(
        df.filter(col("vec_id") =!= 1L), probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === exact, "merged exhaustive search diverged from brute force")
    // partition layout survives the merge (pruned searches still work)
    assert(new java.io.File(s"$dst/assigned").listFiles
      .count(_.getName.startsWith("cluster=")) === 4)
    intercept[IllegalArgumentException] {
      IvfIndex.mergeIndexes(spark, a, a,
        Tables.scratch("ivf_shmerge_bad"), "vec_id", "embedding")
    }
    // dst aliasing a source would clear the shard before the (lazy)
    // source reads run — rejected up front, shard left intact
    intercept[IllegalArgumentException] {
      IvfIndex.mergeIndexes(spark, a, b, a, "vec_id", "embedding")
    }
    assert(IvfIndex.loadIndex(spark, a)._1.count() === 40L,
      "rejected merge must leave the aliased source untouched")
  }

  test("ivf shard merge of a rebalanced-but-not-vacuumed shard carries no duplicate rows") {
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(77)
    // shard A: hot region so rebalance splits a list; retired lists
    // stay on disk (no vacuum) still holding copies of the moved rows
    val hotA = (0L until 60L).map { i =>
      (i, Array.fill(16)(5.0f + (rnd.nextFloat() - 0.5f) * 0.2f)) }
    val coldA = (60L until 80L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4f - 2f)) }
    val b = (100L until 130L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4f - 2f)) }
    val aPath = Tables.scratch("ivf_rebmerge_a")
    val bPath = Tables.scratch("ivf_rebmerge_b")
    val dst = Tables.scratch("ivf_rebmerge_dst")
    IvfIndex.buildIndex((hotA ++ coldA).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = aPath)
    assert(IvfIndex.rebalanceIndex(spark, aPath, "vec_id", "embedding",
      maxListFactor = 1.5).nonEmpty, "test needs a genuinely split shard")
    IvfIndex.buildIndex(b.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 2, path = bPath)
    IvfIndex.mergeIndexes(spark, aPath, bPath, dst, "vec_id", "embedding")
    val (assigned, centroids) = IvfIndex.loadIndex(spark, dst)
    // exactly one physical row per live id: the retired lists' copies
    // of the moved rows must NOT ride into the merge
    assert(assigned.count() === 110L, "merged row count includes retired-list copies")
    assert(assigned.groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L,
      "duplicate rows in the merged index (retired-list residue)")
    // and no retired cluster id resurfaces as an unreferenced dst list
    val liveClusters = centroids.select("centroid_id")
      .collect().map(_.getInt(0)).toSet
    val dataClusters = assigned.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(dataClusters.subsetOf(liveClusters),
      s"merged index holds lists no centroid references: ${dataClusters -- liveClusters}")
  }

  test("ivf maintenance is single-writer: held intent blocks every mutating verb; a killed append publishes nothing") {
    import graft.operators.{IvfIndex, MaintenanceLock}
    val base = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i + 4000)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val path = Tables.scratch("ivf_lock_drill")
    IvfIndex.buildIndex(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    // tombstones BEFORE the hold, so compactLists reaches its lock
    IvfIndex.deleteFromIndex(Seq(0L, 1L).toDF("vec_id"), "vec_id", path)
    val token = MaintenanceLock.acquire(spark, path)
    try {
      def newRows(from: Long) = (from until from + 5L).map { i =>
        val rnd = new scala.util.Random(i)
        (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
      }.toDF("vec_id", "embedding")
      intercept[IllegalStateException] {
        IvfIndex.appendToIndex(newRows(900L), "vec_id", "embedding", path) }
      intercept[IllegalStateException] {
        IvfIndex.deleteFromIndex(Seq(2L).toDF("vec_id"), "vec_id", path) }
      intercept[IllegalStateException] {
        IvfIndex.compactLists(spark, path, "vec_id") }
      intercept[IllegalStateException] {
        IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding") }
      intercept[IllegalStateException] {
        IvfIndex.vacuumIndex(spark, path, olderThanMs = 0L) }
      // a REBUILD is a maintenance verb too: it must serialize through
      // the same intent, not evict the holder's marker as stale state
      intercept[IllegalStateException] {
        IvfIndex.buildIndex(base.toDF("vec_id", "embedding"),
          "vec_id", "embedding", nCentroids = 4, path = path) }
      assert(MaintenanceLock.isHeld(spark, path, token),
        "a blocked rebuild evicted the holder's writer intent")
      // nothing moved while blocked
      assert(IvfIndex.maxCommittedSeq(spark, path) === 0L)
      assert(IvfIndex.loadLive(spark, path, "vec_id")._1.count() === 58L)
    } finally MaintenanceLock.release(spark, path, token)
    // released: the same verbs proceed
    IvfIndex.compactLists(spark, path, "vec_id")
    assert(IvfIndex.loadIndex(spark, path)._1.count() === 58L)
    // killed mid-append: poison one batch row — the write job dies,
    // the seq is never committed, the reader sees the old state
    val poisoned = (700L until 720L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", when(col("vec_id") === 707L,
        raise_error(lit("injected ivf append failure")).cast("array<float>"))
        .otherwise(col("embedding")))
    val thrown = intercept[Throwable] {
      IvfIndex.appendToIndex(poisoned, "vec_id", "embedding", path)
    }
    assert(Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null).take(8)
      .exists(c => Option(c.getMessage)
        .exists(_.contains("injected ivf append failure"))))
    assert(IvfIndex.maxCommittedSeq(spark, path) === 0L,
      "killed append must not commit its seq")
    assert(IvfIndex.loadLive(spark, path, "vec_id")._1.count() === 58L,
      "killed append leaked rows into the live view")
    // the intent released on the failure path; a clean retry lands at
    // a FRESH seq past the orphan reservation and is fully visible
    IvfIndex.appendToIndex((700L until 720L).map { i =>
      val rnd = new scala.util.Random(i + 1)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    val live = IvfIndex.loadLive(spark, path, "vec_id")._1
    assert(live.count() === 78L)
    assert(live.groupBy("vec_id").count().filter(col("count") > 1).count() === 0L,
      "retry after killed append duplicated rows")
  }

  test("streaming dedup ingest: a micro-batch killed between its two writes converges on retry (own-partition overwrite)") {
    // q_stream_dedup_ingest's foreachBatch claim, failure-injected:
    // each batch makes TWO dynamic-partition overwrites of ITS OWN
    // ingest partition (signatures, then the pair report). Kill the
    // batch after the first write commits — the worst crash point,
    // since a retry must REPLACE the durable signatures rather than
    // duplicate them — then re-run the same batch id and assert the
    // converged state equals a never-failed run.
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents")
    val idxPath = Tables.scratch("stream_dedup_kill_idx")
    val pairsPath = Tables.scratch("stream_dedup_kill_pairs")
    val boot = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.signatureIndex(boot, "doc_id", "text", shingleSize = 2)
      .withColumn("ingest", lit(0L))
      .write.mode("overwrite").partitionBy("ingest").parquet(idxPath)
    // the verb's foreachBatch body, with an injectable kill point
    // between the two writes
    def body(b: org.apache.spark.sql.DataFrame, seq: Long,
        killBeforePairs: Boolean): Unit = {
      Dedup.signatureIndex(b, "doc_id", "text", shingleSize = 2)
        .withColumn("ingest", lit(seq))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest").parquet(idxPath)
      if (killBeforePairs)
        throw new RuntimeException("injected mid-batch kill")
      val idx = spark.read.parquet(idxPath)
      Dedup.incrementalNearDups(
          idx.filter(col("ingest") < seq).drop("ingest"),
          idx.filter(col("ingest") === seq).drop("ingest"),
          threshold = 0.8)
        .withColumn("ingest", lit(seq))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest").parquet(pairsPath)
    }
    val killed = intercept[RuntimeException] { body(batch, 1L, true) }
    assert(killed.getMessage.contains("injected mid-batch kill"))
    // the crash left the batch's signatures durable (the half-done
    // state the at-least-once retry walks into) and no pair report
    val sigCount = Dedup.signatureIndex(batch, "doc_id", "text",
      shingleSize = 2).count()
    assert(spark.read.parquet(idxPath).filter(col("ingest") === 1L).count()
      === sigCount)
    assert(!new java.io.File(pairsPath).exists())
    // the retry (same batch id → same partition) converges
    body(batch, 1L, false)
    val afterSigs = spark.read.parquet(idxPath).filter(col("ingest") === 1L)
    assert(afterSigs.count() === sigCount,
      "retry duplicated the killed batch's signatures")
    assert(afterSigs.groupBy("doc").count().filter(col("count") > 1).count() === 0L)
    // and the pair report equals the never-failed one-shot computation
    val got = spark.read.parquet(pairsPath)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).sorted.toSeq
    val oneShot = Dedup.incrementalNearDups(
        Dedup.signatureIndex(boot, "doc_id", "text", shingleSize = 2),
        Dedup.signatureIndex(batch, "doc_id", "text", shingleSize = 2),
        threshold = 0.8)
      .collect().map(r => (r.getLong(r.fieldIndex("doc_a")),
        r.getLong(r.fieldIndex("doc_b")),
        math.round(r.getDouble(r.fieldIndex("jaccard")) * 1e6))).sorted.toSeq
    assert(got === oneShot,
      "retried batch's pair report diverged from the one-shot run")
  }

  test("ivf append racing compactLists: loser fails loudly, end state exact under any interleaving") {
    import graft.operators.IvfIndex
    val base = (0L until 80L).map { i =>
      val rnd = new scala.util.Random(i + 5000)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val path = Tables.scratch("ivf_race_compact")
    IvfIndex.buildIndex(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    IvfIndex.deleteFromIndex(
      (0L until 8L).toDF("vec_id"), "vec_id", path)
    val batch = (600L until 700L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Option[Throwable]]()
    val tA = new Thread(() => {
      barrier.await()
      outcomes.put("append",
        try { IvfIndex.appendToIndex(batch, "vec_id", "embedding", path); None }
        catch { case e: Throwable => Some(e) })
    })
    val tC = new Thread(() => {
      barrier.await()
      outcomes.put("compact",
        try { IvfIndex.compactLists(spark, path, "vec_id"); None }
        catch { case e: Throwable => Some(e) })
    })
    tA.start(); tC.start(); tA.join(); tC.join()
    outcomes.forEach { (name, res) =>
      res.foreach { e =>
        assert(e.isInstanceOf[IllegalStateException],
          s"$name failed with unexpected ${e.getClass}: ${e.getMessage}")
      }
    }
    // losers re-run sequentially; the end state must be exact
    if (outcomes.get("append").nonEmpty)
      IvfIndex.appendToIndex(batch, "vec_id", "embedding", path)
    if (outcomes.get("compact").nonEmpty)
      IvfIndex.compactLists(spark, path, "vec_id")
    val live = IvfIndex.loadLive(spark, path, "vec_id")._1
    assert(live.count() === 172L, "72 surviving base + 100 appended")
    assert(live.filter(col("vec_id") < 8).count() === 0L,
      "deleted ids resurrected across the race")
    assert(live.groupBy("vec_id").count().filter(col("count") > 1).count() === 0L,
      "race produced duplicate rows")
  }

  test("ivf append racing rebalanceIndex: loser fails loudly; no appended row is silently lost to a retired list") {
    // the nastiest pre-lock interleaving: an append lands rows in a
    // hot list WHILE rebalance is splitting it — after the centroid-
    // generation commit the hot list is retired and the appended rows
    // become invisible (silent data loss, reclaimed by vacuum). The
    // single-writer intent makes one side fail loudly instead; re-run
    // the loser and assert every appended id is live and searchable.
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(91)
    val hot = (0L until 80L).map { i =>
      (i, Array.fill(16)(5.0f + (rnd.nextFloat() - 0.5f) * 0.2f)) }
    val cold = (80L until 100L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() * 4f - 2f)) }
    val path = Tables.scratch("ivf_race_rebal")
    IvfIndex.buildIndex((hot ++ cold).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    // batch lands IN the hot region, so pre-lock it would have been
    // assigned to exactly the list rebalance retires
    val batch = (500L until 540L).map { i =>
      (i, Array.fill(16)(5.0f + (new scala.util.Random(i).nextFloat() - 0.5f) * 0.2f))
    }.toDF("vec_id", "embedding")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentHashMap[String, Option[Throwable]]()
    val tA = new Thread(() => {
      barrier.await()
      outcomes.put("append",
        try { IvfIndex.appendToIndex(batch, "vec_id", "embedding", path); None }
        catch { case e: Throwable => Some(e) })
    })
    val tR = new Thread(() => {
      barrier.await()
      outcomes.put("rebalance",
        try { IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
          maxListFactor = 1.5); None }
        catch { case e: Throwable => Some(e) })
    })
    tA.start(); tR.start(); tA.join(); tR.join()
    outcomes.forEach { (name, res) =>
      res.foreach { e =>
        assert(e.isInstanceOf[IllegalStateException],
          s"$name failed with unexpected ${e.getClass}: ${e.getMessage}")
      }
    }
    if (outcomes.get("append").nonEmpty)
      IvfIndex.appendToIndex(batch, "vec_id", "embedding", path)
    if (outcomes.get("rebalance").nonEmpty)
      IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
        maxListFactor = 1.5)
    // every appended row must be LIVE — in a list the live centroid
    // set references — and exactly once
    val (assigned, centroids) = IvfIndex.loadIndex(spark, path)
    val liveIds = centroids.select("centroid_id")
      .collect().map(_.getInt(0)).toSeq
    val liveBatch = assigned
      .filter(col("cluster").isin(liveIds: _*))
      .filter(col("vec_id") >= 500L)
    assert(liveBatch.count() === 40L,
      "appended rows lost to a retired list across the race")
    assert(liveBatch.groupBy("vec_id").count()
      .filter(col("count") > 1).count() === 0L)
    // and exhaustive search actually RETURNS them: probe with one
    // batch vector, expect batch neighbors in its top-k
    val probes = batch.filter(col("vec_id") === 500L)
    val got = IvfIndex.searchTopK(assigned, centroids, probes,
        "vec_id", "embedding", k = 5, nProbes = liveIds.size)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.forall(id => id != 500L),
      "search over the post-race index returned nothing sane")
  }

  test("truncated (matryoshka) rerank: full-coverage candidates equal brute force; coarse pass genuinely truncates") {
    import graft.operators.SimilaritySearch
    val base = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i + 900)
      (i, Array.fill(32)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding")
    val probes = df.filter(col("vec_id") < 5)
    // nCandidates >= corpus: the coarse cut cannot drop the true top-k,
    // so the two-stage answer must be EXACTLY brute force
    val got = SimilaritySearch.truncatedRerankTopK(df, probes,
        "vec_id", "embedding", k = 3, nCandidates = 60, coarseDims = 8)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val exact = SimilaritySearch.bruteForceTopK(df, probes,
        "vec_id", "embedding", k = 3)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === exact)
    // a zero prefix drops the vector from stage 1 (truncated cosine
    // undefined) even though its full vector is nonzero
    val withZeroPrefix = base :+ (99L,
      Array.fill(8)(0.0f) ++ Array.fill(24)(0.5f))
    val got2 = SimilaritySearch.truncatedRerankTopK(
        withZeroPrefix.toDF("vec_id", "embedding"), probes,
        "vec_id", "embedding", k = 3, nCandidates = 61, coarseDims = 8)
      .filter(col("neighbor_id") === 99L).count()
    assert(got2 === 0L, "zero-prefix vector survived the truncated stage")
  }

  test("ivf seq-scoped tombstones: update needs no compaction; crashed append invisible and rerun-safe") {
    import graft.operators.{IvfIndex, SimilaritySearch}
    val base = (0L until 40L).map { i =>
      val rnd = new scala.util.Random(i + 1000)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_seq_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val probes = df.filter(col("vec_id") >= 37L)
    def exhaustiveLive(): Seq[(Long, Int, Long)] = {
      val (a, c) = IvfIndex.loadLive(spark, path, "vec_id")
      IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
          k = 5, nProbes = c.count().toInt)
        .select("probe_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    }
    def brute(remaining: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      SimilaritySearch.bruteForceTopK(remaining, probes, "vec_id", "embedding", k = 5)
        .select("probe_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    // UPDATE vector 5 — retract, then re-ingest replacement text, with
    // NO compaction anywhere in the protocol: the re-ingested rows
    // carry a seq above the tombstone's and pass the mask
    val rnd5 = new scala.util.Random(9999)
    val newVec = Array.fill(16)(rnd5.nextFloat() - 0.5f)
    IvfIndex.deleteFromIndex(Seq(5L).toDF("vec_id"), "vec_id", path)
    IvfIndex.appendToIndex(Seq((5L, newVec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val live1 = df.filter(col("vec_id") =!= 5L)
      .unionByName(Seq((5L, newVec)).toDF("vec_id", "embedding"))
    assert(exhaustiveLive() === brute(live1),
      "update (retract + re-ingest, no compaction) diverged")
    // crashed append drill: append, then rewind its manifest commit —
    // the batch must vanish, and the re-run must publish exactly one
    // visible copy
    val v100 = Array.fill(16)(0.33f)
    IvfIndex.appendToIndex(Seq((100L, v100)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val m = IvfIndex.maxCommittedSeq(spark, path)
    rewindManifest(path)
    assert(IvfIndex.maxCommittedSeq(spark, path) < m)
    assert(exhaustiveLive() === brute(live1),
      "uncommitted append batch became visible")
    IvfIndex.appendToIndex(Seq((100L, v100)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val live2 = live1.unionByName(Seq((100L, v100)).toDF("vec_id", "embedding"))
    assert(exhaustiveLive() === brute(live2), "re-run append diverged")
    val copies = IvfIndex.loadIndex(spark, path)._1
      .filter(col("vec_id") === 100L).count()
    assert(copies === 1L, s"re-run published $copies visible copies")
    // compaction folds everything and the answer is unchanged
    IvfIndex.compactLists(spark, path, "vec_id")
    assert(exhaustiveLive() === brute(live2), "post-compaction diverged")
    assert(IvfIndex.loadIndex(spark, path)._1
      .filter(col("vec_id") === 5L).count() === 1L)
  }

  test("streaming dedup index: a batch's old-side read is pruned to prior ingest partitions") {
    import graft.operators.{DataSkipping, Dedup}
    val docs = (0L until 40L).map(i => (i, s"alpha beta gamma delta epsilon doc$i"))
      .toDF("doc_id", "text")
    val path = Tables.scratch("stream_dedup_prune_test")
    // three ingest generations, the q_stream_dedup_ingest layout
    Seq(0L, 1L, 2L).foreach { g =>
      Dedup.signatureIndex(docs.filter(col("doc_id") % 3 === g),
          "doc_id", "text", shingleSize = 2)
        .withColumn("ingest", lit(g))
        .write.mode(if (g == 0) "overwrite" else "append")
        .partitionBy("ingest").parquet(path)
    }
    val idx = spark.read.parquet(path)
    def files(pred: org.apache.spark.sql.Column): Long =
      DataSkipping.scannedFiles(idx.filter(pred))
    val all = files(lit(true))
    val old = files(col("ingest") < 2)
    assert(old < all, "ingest partition filter did not prune the old-side scan")
    assert(files(col("ingest") === 2) < old,
      "single-generation read not pruned below the old side")
  }

  test("salted join equals plain join") {
    import graft.operators.Partitioning
    val large = Tables(spark, sf, "lineitem")
      .select(col("l_suppkey").as("skey"), col("l_extendedprice").as("price"))
    val small = Tables(spark, sf, "supplier")
      .select(col("s_suppkey").as("skey"), col("s_name"))
    val salted = Partitioning.saltedJoin(large, small, "skey", 4)
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    val plain = large.join(small, "skey")
      .groupBy("s_name").agg(count(lit(1)).as("n"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("brute force topk matches manual ranking") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") === 0L)
    val got = SimilaritySearch.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("TopKByScore: a NaN score never blocks admissions and ranks like Spark's NaN-greatest") {
    // cosine of a zero-norm vector yields NaN; with `<` as the heap
    // order NaN at the root is incomparable both ways and freezes the
    // heap for its whole group. The total order (Double.compare) must
    // keep admitting and must rank NaN where Spark's window sort would
    // (NaN above every real score, id tiebreak).
    val topk = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.TopKByScore(2))
    // NaN arrives FIRST so it sits at the root when the real scores stream in
    val rows = Seq((1L, 10L, Double.NaN), (1L, 11L, 0.9), (1L, 12L, 0.8),
      (1L, 13L, 0.7)).toDF("probe_id", "neighbor_id", "score")
      .coalesce(1) // one partition: deterministic arrival order
    val got = rows.groupBy("probe_id")
      .agg(topk(col("neighbor_id"), col("score")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("pos"), col("hit.id"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    // Spark's desc sort ranks NaN first, then 0.9
    assert(got === Seq((0, 10L), (1, 11L)),
      s"NaN blocked or misranked the heap: $got")
    // and with k below the NaN count the real scores still win slots
    val topk1 = org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.TopKByScore(3))
    val many = Seq((1L, 20L, Double.NaN), (1L, 21L, 0.5), (1L, 22L, 0.6),
      (1L, 23L, 0.4)).toDF("probe_id", "neighbor_id", "score").coalesce(1)
    val got3 = many.groupBy("probe_id")
      .agg(topk1(col("neighbor_id"), col("score")).as("hits"))
      .select(posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("hit.id")).as[Long].collect().toSet
    assert(got3 === Set(20L, 22L, 21L), s"admissions after NaN lost: $got3")
  }

  test("ann and re-rank cuts are heap aggregates: no Window in the plan") {
    // the row_number-window cut puts a probe's ENTIRE scored corpus in
    // one task's sort at scale; both candidate cuts must plan as
    // partial-aggregating TopKByScore heaps instead
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 5)
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    val ann = SimilaritySearch.lshTopK(emb, probes, "vec_id", "embedding",
      k = 3, nBits = 5, nTables = 8)
    assert(windows(ann).isEmpty, "lshTopK still plans a Window cut")
    assert(ann.count() > 0)
    // the exact baseline shares the heap cut too — and a one-off
    // window formulation (row_number over the scored join) is the
    // cross-check that the heap keeps exactly the window's rows
    val bf = SimilaritySearch.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5)
    assert(windows(bf).isEmpty, "bruteForceTopK still plans a Window cut")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    val windowed = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .join(broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"))),
        col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.functions.VectorExpressions.cosine_sim(col("pv"), col("nv")))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 5)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val heap = bf.select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(heap === windowed, "heap cut diverged from the window formulation")
    val rr = SimilaritySearch.quantizedRerankTopK(emb, probes, "vec_id",
      "embedding", k = 3, nCandidates = 20)
    assert(windows(rr).isEmpty, "quantizedRerankTopK still plans a Window cut")
    assert(rr.count() > 0)
    // IVF: the candidate re-rank must be heap-cut too; the ONE allowed
    // window is the centroid pick, whose per-probe partition is
    // nCentroids rows — parameter-sized, never data-scaled
    val ivf = graft.operators.IvfIndex.topK(emb, probes, "vec_id", "embedding",
      k = 3, nCentroids = 4, nProbes = 2)
    assert(windows(ivf).size <= 1, "IVF re-rank still plans a Window cut")
    assert(ivf.count() > 0)
  }

  test("quantized re-rank: high recall vs exact top-k, zero vectors excluded") {
    val emb = Tables(spark, sf, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rr = SimilaritySearch.quantizedRerankTopK(emb, probes, "vec_id", "embedding",
      k = 5, nCandidates = 50)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rr.size === exact.size)
    // int8 coarse + 10x candidate headroom: the stage-2 exact re-rank
    // should recover nearly all true neighbors
    val recall = rr.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall below 0.9")

    // a zero vector can be neither probe nor neighbor (cosine undefined)
    val withZero = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((9999L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding"))
    val got = SimilaritySearch.quantizedRerankTopK(
      withZero, withZero.filter(col("vec_id").isin(0L, 9999L)),
      "vec_id", "embedding", k = 3, nCandidates = 10)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty)
    assert(!got.exists { case (p, n) => p == 9999L || n == 9999L })
  }

  test("cross jaccard join: complete vs brute force, cross-side only, ids may collide") {
    import graft.operators.Dedup.{shingles, tokens}
    // train 1-4, bench 100-101; 1↔100 near-dup (cross hit), 1↔2 exact
    // dup WITHIN train (must never surface), 3 unrelated
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated content about something else entirely here"),
      (4L, "alpha beta gamma delta epsilon zeta eta iota")
    ).toDF("doc_id", "text").select(col("doc_id"),
      shingles(tokens(col("text")), 2).as("grams"))
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "different benchmark text with no overlap at all whatsoever")
    ).toDF("doc_id", "text").select(col("doc_id"),
      shingles(tokens(col("text")), 2).as("grams"))
    val got = Dedup.crossJaccardJoin(train, bench, "doc_id", "grams", 0.7)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute-force reference over the cross product
    val tg = train.select(col("doc_id"), array_distinct(col("grams")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val bg = bench.select(col("doc_id"), array_distinct(col("grams")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val want = (for {
      (a, ga) <- tg; (b, gb) <- bg
      j = ga.intersect(gb).size.toDouble / ga.union(gb).size
      if j >= 0.7
    } yield (a, b, j)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.exists(_._1 == 1L)) // the planted cross hit is real
    assert(!got.exists(p => p._1 == 2L && p._2 == 1L)) // no within-side pair
    // id collision across relations: bench doc with a TRAIN id must
    // still join as a bench-side doc, not alias the train doc
    val benchClash = bench.withColumn("doc_id",
      when(col("doc_id") === 100L, lit(3L)).otherwise(col("doc_id")))
    val clash = Dedup.crossJaccardJoin(train, benchClash, "doc_id", "grams", 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clash.contains((1L, 3L)) && clash.contains((2L, 3L)) &&
      clash.contains((4L, 3L)), s"clash pairs: $clash")
  }

  test("contamination index: frozen-order batch checks equal the one-shot cross join") {
    import graft.operators.Dedup.{shingles, tokens}
    val mk = (rows: Seq[(Long, String)]) => rows.toDF("doc_id", "text")
      .select(col("doc_id"), shingles(tokens(col("text")), 2).as("grams"))
    val bench = mk(Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"),
      (101L, "different benchmark text with no overlap at all whatsoever")))
    // batch 2's doc is ALL bench-unseen grams except the planted match
    // — exercises the coalesce(df, 0) leg of the frozen order
    val batch1 = mk(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated content about something else entirely here")))
    val batch2 = mk(Seq(
      (4L, "alpha beta gamma delta epsilon zeta eta iota"),
      (5L, "brand new tokens nowhere in the benchmark vocabulary whatsoever")))
    val idx = Tables.scratch("contamination_spec_idx")
    Dedup.buildContaminationIndex(bench, "doc_id", "grams", 0.7, idx)
    val got = Dedup.checkContamination(batch1, "doc_id", "grams", 0.7, idx)
      .unionByName(Dedup.checkContamination(batch2, "doc_id", "grams", 0.7, idx))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Dedup.crossJaccardJoin(
        batch1.unionByName(batch2), bench, "doc_id", "grams", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((1L, 100L, 1.0)))
    assert(want.exists(p => p._1 == 4L && p._2 == 100L)) // cross-batch hit
  }

  test("hybrid rrf fusion equals per-leg ranks fused in scala; ties break by doc id") {
    // 8 docs: ids 0-3 carry the query terms with DISTINCT lexical
    // strength (term repetitions); vectors put ids 4-7 nearest the
    // probe — so the legs overlap only partially and both exclusive
    // and shared members exist in the fused candidate set.
    val docs = (0L to 7L).map { i =>
      val lex = if (i <= 3) ("hash " * (4 - i).toInt) + "merge filler" else "plain filler text"
      (i, lex)
    }.toDF("doc_id", "text")
    val vecs = (0L to 7L).map { i =>
      // probe is id 0; ids 4-7 get vectors closest to it
      val x = if (i >= 4) 1.0f else 0.1f * i
      (i, Array(x, 1.0f - x, 0.3f))
    }.toDF("vec_id", "embedding")
    val tidx = Tables.scratch("hybrid_spec_tidx")
    val vidx = Tables.scratch("hybrid_spec_vidx")
    TextIndex.buildIndex(docs, "doc_id", "text", tidx)
    IvfIndex.buildIndex(vecs, "vec_id", "embedding", nCentroids = 2, path = vidx)
    val (assigned, centroids) = IvfIndex.loadIndex(spark, vidx)
    val probes = vecs.filter(col("vec_id") === 0L)
    val n = 4
    val got = HybridSearch.rrfTopK(spark, tidx, assigned, centroids, probes,
        Seq("hash", "merge"), "vec_id", "embedding", n = n, k = 8, nProbes = 2)
      .orderBy("rank")
      .select("doc_id", "rrf").as[(Long, Double)].collect().toSeq

    // scala-side reference: fuse the two legs' ranks independently
    val textRanks = TextIndex.bm25(spark, tidx, Seq("hash", "merge"), n)
      .orderBy(col("score").desc, col("doc_id"))
      .select("doc_id").as[Long].collect().toSeq.zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val vecRanks = SimilaritySearch.bruteForceTopK(vecs, probes,
        "vec_id", "embedding", k = n)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq.zipWithIndex
      .map { case (d, i) => d -> (i + 1) }.toMap
    val want = (textRanks.keySet ++ vecRanks.keySet).toSeq
      .map { d =>
        val c = textRanks.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
          vecRanks.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
        (d, c)
      }
      .sortBy { case (d, c) => (-c, d) }
    assert(got == want, s"got $got want $want")
    // both-leg members must outrank every single-leg member whose best
    // leg rank is no better
    assert(textRanks.keySet.intersect(vecRanks.keySet).isEmpty ||
      got.head._2 >= got.last._2)
    // a text-only doc and a vector-only doc at the SAME leg rank tie on
    // rrf and must order by ascending doc id
    val tied = want.groupBy(_._2).filter(_._2.size > 1).values.flatten.toSeq
    if (tied.nonEmpty) {
      val gotTied = got.filter(g => tied.exists(_._1 == g._1)).map(_._1)
      assert(gotTied == gotTied.sorted, s"tie order not by doc id: $gotTied")
    }
  }

  test("pinned hybrid fusion: rrfTopKAsOf equals the pin-time live ranking and survives mutation + maintenance on both indexes") {
    import graft.operators.IndexEpoch
    val docs = (0L to 7L).map { i =>
      val lex = if (i <= 3) ("hash " * (4 - i).toInt) + "merge filler"
                else "plain filler text"
      (i, lex)
    }.toDF("doc_id", "text")
    val vecs = (0L to 7L).map { i =>
      val x = if (i >= 4) 1.0f else 0.1f * i
      (i, Array(x, 1.0f - x, 0.3f))
    }.toDF("vec_id", "embedding")
    val tidx = Tables.scratch("hybrid_asof_spec_tidx")
    val vidx = Tables.scratch("hybrid_asof_spec_vidx")
    val root = Tables.scratch("hybrid_asof_spec_root")
    TextIndex.buildIndex(docs, "doc_id", "text", tidx)
    IvfIndex.buildIndex(vecs, "vec_id", "embedding", nCentroids = 2, path = vidx)
    val probes = vecs.filter(col("vec_id") === 0L)
    val tPin = TextIndex.exportManifest(spark, tidx)
    val vPin = IvfIndex.exportPin(spark, vidx)
    IndexEpoch.publish(spark, root, tPin, vPin)
    def pinned() = HybridSearch.rrfTopKAsOf(spark, tidx, vidx, probes,
        Seq("hash", "merge"), "vec_id", "embedding", n = 4, k = 8,
        nProbes = 2, tPin, vPin)
      .orderBy("rank").select("doc_id", "rrf").as[(Long, Double)]
      .collect().toSeq
    // at pin time the pinned read IS the live read
    val (assigned, centroids) = IvfIndex.loadIndex(spark, vidx)
    val live0 = HybridSearch.rrfTopK(spark, tidx, assigned, centroids,
        probes, Seq("hash", "merge"), "vec_id", "embedding",
        n = 4, k = 8, nProbes = 2)
      .orderBy("rank").select("doc_id", "rrf").as[(Long, Double)]
      .collect().toSeq
    val before = pinned()
    assert(before === live0, "pinned and live diverge at pin time")
    IndexEpoch.withRegisteredRoot(spark, root) {
      // mutate BOTH modalities: retract the strongest lexical doc,
      // retract a vector-leg member, append a stronger doc on each
      // side — then full layout maintenance under enforced retention
      TextIndex.deleteDocs(Seq(0L).toDF("doc_id"), "doc_id", tidx)
      TextIndex.appendDocs(
        Seq((50L, "hash hash hash hash hash merge")).toDF("doc_id", "text"),
        "doc_id", "text", tidx)
      IvfIndex.deleteFromIndex(Seq(7L).toDF("vec_id"), "vec_id", vidx)
      IvfIndex.appendToIndex(
        Seq((51L, Array(0.05f, 0.95f, 0.3f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", vidx)
      TextIndex.compactIndex(spark, tidx)
      TextIndex.compactIndex(spark, tidx) // 2nd: past the reader spare
      TextIndex.vacuumIndex(spark, tidx, olderThanMs = 0L)
      IvfIndex.compactLists(spark, vidx, "vec_id")
      IvfIndex.vacuumIndex(spark, vidx, olderThanMs = 0L)
      assert(pinned() === before,
        "pinned fused ranking moved under post-pin mutation + maintenance")
      // the drill is non-vacuous: the LIVE fused ranking did move
      val (a2, c2) = IvfIndex.loadLive(spark, vidx, "vec_id")
      val live2 = HybridSearch.rrfTopK(spark, tidx, a2, c2, probes,
          Seq("hash", "merge"), "vec_id", "embedding",
          n = 4, k = 8, nProbes = 2)
        .orderBy("rank").select("doc_id", "rrf").as[(Long, Double)]
        .collect().toSeq
      assert(live2 !== before, "mutation failed to change the live ranking")
    }
  }

  test("filtered ANN: label pre-filter exact over the eligible corpus; predicate pushed into the pruned scan") {
    import graft.operators.{IvfIndex, SimilaritySearch}
    val rnd = new scala.util.Random(11)
    val base = (0L until 120L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f), (i % 4).toInt)
    }
    val df = base.toDF("vec_id", "embedding", "label")
    val path = Tables.scratch("ivf_filter_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val (assigned, centroids) = IvfIndex.loadIndex(spark, path)
    val probes = df.filter(col("vec_id") < 3)
    // exhaustive probing + pre-filter == brute force over label==2 only
    val got = IvfIndex.searchTopK(assigned.filter(col("label") === 2),
        centroids, probes, "vec_id", "embedding", k = 5, nProbes = 4)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val want = SimilaritySearch.bruteForceTopK(
        df.filter(col("label") === 2), probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === want, "filtered search diverged from filtered brute force")
    // every neighbor is eligible (the pre-filter is load-bearing: a
    // post-filtered top-k would return ineligible rows or short lists)
    assert(got.size === 15) // 3 probes x k=5 — k survives the filter
    // the label predicate reaches the parquet scan as a pushed filter
    val q = IvfIndex.searchTopK(assigned.filter(col("label") === 2),
      centroids, probes, "vec_id", "embedding", k = 5, nProbes = 2)
    q.collect()
    val scans = q.queryExecution.executedPlan.toString()
    assert(scans.contains("PushedFilters") && scans.contains("label"),
      "label predicate not pushed into the index scan")
  }

  test("radius search: exhaustive probing equals the brute-force threshold join; partial probes are a subset") {
    import graft.operators.IvfIndex
    import graft.functions.VectorExpressions.cosine_sim
    val rnd = new scala.util.Random(13)
    val base = (0L until 100L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_radius_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val (assigned, centroids) = IvfIndex.loadIndex(spark, path)
    val probes = df.filter(col("vec_id") < 5)
    val tau = 0.25
    def pairs(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.select("probe_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exhaustive = pairs(IvfIndex.searchRadius(assigned, centroids, probes,
      "vec_id", "embedding", minCos = tau, nProbes = 4))
    val brute = pairs(probes.select(col("vec_id").as("probe_id"),
        col("embedding").as("pv"))
      .crossJoin(df.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .filter(cosine_sim(col("pv"), col("nv")) >= tau)
      .select(col("probe_id"), col("neighbor_id")))
    assert(brute.nonEmpty, "fixture should produce pairs above the threshold")
    assert(exhaustive === brute, "exhaustive radius search diverged from brute force")
    // fewer probes can only shrink the result (candidate subset), and
    // everything returned still clears the threshold
    val partial = IvfIndex.searchRadius(assigned, centroids, probes,
      "vec_id", "embedding", minCos = tau, nProbes = 1)
    assert(pairs(partial).subsetOf(brute))
    assert(partial.select("cos").collect().forall(_.getDouble(0) >= tau))
  }

  test("knn join: exhaustive probing equals brute force; probe pairing is never broadcast") {
    import graft.operators.{IvfIndex, SimilaritySearch}
    val rnd = new scala.util.Random(17)
    val base = (0L until 150L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = base.toDF("vec_id", "embedding")
    val path = Tables.scratch("ivf_knn_test")
    IvfIndex.buildIndex(df, "vec_id", "embedding", nCentroids = 4, path = path)
    val (assigned, centroids) = IvfIndex.loadIndex(spark, path)
    val probes = df.filter(col("vec_id") % 3 === 0) // data-sized probe table
    val q = IvfIndex.knnJoin(assigned, centroids, probes,
      "vec_id", "embedding", k = 4, nProbes = 4)
    val got = q.select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val want = SimilaritySearch.bruteForceTopK(df, probes,
        "vec_id", "embedding", k = 4)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === want, "exhaustive knn join diverged from brute force")
    // the probe->list pairing joins by SHUFFLE, not broadcast: with
    // auto-broadcast off, no BroadcastHashJoin may remain — proving
    // the operator never HINTS a broadcast of the data-sized pairing
    // (searchTopK, by contrast, deliberately does)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q2 = IvfIndex.knnJoin(assigned, centroids, probes,
        "vec_id", "embedding", k = 4, nProbes = 4)
      q2.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
        case other => (other +: other.children.flatMap(allNodes)) ++
          other.subqueries.flatMap(allNodes)
      }
      val broadcasts = allNodes(q2.queryExecution.executedPlan).collect {
        case b: BroadcastHashJoinExec => b
      }
      assert(broadcasts.isEmpty,
        s"knn join hinted a broadcast: ${broadcasts.headOption}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivf full erasure: compacting an all-tombstoned index keeps the layout readable; append re-grows it") {
    import graft.operators.IvfIndex
    // the q_forget-everything path: every row tombstoned, then
    // compacted. The dynamic overwrite touches no partition and the
    // per-list deletes would leave assigned/ without a single parquet
    // file — the round-14 bug bricked every later read with "Unable
    // to infer schema". The fix keeps one empty-but-schema'd list.
    val rows = (0L until 40L).map { i =>
      val rnd = new scala.util.Random(i + 7000)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val path = Tables.scratch("ivf_forget_all")
    IvfIndex.buildIndex(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    IvfIndex.deleteFromIndex(rows.map(_._1).toDF("vec_id"), "vec_id", path)
    IvfIndex.compactLists(spark, path, "vec_id")
    // erasure is PHYSICAL: zero rows anywhere under assigned/, not
    // just masked rows
    assert(spark.read.parquet(IvfIndex.listsDir(spark, path)).count() === 0L,
      "full-erasure compaction left physical rows behind")
    // the erased index still reads and searches (zero results)
    val (assigned, centroids) = IvfIndex.loadLive(spark, path, "vec_id")
    assert(assigned.count() === 0L)
    val probes = Seq((999L, Array.fill(16)(0.1f))).toDF("vec_id", "embedding")
    assert(IvfIndex.searchTopK(assigned, centroids, probes,
      "vec_id", "embedding", 3, 2).count() === 0L)
    // the round-15 observability verbs serve the EMPTY index too:
    // the skew advisory reports zero rows / nothing to split
    val report = IvfIndex.skewReport(spark, path, "vec_id", 2.0).head()
    assert(report.getAs[Long]("total_live") === 0L &&
      !report.getAs[Boolean]("rebalance_advised"),
      s"skew advisory wrong on an erased index: $report")
    // the erasure verb itself still works (id-type resolution reads
    // the kept schema), and a fresh append re-grows the index
    IvfIndex.deleteFromIndex(Seq(1L).toDF("vec_id"), "vec_id", path)
    IvfIndex.appendToIndex(rows.take(10).toDF("vec_id", "embedding"),
      "vec_id", "embedding", path)
    val (live, cents2) = IvfIndex.loadLive(spark, path, "vec_id")
    assert(live.count() === 10L, "append after full erasure lost rows")
    assert(IvfIndex.searchTopK(live, cents2, probes,
      "vec_id", "embedding", 3, 2).count() === 3L)
  }

  test("centroid driver cache invalidates through every rewrite path; the size gate falls back to a plain scan") {
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(31)
    val hot = (0L until 60L).map { i =>
      (i, Array.fill(8)(3.0f + (rnd.nextFloat() - 0.5f) * 0.1f)) }
    val cold = (60L until 80L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 4f - 2f)) }
    val path = Tables.scratch("ivf_cache_inval")
    val probes = Seq((999L, hot.head._2)).toDF("vec_id", "embedding")
    def probedIds(): Seq[Int] = {
      val (_, c) = IvfIndex.loadLive(spark, path, "vec_id")
      IvfIndex.probedClusterIds(c, probes, "vec_id", "embedding", nProbes = 2)
    }
    def centroidCount(p: String): Long =
      IvfIndex.loadLive(spark, p, "vec_id")._2.count()
    IvfIndex.buildIndex((hot ++ cold).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    val gen0 = probedIds() // warms the driver cache for gen 0
    assert(gen0.nonEmpty && gen0.forall(_ < 4))
    // (1) rebalance gen commit: the hot list splits into FRESH ids ≥ 4
    // under a NEW generation directory — the next search must plan
    // against the committed generation, never the cached gen-0 table
    val split = IvfIndex.rebalanceIndex(spark, path, "vec_id", "embedding",
      maxListFactor = 1.5)
    assert(split.nonEmpty, "test needs a genuinely split index")
    val gen1 = probedIds()
    assert(gen1.exists(_ >= 4), s"stale cached centroids after rebalance: $gen1")
    assert(!gen1.exists(split.contains),
      s"search probed a retired centroid: $gen1 vs split $split")
    // (2) compaction folds tombstones without touching the centroid
    // table: the cache must keep serving the SAME set
    IvfIndex.deleteFromIndex(Seq(60L).toDF("vec_id"), "vec_id", path)
    IvfIndex.compactLists(spark, path, "vec_id")
    assert(probedIds() === gen1,
      "compaction disturbed the centroid set the cache serves")
    // (3) buildIndex overwrite: same path, fresh UUID part names →
    // fresh (name,length,mtime) signature → the 3-centroid rebuild is
    // served, not the cached rebalanced table
    IvfIndex.buildIndex((hot ++ cold).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 3, path = path)
    assert(centroidCount(path) === 3L,
      "stale centroid cache served after an in-place rebuild")
    assert(probedIds().forall(_ < 3))
    // (4) mergeIndexes rewrites the DST centroid table in place: a dst
    // reused across merges must serve the NEW primary's set
    val bRows = (200L until 220L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 4f - 2f)) }
    val bPath = Tables.scratch("ivf_cache_inval_b")
    val dst = Tables.scratch("ivf_cache_inval_dst")
    IvfIndex.buildIndex(bRows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 2, path = bPath)
    IvfIndex.mergeIndexes(spark, path, bPath, dst, "vec_id", "embedding")
    assert(centroidCount(dst) === 3L) // warms the dst cache (primary = path)
    IvfIndex.mergeIndexes(spark, bPath, path, dst, "vec_id", "embedding")
    assert(centroidCount(dst) === 2L,
      "stale centroid cache served after a dst re-merge")
    // (5) the size gate: past graft.ivf.centroidLiteralMaxFloats the
    // read falls back to a plain distributed scan (uncached) — results
    // must be identical to the cached path
    val cached = probedIds()
    spark.conf.set("graft.ivf.centroidLiteralMaxFloats", "1")
    try assert(probedIds() === cached,
      "gate fallback scan disagrees with the cached centroid table")
    finally spark.conf.unset("graft.ivf.centroidLiteralMaxFloats")
  }

  test("compaction racing a lease thief: aborts loudly or completes — the live view stays exact either way") {
    // end-to-end exercise of the round-15 assertHeld checkpoints: with
    // a zero lease every acquire steals, so a thief grabbing the
    // intent mid-compaction forces the verb to die at its next
    // ownership re-check (or to have already passed its destructive
    // tail). BOTH outcomes are legal; what must hold REGARDLESS is
    // mask idempotence — the live view reads exactly the undeleted
    // rows at every interruption point, and a clean re-run completes
    // the fold.
    import graft.operators.{IvfIndex, MaintenanceLock}
    val rows = (0L until 40L).map { i =>
      val rnd = new scala.util.Random(i + 9000)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val path = Tables.scratch("ivf_compact_thief")
    IvfIndex.buildIndex(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    IvfIndex.deleteFromIndex(
      rows.filter(_._1 % 4 == 0).map(_._1).toDF("vec_id"), "vec_id", path)
    spark.conf.set("graft.index.writerLeaseMs", "0")
    spark.conf.set("graft.index.writerHeartbeatMs", "60000")
    try {
      @volatile var outcome: Either[Throwable, Unit] = Right(())
      val t = new Thread(() => {
        outcome = try Right(IvfIndex.compactLists(spark, path, "vec_id"))
        catch { case e: Throwable => Left(e) }
      })
      t.start()
      Thread.sleep(80)
      val thief = MaintenanceLock.acquire(spark, path) // steals (lease 0)
      MaintenanceLock.release(spark, path, thief)
      t.join()
      outcome.left.foreach { e =>
        assert(e.isInstanceOf[IllegalStateException] &&
          e.getMessage.contains("lost its writer intent"),
          s"unexpected failure mode: $e")
      }
      // exactness survives whichever branch ran
      val live = IvfIndex.loadLive(spark, path, "vec_id")._1
      assert(live.count() === 30L, "live view lost or resurrected rows")
      assert(live.filter(col("vec_id") % 4 === 0).count() === 0L,
        "a deleted row is visible after the race")
    } finally {
      spark.conf.unset("graft.index.writerLeaseMs")
      spark.conf.unset("graft.index.writerHeartbeatMs")
    }
    // clean re-run completes the fold; erasure is then physical
    IvfIndex.compactLists(spark, path, "vec_id")
    assert(spark.read.parquet(IvfIndex.listsDir(spark, path))
      .filter(col("vec_id") % 4 === 0).count() === 0L,
      "re-run compaction left physical residue")
    assert(IvfIndex.loadLive(spark, path, "vec_id")._1.count() === 30L)
  }

  test("listSizes quiesced fast path: footer counts equal the masked aggregate across every index state") {
    // the 100 TB property behind the skew advisory: on a quiesced
    // index (no tombstones, no reservations) the per-list counts come
    // from parquet FOOTERS — a driver metadata pass — and must equal
    // the exact masked Spark aggregate in every state transition
    import graft.operators.IvfIndex
    val rows = (0L until 50L).map { i =>
      val rnd = new scala.util.Random(i + 11000)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }
    val path = Tables.scratch("ivf_listsizes_fast")
    IvfIndex.buildIndex(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    def sparkCounts(): Map[Int, Long] =
      IvfIndex.loadLive(spark, path, "vec_id")._1
        .groupBy("cluster").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def sizes(): Map[Int, Long] =
      IvfIndex.listSizes(spark, path, "vec_id").toMap.filter(_._2 > 0)
    assert(sizes() === sparkCounts(), "fast path wrong on a fresh build")
    // committed append: still quiesced → footer counts include it
    IvfIndex.appendToIndex((100L until 120L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    assert(sizes().values.sum === 70L)
    assert(sizes() === sparkCounts(), "fast path wrong after a committed append")
    // a crashed append (published files, manifest rewound) leaves
    // files above the committed seq: the footer counts skip them
    IvfIndex.appendToIndex((200L until 210L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    rewindManifest(path)
    assert(sizes() === sparkCounts(), "fast path counted an uncommitted batch")
    // pending tombstones: exact masked fallback
    IvfIndex.deleteFromIndex(Seq(0L, 1L, 100L).toDF("vec_id"), "vec_id", path)
    assert(sizes().values.sum === 67L)
    assert(sizes() === sparkCounts(), "masked fallback wrong under tombstones")
    // compaction folds: quiesced again, physical footer counts
    IvfIndex.compactLists(spark, path, "vec_id")
    assert(sizes().values.sum === 67L)
    assert(sizes() === sparkCounts(), "fast path wrong after compaction")
  }

  test("recall curve: probe sets nest (the monotonicity premise); audit booleans hold on the exact deliverable") {
    import graft.operators.IvfIndex
    val df = SparkEntry.queries("q_sim_recall_curve")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length % 5 === 0)
    assert(rows.forall(r => r.getAs[Boolean]("recall_monotone_ok") &&
      r.getAs[Boolean]("exhaustive_exact")),
      "recall audit booleans did not hold")
    // the monotonicity proof's PREMISE asserted directly: the probed
    // cluster set at nProbes p is a subset of the set at p' > p
    val emb = Tables(spark, sf, "embeddings")
    val idx = Tables.scratch("recall_nest_idx")
    IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 8, path = idx)
    val (_, c) = IvfIndex.loadIndex(spark, idx)
    val probes = emb.filter(col("vec_id") < 10)
    val sets = Seq(1, 2, 4, 8).map(p =>
      IvfIndex.probedClusterIds(c, probes, "vec_id", "embedding", p).toSet)
    sets.sliding(2).foreach { w =>
      assert(w.head.subsetOf(w.last), s"probe sets do not nest: $w") }
  }

  test("two compactions on two indexes run CONCURRENTLY: per-write dynamic overwrite, no cross-thread conf race, both end states exact") {
    // the round-15 watch item: compactLists used to set/restore the
    // session-global partitionOverwriteMode — two compactions on
    // different indexes (exactly what the inFlight chain-overlap
    // pattern encourages) would race the restore, and a mid-flight
    // flip back to STATIC truncates the whole assigned dir. The mode
    // is now scoped per-write; this drill runs the composition the
    // old code never exercised.
    import graft.operators.IvfIndex
    def mkIndex(tag: String, seedBase: Long): String = {
      val rows = (0L until 60L).map { i =>
        val rnd = new scala.util.Random(i + seedBase)
        (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
      }
      val path = Tables.scratch(s"ivf_cc_$tag")
      IvfIndex.buildIndex(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nCentroids = 4, path = path)
      IvfIndex.deleteFromIndex(
        (0L until 60L by 5L).toDF("vec_id"), "vec_id", path)
      path
    }
    val (pa, pb) = (mkIndex("a", 31000L), mkIndex("b", 32000L))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(pa, pb).map { p =>
      val t = new Thread(() => {
        barrier.await()
        try IvfIndex.compactLists(spark, p, "vec_id")
        catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    assert(failures.isEmpty, s"concurrent compaction failed: ${failures.peek()}")
    Seq(pa, pb).foreach { p =>
      // tombstones folded physically, sidecar cleared, no truncation:
      // every undeleted row survives on disk
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_tombstones")),
        s"$p: tombstone sidecar not cleared")
      val physical = spark.read.parquet(IvfIndex.listsDir(spark, p))
      assert(physical.count() === 48L,
        s"$p: a concurrent static-mode flip truncated the layout")
      assert(physical.filter(col("vec_id") % 5 === 0).count() === 0L,
        s"$p: physical residue of deleted rows")
      assert(IvfIndex.loadLive(spark, p, "vec_id")._1.count() === 48L)
    }
  }

  test("skew advisory is metadata-sized under load: zero Spark jobs on a tombstoned index; equals the exact rule when quiesced") {
    // round-15 watch item 3: a non-quiesced index used to fall back to
    // a corpus-sized masked aggregate — run by the TVF at ANALYSIS
    // time, so a cadence poller on an index under continuous delete
    // load paid a scan per poll. The advisory now sizes from parquet
    // FOOTERS always (upper bound under load, exact when quiesced);
    // the exact masked rule remains rebalanceIndex's own.
    import graft.operators.IvfIndex
    val rows = (0L until 60L).map { i =>
      val rnd = new scala.util.Random(i + 41000)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }
    val path = Tables.scratch("ivf_skew_bound")
    IvfIndex.buildIndex(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    // QUIESCED: advisory == the exact selection rule off masked sizes
    val exact = IvfIndex.listSizes(spark, path, "vec_id")
    val mean = exact.map(_._2).sum.toDouble / exact.size
    val hotExact = exact.filter(x => x._2 > 1.25 * mean && x._2 >= 2)
      .map(_._1).sorted
    val quiesced = IvfIndex.skewReport(spark, path, "vec_id", 1.25).head()
    assert(quiesced.getAs[Long]("total_live") === exact.map(_._2).sum)
    assert(quiesced.getAs[Long]("max_list") === exact.map(_._2).max)
    assert(quiesced.getAs[String]("hot_lists") === hotExact.mkString(","))
    assert(quiesced.getAs[Boolean]("rebalance_advised") === hotExact.nonEmpty)
    // UNDER LOAD: tombstone the index, then resolve the TVF — zero
    // Spark jobs (footer counts + the driver-cached centroid table,
    // warmed by the quiesced read above)
    IvfIndex.deleteFromIndex(Seq(0L, 1L, 2L).toDF("vec_id"), "vec_id", path)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val loaded = try {
      val df = spark.sql(s"SELECT * FROM graft_ivf_skew('$path')")
      Thread.sleep(1000) // listener delivery is async
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs === 0,
      s"advisory resolution launched $jobs Spark jobs on a tombstoned index")
    // the report is a LocalRelation: reading it is job-free too, and
    // total_live subtracts the tombstone sidecar's footer rows
    val r = loaded.head()
    assert(r.getAs[Long]("total_live") === 57L,
      s"tombstone-adjusted total wrong: ${r.getAs[Long]("total_live")}")
    // sizes are upper bounds under load (footer counts still include
    // the masked rows) — the max list can only shrink after the fold
    IvfIndex.compactLists(spark, path, "vec_id")
    val folded = IvfIndex.skewReport(spark, path, "vec_id", 1.25).head()
    assert(folded.getAs[Long]("total_live") === 57L)
    assert(folded.getAs[Long]("max_list") <= r.getAs[Long]("max_list"))
  }

  test("array<double> embeddings: kernels read the vectorized parquet scan correctly; exotic element types fail at analysis") {
    // regression for the round-16 sf1 finding: a double-element vector
    // column read through the NESTED vectorized parquet reader NPE'd
    // in the float accessor (OnHeapColumnVector keeps per-type arrays
    // — getFloat on a double vector loads a null float[]). The
    // expressions now resolve element width at plan time; anything
    // not array<float|double> dies at ANALYSIS, not mid-job.
    import graft.operators.{IvfIndex, SimilaritySearch}
    val rnd = new scala.util.Random(23)
    val rows = (0L until 40L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)) }
    val fdir = Tables.scratch("dblvec_float")
    val ddir = Tables.scratch("dblvec_double")
    rows.toDF("vec_id", "embedding").write.mode("overwrite").parquet(fdir)
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.mode("overwrite").parquet(ddir)
    val f = spark.read.parquet(fdir)
    val d = spark.read.parquet(ddir) // vectorized scan of array<double>
    import graft.functions.VectorExpressions._
    def vals(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"),
        cosine_sim(col("embedding"), col("embedding")).as("c"),
        dot_product(col("embedding"), col("embedding")).as("dp"),
        l2_dist(col("embedding"), col("embedding")).as("l2"),
        hyperplane_bucket(col("embedding"), 12).as("hb"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    val (vf, vd) = (vals(f), vals(d))
    vf.zip(vd).foreach { case ((i1, c1, d1, l1, h1), (i2, c2, d2, l2v, h2)) =>
      assert(i1 === i2 && h1 === h2)
      assert(math.abs(c1 - c2) < 1e-6 && math.abs(d1 - d2) < 1e-5 &&
        math.abs(l1 - l2v) < 1e-6,
        s"double-width kernel diverged at vec $i1")
    }
    // the whole IVF path over a double-element corpus: build, search
    // exhaustively, equals brute force over the same frame
    val idx = Tables.scratch("dblvec_idx")
    IvfIndex.buildIndex(d, "vec_id", "embedding", nCentroids = 4, path = idx)
    val (a, c) = IvfIndex.loadIndex(spark, idx)
    val probes = d.filter(col("vec_id") < 3)
    val got = IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
        k = 5, nProbes = 4)
      .select("probe_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val exact = SimilaritySearch.bruteForceTopK(d, probes,
        "vec_id", "embedding", k = 5)
      .select("probe_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === exact, "IVF over array<double> diverged from brute force")
    // not-a-vector input: loud ANALYSIS failure, not an executor NPE
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(expr("cosine_sim(array('a','b'), array('a','b'))"))
        .collect()
    }
    assert(bad.getMessage.contains("array<float> or array<double>"))
  }

  test("graft_ivf_skew factor precedence: statement arg > session conf > default; non-numeric arg rejected at analysis") {
    import graft.operators.IvfIndex
    val rnd = new scala.util.Random(53)
    // planted skew: 30 of 40 rows in one dense region, so factor 1.25
    // advises but the lax factor 10.0 does not — the knob is observable
    val rows = (0L until 10L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 4f - 2f)) } ++
      (10L until 40L).map { i =>
        (i, Array.fill(8)(5.0f + (rnd.nextFloat() - 0.5f) * 0.2f)) }
    val path = Tables.scratch("ivf_skew_factor_arg")
    IvfIndex.buildIndex(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    def advised(sql: String): Boolean =
      spark.sql(sql).head().getAs[Boolean]("rebalance_advised")
    // statement arg wins over a conflicting session conf
    spark.conf.set("graft.ivf.maxListFactor", "100.0")
    try {
      assert(advised(s"SELECT * FROM graft_ivf_skew('$path', 1.25)"),
        "tight statement factor ignored (conf won)")
      assert(!advised(s"SELECT * FROM graft_ivf_skew('$path', 10.0)"),
        "lax statement factor ignored")
      // no arg → session conf (100.0 → nothing can be hot)
      assert(!advised(s"SELECT * FROM graft_ivf_skew('$path')"),
        "session conf fallback not applied")
    } finally spark.conf.unset("graft.ivf.maxListFactor")
    // no arg, no conf → the 2.0 default (planted skew is ~3× mean)
    assert(advised(s"SELECT * FROM graft_ivf_skew('$path')"),
      "default factor 2.0 missed planted 3x skew")
    // non-numeric factor: loud analysis-time failure
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ivf_skew('$path', 'tight')").head()
    }
  }

  test("auto-repair loop: planted ingest drift FIRES the advisory at a batch boundary; post-repair search stays exact") {
    // the q_stream_ivf_autorepair composition with drift planted so
    // the mid-stream fire is deterministic: the bootstrap is spread,
    // every ingested batch lands in ONE dense region, so its list
    // crosses factor × mean and the batch-boundary poll must advise
    import graft.operators.{IvfIndex, SimilaritySearch}
    val rnd = new scala.util.Random(17)
    val spread = (0L until 40L).map { i =>
      (i, Array.fill(8)(rnd.nextFloat() * 4f - 2f)) }
    val path = Tables.scratch("ivf_autorepair_drill")
    IvfIndex.buildIndex(spread.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCentroids = 4, path = path)
    var fires = 0
    def pollRepair(): Unit = {
      val adv = IvfIndex.skewReport(spark, path, "vec_id", 1.25).head()
      if (adv.getAs[Boolean]("rebalance_advised")) {
        fires += 1
        val split = IvfIndex.rebalanceIndex(spark, path, "vec_id",
          "embedding", maxListFactor = 1.25)
        assert(split.nonEmpty,
          "quiesced advisory advised but the repair found nothing to split")
      }
    }
    // three drifting batches, poll at each boundary (the cadence loop)
    val ingested = Seq.newBuilder[(Long, Array[Float])]
    (0 until 3).foreach { b =>
      val batch = (100L + b * 30L until 130L + b * 30L).map { i =>
        (i, Array.fill(8)(5.0f + (rnd.nextFloat() - 0.5f) * 0.2f)) }
      ingested ++= batch
      IvfIndex.appendToIndex(batch.toDF("vec_id", "embedding"),
        "vec_id", "embedding", path)
      pollRepair()
    }
    assert(fires >= 1, "planted drift never fired the advisory")
    // post-repair exactness: exhaustive probing over the final live
    // generation equals brute force over the full drifted corpus
    // (the KNOWN inputs — reading assigned/ raw would double-count
    // retired spare lists)
    val corpus = (spread ++ ingested.result()).toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") < 3 || col("vec_id") >= 185L)
    val (a, c) = IvfIndex.loadIndex(spark, path)
    val got = IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
        k = 5, nProbes = c.count().toInt)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val exact = SimilaritySearch.bruteForceTopK(corpus, probes,
        "vec_id", "embedding", k = 5)
      .select("probe_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got === exact, "post-repair search diverged from brute force")
  }

  test("semantic decontamination: planted clones flagged with their exact best match; unseen tests flag nothing") {
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 100L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    // 3 benchmark items are near-clones of corpus rows 5/40/77; 2 are
    // fresh random vectors (genuinely unseen eval items)
    val cloneOf = Map(100L -> 5L, 101L -> 40L, 102L -> 77L)
    val clones = corpus.filter(col("vec_id").isin(5L, 40L, 77L))
      .select(
        when(col("vec_id") === 5L, 100L).when(col("vec_id") === 40L, 101L)
          .otherwise(102L).as("test_id"),
        transform(col("embedding"), x => (x + lit(1e-4f))).as("test_vec"))
    val unseen = (103L until 105L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("test_id", "test_vec")
    val tests = clones.unionByName(unseen)
    val flagged = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
      tests, "test_id", "test_vec", threshold = 0.98)
    val got = flagged.collect()
      .map(r => r.getAs[Long]("test_id") -> r.getAs[Long]("vec_id")).toMap
    assert(got === cloneOf, s"flag set diverged: $got")
    // the unseen items (and no organic pair) ever clear the threshold
    assert(!got.keySet.exists(_ >= 103L))
    // a lower threshold can only grow the flagged set (monotone)
    val loose = Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
        tests, "test_id", "test_vec", threshold = 0.5)
      .select("vec_id").as[Long].collect().toSet
    assert(cloneOf.values.toSet.subsetOf(loose))
    // empty benchmark side → empty result, not an error
    assert(Dedup.semanticDecontaminate(corpus, "vec_id", "embedding",
      tests.limit(0), "test_id", "test_vec", threshold = 0.5).isEmpty)
  }

  test("streaming decontamination gate: union of batch checks equals the one-shot check; gate conserves") {
    // fixed benchmark ⇒ per-batch checks are independent, so the
    // streamed gate's quarantine log must reproduce the batch verb
    // exactly (same planted benchmark, same threshold), and the
    // engine-measured conservation/multi-batch booleans must hold
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("vec_id"), r.getAs[Long]("test_id"),
        math.round(r.getAs[Double]("cos") * 1e9))
    val streamed = SparkEntry.queries("q_stream_decontaminate")(spark, sf).collect()
    val oneShot = SparkEntry.queries("q_decontaminate_semantic")(spark, sf).collect()
    assert(streamed.map(key).toSeq === oneShot.map(key).toSeq,
      "streamed gate diverged from the one-shot check")
    assert(streamed.nonEmpty)
    streamed.foreach { r =>
      assert(r.getAs[Boolean]("multi_batch"), "gate did not see >= 3 batches")
      assert(r.getAs[Boolean]("conservation_ok"), "admitted + quarantined != streamed")
    }
  }

  test("streaming gate redelivery: a crashed-then-redelivered batch replaces its own partitions — logs exact, never duplicated") {
    // the at-least-once contract the gate's per-write dynamic
    // overwrites buy: batch bid's writes land ONLY in partition
    // ingest=bid, so a redelivery (or a crash between the quarantine
    // and admitted writes followed by a redelivery) replaces rather
    // than appends
    val rnd = new scala.util.Random(47)
    val emb = (0L until 60L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding").localCheckpoint()
    val tests = emb.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") / 20).cast("long").as("test_id"),
        transform(col("embedding"), x => x + lit(1e-4f)).as("test_vec"))
      .localCheckpoint()
    val quarantine = Tables.scratch("gate_replay_q")
    val admitted = Tables.scratch("gate_replay_a")
    Seq.empty[(Long, Long, Double)].toDF("vec_id", "test_id", "cos")
      .withColumn("ingest", lit(-1L))
      .write.mode("overwrite").partitionBy("ingest").parquet(quarantine)
    Seq.empty[Long].toDF("vec_id").withColumn("ingest", lit(-1L))
      .write.mode("overwrite").partitionBy("ingest").parquet(admitted)
    def deliver(batch: org.apache.spark.sql.DataFrame, bid: Long,
        crashAfterQuarantine: Boolean = false): Unit = {
      val flagged = Dedup.semanticDecontaminate(batch, "vec_id", "embedding",
        tests, "test_id", "test_vec", threshold = 0.98).localCheckpoint()
      flagged.withColumn("ingest", lit(bid))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest").parquet(quarantine)
      if (crashAfterQuarantine) return // simulated mid-batch crash
      batch.join(flagged.select("vec_id"), Seq("vec_id"), "left_anti")
        .select("vec_id").withColumn("ingest", lit(bid))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest").parquet(admitted)
    }
    val b0 = emb.filter(col("vec_id") < 30)
    val b1 = emb.filter(col("vec_id") >= 30)
    deliver(b0, 0)
    deliver(b1, 1, crashAfterQuarantine = true) // crash mid-batch
    deliver(b1, 1) // redelivery
    deliver(b1, 1) // and a spurious second redelivery
    def state() = (
      spark.read.parquet(quarantine).select("vec_id", "test_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      spark.read.parquet(admitted).select("vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq)
    val (qRows, aRows) = state()
    // quarantine == exactly the planted clones (0,20,40), each once
    assert(qRows === Seq((0L, 0L), (20L, 1L), (40L, 2L)), s"$qRows")
    // admitted == everything else, each exactly once
    assert(aRows === (0L until 60L).filterNot(Seq(0L, 20L, 40L).contains).toSeq)
  }

  test("bitext mining: operator result equals the margin pipeline recomputed from brute-force kNN") {
    val rnd = new scala.util.Random(31)
    val src = (0L until 80L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val organicTgt = (1000L until 1060L).map { i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    // planted translations: tgt 2000+i is a jittered clone of src i
    val planted = src.filter(_._1 % 4 == 0).map { case (i, v) =>
      (2000L + i, v.map(_ + 1e-4f))
    }
    val srcDf = src.toDF("vec_id", "embedding")
    val tgtDf = (organicTgt ++ planted).toDF("vec_id", "embedding")
    val sPath = Tables.scratch("bitext_spec_src")
    val tPath = Tables.scratch("bitext_spec_tgt")
    IvfIndex.buildIndex(srcDf, "vec_id", "embedding", nCentroids = 4, path = sPath)
    IvfIndex.buildIndex(tgtDf, "vec_id", "embedding", nCentroids = 4, path = tPath)
    val (sa, sc) = IvfIndex.loadIndex(spark, sPath)
    val (ta, tc) = IvfIndex.loadIndex(spark, tPath)
    val k = 3
    val mined = SimilaritySearch.marginMutualKnn(sa, sc, ta, tc,
        "vec_id", "embedding", k = k, nProbes = 4, marginThreshold = 1.2)
      .collect().map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("tgt_id"),
        r.getAs[Double]("margin"))).sortBy(_._1).toSeq
    // independent recomputation off brute-force kNN (different
    // machinery: broadcast brute force vs the operator's shuffle join)
    def knn(corpus: org.apache.spark.sql.DataFrame, probes: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.bruteForceTopK(corpus, probes, "vec_id", "embedding", k)
        .collect().map(r => (r.getAs[Long]("probe_id"),
          r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos")))
    val fwd = knn(tgtDf, srcDf)
    val rev = knn(srcDf, tgtDf)
    val fAvg = fwd.groupBy(_._1).view.mapValues(xs => xs.map(_._3).sum / xs.size).toMap
    val rAvg = rev.groupBy(_._1).view.mapValues(xs => xs.map(_._3).sum / xs.size).toMap
    val revSet = rev.map(t => (t._2, t._1)).toSet // (src, tgt) present reverse
    val want = fwd
      .filter { case (s, t, _) => revSet((s, t)) }
      .map { case (s, t, c) => (s, t, c / ((fAvg(s) + rAvg(t)) / 2)) }
      .filter(_._3 >= 1.2)
      .groupBy(_._1).map { case (s, xs) =>
        xs.minBy { case (_, t, m) => (-m, t) } }
      .toSeq.sortBy(_._1)
    assert(mined.map(x => (x._1, x._2)) === want.map(x => (x._1, x._2)),
      s"mined pairs diverge from brute-force margin pipeline")
    mined.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._3 - w._3) < 1e-9, s"margin diverged: $g vs $w") }
    // every planted pair surfaced, mapped to its true source
    val minedMap = mined.map(x => (x._1, x._2)).toMap
    planted.foreach { case (tid, _) =>
      assert(minedMap.get(tid - 2000L).contains(tid),
        s"planted pair ${tid - 2000L}→$tid not mined") }
  }

  test("bitext mining recall curve: single-probe mining clears the 80% planted floor; exhaustive recovers all") {
    // the q_sim_bitext_recall contract at spec scale: mining at
    // nProbes=1 (the cheapest operating point — 1/nLists of the
    // exhaustive pair volume) already recovers >=80% of planted
    // translations, and exhaustive probing recovers every one
    val rnd = new scala.util.Random(77)
    val src = (0L until 120L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val organicTgt = (1000L until 1080L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val planted = src.filter(_._1 % 4 == 0).map { case (i, v) =>
      (2000L + i, v.map(_ + 1e-4f))
    }
    val srcDf = src.toDF("vec_id", "embedding")
    val tgtDf = (organicTgt ++ planted).toDF("vec_id", "embedding")
    val sPath = Tables.scratch("bitext_curve_src")
    val tPath = Tables.scratch("bitext_curve_tgt")
    IvfIndex.buildIndex(srcDf, "vec_id", "embedding", nCentroids = 4, path = sPath)
    IvfIndex.buildIndex(tgtDf, "vec_id", "embedding", nCentroids = 4, path = tPath)
    val (sa, sc) = IvfIndex.loadIndex(spark, sPath)
    val (ta, tc) = IvfIndex.loadIndex(spark, tPath)
    val plantedSet = planted.map(p => (p._1 - 2000L, p._1)).toSet
    def foundAt(p: Int): Int =
      SimilaritySearch.marginMutualKnn(sa, sc, ta, tc, "vec_id", "embedding",
          k = 3, nProbes = p, marginThreshold = 1.2)
        .collect().map(r => (r.getAs[Long]("src_id"), r.getAs[Long]("tgt_id")))
        .count(plantedSet)
    val curve = Seq(1, 2, 4).map(foundAt)
    assert(curve.last === plantedSet.size,
      s"exhaustive probing missed planted pairs: $curve of ${plantedSet.size}")
    assert(curve.head * 10 >= plantedSet.size * 8,
      s"single-probe recall below the 80% floor: $curve of ${plantedSet.size}")
  }
}
