package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plain-Spark control run for the BASELINE.md protocol: the same query
  * shapes expressed with ONLY stock Spark (no graft expressions,
  * operators, UDAFs, or extensions), so BENCH numbers have a measured
  * denominator.
  *
  * Each control re-expresses a query backed by graft custom code with
  * the closest stock construct (higher-order functions, Spark ML
  * MinHashLSH, explode+groupBy) — this is where a regression vs plain
  * Spark would show.
  *
  * Prints one JSON line: {"baseline":{name:sec,...},"graft":{name:sec,...}}
  * where each value is the median of 3 warm runs at the target sf.
  */
object Baseline {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Stock-Spark re-expressions of custom-kernel queries. */
  val controls: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q_window_range_frame control: the NAIVE range-frame window over
    // the raw rows — one n/3-row window partition per returnflag, frame
    // state O(rows-in-frame). The graft side pre-aggregates to the
    // (flag, quantity) frame granularity so its window is domain-sized;
    // this pair measures what that rewrite saves at equal output.
    "q_window_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_quantity").asc)
        .rangeBetween(-5L, 0L)
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"),
          count(lit(1)).over(w).as("n_within_5"),
          sum("l_quantity").over(w).as("qty_within_5"))
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    }),

    // q_sim_topk control: cosine via higher-order functions instead of
    // the codegen'd CosineSim expression.
    "q_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
      val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(probe_vec, neighbor_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(probe_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(neighbor_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
    }),

    // q_dedup_semantic_pca control: the RAW-SPACE quantizer (stock
    // MLlib k-means over the full d-dim vectors + in-cluster exact
    // cosine — exactly q_dedup_semantic's shape) on the identical
    // planted fixture with the identical recheck/output contract. The
    // pair isolates what the top-8 PCA conditioning of the quantizer
    // costs or saves at equal semantics.
    "q_dedup_semantic_pca" -> ((s, dir) => {
      import graft.operators.Dedup
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
      val planted = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + maxId)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + (pmod(hash(col("vec_id"), j), lit(1000)) - 500)
            .cast("double") / 100000.0d).cast("float")))
      val corpus = emb.unionByName(planted).localCheckpoint()
      val removed = Dedup.semanticDedup(corpus, "vec_id", "embedding",
        threshold = 0.99, nClusters = 16).localCheckpoint()
      val byA = corpus.select(col("vec_id").as("rid"), col("embedding").as("rv"))
      val byB = corpus.select(col("vec_id").as("did"), col("embedding").as("dv"))
      val recheck = removed
        .join(byA, col("vec_id") === col("rid"))
        .join(byB, col("dup_of") === col("did"))
        .select((graft.functions.VectorExpressions.cosine_sim(col("rv"), col("dv")) >= 0.99 &&
          col("dup_of") < col("vec_id")).as("ok"), col("vec_id").as("remid"))
      val nPlanted = planted.count()
      val nRemovedPlanted = removed.filter(col("vec_id") >= maxId).count()
      recheck.agg(
          count(lit(1)).as("n_removed_rechecked"),
          coalesce(min(when(col("ok"), 1L).otherwise(0L)), lit(1L)).as("all_ok"))
        .select(
          (lit(nPlanted) + emb.count()).as("n_corpus"),
          lit(nPlanted).as("n_planted"),
          (col("all_ok") === 1L &&
            col("n_removed_rechecked") === lit(removed.count())).as("precision_ok"),
          (lit(nRemovedPlanted) >= lit(math.ceil(nPlanted * 0.9).toLong)).as("recall_ok"))
    }),

    // q_dedup_embedding_blocked control: the stock EXACT formulation —
    // the all-pairs threshold self-join (id_a < id_b) with the HOF
    // cosine, the only lossless shape stock Spark offers (LSH blocks
    // but can miss). The pair measures what the contractive-projection
    // grid blocking saves at equal (exact) semantics.
    "q_dedup_embedding_blocked" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
      val planted = emb.filter(col("vec_id") % 15 === 0)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
            / 100000.0d).cast("float")))
        .select((col("vec_id") + maxId).as("vec_id"), col("embedding"))
      val corpus = emb.select("vec_id", "embedding").unionByName(planted)
        // zero-norm guard, mirroring the engine and the oracle: an
        // all-pairs cosine would emit NaN rows for zero-norm vectors
        .filter(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
          "(a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) > 0"))
        .localCheckpoint()
      val a = corpus.select(col("vec_id").as("vid_a"), col("embedding").as("va"))
      val b = corpus.select(col("vec_id").as("vid_b"), col("embedding").as("vb"))
      val hofCos = expr(
        """aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
          | / (sqrt(aggregate(va, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
          |    * sqrt(aggregate(vb, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      a.join(b, col("vid_a") < col("vid_b"))
        .withColumn("cos", hofCos)
        .filter(col("cos") >= 0.95)
        .select(col("vid_a"), col("vid_b"), col("cos"))
        .withColumn("blocking_effective", lit(true))
        .withColumn("blocking_advised", lit(true))
        .withColumn("grid_pcs", lit(3))
        .orderBy("vid_a", "vid_b")
    }),

    // q_embed_pca control: the stock user computes the quantized
    // moments by PAIR EXPLODE — every row fans out to d(d+1)/2 = 2080
    // (i, j) product rows through a self-join + shuffle aggregate —
    // where the graft side's GramAgg folds each task's rows into ONE
    // integer triangle buffer (partial aggregation; the shuffle
    // carries buffers, not pairs). Same quantization, same driver
    // iteration, same fold-ordered projection — the pair measures the
    // moment pass alone.
    "q_embed_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))").as("xq"))
        .localCheckpoint()
      val n = q.count().toDouble
      val px = q.select(col("vec_id"), posexplode(col("xq")).as(Seq("i", "x")))
      val d = px.agg(max("i")).head.getInt(0) + 1
      val s1 = px.groupBy("i").agg(sum("x").as("sx")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val s2 = px.as("a").join(px.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("b.i") >= col("a.i"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(col("a.x") * col("b.x")).as("sxx"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val sc = 1000.0
      val mean = Array.tabulate(d)(i => s1(i) / n / sc)
      val cov = Array.ofDim[Double](d, d)
      for (i <- 0 until d; j <- i until d) {
        val v = s2((i, j)) / n / (sc * sc) - mean(i) * mean(j)
        cov(i)(j) = v; cov(j)(i) = v
      }
      val trace = (0 until d).map(i => cov(i)(i)).sum
      val a = cov.map(_.clone())
      val comps = Array.ofDim[Double](2, d)
      val lambdas = new Array[Double](2)
      for (c <- 0 until 2) {
        var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
        for (_ <- 0 until 30) {
          val w = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
          val nm = math.sqrt(w.map(x => x * x).sum)
          if (nm > 0) v = w.map(_ / nm)
        }
        var lam = 0.0
        for (i <- 0 until d; j <- 0 until d) lam += v(i) * a(i)(j) * v(j)
        comps(c) = v; lambdas(c) = lam
        for (i <- 0 until d; j <- 0 until d) a(i)(j) -= lam * v(i) * v(j)
      }
      var out = q
      for (c <- 0 until 2) {
        val vLit = typedlit(comps(c).toSeq)
        val mLit = typedlit(mean.toSeq)
        out = out.withColumn(s"pc${c + 1}",
          aggregate(
            zip_with(col("xq"), sequence(lit(1), lit(d)), (x, idx) =>
              (x.cast("double") / sc - element_at(mLit, idx)) *
                element_at(vLit, idx)),
            lit(0.0), (acc, t2) => acc + t2))
      }
      for (c <- 0 until 2)
        out = out.withColumn(s"lambda${c + 1}", lit(lambdas(c)))
          .withColumn(s"evr${c + 1}",
            lit(if (trace > 0) lambdas(c) / trace else 0.0))
      out.drop("xq").orderBy("vec_id")
    }),

    // q_train_curriculum control: the global-ntile formulation a stock
    // user writes for tercile staging — EVERY doc ordered through one
    // partitionless ntile(3) window (a single sort task at any scale),
    // then the same schedule join. Deliverable-matched (a 9-row
    // curriculum schedule; stage boundaries differ from the engine's
    // histogram cut only at bucket-boundary ties) — what the pair
    // measures is the two-phase histogram cut vs the global-sort
    // funnel.
    "q_train_curriculum" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(lower(col("text")), "\\W+"), tk => length(tk) > 0).as("toks"))
        .filter(size(col("toks")) > 0)
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("tok"),
          expr("aggregate(transform(toks, t -> cast(length(t) as bigint)), " +
            "cast(0 as bigint), (a, v) -> a + v)").as("cl"))
        .select(col("doc_id"), col("tok"), expr("(cl * 100) div tok").as("d"))
      val staged = base.withColumn("t3",
          ntile(3).over(Window.orderBy(col("d"), col("doc_id"))))
        .withColumn("stage",
          when(col("t3") === 1, "easy").when(col("t3") === 2, "mid").otherwise("hard"))
      val stageTok = staged.groupBy("stage")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("stage_tok"))
      val sched = Seq(
        ("e1", "easy", 60L), ("e1", "mid", 30L), ("e1", "hard", 10L),
        ("e2", "easy", 40L), ("e2", "mid", 35L), ("e2", "hard", 25L),
        ("e3", "easy", 34L), ("e3", "mid", 33L), ("e3", "hard", 33L))
        .toDF("epoch", "stage", "w")
      sched.join(broadcast(stageTok), Seq("stage"))
        .select(col("epoch"), col("stage"), col("w"), col("n_docs"),
          col("stage_tok"), expr("(w * stage_tok) div 100").as("planned_tok"))
        .orderBy("epoch", "stage")
    }),

    // q_train_token_budget control: the one-window formulation a stock
    // user writes — order EVERY doc through one partitionless cumsum
    // window (a single sort task at any scale), then the same prefix
    // filter. Identical results; what the pair measures is the
    // two-phase bucket-threshold form vs the global-sort funnel.
    "q_train_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("source"),
          size(filter(split(col("text"), "\\s+"), tk => length(tk) > 0))
            .cast("bigint").as("tok"),
          (length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")).cast("double") /
            length(col("text"))).as("q"))
      val budget = 4L * docs.agg(sum("tok")).head.getLong(0) / 10L
      val wAll = Window.orderBy(col("q").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum", sum("tok").over(wAll))
        .filter(col("cum") <= budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sel"), sum("tok").as("tok_sel"))
        .orderBy("source")
    }),

    // q_text_search_index control, deliverable-matched (round-8
    // protocol): the graft query persists a reusable postings artifact
    // AND searches it, so the stock twin does the same with the plain
    // layout a stock user writes — one (doc_id, term, tf) parquet
    // table, no bucket partitioning, no df sidecar to maintain. Its
    // search then scans EVERY posting row; the graft side's search
    // reads only the query terms' bucket partitions. What the pair
    // measures is the layout (bucketed + pruned vs flat + full-scan),
    // not whether an index exists.
    "q_text_search_index" -> ((s, dir) => {
      val terms = Seq("hash", "merge", "vector")
      val docs = t(s, dir, "documents")
      val out = Tables.scratch("baseline_text_postings")
      // capability-matched (the same round-8/9 protocol the bm25 and
      // phrase pairs follow): the graft artifact is the full retrieval
      // index — positional postings + doc lengths + term dfs — so the
      // stock twin materializes the equivalent flat artifacts, not a
      // frequency-only subset of them
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(out)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_text_doclen"))
      s.read.parquet(out).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_text_df"))
      s.read.parquet(out)
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id")
        .agg(countDistinct("term").as("n_terms"), sum("tf").as("total_tf"))
        .filter(col("n_terms") === terms.size)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"))
    }),

    // q_sim_rerank control: the stock single-stage path — exact float
    // cosine against every corpus vector (HOF formulation), top-5 via
    // window. The graft side's coarse int8 pass + 50-candidate exact
    // re-rank must not lose to the full-precision full scan.
    "q_sim_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
      val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(probe_vec, neighbor_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(probe_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(neighbor_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
        .orderBy("probe_id", "rank")
    }),

    // q_text_bm25_index control, deliverable-matched like the search
    // pair: the stock user materializes flat postings + doc lengths
    // (one tokenize pass, single-dir layout) and scores BM25 from
    // those; the graft side builds the bucket-partitioned index with
    // its sidecars and serves the same scores corpus-free. Both sides
    // persist a reusable artifact + produce the top-20.
    "q_text_bm25_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = Tables.scratch("baseline_bm25_postings")
      val dls = Tables.scratch("baseline_bm25_doclen")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(post)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(dls)
      val terms = Seq("hash", "merge", "vector")
      val tf = s.read.parquet(post).filter(col("term").isin(terms: _*))
        .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      val dl = s.read.parquet(dls)
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
      tf.join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
            col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id").agg(sum("contrib").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    }),

    // q_dedup_recall_audit control: the stock user audits LSH recall
    // with ml MinHashLSH — HashingTF bigram vectors, 8 hash tables,
    // approxSimilarityJoin at jaccard distance ≤ 0.2 — and builds the
    // exact ground truth with a stock gram equi-join enumeration
    // (explode + self-join + overlap counts; no prefix filter exists
    // in stock Spark, so EVERY co-gram pair is grouped where the
    // graft side prunes by the prefix lemma). Candidates are verified
    // by membership in the exact set (the stock user must verify too).
    // Same deliverable: the exact pair set + the two audit booleans.
    "q_dedup_recall_audit" -> ((s, dir) => {
      import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val grams = docs
        .select(col("doc_id"), graft.operators.Dedup.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          array_distinct(graft.operators.Dedup.shingles(col("w"), 2)).as("grams"))
      val e = grams.select(col("doc_id"), size(col("grams")).as("sz"),
        explode(col("grams")).as("gram"))
      val exactDir = Tables.scratch("baseline_recall_exact")
      e.select(col("doc_id").as("doc_a"), col("sz").as("sza"), col("gram"))
        .join(e.select(col("doc_id").as("doc_b"), col("sz").as("szb"),
          col("gram")), Seq("gram"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).cast("double").as("ov"),
          min("sza").as("sza"), min("szb").as("szb"))
        .withColumn("jaccard", col("ov") / (col("sza") + col("szb") - col("ov")))
        .filter(col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", "jaccard")
        .write.mode("overwrite").parquet(exactDir)
      val exact = s.read.parquet(exactDir)
      val fv = new HashingTF().setInputCol("grams").setOutputCol("features")
        .setNumFeatures(1 << 18)
        .transform(grams).filter(size(col("grams")) > 0)
      val mh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(8).setSeed(42L).fit(fv)
      val cand = mh.approxSimilarityJoin(fv, fv, 0.2000001, "dist")
        .select(col("datasetA.doc_id").as("doc_a"),
          col("datasetB.doc_id").as("doc_b"))
        .filter(col("doc_a") < col("doc_b")).distinct()
      val nExact = exact.count()
      val nHit = cand.join(exact.select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_semi").count()
      val recallOk = nExact == 0L || nHit * 10L >= nExact * 7L
      exact
        .withColumn("lsh_recall_ok", lit(recallOk))
        .withColumn("lsh_subset_ok", lit(true))
        .orderBy("doc_a", "doc_b")
    }),

    // q_text_search_eval control, deliverable-matched: the stock user
    // evaluates ranking quality from the same flat postings + doclen
    // artifacts (one tokenize pass), scoring BM25 by scanning ALL
    // postings rows for each query's terms and ranking the graded
    // ideal with a row_number window (no bounded-heap aggregate in
    // stock Spark); same NDCG@10 / P@10 / best-doc RR math on the
    // driver. The graft side's pruned-postings reads + heap ideal are
    // what the pair prices.
    "q_text_search_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = Tables.scratch("baseline_eval_postings")
      val dls = Tables.scratch("baseline_eval_doclen")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(post)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(dls)
      val k = 10
      def log2(x: Double) = math.log(x) / math.log(2.0)
      val rows = Seq("hash merge", "hash vector", "table vector").map { q =>
        val terms = q.split(" ").toSeq
        val tf = s.read.parquet(post).filter(col("term").isin(terms: _*))
          .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        val dl = s.read.parquet(dls)
        val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
          avg("dl").as("avgdl"))
        val ranked = tf.join(broadcast(dfT), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("contrib",
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
              col("tf") * lit(2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .groupBy("doc_id").agg(sum("contrib").as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(k).collect()
          .zipWithIndex.map { case (r, i) => (r.getLong(0), i + 1) }
        val relDf = tf.groupBy("doc_id").agg(sum("tf").as("rel"))
        val w = Window.orderBy(col("rel").desc, col("doc_id").asc)
        val ideal = relDf.withColumn("r", row_number().over(w))
          .filter(col("r") <= k).collect()
          .map(r => (r.getLong(0), r.getInt(2), r.getDouble(1)))
        val relOfRanked = if (ranked.isEmpty) Map.empty[Long, Double]
          else relDf.filter(col("doc_id").isin(ranked.map(_._1): _*))
            .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val dcg = ranked.map { case (doc, r) =>
          relOfRanked.getOrElse(doc, 0.0) / log2(r + 1.0) }.sum
        val idcg = ideal.map { case (_, r, rel) => rel / log2(r + 1.0) }.sum
        val ndcg = if (idcg == 0.0) 0.0 else dcg / idcg
        val idealSet = ideal.map(_._1).toSet
        val p10 = ranked.count(x => idealSet(x._1)).toDouble / k
        val rr = ideal.sortBy(_._2).headOption.flatMap { case (best, _, _) =>
          ranked.collectFirst { case (doc, r) if doc == best => 1.0 / r }
        }.getOrElse(0.0)
        (q, ndcg, p10, rr)
      }
      import s.implicits._
      rows.toDF("query", "ndcg10", "p10", "rr_best").orderBy("query")
    }),

    // q_text_phrase_index control, capability-matched like the bm25
    // pair: the graft side's artifact is the FULL retrieval index
    // (positional postings + doc-length + df sidecars — it serves
    // conjunctive and BM25 too), so the stock twin materializes the
    // same three artifacts in the flat single-dir layout a stock user
    // writes, then runs the same adjacency join from them — scanning
    // ALL postings for the two terms' rows where the graft side reads
    // 2 bucket partitions.
    "q_text_phrase_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = Tables.scratch("baseline_phrase_postings")
      val dls = Tables.scratch("baseline_phrase_doclen")
      val dfs = Tables.scratch("baseline_phrase_df")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(post)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(dls)
      s.read.parquet(post).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(dfs)
      val phrase = Seq("table", "hash")
      val flat = s.read.parquet(post)
      val slots = phrase.zipWithIndex.map { case (term, i) =>
        flat.filter(col("term") === term)
          .select(col("doc_id"), explode(col("positions")).as(s"p_$i"))
          .withColumn("start", col(s"p_$i") - i)
          .select("doc_id", "start")
      }
      slots.reduce(_.join(_, Seq("doc_id", "start")))
        .groupBy("doc_id").agg(count(lit(1)).as("n_occ"))
        .orderBy("doc_id")
        .select(col("doc_id"), col("n_occ"))
    }),

    // q_table_delete control: the stock copy-on-write delete — rewrite
    // the table minus the matching rows to a fresh dir, read it back,
    // aggregate. The graft side additionally maintains the version
    // manifest and proves the audit property (v1 still serves the
    // deleted rows, v2 does not) inside its measured time.
    // q_table_delete control, deliverable-matched (same rule as the
    // update pair): the graft side's deliverable is an AUDITABLE
    // delete — the pre-delete version stays readable and audit_ok is
    // measured from BOTH versions in its own time — so the stock twin
    // keeps the old copy (CoW), writes the filtered new copy, and runs
    // the same two audit counts.
    "q_table_delete" -> ((s, dir) => {
      val oldDir = Tables.scratch("baseline_delete_v1")
      val out = Tables.scratch("baseline_delete_cow")
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").parquet(oldDir)
      orders
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .write.mode("overwrite").parquet(out)
      val deletedAtV1 = s.read.parquet(oldDir)
        .filter(col("o_orderpriority") === "1-URGENT").count()
      val deletedAtV2 = s.read.parquet(out)
        .filter(col("o_orderpriority") === "1-URGENT").count()
      val auditOk = deletedAtV1 > 0 && deletedAtV2 == 0
      s.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0).as("total"))
        .withColumn("audit_ok", lit(auditOk))
        .orderBy("o_orderstatus")
    }),

    // q_table_update control, deliverable-matched: the graft side
    // commits the update AND proves the change-feed property (the CDF
    // diff counts exactly the matched rows) inside its measured time,
    // so the stock twin does the full copy-on-write equivalent — keep
    // the old copy, write the CASE-rewritten new copy, diff the two to
    // produce the same update_ok evidence, then aggregate.
    "q_table_update" -> ((s, dir) => {
      val oldDir = Tables.scratch("baseline_update_v1")
      val out = Tables.scratch("baseline_update_cow")
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").parquet(oldDir)
      orders
        .withColumn("o_totalprice",
          when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 1.05)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderpriority") === "1-URGENT", lit("2-HIGH"))
            .otherwise(col("o_orderpriority")))
        .write.mode("overwrite").parquet(out)
      val prev = s.read.parquet(oldDir)
      val cur = s.read.parquet(out)
      val nUrgentV1 = prev.filter(col("o_orderpriority") === "1-URGENT").count()
      val changed = cur.alias("n")
        .join(prev.alias("o"), col("n.o_orderkey") === col("o.o_orderkey"))
        .filter(col("n.o_orderpriority") =!= col("o.o_orderpriority") ||
          col("n.o_totalprice") =!= col("o.o_totalprice"))
        .count()
      val updateOk = nUrgentV1 > 0 && changed == nUrgentV1
      cur.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0).as("total"))
        .withColumn("update_ok", lit(updateOk))
        .orderBy("o_orderpriority")
    }),

    // q_text_wildcard_index control, capability-matched (the
    // q_text_search_index protocol): the graft side builds the full
    // retrieval index in its measured region, so the stock twin
    // materializes the equivalent flat artifacts (positional postings
    // + doc lengths + term dfs) and serves the wildcard from them —
    // prefix-filtering the FLAT postings (every file read; the df
    // "dictionary" exists but a flat layout gains nothing by
    // consulting it first).
    "q_text_wildcard_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = Tables.scratch("baseline_wild_postings")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(out)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_wild_doclen"))
      s.read.parquet(out).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_wild_df"))
      s.read.parquet(out)
        .filter(col("term").startsWith("me"))
        .groupBy("doc_id")
        .agg(countDistinct("term").as("n_terms"), sum("tf").as("total_tf"))
        .orderBy("doc_id")
    }),

    // q_text_synonym_search control, capability-matched: same flat
    // postings/doclen/df artifacts, then the group-conjunctive query
    // (CASE term→group, group-arity gate) over the FLAT postings.
    "q_text_synonym_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val out = Tables.scratch("baseline_syn_postings")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(out)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_syn_doclen"))
      s.read.parquet(out).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_syn_df"))
      val grp = when(col("term").isin("hash", "key"), lit(0))
        .when(col("term").isin("merge", "join"), lit(1))
        .otherwise(lit(2))
      s.read.parquet(out)
        .filter(col("term").isin("hash", "key", "merge", "join", "vector", "stream"))
        .withColumn("grp", grp)
        .groupBy("doc_id")
        .agg(countDistinct("grp").as("n_groups"), sum("tf").as("total_tf"))
        .filter(col("n_groups") === 3)
        .select(col("doc_id"), col("total_tf"))
        .orderBy("doc_id")
    }),

    // q_text_index_merge control, scenario-matched: BOTH sides build
    // the two shard artifacts from the corpus halves (identical setup
    // work — flat postings/doclen/df per shard, the capability
    // protocol), then merge and search. The stock merge of flat
    // artifacts is a parquet union rewrite + df re-aggregation;
    // its search then scans the ENTIRE merged postings (no bucket
    // structure to prune), while the graft side pays the re-bucket
    // shuffle once and prunes every search after.
    "q_text_index_merge" -> ((s, dir) => {
      val terms = Seq("hash", "merge", "vector")
      val docs = t(s, dir, "documents")
      def shard(pred: org.apache.spark.sql.Column, tag: String): String = {
        val out = Tables.scratch(s"baseline_tmerge_$tag")
        val toks = docs.filter(pred).select(col("doc_id"),
          graft.operators.Dedup.tokens(col("text")).as("toks"))
        toks.select(col("doc_id"),
            posexplode(col("toks")).as(Seq("pos", "term")))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
          .write.mode("overwrite").parquet(s"$out/postings")
        toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
          .write.mode("overwrite").parquet(s"$out/doclen")
        s.read.parquet(s"$out/postings")
          .groupBy("term").agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"$out/df")
        out
      }
      val a = shard(col("doc_id") < 250, "a")
      val b = shard(col("doc_id") >= 250, "b")
      val merged = Tables.scratch("baseline_tmerge_dst")
      s.read.parquet(s"$a/postings").unionByName(s.read.parquet(s"$b/postings"))
        .write.mode("overwrite").parquet(s"$merged/postings")
      s.read.parquet(s"$a/doclen").unionByName(s.read.parquet(s"$b/doclen"))
        .write.mode("overwrite").parquet(s"$merged/doclen")
      s.read.parquet(s"$merged/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$merged/df")
      s.read.parquet(s"$merged/postings")
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id")
        .agg(countDistinct("term").as("n_terms"), sum("tf").as("total_tf"))
        .filter(col("n_terms") === terms.size)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"),
          lit(true).as("totals_ok"))
    }),

    // q_sim_ivf_merge control, scenario-matched: BOTH sides start from
    // nothing, build the two shard indexes (k-means per parity half,
    // persisted — identical setup work), and must then serve the
    // union. The stock user's merge is a REFIT: a third k-means over
    // the union corpus, persisted flat, searched full-width with the
    // HOF cosine + window cut. The graft side's merge instead reuses
    // the primary's centroids and re-assigns only the secondary shard
    // into the partition-pruned layout.
    "q_sim_ivf_merge" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      def fitHalf(pred: org.apache.spark.sql.Column, name: String): Unit = {
        val half = emb.filter(pred)
          .withColumn("__v", array_to_vector(col("embedding")))
        val m = new KMeans().setK(8).setSeed(42L)
          .setFeaturesCol("__v").setPredictionCol("cluster").fit(half)
        m.transform(half).drop("__v")
          .write.mode("overwrite").parquet(Tables.scratch(name))
      }
      fitHalf(col("vec_id") % 2 === 0, "baseline_ivf_merge_a")
      fitHalf(col("vec_id") % 2 =!= 0, "baseline_ivf_merge_b")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      val model = new KMeans().setK(8).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
      val flat = Tables.scratch("baseline_ivf_merge_flat")
      model.transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(flat)
      val assigned = s.read.parquet(flat)
      val p = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val scored = assigned
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
        .join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(probe_vec, neighbor_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(probe_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(neighbor_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
        .orderBy("probe_id", "rank")
    }),

    // q_sim_matryoshka control: the same two-stage truncated-dim cut
    // expressed with stock HOFs + window cuts (slice for the coarse
    // prefix, row_number for both stages) — no custom expressions, no
    // bounded-heap aggregate.
    "q_sim_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"),
          slice(col("embedding"), 1, 16).as("tp"))
      val c = emb
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"),
          slice(col("embedding"), 1, 16).as("tc"))
      val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("coarse", hofCos("tp", "tc"))
      val wc = Window.partitionBy("probe_id")
        .orderBy(col("coarse").desc, col("neighbor_id").asc)
      val cands = scored.withColumn("crank", row_number().over(wc))
        .filter(col("crank") <= 50)
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
      val wr = Window.partitionBy("probe_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      cands.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
        .orderBy("probe_id", "rank")
    }),

    // q_text_index_delete control, deliverable-matched: both sides
    // physically purge the deleted docs from a persisted postings
    // artifact and then search it. The stock user's delete is a
    // copy-on-write rewrite of the FLAT postings table (no tombstone
    // verb exists for a plain parquet artifact) and their search scans
    // every posting row; the graft side appends O(ids) tombstones,
    // reconciles in one bucket-keyed compaction, and serves the search
    // from the pruned partitions.
    "q_text_index_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = Tables.scratch("baseline_delete_postings")
      val dlDir = Tables.scratch("baseline_delete_doclen")
      val purged = Tables.scratch("baseline_delete_postings_v2")
      // capability-matched artifact (round-9 protocol): POSITIONAL
      // postings + doc lengths + term dfs, flat single-dir layout —
      // the full retrieval capability the graft index carries
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"),
          posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(post)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(dlDir)
      s.read.parquet(post).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_delete_df"))
      s.read.parquet(post).filter(col("doc_id") % 7 =!= 0)
        .write.mode("overwrite").parquet(purged)
      val terms = Seq("hash", "merge", "vector")
      val stillThere = s.read.parquet(purged)
        .filter(col("doc_id") % 7 === 0).count() == 0
      def search(src: String, masked: Boolean) = {
        val base = s.read.parquet(src)
        (if (masked) base.filter(col("doc_id") % 7 =!= 0) else base)
          .filter(col("term").isin(terms: _*))
          .groupBy("doc_id")
          .agg(countDistinct("term").as("n_terms"), sum("tf").as("total_tf"))
          .filter(col("n_terms") === terms.size)
          .select("doc_id", "total_tf")
      }
      // same evidence the graft side produces in ITS measured time:
      // the filter-masked answer equals the physically-purged answer
      val pre = search(post, masked = true)
      val cur = search(purged, masked = false)
      val identical = pre.exceptAll(cur).isEmpty && cur.exceptAll(pre).isEmpty
      cur
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"),
          lit(stillThere).as("purged"), lit(identical).as("tombstone_exact"))
    }),

    // q_text_index_cdc control: BOTH sides run the identical snapshot
    // commits (create / UPDATE / DELETE through the versioned table —
    // common machinery, held constant) and maintain a searchable
    // postings artifact across them; the measured variable is the
    // INDEX-MAINTENANCE strategy alone. The stock user — no
    // incremental maintenance verb — builds flat postings at v1 and
    // REBUILDS them from the full v3 corpus after the commits (two
    // full-corpus tokenizations), then full-scans; the graft side
    // syncs its bucketed index from ONE change feed (retract /
    // reconcile / re-ingest — only the CHANGED docs re-tokenize) and
    // serves the pruned search.
    "q_text_index_cdc" -> ((s, dir) => {
      import graft.operators.Snapshots
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
      val root = Tables.scratch("baseline_cdc_tbl")
      val post = Tables.scratch("baseline_cdc_postings")
      // capability-matched rebuild (round-9 protocol): each rebuild
      // re-materializes the positional postings + doc lengths + dfs
      // the graft index maintains incrementally
      def rebuild(src: DataFrame): Unit = {
        val toks = src.select(col("doc_id"),
          graft.operators.Dedup.tokens(col("text")).as("toks"))
        toks.select(col("doc_id"),
            posexplode(col("toks")).as(Seq("pos", "term")))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
          .write.mode("overwrite").parquet(post)
        toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
          .write.mode("overwrite")
          .parquet(Tables.scratch("baseline_cdc_doclen"))
        s.read.parquet(post).groupBy("term").agg(count(lit(1)).as("df"))
          .write.mode("overwrite")
          .parquet(Tables.scratch("baseline_cdc_df"))
      }
      Snapshots.create(s, root, docs)
      rebuild(Snapshots.read(s, root))
      Snapshots.commitUpdate(s, root, col("doc_id") % 11 === 0,
        Map("text" -> concat(col("text"), lit(" vector"))))
      Snapshots.commitDelete(s, root, col("doc_id") % 13 === 0)
      val live = Snapshots.read(s, root)
      rebuild(live)
      val terms = Seq("hash", "merge", "vector")
      s.read.parquet(post)
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id")
        .agg(countDistinct("term").as("n_terms"), sum("tf").as("total_tf"))
        .filter(col("n_terms") === terms.size)
        .join(live.select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"))
    }),

    // q_sim_ivf_incremental control: the user without add-without-train
    // REFITS k-means on the full corpus for every ingest batch; with
    // the exhaustive-probe contract the search itself is the exact
    // scan, so the pair isolates refit-vs-assign — the maintenance
    // cost the incremental path removes. Deliverable-matched like its
    // q_sim_ivf_delete sibling: the refit user persists the rebuilt
    // index (flat, the ivf pairs' layout) — per-batch refit only makes
    // sense because the index outlives the batch for serving and the
    // NEXT batch, and the graft artifact is likewise a reusable
    // on-disk index, so a control that keeps everything in memory
    // would under-build the deliverable.
    "q_sim_ivf_incremental" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      val model = new KMeans().setK(8).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
      val out = Tables.scratch("baseline_ivf_refit")
      model.transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(out)
      val assigned = s.read.parquet(out)
      val p = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val c = assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("neighbor_vec"))
      val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(probe_vec, neighbor_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(probe_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(neighbor_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
        .orderBy("probe_id", "rank")
    }),

    // q_decontaminate_incremental control: the user without a
    // persisted contamination index — every ingest batch re-processes
    // the BENCHMARK set from scratch (re-tokenize, re-derive the
    // shared gram order, rebuild bench prefixes) inside a one-shot
    // cross join per batch. Deliverable-matched: the same two batch
    // reports, unioned.
    "q_decontaminate_incremental" -> ((s, dir) => {
      // tokens materialize through a Project boundary before the
      // shingle HOF (inlining re-embeds the split per lambda position
      // — O(len²) tokenizations; the graft side never paid this, so
      // leaving it would inflate the pair)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Dedup.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          graft.operators.Dedup.shingles(col("w"), 2).as("grams"))
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val b1 = graft.operators.Dedup.crossJaccardJoin(
        train.filter(col("doc_id") % 2 === 0), bench, "doc_id", "grams", 0.8)
      val b2 = graft.operators.Dedup.crossJaccardJoin(
        train.filter(col("doc_id") % 2 =!= 0), bench, "doc_id", "grams", 0.8)
      b1.unionByName(b2)
        .select(col("doc_a").as("doc_id"), col("doc_b").as("bench_id"),
          col("jaccard"))
        .orderBy("doc_id", "bench_id")
    }),

    // q_hybrid_cdc control: the user without O(changes) maintenance —
    // the same three version states (plain parquet dirs), then BOTH
    // retrieval artifacts rebuilt IN FULL from the mutated corpus
    // (flat postings + doclen re-tokenized; k-means REFIT + flat
    // rewrite) and the hybrid served from the flat layouts with
    // window cuts. Deliverable-matched end to end: versioned states,
    // both indexes current, one fused ranking per probe.
    "q_hybrid_cdc" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val v1d = Tables.scratch("baseline_hcdc_v1")
      val v2d = Tables.scratch("baseline_hcdc_v2")
      val v3d = Tables.scratch("baseline_hcdc_v3")
      t(s, dir, "documents").select("doc_id", "text")
        .join(t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .write.mode("overwrite").parquet(v1d)
      s.read.parquet(v1d)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" vector"))).otherwise(col("text")))
        .withColumn("embedding", when(col("doc_id") % 11 === 0,
          reverse(col("embedding"))).otherwise(col("embedding")))
        .write.mode("overwrite").parquet(v2d)
      s.read.parquet(v2d).filter(col("doc_id") % 13 =!= 0)
        .write.mode("overwrite").parquet(v3d)
      val live = s.read.parquet(v3d)
      // capability-matched rebuild (the round-9 CDC-pair protocol):
      // the indexes were SERVING at v1 — the stock user without
      // incremental sync re-materializes BOTH artifacts per refresh,
      // so the control builds at v1 and again from the mutated state
      val post = Tables.scratch("baseline_hcdc_postings")
      val dls = Tables.scratch("baseline_hcdc_doclen")
      val vout = Tables.scratch("baseline_hcdc_ivf")
      def rebuild(src: DataFrame): Unit = {
        val toks = src.select(col("doc_id"),
          graft.operators.Dedup.tokens(col("text")).as("toks"))
        toks.select(col("doc_id"), explode(col("toks")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .write.mode("overwrite").parquet(post)
        toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
          .write.mode("overwrite").parquet(dls)
        val withVec = src.withColumn("__v", array_to_vector(col("embedding")))
        val model = new KMeans().setK(8).setSeed(42L)
          .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
        model.transform(withVec).drop("__v")
          .select("doc_id", "embedding", "cluster")
          .write.mode("overwrite").parquet(s"$vout/assigned")
      }
      rebuild(s.read.parquet(v1d))
      rebuild(live)
      // BM25 leg from the flat artifacts
      val terms = Seq("hash", "merge", "vector")
      val tf = s.read.parquet(post).filter(col("term").isin(terms: _*))
        .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      val dl = s.read.parquet(dls)
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
      val wT = Window.orderBy(col("score").desc, col("doc_id").asc)
      val textTop = tf.join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
            col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id").agg(sum("contrib").as("score"))
        .withColumn("leg_rank", row_number().over(wT))
        .filter(col("leg_rank") <= 50)
        .select("doc_id", "leg_rank")
      // vector leg: exhaustive scan of the rebuilt flat index
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val p = live.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"), col("embedding").as("probe_vec"))
      val cv = s.read.parquet(s"$vout/assigned")
        .select(col("doc_id"), col("embedding").as("neighbor_vec"))
      val wV = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("doc_id").asc)
      val vecTop = cv.join(broadcast(p), col("probe_id") =!= col("doc_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
        .withColumn("leg_rank", row_number().over(wV))
        .filter(col("leg_rank") <= 50)
        .select("probe_id", "doc_id", "leg_rank")
      val contrib = p.select("probe_id").crossJoin(broadcast(textTop))
        .unionByName(vecTop)
        .select(col("probe_id"), col("doc_id"),
          (lit(1.0) / (lit(60) + col("leg_rank")).cast("double")).as("c"))
      val wF = Window.partitionBy("probe_id").orderBy(col("rrf").desc, col("doc_id").asc)
      contrib.groupBy("probe_id", "doc_id").agg(sum("c").as("rrf"))
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= 10)
        .select("probe_id", "rank", "doc_id", "rrf")
        .orderBy("probe_id", "rank")
    }),

    // q_card_incremental control: the user without IVM — same
    // materialized v1 card and the same two version states (two plain
    // parquet writes standing in for the commits), but the refreshed
    // card comes from a FULL rescan of the mutated corpus instead of
    // an O(changes) delta merge. Deliverable-matched: both sides
    // persist the v1 view and emit the refreshed card.
    "q_card_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "source", "text")
      def wordsOf(c: org.apache.spark.sql.Column) =
        size(filter(split(c, "\\s+"), x => length(x) > 0)).cast("long")
      def card(df: DataFrame) = df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(wordsOf(col("text"))).as("total_words"),
          sum(length(col("text")).cast("long")).as("total_chars"))
      // three version dirs — the scenario's history is create →
      // UPDATE commit → DELETE commit, and the stock user keeping
      // versions writes each one
      val v1d = Tables.scratch("baseline_card_v1")
      val v2d = Tables.scratch("baseline_card_v2")
      val v3d = Tables.scratch("baseline_card_v3")
      docs.write.mode("overwrite").parquet(v1d)
      val view = Tables.scratch("baseline_card_view")
      card(s.read.parquet(v1d)).write.mode("overwrite").parquet(view)
      s.read.parquet(v1d)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" vector"))).otherwise(col("text")))
        .write.mode("overwrite").parquet(v2d)
      s.read.parquet(v2d)
        .filter(col("doc_id") % 13 =!= 0)
        .write.mode("overwrite").parquet(v3d)
      // the control's refresh IS the full recompute, so the graft
      // side's incremental-equals-full audit has no control analog
      // (comparing full to full proves nothing); the graft side pays
      // that extra compare on top of its O(changes) refresh
      card(s.read.parquet(v3d))
        .withColumn("avg_words",
          col("total_words").cast("double") / col("n_docs"))
        .withColumn("ivm_ok", lit(true))
        .orderBy("source")
    }),

    // q_text_boolean_index control: same boolean algebra served from
    // the stock flat postings artifact — every posting row scanned
    // for the term filter where the graft side reads 4 bucket
    // partitions of the real index.
    "q_text_boolean_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = Tables.scratch("baseline_bool_postings")
      docs.select(col("doc_id"),
          explode(graft.operators.Dedup.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(post)
      val posts = s.read.parquet(post)
        .filter(col("term").isin("hash", "merge", "vector", "table"))
        .select("doc_id", "term").distinct()
      def d(term: String) = posts.filter(col("term") === term).select("doc_id")
      val a = d("hash").join(d("merge"), Seq("doc_id"), "left_semi")
      val b = d("vector").join(d("table"), Seq("doc_id"), "left_anti")
      a.select(col("doc_id"), lit(1).as("in_a"), lit(0).as("in_b"))
        .unionByName(b.select(col("doc_id"), lit(0).as("in_a"), lit(1).as("in_b")))
        .groupBy("doc_id")
        .agg((max("in_a") === 1).as("in_first"), (max("in_b") === 1).as("in_second"))
        .orderBy("doc_id")
    }),

    // q_embedding_drift control: the stock user's drift report — the
    // two version states land as two plain parquet dirs (no snapshot
    // manifest, no time travel), centroids via posexplode + per-dim
    // avg (no UDAF), same double cosine. Deliverable-matched: both
    // sides persist two versions and emit the per-label report.
    "q_embedding_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val v1d = Tables.scratch("baseline_drift_v1")
      val v2d = Tables.scratch("baseline_drift_v2")
      emb.select("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(v1d)
      emb.select(col("vec_id"),
          when(col("vec_id") % 11 === 0, reverse(col("embedding")))
            .otherwise(col("embedding")).as("embedding"), col("label"))
        .write.mode("overwrite").parquet(v2d)
      def cents(path: String, cn: String) = s.read.parquet(path)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("label", "pos").agg(avg(col("v").cast("double")).as(cn))
      val n = s.read.parquet(v1d).groupBy("label").agg(count(lit(1)).as("n_vecs"))
      cents(v1d, "c1").join(cents(v2d, "c2"), Seq("label", "pos"))
        .groupBy("label")
        .agg(sum(col("c1") * col("c2")).as("dot"),
          sum(col("c1") * col("c1")).as("s1"),
          sum(col("c2") * col("c2")).as("s2"))
        .join(n, Seq("label"))
        .select(col("label"), col("n_vecs"),
          (col("dot") / (sqrt(col("s1")) * sqrt(col("s2")))).as("drift_cos"))
        .orderBy("label")
    }),

    // q_text_prf_search control: both retrieval rounds from the stock
    // flat layout (the bm25 pair's artifacts — every posting row
    // scanned per round, stats recomputed from the doclen artifact),
    // same integer-metric expansion off the forward table. The graft
    // side's two rounds read only the query terms' bucket partitions
    // and take stats off the manifest.
    "q_text_prf_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val post = Tables.scratch("baseline_prf_postings")
      val dls = Tables.scratch("baseline_prf_doclen")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(post)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(dls)
      val dl = s.read.parquet(dls)
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
      def bm25Round(terms: Seq[String], k: Int) = {
        val tf = s.read.parquet(post).filter(col("term").isin(terms: _*))
          .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
        tf.join(broadcast(dfT), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("contrib",
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
              col("tf") * lit(2.2) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .groupBy("doc_id").agg(sum("contrib").as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(k)
      }
      val seed = Seq("hash", "merge", "vector")
      val feedback = bm25Round(seed, 10).select("doc_id")
      val expansion = docs.join(feedback, "doc_id")
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("term"))
        .filter(!col("term").isin(seed: _*))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(5)
        .select("term").collect().map(_.getString(0)).toSeq
      bm25Round(seed ++ expansion, 20)
    }),

    // q_text_decontaminate_fuzzy control: the stock user's fuzzy
    // decontamination — inverted-index enumeration of EVERY cross
    // gram collision (the oracle's shape in Spark), jaccard from
    // per-pair collision counts, no prefix filter and no positional
    // pruning: every (train, bench) pair sharing ANY bigram reaches
    // the aggregate, where the graft side only aggregates pairs whose
    // rarest-first prefixes collide.
    "q_text_decontaminate_fuzzy" -> ((s, dir) => {
      // same Project-boundary rule as the incremental control above
      val docs = t(s, dir, "documents")
      val grams = docs
        .select(col("doc_id"),
          graft.operators.Dedup.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          array_distinct(graft.operators.Dedup.shingles(col("w"), 2)).as("g"))
      val e = grams.select(col("doc_id"), size(col("g")).as("sz"),
        explode(col("g")).as("gram"))
      val tr = e.filter(col("doc_id") % 10 =!= 0)
        .select(col("gram"), col("doc_id"), col("sz").as("sz_a"))
      val be = e.filter(col("doc_id") % 10 === 0)
        .select(col("gram"), col("doc_id").as("bench_id"), col("sz").as("sz_b"))
      tr.join(be, Seq("gram"))
        .groupBy("doc_id", "bench_id")
        .agg(count(lit(1)).cast("double").as("inter"),
          max("sz_a").as("sz_a"), max("sz_b").as("sz_b"))
        .withColumn("jaccard",
          col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
        .filter(col("jaccard") >= 0.8)
        .select("doc_id", "bench_id", "jaccard")
        .orderBy("doc_id", "bench_id")
    }),

    // q_hybrid_search_rrf control: the same deliverable (persist a
    // text retrieval index AND a k-means vector index, then serve one
    // RRF-fused ranking per probe) with the stock flat layouts — the
    // BM25 leg scans every posting row of the flat postings table (no
    // bucket pruning, stats recomputed from the doclen artifact
    // instead of a manifest), the vector leg scans the whole flat
    // assigned table (no cluster partition pruning), and every cut is
    // a row_number window instead of the bounded-heap aggregate. The
    // pair isolates what the hybrid path inherits from the two index
    // layouts plus the fusion shape.
    "q_hybrid_search_rrf" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      // text artifacts, flat (the bm25 pair's layout)
      val post = Tables.scratch("baseline_hybrid_postings")
      val dls = Tables.scratch("baseline_hybrid_doclen")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(post)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(dls)
      // vector artifacts, flat (the ivf pairs' layout)
      val vout = Tables.scratch("baseline_hybrid_ivf")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      val model = new KMeans().setK(16).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
      model.transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(s"$vout/assigned")
      import s.implicits._
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }.toSeq
        .toDF("centroid_id", "centroid_vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$vout/centroids")
      // BM25 leg from the flat artifacts, window-ranked
      val terms = Seq("hash", "merge", "vector")
      val tf = s.read.parquet(post).filter(col("term").isin(terms: _*))
        .select(col("doc_id"), col("term"), col("tf").cast("double").as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      val dl = s.read.parquet(dls)
      val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
      val wT = Window.orderBy(col("score").desc, col("doc_id").asc)
      val textTop = tf.join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
            col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id").agg(sum("contrib").as("score"))
        .withColumn("leg_rank", row_number().over(wT))
        .filter(col("leg_rank") <= 50)
        .select("doc_id", "leg_rank")
      // vector leg: exhaustive scan of the flat persisted index
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val p = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val cv = s.read.parquet(s"$vout/assigned")
        .select(col("vec_id").as("doc_id"), col("embedding").as("neighbor_vec"))
      val wV = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("doc_id").asc)
      val vecTop = cv.join(broadcast(p), col("probe_id") =!= col("doc_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
        .withColumn("leg_rank", row_number().over(wV))
        .filter(col("leg_rank") <= 50)
        .select("probe_id", "doc_id", "leg_rank")
      // RRF fusion, window cut
      val contrib = p.select("probe_id").crossJoin(broadcast(textTop))
        .unionByName(vecTop)
        .select(col("probe_id"), col("doc_id"),
          (lit(1.0) / (lit(60) + col("leg_rank")).cast("double")).as("c"))
      val wF = Window.partitionBy("probe_id").orderBy(col("rrf").desc, col("doc_id").asc)
      contrib.groupBy("probe_id", "doc_id").agg(sum("c").as("rrf"))
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= 10)
        .select("probe_id", "rank", "doc_id", "rrf")
        .orderBy("probe_id", "rank")
    }),

    // q_sim_ivf_pq control: the same deliverable (persist a k-means
    // index, search it, verify vs exact) WITHOUT the two graft layout
    // moves — the assigned corpus lands as FLAT parquet (no cluster
    // partitioning, no int8 codes), so the search must (a) read the
    // whole persisted corpus and filter probed clusters with a JOIN
    // instead of planning-time partition pruning, and (b) score every
    // candidate with the full-width float cosine instead of the
    // quarter-width coarse codes. The pair isolates layout + code
    // denormalization, the two things IVF-PQ-lite adds.
    "q_sim_ivf_pq" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val out = Tables.scratch("baseline_ivf_flat")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      val model = new KMeans().setK(16).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
      model.transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(s"$out/assigned")
      val cents = model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      import s.implicits._
      cents.toSeq.toDF("centroid_id", "centroid_vec")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/centroids")
      val assigned = s.read.parquet(s"$out/assigned")
      val centroids = s.read.parquet(s"$out/centroids")
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      def l2(a: String, b: String) = expr(
        s"sqrt(aggregate(zip_with($a, $b, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val wC = Window.partitionBy("probe_id").orderBy(col("cdist").asc, col("centroid_id").asc)
      val probeLists = p.crossJoin(broadcast(centroids))
        .withColumn("cdist", l2("probe_vec", "centroid_vec"))
        .withColumn("crank", row_number().over(wC))
        .filter(col("crank") <= 8)
        .select(col("probe_id"), col("probe_vec"), col("centroid_id").as("cluster"))
      val c = assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("neighbor_vec"), col("cluster"))
      val scored = c.join(broadcast(probeLists), Seq("cluster"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      val pq = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
      val cEx = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
      val exScored = cEx.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
      val exact = exScored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
      val gaps = pq.join(
          exact.select(col("probe_id"), col("rank"), col("cos").as("exact_cos")),
          Seq("probe_id", "rank"))
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n_ret"),
          max(col("exact_cos") - col("cos")).as("max_gap"))
      exact.filter(col("rank") === 1)
        .select(col("probe_id"), col("cos").as("exact_top1_cos"))
        .join(gaps, Seq("probe_id"), "left_outer")
        .select(col("probe_id"), col("exact_top1_cos"),
          (coalesce(col("n_ret"), lit(0L)) === 5 &&
            coalesce(col("max_gap"), lit(1.0)) <= lit(0.1)).as("pq_ok"))
        .orderBy("probe_id")
    }),

    // q_sim_ivf_cdc control: the user without O(changes) sync rebuilds
    // the WHOLE index from the mutated table's live state — same
    // snapshot commits and change-feed deliverable, then a full
    // k-means refit + flat rewrite where the graft side tombstones +
    // appends only the changed rows. Same exhaustive final search.
    "q_sim_ivf_cdc" -> ((s, dir) => {
      import graft.operators.Snapshots
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val root = Tables.scratch("baseline_ivf_cdc_tbl")
      val out = Tables.scratch("baseline_ivf_cdc_idx")
      Snapshots.create(s, root, emb.select("vec_id", "embedding"))
      // v1 bootstrap build (the index that exists before the changes)
      val v1 = Snapshots.read(s, root)
        .withColumn("__v", array_to_vector(col("embedding")))
      new KMeans().setK(8).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(v1)
        .transform(v1).drop("__v")
        .write.mode("overwrite").parquet(out)
      Snapshots.commitUpdate(s, root, col("vec_id") % 11 === 0,
        Map("embedding" -> reverse(col("embedding"))))
      Snapshots.commitDelete(s, root, col("vec_id") % 13 === 0)
      val chDir = Tables.scratch("baseline_ivf_cdc_feed")
      Snapshots.changes(s, root, 1, 3, "vec_id")
        .write.mode("overwrite").parquet(chDir)
      s.read.parquet(chDir).count() // the feed deliverable, consumed
      // the sync: full refit + rewrite from the live state
      val live = Snapshots.read(s, root)
        .withColumn("__v", array_to_vector(col("embedding")))
      new KMeans().setK(8).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(live)
        .transform(live).drop("__v")
        .write.mode("overwrite").parquet(out)
      val assigned = s.read.parquet(out)
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      assigned.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("neighbor_vec"))
        .join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
        .orderBy("probe_id", "rank")
    }),

    // q_sim_ivf_delete control: the user without tombstones erases by
    // copy-on-write — the whole flat index rewritten minus the deleted
    // rows (twice: once masked-equivalent, once as the audit copy the
    // graft side's pre/post bit-identity check also delivers) — then
    // the same exhaustive search.
    "q_sim_ivf_delete" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val out = Tables.scratch("baseline_ivf_cow")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      new KMeans().setK(8).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
        .transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(s"$out/v1")
      // CoW erase; the deliverable also includes the graft side's
      // audit evidence — a pre-rewrite (filter-masked) search, a
      // post-rewrite search, and their bit-identity — so the control
      // produces the same three artifacts, not just the erased copy
      val v1 = s.read.parquet(s"$out/v1")
      v1.filter(col("vec_id") % 7 =!= 0)
        .write.mode("overwrite").parquet(s"$out/v2")
      val assigned = s.read.parquet(s"$out/v2")
      val purged = assigned.filter(col("vec_id") % 7 === 0).count() == 0
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      def search(src: DataFrame) =
        src.select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
          .join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
          .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .select("probe_id", "rank", "neighbor_id", "cos")
      search(v1.filter(col("vec_id") % 7 =!= 0))
        .write.mode("overwrite").parquet(s"$out/pre")
      search(assigned).write.mode("overwrite").parquet(s"$out/post")
      val pre = s.read.parquet(s"$out/pre")
      val post = s.read.parquet(s"$out/post")
      val identical = pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty
      post
        .withColumn("purged", lit(purged))
        .withColumn("compact_identical", lit(identical))
        .orderBy("probe_id", "rank")
    }),

    // q_stream_ivf_ingest control: the user without add-without-train
    // REFITS k-means on everything that has arrived, per micro-batch
    // (same paced source, same batch cadence), and rewrites the
    // assignment flat — the O(corpus)-per-batch maintenance the
    // assignment-only append removes. Same exhaustive final search.
    "q_stream_ivf_ingest" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val acc = Tables.scratch("baseline_stream_ivf_acc")
      emb.filter(col("vec_id") % 2 === 0)
        .write.mode("overwrite").parquet(acc)
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "embeddings", "vec_id", 3)
        .filter(col("vec_id") % 2 === 1)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(acc)
          val all = s.read.parquet(acc)
            .withColumn("__v", array_to_vector(col("embedding")))
          val m = new KMeans().setK(8).setSeed(42L)
            .setFeaturesCol("__v").setPredictionCol("cluster").fit(all)
          m.transform(all).drop("__v")
            .write.mode("overwrite")
            .parquet(Tables.scratch("baseline_stream_ivf_idx"))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val assigned = s.read.parquet(Tables.scratch("baseline_stream_ivf_idx"))
      val p = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val c = assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("neighbor_vec"))
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .withColumn("multi_batch", lit(true))
        .select("probe_id", "rank", "neighbor_id", "cos", "multi_batch")
        .orderBy("probe_id", "rank")
    }),

    // q_stream_ivf_autorepair control: the stock user's cadence loop.
    // Per batch they assign arrivals with the current model and append
    // flat; the POLL is a corpus-sized groupBy(cluster).count() (no
    // metadata advisory exists), and the REPAIR is a full k-means
    // refit + whole-corpus rewrite (no hot-list split exists) — the
    // O(corpus)-per-poll + O(corpus)-per-repair loop the advisory TVF
    // and rebalance verb replace with O(metadata) + O(hot). Same
    // drifting paced source, same 1.25 rule, same exhaustive final
    // search and booleans.
    "q_stream_ivf_autorepair" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val acc = Tables.scratch("baseline_autorepair_idx")
      var model = new KMeans().setK(4).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster")
        .fit(emb.filter(col("vec_id") % 2 === 0)
          .withColumn("__v", array_to_vector(col("embedding"))))
      model.transform(emb.filter(col("vec_id") % 2 === 0)
          .withColumn("__v", array_to_vector(col("embedding")))).drop("__v")
        .write.mode("overwrite").parquet(acc)
      val loopOk = new java.util.concurrent.atomic.AtomicBoolean(true)
      def pollAndRepair(): Boolean = {
        // the stock poll: a full corpus aggregate per cadence tick
        val sizes = s.read.parquet(acc).groupBy("cluster").count()
          .collect().map(_.getLong(1))
        val mean = sizes.sum.toDouble / sizes.length
        if (sizes.exists(sz => sz > 1.25 * mean && sz >= 2)) {
          // the stock repair: full refit + whole-corpus rewrite (k
          // grows by one per repair, the list-count growth a split
          // produces — same-k refit on drifted data can never clear
          // the rule)
          val all = s.read.parquet(acc).drop("cluster")
            .withColumn("__v", array_to_vector(col("embedding")))
          model = new KMeans().setK(model.clusterCenters.length + 1)
            .setSeed(42L).setFeaturesCol("__v").setPredictionCol("cluster")
            .fit(all)
          model.transform(all).drop("__v")
            .write.mode("overwrite").parquet(Tables.scratch("baseline_autorepair_tmp"))
          s.read.parquet(Tables.scratch("baseline_autorepair_tmp"))
            .write.mode("overwrite").parquet(acc)
          true
        } else false
      }
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "embeddings", "vec_id", 3)
        .filter(col("vec_id") % 2 === 1)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          model.transform(batch.withColumn("__v",
              array_to_vector(col("embedding")))).drop("__v")
            .write.mode("append").parquet(acc)
          pollAndRepair()
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      var drains = 0
      while (pollAndRepair() && drains < 16) drains += 1
      val cleanAfter = {
        val sizes = s.read.parquet(acc).groupBy("cluster").count()
          .collect().map(_.getLong(1))
        val mean = sizes.sum.toDouble / sizes.length
        !sizes.exists(sz => sz > 1.25 * mean && sz >= 2)
      }
      val assigned = s.read.parquet(acc)
      val p = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val c = assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("neighbor_vec"))
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .withColumn("repair_loop_ok", lit(loopOk.get()))
        .withColumn("advisory_clean", lit(cleanAfter))
        .select("probe_id", "rank", "neighbor_id", "cos",
          "repair_loop_ok", "advisory_clean")
        .orderBy("probe_id", "rank")
    }),

    // q_sim_ivf_rebalance control: the user without the split verb
    // fixes hot-centroid skew by REBUILDING the whole index — a full
    // k-means refit over the corpus at doubled k, rewritten flat —
    // where the rebalance reads and rewrites only the hot lists.
    // Same exhaustive final search.
    "q_sim_ivf_rebalance" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val out = Tables.scratch("baseline_ivf_rebuild")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      // the "skewed" first build the user is repairing
      new KMeans().setK(4).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
        .transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(out)
      // the repair: full refit at doubled k, full rewrite
      val m2 = new KMeans().setK(8).setSeed(43L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
      m2.transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(out)
      val assigned = s.read.parquet(out)
      val p = assigned.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val c = assigned.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("neighbor_vec"))
      def hofCos(a: String, b: String) = expr(
        s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
           | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
           |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .withColumn("rebalance_ok", lit(true))
        .select("probe_id", "rank", "neighbor_id", "cos", "rebalance_ok")
        .orderBy("probe_id", "rank")
    }),

    // q_udaf_weighted_avg control: stock sum(x*w)/sum(w) instead of the
    // typed Aggregator.
    "q_udaf_weighted_avg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg((sum(col("l_extendedprice") * col("l_quantity")) / sum(col("l_quantity")))
          .as("wavg_price"))
        .orderBy("l_returnflag")
    }),

    // q_embed_centroid control: posexplode + groupBy avg instead of the
    // element-wise partial-agg UDAF.
    "q_embed_centroid" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(avg(col("x").cast("double")).as("v"))
        .orderBy("label", "pos")
    }),

    // q_dedup_minhash control: Spark ML MinHashLSH over hashed shingle
    // vectors (the stock near-dup path a plain-Spark user would reach for).
    "q_dedup_minhash" -> ((s, dir) => {
      import org.apache.spark.ml.feature.{CountVectorizer, MinHashLSH}
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          array_distinct(filter(split(lower(col("text")), "\\W+"), w => length(w) > 0)).as("words"))
        .withColumn("sz", size(col("words")))
        .withColumn("grams", array_distinct(filter(
          transform(col("words"), (_, i) =>
            when(i <= col("sz") - 2, concat_ws(" ",
              element_at(col("words"), i + 1), element_at(col("words"), i + 2)))),
          g => g.isNotNull)))
        .filter(size(col("grams")) > 0)
      val cv = new CountVectorizer().setInputCol("grams").setOutputCol("features")
        .setBinary(true).fit(docs)
      val vecs = cv.transform(docs).select("doc_id", "features")
      val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(32).setSeed(42L).fit(vecs)
      lsh.approxSimilarityJoin(vecs, vecs, 0.2, "jdist")
        .select(col("datasetA.doc_id").as("doc_a"), col("datasetB.doc_id").as("doc_b"),
          (lit(1.0) - col("jdist")).as("jaccard"))
        .filter(col("doc_a") < col("doc_b"))
    }),

    // q_dedup_embedding control: naive all-pairs HOF cosine (what stock
    // Spark offers without an LSH operator).
    "q_dedup_embedding" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val a = emb.select(col("vec_id").as("vid_a"), col("embedding").as("v_a"))
      val b = emb.select(col("vec_id").as("vid_b"), col("embedding").as("v_b"))
      a.crossJoin(b).filter(col("vid_a") < col("vid_b"))
        .withColumn("cos", expr(
          """aggregate(zip_with(v_a, v_b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(v_a, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(v_b, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
        .filter(col("cos") >= 0.85)
        .select("vid_a", "vid_b", "cos")
    }),

    // q_sink_zorder control: what a stock user does without a z-order
    // operator — single-dimension range-sorted write, same file count,
    // then the same two-dimension box-filter read. Measures the cost
    // delta of the Morton layout (the read-side benefit shows in
    // PlanSpec's per-file range assertions, not this wall-clock).
    "q_sink_zorder" -> ((s, dir) => {
      val out = Tables.scratch("baseline_plain_sort")
      t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("l_orderkey") <= 1000 && col("l_suppkey") <= 5)
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
          max("l_orderkey").as("max_key"))
    }),

    // q_join_runtime_filter control: the identical shuffle join with
    // the bloom-filter rule OFF (broadcast still disabled, matching the
    // graft query's conf window) — measures what runtime pruning buys.
    "q_join_runtime_filter" -> ((s, dir) => {
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = confs.map { case (k, _) => k -> s.conf.get(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_linestatus")
          .agg(
            (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / 100.0)
              .as("sum_price"),
            count(lit(1)).as("n_items"))
          .localCheckpoint()
          .orderBy("l_linestatus")
      } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
    }),

    // q_dedup_semantic control: what stock Spark offers without a
    // cluster-quantized dedup operator — the SAME planted corpus, then
    // ALL-PAIRS HOF cosine at τ=0.99 and keep-lowest-id. The pair count
    // is quadratic in the corpus where graft's is per-cluster.
    "q_dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(max("vec_id")).head.getLong(0) + 1
      val planted = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + maxId)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + (pmod(hash(col("vec_id"), j), lit(1000)) - 500)
            .cast("double") / 100000.0d).cast("float")))
      val corpus = emb.unionByName(planted).localCheckpoint()
      val a = corpus.select(col("vec_id").as("vid_a"), col("embedding").as("v_a"))
      val b = corpus.select(col("vec_id").as("vid_b"), col("embedding").as("v_b"))
      val hofCos = expr(
        """aggregate(zip_with(v_a, v_b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
          | / (sqrt(aggregate(v_a, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
          |    * sqrt(aggregate(v_b, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val removed = a.crossJoin(b).filter(col("vid_a") < col("vid_b"))
        .withColumn("cos", hofCos).filter(col("cos") >= 0.99)
        .groupBy(col("vid_b").as("vec_id"))
        .agg(min("vid_a").as("dup_of"))
      val nPlanted = planted.count()
      removed.agg(count(lit(1)).as("n_removed"))
        .select((lit(nPlanted) + emb.count()).as("n_corpus"),
          lit(nPlanted).as("n_planted"),
          (col("n_removed") >= lit(math.ceil(nPlanted * 0.9).toLong))
            .as("recall_ok"))
    }),

    // q_decontaminate_semantic control: the stock formulation — HOF
    // cosine scored over a plain crossJoin (auto-broadcast picks up the
    // small side), threshold filter, then the row_number-window argmax
    // a stock user writes for "best match per flagged row". What the
    // pair measures: the codegen'd cosine kernel + condition-join +
    // max_by partial agg vs HOF cosine + post-join filter + window.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tests = emb.filter(col("vec_id") % 20 === 0)
        .withColumn("tv", transform(col("embedding"), (x, j) =>
          (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
            / 100000.0d).cast("float")))
        .select((col("vec_id") / 20).cast("long").as("test_id"), col("tv"))
      val hofCos = expr(
        """aggregate(zip_with(cv, tv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
          | / (sqrt(aggregate(cv, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
          |    * sqrt(aggregate(tv, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val scored = emb.select(col("vec_id"), col("embedding").as("cv"))
        .crossJoin(tests)
        .withColumn("cos", hofCos).filter(col("cos") >= 0.95)
      val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("test_id").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("vec_id", "test_id", "cos")
    }),

    // q_sim_bitext_mining control: stock mining is index-free — ONE
    // crossJoin scores every src × tgt cosine via HOF, both kNN
    // directions are row_number windows over that scored table, and the
    // per-src best is a third window. Deliverable-matched (same planted
    // translations, same margin math, same threshold). What the pair
    // measures: two IVF builds + pruned shuffle-join kNN + bounded-heap
    // cuts vs the all-pairs scan + three window sorts — the layout
    // story whose gap widens with corpus (the windows sort the full
    // scored table; the graft side's shuffles carry O(n·k) rows).
    "q_sim_bitext_mining" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // same empty-table guard as the deliverable side (LlmPipeline
      // q_sim_bitext_mining): coalesce keeps the head from NPE'ing
      val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
      val src = emb.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("src_id"), col("embedding").as("cv"))
      val planted = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
            / 100000.0d).cast("float")))
        .select((col("vec_id") + maxId).as("tgt_id"), col("embedding").as("tv"))
      val tgt = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("tgt_id"), col("embedding").as("tv"))
        .unionByName(planted)
      val hofCos = expr(
        """aggregate(zip_with(cv, tv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
          | / (sqrt(aggregate(cv, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
          |    * sqrt(aggregate(tv, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)
      val scored = src.crossJoin(tgt).withColumn("cos", hofCos)
        .select("src_id", "tgt_id", "cos").localCheckpoint()
      val wf = Window.partitionBy("src_id").orderBy(col("cos").desc, col("tgt_id").asc)
      val wr = Window.partitionBy("tgt_id").orderBy(col("cos").desc, col("src_id").asc)
      val fwd = scored.withColumn("rn", row_number().over(wf)).filter(col("rn") <= 4)
      val rev = scored.withColumn("rn", row_number().over(wr)).filter(col("rn") <= 4)
      val fAvg = fwd.groupBy("src_id").agg(avg("cos").as("sa"))
      val rAvg = rev.groupBy("tgt_id").agg(avg("cos").as("ta"))
      val mutual = fwd.select("src_id", "tgt_id", "cos")
        .join(rev.select("src_id", "tgt_id"), Seq("src_id", "tgt_id"))
      val wb = Window.partitionBy("src_id").orderBy(col("margin").desc, col("tgt_id").asc)
      mutual.join(fAvg, Seq("src_id")).join(rAvg, Seq("tgt_id"))
        .withColumn("margin", col("cos") / ((col("sa") + col("ta")) / 2))
        .filter(col("margin") >= 1.6)
        .withColumn("rn", row_number().over(wb)).filter(col("rn") === 1)
        .select("src_id", "tgt_id", "cos", "margin")
    }),

    // q_sim_ann_multiprobe control: stock ANN is no ANN — brute-force
    // HOF cosine over the whole corpus per probe, window top-5.
    "q_sim_ann_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("v_a"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("v_b"))
      val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(v_a, v_b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(v_a, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(v_b, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
    }),

    // q_fs_connector control: the identical pipeline on direct file://
    // paths — measures what the graft:// translation layer costs.
    "q_fs_connector" -> ((s, dir) => {
      val out = Tables.scratch("baseline_fs_direct")
      s.read.parquet(Tables.path(dir, "customer"))
        .filter(col("c_acctbal") > 1000)
        .write.mode("overwrite").parquet(s"$out/cust")
      s.read.parquet(s"$out/cust")
        .join(s.read.parquet(Tables.path(dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"),
          (sum(round(col("c_acctbal") * 100).cast("long")).cast("double") / 100.0)
            .as("sum_acctbal"))
        .orderBy("n_name")
    }),

    // q_table_partitioned_merge control: versioned tables without a
    // partition manifest = Delta-style copy-on-write over the WHOLE
    // table — v1 full write, merge, v2 full write. graft rewrites only
    // the dirty partition; this rewrites everything.
    "q_table_partitioned_merge" -> ((s, dir) => {
      val root = Tables.scratch("baseline_part_merge")
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(s"$root/v_1")
      val v1 = s.read.parquet(s"$root/v_1")
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0) + 1
      val updates = orders
        .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.2)
        .unionByName(orders
          .filter(col("o_orderstatus") === "F" && col("o_orderkey") % 31 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey))
      val merged = updates.unionByName(
        v1.join(updates.select(col("o_orderkey").as("__k")),
          col("o_orderkey") === col("__k"), "left_anti"))
      merged.write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(s"$root/v_2")
      s.read.parquet(s"$root/v_2")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .orderBy("o_orderstatus")
    }),

    // q_table_skipping control: the same clustered write, then a FULL
    // scan with the range filter — no index, every file read.
    "q_table_skipping" -> ((s, dir) => {
      val out = Tables.scratch("baseline_skip_full")
      t(s, dir, "orders")
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderdate") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("o_orderdate") <= lit(java.sql.Date.valueOf("1996-03-31")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .orderBy("o_orderpriority")
    }),

    // q_table_stats_only control: the same clustered write + post-write
    // append, then count/min/max answered the stock way — a full scan
    // of the final table. The graft query's metadata read replaces
    // that scan; its one-time buildIndex job (amortized across every
    // later probe in practice) is charged to the pair in full.
    "q_table_stats_only" -> ((s, dir) => {
      val out = Tables.scratch("baseline_stats_only")
      val orders = t(s, dir, "orders")
      orders.repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").parquet(out)
      orders.filter(col("o_orderkey") % 97 === 0)
        .write.mode("append").parquet(out)
      s.read.parquet(out).agg(
        count(lit(1)).cast("long").as("n_rows"),
        min(col("o_orderdate")).as("min_date"),
        max(col("o_orderdate")).as("max_date"))
    }),

    // q_table_pruned_read control: stock hive-layout partition pruning
    // (a strong control — Spark prunes dirs natively; graft adds the
    // versioned manifest on top of the same contract).
    "q_table_pruned_read" -> ((s, dir) => {
      val root = Tables.scratch("baseline_pruned_read")
      t(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(root)
      s.read.parquet(root).filter(col("o_orderstatus") === "F")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100.0)
            .as("total"))
        .orderBy("o_orderstatus")
    }),

    // q_table_incremental_agg control: the SAME deliverable (a delta-
    // maintained aggregate proven equal to a full recompute) hand-
    // rolled over stock full-copy versions — v1 write, v2 full
    // rewrite, full-outer struct diff for the change feed, signed
    // delta apply, rescan, equality flags. What the pair measures is
    // the table machinery: merge-only-changes snapshots + manifest CDF
    // (graft) vs full rewrites + hand diff (stock).
    "q_table_incremental_agg" -> ((s, dir) => {
      val root = Tables.scratch("baseline_inc_agg")
      val orders = t(s, dir, "orders")
      val cents = sum(round(col("o_totalprice") * 100).cast("long"))
      orders.write.mode("overwrite").parquet(s"$root/v_1")
      val v1 = s.read.parquet(s"$root/v_1")
      val agg0 = v1.groupBy("o_orderstatus")
        .agg(cents.as("cents0"), count(lit(1)).as("n0"))
        .localCheckpoint()
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0) + 1
      val updates = orders.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .unionByName(orders.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey))
      val merged = updates.unionByName(
        v1.join(updates.select(col("o_orderkey").as("__k")),
          col("o_orderkey") === col("__k"), "left_anti"))
      merged.write.mode("overwrite").parquet(s"$root/v_2")
      // hand-rolled change feed: full-outer struct diff v1 vs v2
      val cols = v1.columns.toSeq
      val aS = s.read.parquet(s"$root/v_1")
        .select(col("o_orderkey").as("__key"), struct(cols.map(col): _*).as("__a"))
      val bS = s.read.parquet(s"$root/v_2")
        .select(col("o_orderkey").as("__key"), struct(cols.map(col): _*).as("__b"))
      val j = aS.join(bS, Seq("__key"), "full_outer")
      val changes = j.filter(col("__a").isNull)
        .select(col("__b.*")).withColumn("sign", lit(1L))
        .unionByName(j.filter(col("__a").isNotNull && col("__b").isNotNull &&
            !(col("__a") <=> col("__b")))
          .select(col("__b.*")).withColumn("sign", lit(1L)))
        .unionByName(j.filter(col("__a").isNotNull && col("__b").isNotNull &&
            !(col("__a") <=> col("__b")))
          .select(col("__a.*")).withColumn("sign", lit(-1L)))
      val delta = changes.groupBy("o_orderstatus")
        .agg(sum(col("sign") * round(col("o_totalprice") * 100).cast("long"))
            .as("d_cents"),
          sum(col("sign")).as("d_n"))
      val maintained = agg0.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("cents0"), lit(0L)) + coalesce(col("d_cents"), lit(0L)))
            .as("cents_m"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_m"))
      val full = s.read.parquet(s"$root/v_2").groupBy("o_orderstatus")
        .agg(cents.as("cents_f"), count(lit(1)).as("n_f"))
      maintained.join(full, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"), col("n_f").as("n"),
          (col("cents_f").cast("double") / 100.0).as("total"),
          (col("n_m") === col("n_f") && col("cents_m") === col("cents_f"))
            .as("incremental_ok"))
        .orderBy("o_orderstatus")
    }),

    // q_table_changes control: hand-rolled CDF over full-copy versions
    // — v1 write, v2 full rewrite, full-outer struct diff.
    "q_table_changes" -> ((s, dir) => {
      val root = Tables.scratch("baseline_changes")
      val cust = t(s, dir, "customer")
      cust.write.mode("overwrite").parquet(s"$root/v_1")
      val v1 = s.read.parquet(s"$root/v_1")
      val maxCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust)
          .withColumn("c_acctbal", lit(500.50)))
      updates.unionByName(
        v1.join(updates.select(col("c_custkey").as("__k")),
          col("c_custkey") === col("__k"), "left_anti"))
        .write.mode("overwrite").parquet(s"$root/v_2")
      val cols = v1.columns.toSeq
      val aS = s.read.parquet(s"$root/v_1")
        .select(col("c_custkey").as("__key"), struct(cols.map(col): _*).as("__a"))
      val bS = s.read.parquet(s"$root/v_2")
        .select(col("c_custkey").as("__key"), struct(cols.map(col): _*).as("__b"))
      val j = aS.join(bS, Seq("__key"), "full_outer")
      val ins = j.filter(col("__a").isNull)
        .select(col("__b.*")).withColumn("_change_type", lit("insert"))
      val upd = j.filter(col("__a").isNotNull && col("__b").isNotNull &&
        !(col("__a") <=> col("__b")))
      val pre = upd.select(col("__a.*")).withColumn("_change_type", lit("update_preimage"))
      val post = upd.select(col("__b.*")).withColumn("_change_type", lit("update_postimage"))
      ins.unionByName(pre).unionByName(post)
        .select("c_custkey", "c_acctbal", "_change_type")
        .orderBy("c_custkey", "_change_type")
    }),

    // q_table_rollback control: without an append-only manifest the
    // stock rollback is a data RECOMPUTE of the good version into a
    // third full copy (no FS-level file copy to reuse).
    "q_table_rollback" -> ((s, dir) => {
      val root = Tables.scratch("baseline_rollback")
      val cust = t(s, dir, "customer")
      val cents = sum(round(col("c_acctbal") * 100).cast("long"))
      cust.write.mode("overwrite").parquet(s"$root/v_1")
      val v1 = s.read.parquet(s"$root/v_1")
      val maxCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
      val bad = cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", -col("c_acctbal"))
        .unionByName(cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust)
          .withColumn("c_acctbal", lit(0.0)))
      bad.unionByName(
        v1.join(bad.select(col("c_custkey").as("__k")),
          col("c_custkey") === col("__k"), "left_anti"))
        .write.mode("overwrite").parquet(s"$root/v_2")
      s.read.parquet(s"$root/v_1")
        .write.mode("overwrite").parquet(s"$root/v_3")
      def snapAgg(v: Int) = s.read.parquet(s"$root/v_$v")
        .agg(count(lit(1)).as("n_rows"),
          (cents.cast("double") / 100.0).as("sum_acctbal"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_acctbal"))
      snapAgg(1).unionByName(snapAgg(2)).unionByName(snapAgg(3))
        .orderBy("version")
    }),

    // q_table_schema_merge control: schema evolution by full rewrite —
    // v2 is the whole table re-written with the new column.
    "q_table_schema_merge" -> ((s, dir) => {
      val root = Tables.scratch("baseline_schema_merge")
      val cust = t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal")
      cust.write.mode("overwrite").parquet(s"$root/v_1")
      val v1 = s.read.parquet(s"$root/v_1")
      val maxCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") % 97 === 0)
          .withColumn("c_custkey", col("c_custkey") + maxCust))
        .withColumn("c_tier",
          when(col("c_acctbal") > 5000, "gold").otherwise("std"))
      updates.unionByName(
        v1.join(updates.select(col("c_custkey").as("__k")),
            col("c_custkey") === col("__k"), "left_anti")
          .withColumn("c_tier", lit(null).cast("string")))
        .write.mode("overwrite").parquet(s"$root/v_2")
      val v2 = s.read.parquet(s"$root/v_2")
      v2.agg(count(lit(1)).as("n_rows"),
          count(col("c_tier")).as("n_with_tier"),
          sum(when(col("c_tier") === "gold", 1L).otherwise(0L)).as("n_gold"))
        .select(col("n_rows"), col("n_with_tier"), col("n_gold"),
          lit(3L).as("v1_cols"), lit(v2.columns.length.toLong).as("v2_cols"))
    }),

    // q_sql_timetravel control: manual dated full-copy dirs queried by
    // direct path — the stock user's "time travel".
    "q_sql_timetravel" -> ((s, dir) => {
      val root = Tables.scratch("baseline_sql_tt")
      val cust = t(s, dir, "customer")
      cust.write.mode("overwrite").parquet(s"$root/v_1")
      val v1 = s.read.parquet(s"$root/v_1")
      val maxCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
      val ins = cust.filter(col("c_custkey") % 97 === 0)
        .withColumn("c_custkey", col("c_custkey") + maxCust)
        .withColumn("c_acctbal", lit(500.50))
      v1.unionByName(ins).write.mode("overwrite").parquet(s"$root/v_2")
      s.sql(
        s"""SELECT 1L AS version, count(*) AS n_rows,
           |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0
           |    AS sum_acctbal
           |FROM parquet.`$root/v_1`
           |UNION ALL
           |SELECT 2L, count(*),
           |  cast(sum(cast(round(c_acctbal * 100) as bigint)) as double) / 100.0
           |FROM parquet.`$root/v_2`
           |ORDER BY version""".stripMargin)
    }),

    // q_stream_chained_agg control: the same window-on-window pipeline
    // as a plain readStream + memory sink, no graft plumbing.
    "q_stream_chained_agg" -> ((s, dir) => {
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        graft.streaming.StreamOps.StatePartitions.toString)
      val sink = s"baseline_chained_${System.nanoTime()}"
      try {
        val rawSchema = s.read.parquet(Tables.path(dir, "events")).schema
        val ev = s.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
          .transform(graft.Tables.normalizeTs)
        val l1 = ev.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n5"), sum("value").as("v5"))
        val l2 = l1
          .groupBy(window(window_time(col("window")), "15 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n_subwindows"), sum("n5").as("n_events"),
            max("n5").as("max_5min"), sum("v5").as("sum_value"))
        val q = l2.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", Tables.scratch(s"ckpt_$sink"))
          .start()
        q.awaitTermination()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.table(sink)
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n_subwindows"), col("n_events"), col("max_5min"), col("sum_value"))
        .orderBy("w_start", "event_type")
    }),

    // q_stream_stream_paced control: the same self-join drained as ONE
    // micro-batch (single-file source, no pacing) — isolates the cost
    // of cross-batch join-state carry (3 state commit rounds vs 1).
    // Plain readStream + memory sink, no graft plumbing in the plan.
    // State partitions sized like the graft side (8): per-batch commit
    // cost is per state partition, so a 32-store control would measure
    // partition-count mismatch, not pacing.
    "q_stream_stream_paced" -> ((s, dir) => {
      // DELIVERABLE-MATCHED control (the r6 "not a twin" disposition
      // closed): the graft side drains 3 paced micro-batches (2
      // cross-batch state handoffs), so the control must too — and the
      // pacing mechanism is stock end to end (repartitionByRange
      // pre-split + maxFilesPerTrigger=1 + mtimes pinned to range
      // order with plain Hadoop setTimes, exactly what a stock user
      // writes to rate-limit a file stream). What the pair now
      // measures is the identical plan at the identical batch count —
      // a variance pair, replacing the old 1-batch-vs-3 comparison
      // whose delta was pure state-commit machinery.
      // nanosAsLong is already set by this session's builder; state
      // partitions are restored in finally so a drain failure cannot
      // leak the streaming-sized conf into later batch controls
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions",
        graft.streaming.StreamOps.StatePartitions.toString)
      val sink = s"baseline_paced_${System.nanoTime()}"
      try {
        val raw = s.read.parquet(Tables.path(dir, "events"))
        val src = Tables.scratch(s"baseline_paced_src_${System.nanoTime()}")
        raw.repartitionByRange(3, col("ts")).write.mode("overwrite").parquet(src)
        val sp = new org.apache.hadoop.fs.Path(src)
        val fsys = sp.getFileSystem(s.sessionState.newHadoopConf())
        fsys.listStatus(sp).filter(_.getPath.getName.startsWith("part-"))
          .sortBy(_.getPath.getName).zipWithIndex
          .foreach { case (st, i) =>
            fsys.setTimes(st.getPath, 1755000000000L + i * 1000L, -1L) }
        val ev = s.readStream.schema(raw.schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "part-*").parquet(src)
          .transform(graft.Tables.normalizeTs)
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "30 minutes")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
          .withWatermark("e_ts", "30 minutes")
        val joined = views.join(errors,
          col("v_user") === col("e_user") &&
            col("e_ts") > col("v_ts") &&
            col("e_ts") <= col("v_ts") + expr("INTERVAL 10 MINUTES"))
        val q = joined.writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", Tables.scratch(s"ckpt_$sink"))
          .start()
        q.awaitTermination()
      } finally {
        // restore batch parallelism for the post-drain aggregate (the
        // graft side's runToMemory does the same)
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      s.table(sink).groupBy(col("v_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    }),

    // ── round-12 additions ────────────────────────────────────────────

    // q_text_faceted_search control, deliverable-matched (the
    // q_text_search_index protocol): persist the flat positional
    // postings + doclen + df artifacts a stock user writes, then serve
    // the faceted query by scanning ALL posting rows for the term
    // filter; the graft side reads 3 bucket partitions of its index.
    "q_text_faceted_search" -> ((s, dir) => {
      val terms = Seq("hash", "merge", "vector")
      val docs = t(s, dir, "documents")
      val out = Tables.scratch("baseline_facet_postings")
      val toks = docs.select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(out)
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(Tables.scratch("baseline_facet_doclen"))
      s.read.parquet(out).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(Tables.scratch("baseline_facet_df"))
      s.read.parquet(out)
        .filter(col("term").isin(terms: _*))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("tf").as("total_tf"))
        .filter(col("n_terms") === 3)
        .join(docs.select("doc_id", "source", "lang"), "doc_id")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_hits"), sum("total_tf").as("facet_tf"))
        .orderBy("source", "lang")
    }),

    // q_text_snippet control: same flat positional postings artifact;
    // the snippet algebra (banded start×occupant join + best-window
    // pick) runs off a FULL postings scan — the graft side's identical
    // algebra runs off 3 pruned bucket partitions. The best-window cut
    // here is the stock row_number window, not the heap-free max_by.
    "q_text_snippet" -> ((s, dir) => {
      val terms = Seq("hash", "merge", "vector")
      val width = 8
      val out = Tables.scratch("baseline_snip_postings")
      t(s, dir, "documents")
        .select(col("doc_id"), graft.operators.Dedup.tokens(col("text")).as("toks"))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(out)
      val postings = s.read.parquet(out).filter(col("term").isin(terms: _*))
      val matched = postings.groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"))
        .filter(col("n_terms") === terms.size).select("doc_id")
      val pos = postings.join(matched, Seq("doc_id"))
        .select(col("doc_id"), explode(col("positions")).as("pos"))
        .select(col("doc_id"), col("pos").cast("long").as("pos"))
      val starts = pos.select(col("doc_id"), col("pos").as("start"))
        .withColumn("band", (col("start") / width).cast("long"))
      val occupants = pos.withColumn("band", explode(array(
        (col("pos") / width).cast("long"),
        (col("pos") / width).cast("long") - 1)))
      val windowed = starts.join(occupants, Seq("doc_id", "band"))
        .filter(col("pos") >= col("start") && col("pos") < col("start") + width)
        .groupBy("doc_id", "start").agg(count(lit(1)).as("n_hits"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("n_hits").desc, col("start").asc)
      windowed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("start").as("snip_start"),
          col("n_hits").as("snip_hits"))
        .orderBy("doc_id")
    }),

    // q_sim_filtered_ann control: the same stock-ML k-means index
    // persisted FLAT (full-width floats, no partitioning); the
    // filtered search scans the WHOLE flat index (label filter + HOF
    // cosine) and cuts with a row_number window — the graft side reads
    // only probed cluster partitions and cuts with the bounded heap.
    "q_sim_filtered_ann" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val out = Tables.scratch("baseline_filtered_flat")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      val model = new KMeans().setK(8).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
      model.transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(out)
      val c = s.read.parquet(out).filter(col("label") === 3)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(probe_vec, neighbor_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(probe_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(neighbor_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id", "cos")
        .orderBy("probe_id", "rank")
    }),

    // q_sim_range_search control: same flat k-means artifact; the
    // radius query scans the WHOLE flat index with the HOF cosine and
    // threshold filter (no cluster pruning to lean on).
    "q_sim_range_search" -> ((s, dir) => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = t(s, dir, "embeddings")
      val out = Tables.scratch("baseline_range_flat")
      val withVec = emb.withColumn("__v", array_to_vector(col("embedding")))
      val model = new KMeans().setK(8).setSeed(42L)
        .setFeaturesCol("__v").setPredictionCol("cluster").fit(withVec)
      model.transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(out)
      val c = s.read.parquet(out)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
      val p = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(probe_vec, neighbor_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(probe_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(neighbor_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
        .filter(col("cos") >= 0.3)
        .select("probe_id", "neighbor_id", "cos")
        .orderBy("probe_id", "neighbor_id")
    }),

    // q_sim_knn_join control: the stock table×table knn join — every
    // probe against the WHOLE corpus (no index to narrow candidates),
    // HOF cosine, row_number window cut. The graft side builds the
    // partitioned IVF and shuffles each probe to its nProbes lists.
    "q_sim_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = emb.filter(col("vec_id") % 10 === 1)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
      val scored = c.join(p, col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", expr(
          """aggregate(zip_with(probe_vec, neighbor_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)
            | / (sqrt(aggregate(probe_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
            |    * sqrt(aggregate(neighbor_vec, CAST(0.0 AS DOUBLE), (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin))
      val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select("probe_id", "rank", "neighbor_id", "cos")
        .orderBy("probe_id", "rank")
    }),

    // q_forget control, deliverable-matched: the GDPR erase without
    // the layered verbs — plain table dir + flat postings + flat
    // k-means artifacts, erased by full copy-on-write REWRITES of all
    // three (minus the ids), the v1 table copy deleted, the same
    // physical-residue audit (raw reads of all three artifacts), same
    // per-source rollup. Every control rewrite is O(corpus); the graft
    // verbs are O(ids) tombstones + targeted folds.
    "q_forget" -> ((s, dir) => {
      val tbl = Tables.scratch("baseline_forget_tbl")
      val tblOld = Tables.scratch("baseline_forget_tbl_v1")
      val posts = Tables.scratch("baseline_forget_postings")
      val lists = Tables.scratch("baseline_forget_lists")
      val corpus = t(s, dir, "documents").select("doc_id", "text", "source", "n_chars")
        .join(t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      corpus.write.mode("overwrite").parquet(tblOld)
      corpus.write.mode("overwrite").parquet(tbl)
      // capability-matched retrieval artifacts (the round-8/9 rule):
      // the graft index carries positional postings + doc lengths +
      // per-term dfs + corpus totals, so the stock user materializes
      // the same flat artifacts...
      val toks = s.read.parquet(tbl).select(col("doc_id"),
        graft.operators.Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .write.mode("overwrite").parquet(posts)
      val doclen = Tables.scratch("baseline_forget_doclen")
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(doclen)
      val dfs = Tables.scratch("baseline_forget_df")
      s.read.parquet(posts).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(dfs)
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val withVec = s.read.parquet(tbl)
        .withColumn("__v", array_to_vector(col("embedding")))
      new KMeans().setK(8).setSeed(42L).setFeaturesCol("__v")
        .setPredictionCol("cluster").fit(withVec)
        .transform(withVec).drop("__v")
        .write.mode("overwrite").parquet(lists)
      val isForgotten = col("doc_id") % 17 === 0
      // erase: rewrite EVERY artifact minus the ids — including the
      // doclen rewrite and the df recount the graft compaction does —
      // and drop table history
      val tbl2 = Tables.scratch("baseline_forget_tbl_v2")
      s.read.parquet(tbl).filter(!isForgotten).write.mode("overwrite").parquet(tbl2)
      val posts2 = Tables.scratch("baseline_forget_postings_v2")
      s.read.parquet(posts).filter(!isForgotten).write.mode("overwrite").parquet(posts2)
      s.read.parquet(doclen).filter(!isForgotten).write.mode("overwrite")
        .parquet(Tables.scratch("baseline_forget_doclen_v2"))
      s.read.parquet(posts2).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite")
        .parquet(Tables.scratch("baseline_forget_df_v2"))
      val lists2 = Tables.scratch("baseline_forget_lists_v2")
      s.read.parquet(lists).filter(!isForgotten).write.mode("overwrite").parquet(lists2)
      val fs = new org.apache.hadoop.fs.Path(tblOld)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(tblOld), true)
      val tableResidue = s.read.parquet(tbl2).filter(isForgotten).count()
      val histResidue = if (fs.exists(new org.apache.hadoop.fs.Path(tblOld))) 1 else 0
      val postResidue = s.read.parquet(posts2).filter(isForgotten).count()
      val listResidue = s.read.parquet(lists2).filter(isForgotten).count()
      val forgotten =
        tableResidue == 0 && histResidue == 0 && postResidue == 0 && listResidue == 0
      s.read.parquet(tbl2)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("forget_ok", lit(forgotten))
        .orderBy("source")
    }),

    // q_table_branch control, deliverable-matched WAP: the stock user
    // without branch refs stages to a SEPARATE full table copy, audits
    // the copy, and publishes by replacing the main directory — the
    // staging is a full CoW write and the publish moves data, where
    // the graft fast-forward is one manifest swap.
    "q_table_branch" -> ((s, dir) => {
      val main = Tables.scratch("baseline_wap_main")
      val staging = Tables.scratch("baseline_wap_staging")
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").parquet(main)
      s.read.parquet(main)
        .withColumn("o_totalprice",
          when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
        .write.mode("overwrite").parquet(staging)
      val isolated = s.read.parquet(main)
        .filter(col("o_orderpriority") === "1-URGENT").count() > 0
      val b = s.read.parquet(staging)
      val auditPassed = b.count() == s.read.parquet(main).count() &&
        b.filter(col("o_totalprice") <= 0).count() == 0
      // publish: replace main with the staged copy (dir swap)
      val fs = new org.apache.hadoop.fs.Path(main)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(main), true)
      fs.rename(new org.apache.hadoop.fs.Path(staging),
        new org.apache.hadoop.fs.Path(main))
      val wapOk = isolated && auditPassed
      s.read.parquet(main)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0).as("total"))
        .withColumn("wap_ok", lit(wapOk))
        .orderBy("o_orderpriority")
    }),

    // q_sql_changes control: the CDC consumer without a change feed —
    // materialize the before/after table copies and diff them with a
    // stock full-outer join, then the same per-type rollup. The graft
    // side's feed is served through the snapshot manifests it already
    // maintains; the control re-derives the diff from full copies.
    "q_sql_changes" -> ((s, dir) => {
      val v1 = Tables.scratch("baseline_changes_v1")
      val v3 = Tables.scratch("baseline_changes_v3")
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").parquet(v1)
      orders
        .withColumn("o_totalprice",
          when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 1.05)
            .otherwise(col("o_totalprice")))
        .filter(!(col("o_orderkey") % 13 === 0))
        .write.mode("overwrite").parquet(v3)
      val a = s.read.parquet(v1).alias("a")
      val b = s.read.parquet(v3).alias("b")
      val diff = a.join(b, col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
        .withColumn("_change_type",
          when(col("b.o_orderkey").isNull, lit("delete"))
            .when(col("a.o_orderkey").isNull, lit("insert"))
            .when(col("a.o_totalprice") =!= col("b.o_totalprice"), lit("update"))
            .otherwise(lit(null)))
        .filter(col("_change_type").isNotNull)
      val pre = diff.filter(col("_change_type") === "update")
        .select(lit("update_preimage").as("_change_type"), col("a.o_totalprice").as("o_totalprice"))
      val post = diff.filter(col("_change_type") === "update")
        .select(lit("update_postimage").as("_change_type"), col("b.o_totalprice").as("o_totalprice"))
      val del = diff.filter(col("_change_type") === "delete")
        .select(col("_change_type"), col("a.o_totalprice").as("o_totalprice"))
      del.unionByName(pre).unionByName(post)
        .groupBy("_change_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("o_totalprice") * 100).cast("long")).cast("double")
            / 100.0).as("total"))
        .orderBy("_change_type")
    }),

    // q_sql_branch control: the staged-vs-live audit join over plain
    // table copies (the user without refs keeps two full directories).
    "q_sql_branch" -> ((s, dir) => {
      val main = Tables.scratch("baseline_sqlbranch_main")
      val staging = Tables.scratch("baseline_sqlbranch_staging")
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").parquet(main)
      s.read.parquet(main)
        .withColumn("o_totalprice",
          when(col("o_orderpriority") === "1-URGENT", col("o_totalprice") * 1.2)
            .otherwise(col("o_totalprice")))
        .write.mode("overwrite").parquet(staging)
      s.read.parquet(staging).createOrReplaceTempView("baseline_wap_b")
      s.read.parquet(main).createOrReplaceTempView("baseline_wap_m")
      s.sql(
        """SELECT b.o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(round(b.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
          |    / 100.0 AS staged_total,
          |  CAST(sum(CAST(round(m.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
          |    / 100.0 AS main_total
          |FROM baseline_wap_b b
          |JOIN baseline_wap_m m ON b.o_orderkey = m.o_orderkey
          |GROUP BY b.o_orderpriority
          |ORDER BY b.o_orderpriority""".stripMargin)
    })
  )

  private def timeMedian3(s: SparkSession)(run: () => Unit): Double = {
    val ts = (0 until 3).map { _ =>
      GraftSession.releaseLeakedBlocks(s)
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    ts.sorted.apply(1)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // NO GraftExtensions: the control session is stock Spark
    val spark = GraftSession.local(extensions = false)
    // the ONLY graft artifact in this session: the graft_snapshot name
    // binding for the q_sql_timetravel pair's graft side — no optimizer
    // rules or expression functions, so every control plan stays stock
    GraftExtensions.registerSnapshotSqlSurface(spark)

    def mat(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_ONLY=a,b,c re-measures a subset in isolation (the
    // protocol's tool for adjudicating a suspect pair without the other
    // 36 pairs' heap/cache pressure in the same JVM)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val pairs: Seq[(String, (SparkSession, String) => DataFrame)] =
      controls.toSeq
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .sortBy(_._1)

    // warm both formulations (JIT + codegen caches)
    pairs.foreach { case (n, fn) =>
      try mat(fn(spark, warmDir)) catch { case e: Throwable =>
        System.err.println(s"[baseline-warm] $n: ${e.getMessage}") }
      try mat(SparkEntry.queries(n)(spark, warmDir)) catch { case _: Throwable => () }
    }
    // interleave the pair's two sides back-to-back (not two global
    // loops): both formulations of a pair then see the same JVM age,
    // heap state, and scratch-dir population — a global control loop
    // followed by a global graft loop hands the graft side hundreds of
    // prior jobs' churn that no control paid
    val timed = pairs.map { case (n, fn) =>
      val b = timeMedian3(spark)(() => mat(fn(spark, sfDir)))
      val g = timeMedian3(spark)(() => mat(SparkEntry.queries(n)(spark, sfDir)))
      (n, b, g)
    }
    val base = timed.map { case (n, b, _) => n -> b }
    val graft = timed.map { case (n, _, g) => n -> g }
    def js(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"baseline":${js(base)},"graft":${js(graft)},"sf":"$sfDir"}""")
    spark.stop()
    sys.exit(0)
  }
}
