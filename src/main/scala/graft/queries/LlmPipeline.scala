package graft.queries

import graft.InFlight.{await, inFlight}
import graft.Tables
import graft.functions.{Aggregators, TextFunctions, VectorExpressions}
import graft.operators.{Bpe, Dedup, HybridSearch, IndexEpoch, IvfIndex, Multimodal, SimilaritySearch, TextIndex}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY §2.B.9): dedup (exact, MinHash-
  * LSH, SimHash, embedding), similarity search (brute-force + LSH ANN),
  * text analysis (lang-ID, quality, tokens, fingerprints), vector
  * centroid UDAF, multimodal binary plumbing.
  */
object LlmPipeline {
  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** DuckDB twin of GraftHash.cosine: double accumulation (the builtin
    * list_cosine_similarity runs in float32 — off by ~1e-8).
    */
  private def duckCos(a: String, b: String): String =
    s"(list_aggregate(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)), 'sum')" +
      s" / (sqrt(list_aggregate(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))" +
      s" * sqrt(list_aggregate(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum'))))"

  /** The bitext-mining oracle (q_sim_bitext_mining / q_sim_bitext_recall):
    * brute-force replay of the full margin pipeline over the planted
    * fixture — mutual top-4, ratio margin, threshold 1.6, per-src
    * best. `extraCols` appends literal audit columns (the recall
    * verb's engine-measured booleans, provably TRUE on the fixture).
    */
  private def duckBitextMining(extraCols: String): String =
    s"""WITH m AS (SELECT max(vec_id) + 1 AS mx FROM embeddings),
       |src AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id % 2 = 0),
       |tgt AS (
       |  SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id % 2 = 1
       |  UNION ALL
       |  SELECT vec_id + (SELECT mx FROM m) AS id,
       |    list_transform(embedding, (x, j) -> CAST(CAST(x AS DOUBLE)
       |      + ((vec_id * 31 + (j - 1) * 7) % 1000 - 500) / 100000.0 AS FLOAT)) AS v
       |  FROM embeddings WHERE vec_id % 10 = 0),
       |fwd AS (SELECT * FROM (
       |  SELECT s.id AS src_id, t.id AS tgt_id, ${duckCos("s.v", "t.v")} AS cos,
       |    row_number() OVER (PARTITION BY s.id
       |      ORDER BY ${duckCos("s.v", "t.v")} DESC, t.id ASC) AS rnk
       |  FROM src s, tgt t) WHERE rnk <= 4),
       |rev AS (SELECT * FROM (
       |  SELECT t.id AS tgt_id, s.id AS src_id, ${duckCos("t.v", "s.v")} AS cos,
       |    row_number() OVER (PARTITION BY t.id
       |      ORDER BY ${duckCos("t.v", "s.v")} DESC, s.id ASC) AS rnk
       |  FROM tgt t, src s) WHERE rnk <= 4),
       |favg AS (SELECT src_id, avg(cos) AS sa FROM fwd GROUP BY 1),
       |ravg AS (SELECT tgt_id, avg(cos) AS ta FROM rev GROUP BY 1),
       |sc AS (
       |  SELECT f.src_id, f.tgt_id, f.cos, f.cos / ((fa.sa + ra.ta) / 2) AS margin
       |  FROM fwd f
       |  JOIN rev r ON f.src_id = r.src_id AND f.tgt_id = r.tgt_id
       |  JOIN favg fa ON f.src_id = fa.src_id
       |  JOIN ravg ra ON f.tgt_id = ra.tgt_id),
       |best AS (SELECT src_id, tgt_id, cos, margin,
       |    row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC) AS rn
       |  FROM sc WHERE margin >= 1.6)
       |SELECT src_id, tgt_id, cos, margin$extraCols FROM best WHERE rn = 1
       |ORDER BY src_id""".stripMargin

  /** The q_embed_pca oracle: replays the whole PCA run — the exact
    * integer moment pass (quantized x_q = rint(x·1000); long sums are
    * order-independent, so engine and oracle compute the SAME
    * covariance bit for bit), `iters` power iterations per component
    * with the engine's 1/√d start and norm guard, Rayleigh λ,
    * deflation, and the fold-ordered centered projections.
    */
  private def duckPca(k: Int, iters: Int, extraCols: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH q AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS xq
        |  FROM embeddings),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM q),
        |px AS MATERIALIZED (SELECT vec_id, i, xq[i] AS x
        |  FROM (SELECT vec_id, xq, unnest(range(1, len(xq) + 1)) AS i FROM q)),
        |s1 AS MATERIALIZED (SELECT i, CAST(sum(x) AS BIGINT) AS sx FROM px GROUP BY i),
        |dd AS (SELECT CAST(max(i) AS DOUBLE) AS d FROM s1),
        |s2 AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxx
        |  FROM px a JOIN px b ON a.vec_id = b.vec_id AND b.i >= a.i
        |  GROUP BY 1, 2),
        |mu AS (SELECT i, sx / (SELECT n FROM nn) / 1000.0 AS m FROM s1),
        |cov0 AS (
        |  SELECT s2.i, s2.j,
        |    sxx / (SELECT n FROM nn) / 1000000.0 - mi.m * mj.m AS v
        |  FROM s2 JOIN mu mi ON s2.i = mi.i JOIN mu mj ON s2.j = mj.i),
        |c1m AS MATERIALIZED (SELECT i, j, v FROM cov0
        |  UNION ALL SELECT j AS i, i AS j, v FROM cov0 WHERE i <> j),
        |tr AS (SELECT sum(v) AS t FROM c1m WHERE i = j)""".stripMargin)
    for (c <- 1 to k) {
      sb.append(s""",
        |c${c}v0 AS (SELECT i, 1.0 / sqrt((SELECT d FROM dd)) AS v FROM s1)""".stripMargin)
      for (t <- 1 to iters) {
        sb.append(s""",
          |c${c}w$t AS MATERIALIZED (SELECT m.i AS i, sum(m.v * pv.v) AS w
          |  FROM c${c}m m JOIN c${c}v${t - 1} pv ON m.j = pv.i GROUP BY m.i),
          |c${c}n$t AS (SELECT sqrt(sum(w * w)) AS nm FROM c${c}w$t),
          |c${c}v$t AS MATERIALIZED (SELECT w.i,
          |  CASE WHEN (SELECT nm FROM c${c}n$t) > 0
          |       THEN w.w / (SELECT nm FROM c${c}n$t) ELSE pv.v END AS v
          |  FROM c${c}w$t w JOIN c${c}v${t - 1} pv ON w.i = pv.i)""".stripMargin)
      }
      sb.append(s""",
        |l$c AS (SELECT sum(vi.v * m.v * vj.v) AS l
        |  FROM c${c}m m JOIN c${c}v$iters vi ON m.i = vi.i
        |  JOIN c${c}v$iters vj ON m.j = vj.i)""".stripMargin)
      if (c < k) sb.append(s""",
        |c${c + 1}m AS MATERIALIZED (SELECT m.i, m.j,
        |    m.v - (SELECT l FROM l$c) * vi.v * vj.v AS v
        |  FROM c${c}m m JOIN c${c}v$iters vi ON m.i = vi.i
        |  JOIN c${c}v$iters vj ON m.j = vj.i)""".stripMargin)
    }
    sb.append(s""",
      |arr AS (SELECT (SELECT list(m ORDER BY i) FROM mu) AS marr""".stripMargin)
    for (c <- 1 to k)
      sb.append(s""",
        |  (SELECT list(v ORDER BY i) FROM c${c}v$iters) AS varr$c""".stripMargin)
    sb.append(")\nSELECT q.vec_id")
    for (c <- 1 to k)
      sb.append(s""",
        |  list_aggregate(list_transform(q.xq, (x, i) ->
        |    (CAST(x AS DOUBLE) / 1000.0 - arr.marr[i]) * arr.varr$c[i]), 'sum') AS pc$c""".stripMargin)
    for (c <- 1 to k)
      sb.append(s""",
        |  (SELECT l FROM l$c) AS lambda$c,
        |  CASE WHEN (SELECT t FROM tr) > 0
        |       THEN (SELECT l FROM l$c) / (SELECT t FROM tr) ELSE 0.0 END AS evr$c""".stripMargin)
    sb.append(extraCols)
    sb.append("\nFROM q CROSS JOIN arr ORDER BY q.vec_id")
    sb.toString
  }

  /** The q_text_bpe_train oracle, generated per merge round: chained
    * CTEs replaying Bpe.trainMerges merge for merge. The rewrite uses
    * the ISLANDS-PARITY formulation of greedy LTR non-overlapping
    * merging (a run of consecutive candidate positions — only possible
    * when lhs == rhs — selects every other position from the run
    * start; isolated candidates are always selected), provably equal
    * to the engine's skip-flag fold, so the oracle is a cross-
    * implementation check of the merge semantics, not a transcription.
    */
  private def duckBpe(m: Int): String =
    duckBpeCtes(m) + "\n" + (1 to m).map { k =>
      // EXISTS guard: on a corpus that exhausts before m merges the
      // round-k pair table b$k is EMPTY — the engine truncates its
      // output to the merges actually executed, so the oracle must
      // emit no row for the exhausted rounds (scalar subqueries over
      // an empty b$k would otherwise fabricate a NULL-merge row)
      s"""SELECT CAST($k AS INTEGER) AS merge_rank, (SELECT a FROM b$k) AS lhs,
         |  (SELECT b FROM b$k) AS rhs, (SELECT n FROM b$k) AS n,
         |  (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) FROM w$k) AS tokens_after
         |WHERE EXISTS (SELECT 1 FROM b$k)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY merge_rank"

  /** Encode tail over the same replayed training run: the final symbol
    * table joined back to the per-doc word stream.
    */
  private def duckBpeEncode(m: Int): String =
    duckBpeCtes(m) + "\n" +
      s"""SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(len(w$m.syms)) AS BIGINT) AS n_subwords,
         |  CAST(max(len(w$m.syms)) AS BIGINT) AS max_word_syms
         |FROM (SELECT doc_id, $duckWordStream AS word FROM documents) d
         |JOIN w$m ON d.word = w$m.word
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** The q_text_bpe_apply oracle: replays the HALF-corpus training run
    * (trainWhere), then encodes the WHOLE corpus against the final
    * symbol table via a LEFT join — out-of-vocabulary words fall back
    * to their character lengths and are counted (n_oov), matching
    * [[graft.operators.Bpe.encodeWith]]'s serve-time contract.
    */
  private def duckBpeApply(m: Int, trainWhere: String): String =
    duckBpeCtes(m, trainWhere) + "\n" +
      s"""SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(coalesce(len(w$m.syms), len(d.word))) AS BIGINT) AS n_subwords,
         |  CAST(max(coalesce(len(w$m.syms), len(d.word))) AS BIGINT) AS max_word_syms,
         |  CAST(sum(CASE WHEN w$m.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
         |FROM (SELECT doc_id, $duckWordStream AS word FROM documents) d
         |LEFT JOIN w$m ON d.word = w$m.word
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  private val duckWordStream =
    """unnest(list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0))"""

  private def duckBpeCtes(m: Int, trainWhere: String = "true"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
        |    list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)) AS syms
        |  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '${"\\W+"}'),
        |                t -> len(t) > 0)) AS word FROM documents WHERE $trainWhere)
        |  GROUP BY word)""".stripMargin)
    for (k <- 1 to m) {
      val p = s"w${k - 1}"
      sb.append(s""",
        |p$k AS (SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM $p)
        |  GROUP BY 1, 2),
        |b$k AS (SELECT a, b, n FROM p$k ORDER BY n DESC, a ASC, b ASC LIMIT 1),
        |pos$k AS (SELECT word, cnt, syms, unnest(range(1, len(syms) + 1)) AS i FROM $p),
        |cand$k AS (SELECT q.word, q.i FROM pos$k q, b$k
        |  WHERE q.syms[q.i] = b$k.a AND q.i < len(q.syms) AND q.syms[q.i + 1] = b$k.b),
        |sel$k AS (SELECT word, i FROM (
        |  SELECT word, i, min(i) OVER (PARTITION BY word, g) AS g0 FROM (
        |    SELECT word, i, i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
        |    FROM cand$k))
        |  WHERE (i - g0) % 2 = 0),
        |w$k AS MATERIALIZED (
        |  SELECT word, cnt, list(sym ORDER BY i) AS syms FROM (
        |    SELECT q.word, q.cnt, q.i,
        |      CASE WHEN s1.i IS NOT NULL THEN (SELECT a || b FROM b$k)
        |           ELSE q.syms[q.i] END AS sym
        |    FROM pos$k q
        |    LEFT JOIN sel$k s1 ON q.word = s1.word AND q.i = s1.i
        |    LEFT JOIN sel$k s2 ON q.word = s2.word AND q.i = s2.i + 1
        |    WHERE s2.i IS NULL)
        |  GROUP BY word, cnt)""".stripMargin)
    }
    sb.toString
  }

  /** The q_text_classifier_filter oracle: replays the in-engine
    * logistic-regression training run step for step — same
    * frequency-ranked vocabulary (count desc, token asc), same bias
    * row f=-1 on every doc, same full-batch gradient `w ← w − (lr·g)/N`
    * and the same `1/(1+exp(−s))` sigmoid (libm exp both engines — the
    * q_text_bigram_lm ln precedent).
    */
  private def duckLogReg(nFeatures: Int, iters: Int, lr: Double,
      mu: Double, trainWhere: String = "true", batchOf16: Int = 16): String =
    duckLogRegCtes(nFeatures, iters, lr, mu, trainWhere, batchOf16) + s"""
      |SELECT doc_id, s AS logit, CAST(y AS BIGINT) AS label,
      |  s >= 0.0 AS predicted, (s >= 0.0) = (y = 1.0) AS correct
      |FROM (SELECT fx.doc_id, fx.y, sum(fx.cnt * w$iters.w) AS s
      |      FROM fx JOIN w$iters USING (f) GROUP BY fx.doc_id, fx.y)
      |ORDER BY doc_id""".stripMargin

  /** Held-out scoring tail: every document scored occurrence-wise
    * against the replayed weights (token-less docs score bias alone) —
    * the q_text_classifier_score oracle.
    */
  private def duckLogRegScore(nFeatures: Int, iters: Int, lr: Double,
      mu: Double, trainWhere: String, extraCols: String = ""): String =
    duckLogRegCtes(nFeatures, iters, lr, mu, trainWhere) + s""",
      |bias AS (SELECT w FROM w$iters WHERE f = -1),
      |vw AS (SELECT voc.tok AS token, w$iters.w
      |  FROM voc JOIN w$iters ON voc.f = w$iters.f),
      |alltok AS (SELECT doc_id, $duckWordStream AS token FROM documents),
      |ds AS (SELECT t.doc_id, sum(vw.w) AS wsum
      |  FROM alltok t JOIN vw USING (token) GROUP BY t.doc_id)
      |SELECT d.doc_id,
      |  (SELECT w FROM bias) + coalesce(ds.wsum, 0.0) AS logit,
      |  ((SELECT w FROM bias) + coalesce(ds.wsum, 0.0)) >= 0.0 AS keep$extraCols
      |FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id
      |ORDER BY d.doc_id""".stripMargin

  private def duckLogRegCtes(nFeatures: Int, iters: Int, lr: Double,
      mu: Double, trainWhere: String, batchOf16: Int = 16): String = {
    // the curator keep-rule label, non-interpolated (the \W escape)
    val yExpr =
      """CASE WHEN len(list_filter(string_split_regex(lower(text), '\W+'), t -> t = 'vector')) >= 2 THEN 1.0 ELSE 0.0 END"""
    val sb = new StringBuilder
    sb.append(
      s"""WITH tok AS (
        |  SELECT doc_id, $yExpr AS y,
        |    unnest(list_filter(string_split_regex(lower(text), '${"\\W+"}'),
        |      t -> len(t) > 0)) AS tok
        |  FROM documents WHERE $trainWhere),""".stripMargin)
    sb.append(s"""
      |voc AS (SELECT tok, f FROM (
      |  SELECT tok, row_number() OVER (ORDER BY n DESC, tok ASC) - 1 AS f
      |  FROM (SELECT tok, count(*) AS n FROM tok GROUP BY tok))
      |  WHERE f < $nFeatures),
      |fx AS MATERIALIZED (
      |  SELECT doc_id, y, f, CAST(count(*) AS DOUBLE) AS cnt
      |  FROM tok JOIN voc USING (tok) GROUP BY doc_id, y, f
      |  UNION ALL
      |  SELECT doc_id, $yExpr AS y,
      |    -1 AS f, 1.0 AS cnt
      |  FROM documents WHERE $trainWhere),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents WHERE $trainWhere),
      |w0 AS (SELECT f, 0.0 AS w FROM (SELECT f FROM voc UNION ALL SELECT -1 AS f)),
      |v0 AS (SELECT f, 0.0 AS v FROM (SELECT f FROM voc UNION ALL SELECT -1 AS f))""".stripMargin)
    // mini-batch replay: step k's slice is the same step-salted md5
    // hex-digit bucket the engine samples (first `batchOf16` of 16
    // digits; greatest(n,1) mirrors the engine's empty-sample guard)
    val digits = "0123456789abcdef".take(math.max(0, math.min(16, batchOf16)))
      .map(c => s"'$c'").mkString(", ")
    for (k <- 1 to iters) {
      val p = s"w${k - 1}"
      val pv = s"v${k - 1}"
      val (fromStep, nRef) =
        if (batchOf16 >= 16) (s"fx JOIN $p USING (f)", "(SELECT n FROM nn)")
        else {
          sb.append(s""",
            |m$k AS (SELECT doc_id FROM documents WHERE ($trainWhere)
            |  AND substr(md5(CAST(doc_id AS VARCHAR) || ':$k'), 1, 1) IN ($digits)),
            |nn$k AS (SELECT greatest(CAST(count(*) AS DOUBLE), 1.0) AS n FROM m$k)""".stripMargin)
          (s"fx JOIN m$k USING (doc_id) JOIN $p USING (f)",
            s"(SELECT n FROM nn$k)")
        }
      sb.append(s""",
        |s$k AS (SELECT fx.doc_id, fx.y, sum(fx.cnt * $p.w) AS s
        |  FROM $fromStep GROUP BY fx.doc_id, fx.y),
        |r$k AS (SELECT doc_id, (1.0 / (1.0 + exp(-s)) - y) AS r FROM s$k),
        |g$k AS (SELECT fx.f, sum(r$k.r * fx.cnt) AS g
        |  FROM fx JOIN r$k USING (doc_id) GROUP BY fx.f),
        |v$k AS MATERIALIZED (
        |  SELECT $pv.f, $mu * $pv.v + coalesce(g$k.g, 0.0) / $nRef AS v
        |  FROM $pv LEFT JOIN g$k USING (f)),
        |w$k AS MATERIALIZED (
        |  SELECT $p.f, $p.w - $lr * v$k.v AS w
        |  FROM $p JOIN v$k USING (f))""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB twin of Dedup.tokens: lowercase, split \W+, drop empties. */
  private val duckToks =
    "list_distinct(list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0))"

  /** One q_text_search_eval oracle row: BM25 top-10 (the
    * q_text_bm25_index formula verbatim), graded relevance = total
    * term count per doc, ideal by (rel desc, doc_id), then
    * NDCG@10 / P@10 / best-doc reciprocal rank — double casts
    * throughout (a bare 1.0/bigint types DECIMAL in DuckDB).
    */
  private def duckSearchEval(q: String): String = {
    val in = q.split(" ").map(t => s"'$t'").mkString(", ")
    s"""(WITH d AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS toks
       |  FROM documents),
       |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
       |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
       |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
       |       WHERE w IN ($in) GROUP BY 1, 2, 3),
       |dfs AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
       |scores AS (
       |  SELECT tf.doc_id,
       |    sum(ln((st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
       |        * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
       |  FROM tf, dfs, st WHERE tf.w = dfs.w GROUP BY tf.doc_id),
       |bm AS (SELECT doc_id, r FROM (
       |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
       |  FROM scores) WHERE r <= 10),
       |rel AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS rel FROM tf GROUP BY doc_id),
       |ideal AS (SELECT doc_id, r, rel FROM (
       |  SELECT doc_id, rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS r
       |  FROM rel) WHERE r <= 10),
       |dcg AS (SELECT sum(coalesce(rel.rel, CAST(0 AS DOUBLE)) / log2(CAST(bm.r + 1 AS DOUBLE))) AS v
       |        FROM bm LEFT JOIN rel USING (doc_id)),
       |idcg AS (SELECT sum(rel / log2(CAST(r + 1 AS DOUBLE))) AS v FROM ideal),
       |p AS (SELECT CAST(count(*) AS DOUBLE) / CAST(10 AS DOUBLE) AS v
       |      FROM bm JOIN ideal USING (doc_id)),
       |rr AS (SELECT coalesce(max(CAST(1 AS DOUBLE) / CAST(bm.r AS DOUBLE)), CAST(0 AS DOUBLE)) AS v
       |       FROM bm WHERE bm.doc_id = (SELECT doc_id FROM ideal WHERE r = 1))
       |SELECT '$q' AS query,
       |  CASE WHEN (SELECT v FROM idcg) = 0 THEN CAST(0 AS DOUBLE)
       |       ELSE (SELECT v FROM dcg) / (SELECT v FROM idcg) END AS ndcg10,
       |  (SELECT v FROM p) AS p10,
       |  (SELECT v FROM rr) AS rr_best)""".stripMargin
  }

  /** Shared oracle fragment: distinct-bigram sets + the INVERTED-INDEX
    * pair enumeration. The naive all-pairs form (`g a, g b` +
    * list_intersect) is O(n²·|toks|) and made the oracle infeasible at
    * sf0.1; this form explodes grams and equi-joins on them, so cost is
    * Σ(bucket²) like the Spark side's banded join. It is EXACT, not
    * approximate: jaccard ≥ τ > 0 forces ≥1 shared gram (the pair
    * appears in the join), and because tok sets are distinct,
    * jaccard = overlap / (|A| + |B| − overlap) needs no list ops on the
    * candidate — overlap is the join's group count.
    */
  private val gramIndexCte =
    """g AS (
      |  SELECT doc_id,
      |    list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS toks
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
      |        FROM documents)),
      |e AS (SELECT doc_id, len(toks) AS sz, unnest(toks) AS gram FROM g),
      |jpairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(count(*) AS DOUBLE)
      |      / (min(a.sz) + min(b.sz) - count(*)) AS jaccard
      |  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Bigram jaccard ≥ 0.8 pairs → reachability closure (connected
    * components). Used by q_dedup_clusters and q_dedup_corpus.
    */
  private val dupClusterCte =
    s"""WITH RECURSIVE $gramIndexCte,
      |pairs AS (
      |  SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= 0.8),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |  UNION SELECT doc_a, doc_a FROM pairs
      |  UNION SELECT doc_b, doc_b FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact content-hash dedup: keeper id + copy count per distinct text.
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup pairs over bigram shingles, exact-jaccard-
    // verified at 0.8. Oracle is the full O(n²) exact jaccard — this
    // checks LSH recall too. Bigram shingles (not unigram token sets)
    // keep the candidate set collision-driven: this corpus is
    // pathologically self-similar at token level (most pairs share 60%
    // of tokens), which would make unigram LSH degenerate to all-pairs.
    "q_dedup_minhash" -> ((s, dir) => {
      Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
        .orderBy("doc_a", "doc_b")
    }),

    // DEDUP RECALL AUDIT — the third leg of the eval family (ANN
    // recall curve, search NDCG, and now dedup): the banded MinHash
    // candidate generator's MEASURED recall against the COMPLETE
    // prefix-filter similarity join at the same threshold and gram
    // definition. A curator must measure this before trusting an LSH
    // dedup at 100 TB — banding trades completeness for candidate
    // volume, and the loss is corpus-dependent. The ground truth runs
    // on a DETERMINISTIC 50% AUDIT SLICE (doc_id % 2 = 0) — at 100 TB
    // an exact all-pairs-at-threshold set is only computable on a
    // slice, and recall measured on a content-independent sample
    // estimates corpus recall (the standard audit design); the slice
    // keeps the exact join's candidate volume ~4× below the full
    // self-join. Deliverable = the slice's complete exact pair set
    // (oracle-checkable) carrying lsh_recall_ok (recall ≥ 0.7 —
    // banding at 128/4 over jaccard ≥ 0.8 pairs should be
    // near-complete) and lsh_subset_ok (every LSH pair is
    // exact-verified, so precision is 1 by construction — a false
    // pair here means the verification jaccard diverged).
    "q_dedup_recall_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val grams = docs
        .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(col("w"), 2)).as("grams"))
      // both pair sets feed multiple counts AND the output —
      // materialize each ONCE (the q_sim_recall_curve rule; a lazy
      // LSH frame would re-run the banded join per count)
      val exactDir = Tables.scratch("dedup_recall_exact")
      Dedup.prefixJaccardJoin(grams, "doc_id", "grams", threshold = 0.8)
        .write.mode("overwrite").parquet(exactDir)
      val exact = s.read.parquet(exactDir)
      val lshDir = Tables.scratch("dedup_recall_lsh")
      Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.8, shingleSize = 2).select("doc_a", "doc_b")
        .write.mode("overwrite").parquet(lshDir)
      val lsh = s.read.parquet(lshDir)
      val nExact = exact.count()
      val nLsh = lsh.count()
      val nHit = lsh.join(exact.select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_semi").count()
      val recallOk = nExact == 0L || nHit * 10L >= nExact * 7L
      val subsetOk = nHit == nLsh
      exact
        .withColumn("lsh_recall_ok", lit(recallOk))
        .withColumn("lsh_subset_ok", lit(subsetOk))
        .orderBy("doc_a", "doc_b")
    }),

    // Duplicate clusters: connected components over the verified
    // near-dup pairs (label = min doc_id of the component). Oracle is a
    // recursive-CTE transitive closure over the same exact-jaccard
    // pairs, so the iterative label propagation is value-checked.
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
      Dedup.duplicateClusters(pairs)
        .orderBy("doc")
    }),

    // Duplicate-cluster CANONICALIZATION — the decision step a dedup
    // pipeline actually ships: per near-dup cluster, elect one keeper
    // (longest text, ties to min id — "keep the most complete copy")
    // and emit the per-doc keep/drop manifest downstream jobs consume.
    // Composition: banded near-dup pairs → path-halving connected
    // components → one |cluster|-keyed max_by aggregate (deterministic
    // total order via struct(n_chars, -doc), no window) → a
    // label-keyed hash join back to members. Everything cluster-keyed;
    // nothing corpus-sized is broadcast or windowed.
    "q_dedup_canonicalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
      val labels = Dedup.duplicateClusters(pairs)
      val sized = labels
        .join(docs.select(col("doc_id").as("doc"), col("n_chars")), "doc")
      // (n_chars, -doc) keeper ordering packed into one decimal
      // (pack_ord; doc ids non-negative) — HashAggregate, not the
      // struct ordering's SortAggregate
      val keepers = sized.groupBy("label")
        .agg(max_by(col("doc"), VectorExpressions.pack_ord(
            col("n_chars"), lit(Long.MaxValue) - col("doc"))).as("keeper"),
          count(lit(1)).as("n_members"))
      sized.join(keepers, "label")
        .select(col("doc"), col("label"), col("keeper"),
          (col("doc") === col("keeper")).as("is_keeper"), col("n_members"))
        .orderBy("doc")
    }),

    // SOFT dedup — the down-weighting alternative to hard dropping
    // (what a pipeline ships when near-dup clusters carry signal it
    // must not delete, e.g. popular boilerplate that should count
    // once): every document gets a sampling weight 1/|its near-dup
    // cluster| in integer basis points, singletons keep 10000. The
    // corpus-level effect (expected tokens after weighted sampling)
    // rides along per doc. Composition: banded pairs → CC labels →
    // one |cluster|-keyed count → label-keyed join back; docs outside
    // any cluster join nothing (left join, weight 10000). Integer
    // arithmetic end-to-end — hash-exact across engines.
    "q_dedup_soft" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
      val labels = Dedup.duplicateClusters(pairs)
      val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_members"))
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .join(labels.join(sizes, "label")
            .select(col("doc").as("doc_id"), col("label"), col("n_members")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_chars"),
          coalesce(col("label"), col("doc_id")).as("label"),
          coalesce(col("n_members"), lit(1L)).as("n_members"))
        .withColumn("weight_bp", expr("10000 div n_members"))
        .withColumn("eff_chars_bp",
          expr("(n_chars * 10000) div n_members"))
        .drop("n_chars")
        .orderBy("doc_id")
    }),

    // INCREMENTAL dedup — the continuous-ingestion pattern: the
    // existing corpus's signature index (80% of docs) is built once
    // and persisted as parquet; a new batch (doc_id % 5 == 0) is
    // deduped against it via new×(old ∪ new) band collisions only.
    // Existing-corpus pairs are never regenerated.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxPath = graft.Tables.scratch("dedup_index")
      Dedup.signatureIndex(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", shingleSize = 2)
        .write.mode("overwrite").parquet(idxPath)
      val index = s.read.parquet(idxPath)
      val newIdx = Dedup.signatureIndex(docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", shingleSize = 2)
      Dedup.incrementalNearDups(index, newIdx, threshold = 0.8)
        .orderBy("doc_a", "doc_b")
    }),

    // STREAMING near-dup ingest — continuous dedup during corpus
    // arrival, the composition a 100 TB ingestion pipeline actually
    // runs: the signature index is bootstrapped on the existing corpus
    // (doc_id % 5 != 0), the rest arrives as paced micro-batches, and
    // each batch (a) reports its near-dup pairs against everything
    // ingested so far — new×(old ∪ new) band joins only, existing-
    // corpus pairs never regenerate — and (b) appends its signatures.
    // The index is PARTITIONED BY ingest seq, so a batch's "old" side
    // is a partition-pruned read and both per-batch writes are
    // dynamic-partition overwrites of THEIR OWN partition — a retried
    // micro-batch replaces rather than duplicates (idempotent, the
    // foreachBatch at-least-once contract). The union of per-batch
    // pair reports must equal the ONE-SHOT incremental result (every
    // pair touching a new doc, exact jaccard): same oracle as
    // q_dedup_incremental. A new×new pair across batches is found
    // exactly once — when its later batch arrives.
    "q_stream_dedup_ingest" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxPath = graft.Tables.scratch("stream_dedup_index")
      val pairsPath = graft.Tables.scratch("stream_dedup_pairs")
      Dedup.signatureIndex(docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", shingleSize = 2)
        .withColumn("ingest", lit(0L))
        .write.mode("overwrite").partitionBy("ingest").parquet(idxPath)
      // seed the pair log's schema so a zero-pair stream still reads
      Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
        .withColumn("ingest", lit(0L))
        .write.mode("overwrite").partitionBy("ingest").parquet(pairsPath)
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "documents", "doc_id", 3)
        .filter(col("doc_id") % 5 === 0)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val seq = bid + 1
          Dedup.signatureIndex(batch, "doc_id", "text", shingleSize = 2)
            .withColumn("ingest", lit(seq))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest").parquet(idxPath)
          val idx = s.read.parquet(idxPath)
          Dedup.incrementalNearDups(
              idx.filter(col("ingest") < seq).drop("ingest"),
              idx.filter(col("ingest") === seq).drop("ingest"),
              threshold = 0.8)
            .withColumn("ingest", lit(seq))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest").parquet(pairsPath)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      s.read.parquet(pairsPath)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .withColumn("multi_batch", lit(nBatches >= 3))
        .orderBy("doc_a", "doc_b")
    }),

    // STREAMING decontamination GATE — the admission control a
    // training-data ingest runs: every arriving embedding micro-batch
    // is checked against the FIXED benchmark set before admission
    // (Dedup.semanticDecontaminate — the benchmark broadcasts, the
    // batch streams the threshold-join scan); contaminated rows divert
    // to a quarantine log, clean rows land in the admitted store, and
    // both per-batch writes are dynamic overwrites of the batch's own
    // ingest partition (a retried batch replaces, never duplicates —
    // the foreachBatch at-least-once contract). Because the benchmark
    // is fixed, per-batch checks are independent and their union must
    // equal the ONE-SHOT check over the whole stream — the same exact
    // oracle as q_decontaminate_semantic — and admission must conserve:
    // admitted + quarantined == streamed, engine-measured.
    "q_stream_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val tests = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") / 20).cast("long").as("test_id"),
          transform(col("embedding"), (x, j) =>
            (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
              / 100000.0d).cast("float")).as("test_vec"))
        .localCheckpoint() // fixed benchmark — never re-derived per batch
      val quarantine = Tables.scratch("stream_decon_quarantine")
      val admitted = Tables.scratch("stream_decon_admitted")
      // the logs' schemas are DECLARED at read time (a partitioned
      // write of zero rows leaves no parquet data file to infer from,
      // so a zero-flag stream would otherwise fail the final reads);
      // the overwrite here just clears any prior run's partitions
      val qSchema = "vec_id long, test_id long, cos double, ingest long"
      val aSchema = "vec_id long, ingest long"
      Seq.empty[(Long, Long, Double)].toDF("vec_id", "test_id", "cos")
        .withColumn("ingest", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest").parquet(quarantine)
      Seq.empty[Long].toDF("vec_id").withColumn("ingest", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest").parquet(admitted)
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "embeddings", "vec_id", 3)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val flagged = Dedup.semanticDecontaminate(batch, "vec_id", "embedding",
            tests, "test_id", "test_vec", threshold = 0.95).localCheckpoint()
          flagged.withColumn("ingest", lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest").parquet(quarantine)
          batch.join(flagged.select("vec_id"), Seq("vec_id"), "left_anti")
            .select("vec_id").withColumn("ingest", lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest").parquet(admitted)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      val nFlagged = s.read.schema(qSchema).parquet(quarantine).count()
      val nAdmitted = s.read.schema(aSchema).parquet(admitted).count()
      val conserved = nFlagged + nAdmitted == emb.count()
      s.read.schema(qSchema).parquet(quarantine)
        .select(col("vec_id"), col("test_id"), col("cos"))
        .withColumn("multi_batch", lit(nBatches >= 3))
        .withColumn("conservation_ok", lit(conserved))
        .orderBy("vec_id")
    }),

    // STREAMING CLASSIFIER-GATED INGEST — the production admission
    // loop the persisted model exists for (the q_stream_decontaminate
    // shape with a LEARNED gate): the classifier trains ONCE on the
    // labeled half (doc_id even — where a curator graded) and
    // persists; every arriving micro-batch then scores against the
    // saved weights in one label-free broadcast-join pass, splitting
    // into keep/quarantine logs whose per-batch writes are dynamic
    // overwrites of the batch's own ingest partition (a retried batch
    // replaces, never duplicates — the foreachBatch at-least-once
    // contract, redelivery-drilled in TextClassifierSpec). FIXED
    // model ⇒ batch scores are independent ⇒ the union of batch
    // scores must equal the one-shot scoreWith over the whole corpus
    // — the exact q_text_classifier_score oracle — and admission must
    // conserve: kept + quarantined == streamed, engine-measured.
    "q_stream_classifier_gate" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val lbl = when(size(filter(split(lower(col("text")), "\\W+"),
        w => w === "vector")) >= 2, 1.0).otherwise(0.0)
      val model = Tables.scratch("stream_clf_model")
      graft.operators.TextClassifier.trainAndSave(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", lbl,
        nFeatures = 64, iters = 15, lr = 0.05, path = model)
      val keepLog = Tables.scratch("stream_clf_keep")
      val quarLog = Tables.scratch("stream_clf_quarantine")
      // log schemas DECLARED at read time (a zero-row partitioned seed
      // write leaves no data file to infer from — the
      // q_stream_decontaminate rule); the seeds just clear prior runs
      val logSchema = "doc_id long, logit double, ingest long"
      Seq.empty[(Long, Double)].toDF("doc_id", "logit")
        .withColumn("ingest", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest").parquet(keepLog)
      Seq.empty[(Long, Double)].toDF("doc_id", "logit")
        .withColumn("ingest", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest").parquet(quarLog)
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "documents", "doc_id", 3)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val scored = graft.operators.TextClassifier
            .scoreWith(s, model, batch, "doc_id", "text").localCheckpoint()
          scored.filter(col("keep")).select("doc_id", "logit")
            .withColumn("ingest", lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest").parquet(keepLog)
          scored.filter(!col("keep")).select("doc_id", "logit")
            .withColumn("ingest", lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest").parquet(quarLog)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      val kept = s.read.schema(logSchema).parquet(keepLog)
      val quar = s.read.schema(logSchema).parquet(quarLog)
      val conserved = kept.count() + quar.count() == docs.count()
      kept.withColumn("keep", lit(true))
        .unionByName(quar.withColumn("keep", lit(false)))
        .select(col("doc_id"), col("logit"), col("keep"))
        .withColumn("multi_batch", lit(nBatches >= 3))
        .withColumn("conservation_ok", lit(conserved))
        .orderBy("doc_id")
    }),

    // END-TO-END corpus dedup — the operation a pipeline user actually
    // runs: near-dup pairs → connected components → keep ONE
    // representative (min doc_id) per cluster plus every unduplicated
    // doc. `had_dups` marks survivors that represent a multi-doc
    // cluster. Composes minhashNearDups + duplicateClusters; survivors
    // re-join the corpus by id so no payload rides the pair shuffles.
    "q_dedup_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
      val labels = Dedup.duplicateClusters(pairs) // (doc, label=min of cluster)
      docs.join(labels, docs("doc_id") === labels("doc"), "left_outer")
        .filter(col("doc").isNull || col("doc") === col("label"))
        .select(col("doc_id"), col("doc").isNotNull.as("had_dups"))
        .orderBy("doc_id")
    }),

    // BM25 retrieval scoring (Robertson/Sparck-Jones; k1=1.2, b=0.75)
    // for a fixed 3-term query: tf from a token explode, df and the
    // corpus stats broadcast (3 rows + 1 row), top-20 via orderBy+limit
    // (TakeOrdered — no global window sort).
    // Persisted inverted index (TextIndex): one offline build job
    // writes term-bucketed posting lists; the conjunctive search then
    // reads ONLY the query terms' bucket partitions (partition pruning
    // plan-asserted in TextIndexSpec) — keyword retrieval whose input
    // volume is the posting-list size, not the corpus size. The query
    // surfaces the search result joined with the per-term df stats the
    // same build persisted.
    "q_text_search_index" -> ((s, dir) => {
      val idx = Tables.scratch("text_index")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      val terms = Seq("hash", "merge", "vector")
      TextIndex.searchAll(s, idx, terms)
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"))
    }),

    // OR-semantics search off the same index: matched-term count +
    // total tf, no arity filter.
    "q_text_search_any" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_any")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      TextIndex.searchAny(s, idx, Seq("hash", "merge", "vector"))
        .orderBy("doc_id")
    }),

    // Synonym-group retrieval off the index: (hash|key) AND
    // (merge|join) AND (vector|stream) — each group a disjunction, the
    // conjunctive gate counts GROUPS matched, one pruned postings scan
    // for the whole expansion.
    "q_text_synonym_search" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_syn")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      TextIndex.searchSynonyms(s, idx, Seq(
          Seq("hash", "key"), Seq("merge", "join"), Seq("vector", "stream")))
        .orderBy("doc_id")
    }),

    // Index SHARD MERGE — build the corpus as two independent shards
    // (doc_id < 250 / >= 250) with DIFFERENT bucket counts (32 / 64,
    // proving the re-bucket leg), consolidate them into one index,
    // and search the merged artifact: results must equal the
    // corpus-side answer, and the merged manifest's corpus totals
    // must cover the full corpus (totals_ok — what BM25 over the
    // merged index would consume).
    "q_text_index_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val shardA = Tables.scratch("text_merge_a")
      val shardB = Tables.scratch("text_merge_b")
      val dst = Tables.scratch("text_merge_dst")
      // the two shard builds are independent jobs (separate paths,
      // separate locks) — exactly the shard-parallel build the merge
      // verb exists for; the merge awaits both
      val buildA = inFlight { TextIndex.buildIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", shardA,
        nBuckets = 32) }
      val buildB = inFlight { TextIndex.buildIndex(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", shardB,
        nBuckets = 64) }
      await(buildA); await(buildB)
      TextIndex.mergeIndexes(s, shardA, shardB, dst)
      val (nDocs, _) = TextIndex.corpusTotals(s, dst)
      TextIndex.searchAll(s, dst, Seq("hash", "merge", "vector"))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"),
          lit(nDocs == docs.count()).as("totals_ok"))
    }),

    // Wildcard (prefix) search served from the index: 'me*' resolves
    // against the TERM DICTIONARY (the df sidecar — vocabulary-sized)
    // first, then only the resolved terms' bucket partitions are
    // scanned; capped expansion (the Lucene rewrite-cap rule), OR
    // semantics over the matches.
    "q_text_wildcard_index" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_wild")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      TextIndex.searchPrefix(s, idx, "me")
        .orderBy("doc_id")
    }),

    // Proximity search: 'hash' within 3 tokens of 'table', either
    // order — banded position join (equi-join + filter, never a
    // per-doc position cross product), co-occurrence-counted.
    "q_text_proximity_index" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_prox")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      TextIndex.proximitySearch(s, idx, "hash", "table", window = 3)
        .orderBy("doc_id")
    }),

    // The same index search through the SQL surface: the
    // graft_text_search TVF (GraftExtensions) resolves to the
    // partition-pruned searchAll plan, and the join/order compose on
    // top in plain SQL — a SQL user needs no Scala API to hit the
    // index.
    "q_sql_text_search" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_sql")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      Tables.registerAll(s, dir)
      s.sql(
        s"""SELECT t.doc_id, t.total_tf, d.lang
           |FROM graft_text_search('$idx', 'hash merge vector') t
           |JOIN documents d ON t.doc_id = d.doc_id
           |ORDER BY t.doc_id""".stripMargin)
    }),

    // SQL surface for the VECTOR index — the graft_ann_search TVF
    // resolves to the partition-pruned IVF search over the index's
    // LIVE view, composable with plain SQL on top (here: a join back
    // to the probes relation and a rank filter). Exhaustive probing
    // (nProbes = nCentroids) makes the exact brute-force oracle apply.
    "q_sql_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Tables.scratch("ivf_sql_index")
      val probes = Tables.scratch("ivf_sql_probes")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 8, path = idx)
      emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
        .write.mode("overwrite").parquet(probes)
      s.sql(
        s"""SELECT probe_id, rank, neighbor_id, cos
           |FROM graft_ann_search('$idx', '$probes', 5, 8)
           |WHERE rank <= 3
           |ORDER BY probe_id, rank""".stripMargin)
    }),

    // Hybrid retrieval (the RAG-search shape): ONE query = a term set
    // + a probe embedding; the lexical leg is BM25 served from the
    // persisted inverted index, the vector leg is the cluster-
    // partitioned IVF search, and the two rankings fuse by reciprocal-
    // rank fusion (union + groupBy, heap cut — no outer join, no
    // corpus-sized window; see HybridSearch). Exhaustive probing
    // (nProbes = nCentroids) makes the vector leg exact, so the whole
    // fused ranking has an EXACT SQL oracle: brute-force cosine ranks
    // + corpus-side BM25 ranks + the same 1/(60+r) sum.
    "q_hybrid_search_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val tidx = Tables.scratch("hybrid_text_index")
      val vidx = Tables.scratch("hybrid_vec_index")
      TextIndex.buildIndex(docs, "doc_id", "text", tidx)
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 16, path = vidx)
      val (assigned, centroids) = IvfIndex.loadIndex(s, vidx)
      HybridSearch.rrfTopK(s, tidx, assigned, centroids,
        emb.filter(col("vec_id") < 5), Seq("hash", "merge", "vector"),
        "vec_id", "embedding", n = 50, k = 10, nProbes = 16)
        .orderBy("probe_id", "rank")
    }),

    // SQL surface for the hybrid path — graft_hybrid_search resolves
    // to the same fused plan as q_hybrid_search_rrf, and plain SQL
    // composes on top (a rank filter + a join back to the documents
    // table for the source attribute): the full RAG retrieval round
    // trip as one SQL statement.
    "q_sql_hybrid" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val tidx = Tables.scratch("hybrid_sql_tidx")
      val vidx = Tables.scratch("hybrid_sql_vidx")
      val probes = Tables.scratch("hybrid_sql_probes")
      TextIndex.buildIndex(docs, "doc_id", "text", tidx)
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 16, path = vidx)
      emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
        .write.mode("overwrite").parquet(probes)
      docs.select("doc_id", "source").createOrReplaceTempView("hybrid_sql_docs")
      s.sql(
        s"""SELECT h.probe_id, h.rank, h.doc_id, h.rrf, d.source
           |FROM graft_hybrid_search('$tidx', '$vidx', '$probes',
           |                         'hash merge vector', 50, 10, 16) h
           |JOIN hybrid_sql_docs d ON h.doc_id = d.doc_id
           |WHERE h.rank <= 5
           |ORDER BY h.probe_id, h.rank""".stripMargin)
    }),

    // The epoch surface in SQL: graft_hybrid_search_asof resolves the
    // pin from the epoch ROOT's manifest content — here the explicit
    // epoch number, the graft_snapshot(root, version) time-travel
    // discipline lifted to the index stack — and plain SQL composes
    // on top (rank filter + join back to documents). Post-pin
    // mutation of BOTH indexes is invisible to the pinned relation.
    "q_sql_hybrid_asof" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val tidx = Tables.scratch("hybrid_sqlasof_tidx")
      val vidx = Tables.scratch("hybrid_sqlasof_vidx")
      val probes = Tables.scratch("hybrid_sqlasof_probes")
      val root = Tables.scratch("hybrid_sqlasof_root")
      // fresh epoch root per run: scratch paths are per-JVM-stable, so
      // a prior run of this query in the SAME JVM (bench warm-up pass,
      // min-of-2 retime) leaves live epochs pinning files the rebuilt
      // indexes no longer hold — the maintenance verbs would then
      // over-retain against a dead incarnation's pins (and the drill
      // would no longer measure a single-epoch stack)
      val __rootP = new org.apache.hadoop.fs.Path(root)
      __rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(__rootP, true): Unit
      TextIndex.buildIndex(docs, "doc_id", "text", tidx)
      IvfIndex.buildIndex(emb, "vec_id", "embedding",
        nCentroids = 16, path = vidx)
      emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
        .write.mode("overwrite").parquet(probes)
      // pre-pin deletes define the pin-time corpus
      TextIndex.deleteDocs(docs.filter(col("doc_id") % 17 === 3)
        .select("doc_id"), "doc_id", tidx)
      IvfIndex.deleteFromIndex(emb.filter(col("vec_id") % 17 === 3)
        .select("vec_id"), "vec_id", vidx)
      val epoch = IndexEpoch.publish(s, root,
        TextIndex.exportManifest(s, tidx), IvfIndex.exportPin(s, vidx))
      // post-pin mutation on both modalities — invisible to the pin
      TextIndex.deleteDocs(docs.filter(col("doc_id") % 13 === 0)
        .select("doc_id"), "doc_id", tidx)
      TextIndex.appendDocs(
        docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
          .select(col("doc_id"), concat(col("text"), lit(" vector")).as("text")),
        "doc_id", "text", tidx)
      IvfIndex.deleteFromIndex(emb.filter(col("vec_id") % 13 === 0)
        .select("vec_id"), "vec_id", vidx)
      docs.select("doc_id", "source")
        .createOrReplaceTempView("hybrid_sqlasof_docs")
      s.sql(
        s"""SELECT h.probe_id, h.rank, h.doc_id, h.rrf, d.source
           |FROM graft_hybrid_search_asof('$root', '$tidx', '$vidx',
           |    '$probes', 'hash merge vector', 50, 10, 16, $epoch) h
           |JOIN hybrid_sqlasof_docs d ON h.doc_id = d.doc_id
           |WHERE h.rank <= 5
           |ORDER BY h.probe_id, h.rank""".stripMargin)
    }),

    // Exact phrase search from the positional postings — consecutive
    // token offsets, occurrence-counted, corpus never read at query
    // time. The same persisted index serves conjunctive, BM25, and
    // phrase queries.
    "q_text_phrase_index" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_phrase")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      TextIndex.phraseSearch(s, idx, Seq("table", "hash"))
        .orderBy("doc_id")
        .select(col("doc_id"), col("n_occ"))
    }),

    // BM25 with ZERO corpus access at query time: scores served from
    // the persisted index alone (pruned postings + df sidecar + doc
    // lengths). Must equal q_text_bm25's corpus-side scores exactly —
    // same formula over identical integers.
    "q_text_bm25_index" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_bm25")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      TextIndex.bm25(s, idx, Seq("hash", "merge", "vector"), k = 20)
    }),

    // RETRIEVAL QUALITY EVAL — the search-side twin of
    // q_sim_recall_curve (the eval knob a RAG deployment tunes before
    // trusting a ranker): NDCG@10 / P@10 / best-doc reciprocal rank of
    // the index-served BM25 ranking against a GRADED ideal, for three
    // query strings. The ground truth is index-served too —
    // relevance(doc) = total tf of the query's terms from the SAME
    // pruned postings bm25 consumes, ideal order (rel desc, doc_id)
    // via the bounded heap — so the whole eval is one pruned postings
    // scan per query, corpus never read, no corpus-sized sort. All
    // per-query math runs on k=10 driver rows (parameter-sized).
    "q_text_search_eval" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_eval")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      val k = 10
      def log2(x: Double) = math.log(x) / math.log(2.0)
      val rows = Seq("hash merge", "hash vector", "table vector").map { q =>
        val terms = q.split(" ").toSeq
        val ranked = TextIndex.bm25(s, idx, terms, k).collect()
          .zipWithIndex.map { case (r, i) => (r.getLong(0), i + 1) }
        val ideal = TextIndex.relevanceTopK(s, idx, terms, k).collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"),
            r.getAs[Double]("rel")))
        // empty-corpus short-circuit (the B.9 zero-row net): no
        // candidates → every metric is 0 by definition
        val relOfRanked = if (ranked.isEmpty) Map.empty[Long, Double]
          else TextIndex.prunedPostings(s, idx, terms)
            .filter(col("doc_id").isin(ranked.map(_._1): _*))
            .groupBy("doc_id").agg(sum("tf").cast("double").as("rel"))
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

    // Index observability in SQL: graft_index_stats serves the live
    // manifest as a one-row relation — zero jobs at any index size.
    // Built, then mutated by a delete, so the compared row proves the
    // totals are MAINTAINED state (n_docs/sum_dl shrink, the tombstone
    // horizon grows), not build-time constants.
    "q_sql_index_stats" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_stats_q")
      val docs = t(s, dir, "documents")
      TextIndex.buildIndex(docs, "doc_id", "text", idx)
      TextIndex.deleteDocs(
        docs.filter(col("doc_id") % 7 === 0).select("doc_id"), "doc_id", idx)
      s.sql(
        s"""SELECT n_docs, sum_dl, avgdl, n_tombs
           |FROM graft_index_stats('$idx')""".stripMargin)
    }),

    // Boolean query algebra over the persisted index:
    // (hash AND merge) OR (vector AND NOT table). ONE pruned postings
    // scan fetches all four terms' buckets; AND is a doc-id semi-join,
    // AND NOT an anti-join, OR a union + groupBy — set algebra on
    // doc-keyed candidate rows, the corpus never read. NOT is safe
    // index-served because it subtracts from a positive term's doc
    // set (never "all docs minus"), so the result stays
    // candidate-sized.
    "q_text_boolean_index" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_bool")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      val posts = TextIndex.prunedPostings(s, idx,
          Seq("hash", "merge", "vector", "table"))
        .select("doc_id", "term").distinct()
      def docs(term: String) = posts.filter(col("term") === term).select("doc_id")
      val a = docs("hash").join(docs("merge"), Seq("doc_id"), "left_semi")
      val b = docs("vector").join(docs("table"), Seq("doc_id"), "left_anti")
      a.select(col("doc_id"), lit(1).as("in_a"), lit(0).as("in_b"))
        .unionByName(b.select(col("doc_id"), lit(0).as("in_a"), lit(1).as("in_b")))
        .groupBy("doc_id")
        .agg((max("in_a") === 1).as("in_first"), (max("in_b") === 1).as("in_second"))
        .orderBy("doc_id")
    }),

    // Faceted search (the search-UI shape every retrieval stack
    // serves): conjunctive index hits + per-facet rollups in one
    // query. The hit set comes off the pruned, tombstone-masked
    // postings read (searchAll); the facet attributes live in the
    // FORWARD table — the right access path for doc→attribute — so
    // facets are a HIT-KEYED join (hit-sized, never corpus-sized)
    // followed by a facet-cardinality groupBy. Output is the facet
    // table itself: per (source, lang) bucket, matching-doc count and
    // their total tf.
    "q_text_faceted_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Tables.scratch("text_index_facet")
      TextIndex.buildIndex(docs, "doc_id", "text", idx)
      TextIndex.searchAll(s, idx, Seq("hash", "merge", "vector"))
        .join(docs.select("doc_id", "source", "lang"), "doc_id")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_hits"), sum("total_tf").as("facet_tf"))
        .orderBy("source", "lang")
    }),

    // Index-served snippet selection: each conjunctive hit's best
    // 8-token highlight window (most query-term occurrences, earliest
    // start on ties), computed from the positional postings ALONE —
    // the document text is never read or re-tokenized, the inversion
    // that makes highlighting hit-sized instead of corpus-sized. The
    // banded start×occupant join is the proximity-search trick: a
    // window only reaches its own width-band and the next, so scoring
    // is an equi-join, not a per-doc position cross product.
    "q_text_snippet" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_snip")
      TextIndex.buildIndex(t(s, dir, "documents"), "doc_id", "text", idx)
      TextIndex.snippets(s, idx, Seq("hash", "merge", "vector"), width = 8)
        .orderBy("doc_id")
    }),

    // Pseudo-relevance-feedback search (Rocchio-style query
    // expansion): round 1 retrieves the seed terms' BM25 top-10 from
    // the persisted index; the expansion terms are the feedback docs'
    // most frequent non-seed tokens — an INTEGER selection metric
    // (total occurrences desc, term asc), deliberately not a float
    // tf-idf sum, so the cut point cannot drift between engines;
    // round 2 re-runs index-served BM25 with seed + expansion. Access
    // paths at scale: round 1 and 2 are term-bucket-pruned index
    // reads; the feedback fetch is a doc-id semi-join against the
    // forward table (the inverted index is the wrong access path for
    // doc→terms); the one driver collect is the m=5 expansion term
    // list (parameter-sized — BM25 needs driver literals for bucket
    // pruning anyway).
    "q_text_prf_search" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = Tables.scratch("text_index_prf")
      TextIndex.buildIndex(docs, "doc_id", "text", idx)
      val seed = Seq("hash", "merge", "vector")
      val feedback = TextIndex.bm25(s, idx, seed, k = 10).select("doc_id")
      val expansion = docs.join(feedback, "doc_id")
        .select(explode(Dedup.tokens(col("text"))).as("term"))
        .filter(!col("term").isin(seed: _*))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term").asc)
        .limit(5)
        .select("term").collect().map(_.getString(0)).toSeq
      TextIndex.bm25(s, idx, seed ++ expansion, k = 20)
    }),

    // Index maintenance end-to-end: three streaming-style ingest
    // batches leave O(batches) files per bucket; compactIndex rewrites
    // the live postings generation to one file per bucket behind the
    // manifest swap. Deliverable: the search answer (== the corpus-side
    // oracle) plus two measured invariants — the posting file count
    // actually DROPPED, and search results are bit-identical across the
    // compaction (content-preserving rewrite).
    "q_text_index_compact" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_compact_q")
      val docs = t(s, dir, "documents")
      TextIndex.appendDocs(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", idx)
      TextIndex.appendDocs(docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", idx)
      TextIndex.appendDocs(docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", idx)
      def postingFiles(): Int = {
        val pdir = new org.apache.hadoop.fs.Path(TextIndex.postingsDir(s, idx))
        val fs = pdir.getFileSystem(s.sessionState.newHadoopConf())
        fs.listStatus(pdir).filter(_.isDirectory).map(d =>
          fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))).sum
      }
      val terms = Seq("hash", "merge", "vector")
      val nBefore = postingFiles()
      // pre-compaction answer materialized once; its PLAN still
      // resolves post-compaction too (the superseded generation
      // survives as the in-flight readers' spare), which the
      // TextIndexSpec pinned-reader test exercises directly
      val beforeDir = Tables.scratch("text_index_compact_before")
      TextIndex.searchAll(s, idx, terms).write.mode("overwrite").parquet(beforeDir)
      TextIndex.compactIndex(s, idx)
      val nAfter = postingFiles()
      val afterDir = Tables.scratch("text_index_compact_after")
      TextIndex.searchAll(s, idx, terms).write.mode("overwrite").parquet(afterDir)
      val before = s.read.parquet(beforeDir)
      val after = s.read.parquet(afterDir)
      val identical = before.exceptAll(after).isEmpty &&
        after.exceptAll(before).isEmpty
      after
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"),
          lit(nAfter < nBefore).as("files_dropped"),
          lit(identical).as("search_identical"))
    }),

    // DELETE support for the index (the GDPR-erasure / retraction verb):
    // tombstoned docs vanish from search IMMEDIATELY (exact — the
    // oracle computes over the live corpus only), and the following
    // compaction physically purges their postings. Invariants measured
    // engine-side: purged (no tombstoned doc's postings survive in the
    // compacted generation) and tombstone_exact (pre-compaction search
    // == post-compaction search — the tombstone mask and the physical
    // rewrite agree row for row).
    "q_text_index_delete" -> ((s, dir) => {
      val idx = Tables.scratch("text_index_delete_q")
      val docs = t(s, dir, "documents")
      TextIndex.buildIndex(docs, "doc_id", "text", idx)
      TextIndex.deleteDocs(docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
        "doc_id", idx)
      val terms = Seq("hash", "merge", "vector")
      // materialize the tombstone-masked answer BEFORE compaction (the
      // compaction retires the tombstone sidecar its plan reads)
      val preDir = Tables.scratch("text_index_delete_pre")
      TextIndex.searchAll(s, idx, terms).write.mode("overwrite").parquet(preDir)
      TextIndex.compactIndex(s, idx)
      // raw physical-residue read, with the one audited column DECLARED
      // (an empty corpus leaves the postings generation file-less —
      // inference would fail where the audit should read zero rows)
      val purged = s.read.schema("doc_id BIGINT")
        .parquet(TextIndex.postingsDir(s, idx))
        .filter(col("doc_id") % 7 === 0).count() == 0
      // materialize the post-compaction answer ONCE — it feeds both
      // exceptAll directions and the final output
      val postDir = Tables.scratch("text_index_delete_post")
      TextIndex.searchAll(s, idx, terms).write.mode("overwrite").parquet(postDir)
      val post = s.read.parquet(postDir)
      val pre = s.read.parquet(preDir)
      val identical = pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty
      post.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"),
          lit(purged).as("purged"),
          lit(identical).as("tombstone_exact"))
    }),

    // CDF-driven index maintenance — the composition a production
    // search pipeline runs: documents live in a versioned snapshot
    // table; an UPDATE commit (append a query term to doc_id % 11 = 0)
    // and a DELETE commit (doc_id % 13 = 0) produce v3; ONE change feed
    // v1→v3 then drives the index with O(changes) work — retract
    // (tombstone the delete + update_preimage ids), re-ingest
    // (update_postimage rows at a higher ingest seq). NO compaction in
    // the sync path: sequence-scoped tombstones mask only the old
    // postings, so the re-ingested text is visible the moment it
    // lands — compaction is left to cadence policy, off the per-sync
    // cost. Search over the synced index must equal the corpus-side
    // answer over the v3 live state — updates are load-bearing (the
    // appended term changes which docs match and their tf), so a
    // broken retract-or-reingest leg fails the hash gate.
    "q_text_index_cdc" -> ((s, dir) => {
      import graft.operators.Snapshots
      val docs = t(s, dir, "documents")
      val root = Tables.scratch("text_cdc_tbl")
      val idx = Tables.scratch("text_cdc_idx")
      Snapshots.create(s, root, docs.select("doc_id", "text", "lang"))
      // build ∥ feed: the index build over pinned v1 and the table's
      // commit/feed chain share no state (commits write NEW version
      // dirs; no expire) — the q_forget/q_hybrid_cdc chain discipline
      val v1 = Snapshots.read(s, root)
      val chDir = Tables.scratch("text_cdc_feed")
      val feedChain = inFlight {
        Snapshots.commitUpdate(s, root, col("doc_id") % 11 === 0,
          Map("text" -> concat(col("text"), lit(" vector"))))
        Snapshots.commitDelete(s, root, col("doc_id") % 13 === 0)
        // materialize the feed ONCE — its full-outer diff join would
        // otherwise recompute under each maintenance leg's action
        Snapshots.changes(s, root, 1, 3, "doc_id")
          .write.mode("overwrite").parquet(chDir)
      }
      TextIndex.buildIndex(v1, "doc_id", "text", idx)
      await(feedChain)
      val ch = s.read.parquet(chDir)
      TextIndex.deleteDocs(
        ch.filter(col("_change_type").isin("delete", "update_preimage"))
          .select("doc_id"), "doc_id", idx)
      TextIndex.appendDocs(
        ch.filter(col("_change_type") === "update_postimage")
          .select("doc_id", "text"), "doc_id", "text", idx)
      TextIndex.searchAll(s, idx, Seq("hash", "merge", "vector"))
        .join(Snapshots.read(s, root).select(col("doc_id"), col("lang")), "doc_id")
        .orderBy("doc_id")
        .select(col("doc_id"), col("total_tf"), col("lang"))
    }),

    // The full RAG stack under mutation — the round's composition
    // capper: ONE versioned table holds (doc_id, text, embedding);
    // ONE UPDATE commit mutates BOTH modalities (append a query term
    // + re-embed via reverse), a DELETE commit retracts docs; ONE
    // change feed v1→v3 then syncs BOTH persisted indexes with
    // O(changes) maintenance (seq-scoped tombstone retract +
    // re-ingest, no compaction, no refit in either index). The two
    // syncs commit through a TWO-INDEX EPOCH (IndexEpoch — one CAS
    // pins both generations, so no reader ever sees text at v3 with
    // vectors at v1): atomic_ok audits the full drill — mid-sync the
    // epoch still serves the consistent v1 pair while the raw pair is
    // provably torn, a crash there leaves the epoch unpublished, and
    // after the one-rename flip the epoch reads equal the live reads.
    // The RRF-fused hybrid search over the synced indexes must equal
    // the hybrid ranking recomputed from the mutated corpus EXACTLY
    // (exhaustive probing makes the vector leg exact; both mutation
    // legs are load-bearing — a missed text retract, vector
    // re-ingest, or erasure in EITHER index shifts a fused rank and
    // fails the hash gate).
    "q_hybrid_cdc" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = Tables.scratch("hybrid_cdc_tbl")
      val tidx = Tables.scratch("hybrid_cdc_tidx")
      val vidx = Tables.scratch("hybrid_cdc_vidx")
      Snapshots.create(s, root,
        t(s, dir, "documents").select("doc_id", "text")
          .join(t(s, dir, "embeddings")
            .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id"))
      // v1 pinned eagerly (path + file listing resolve at call time),
      // then the table's commit/feed chain and the two index BUILDS
      // run as CONCURRENT chains (the q_forget discipline) — they
      // share no state. Commits write NEW version dirs (v1's files
      // are never touched; there is no expire here), so the builds'
      // pinned v1 reads are safe under the concurrent commits.
      val v1 = Snapshots.read(s, root)
      val chDir = Tables.scratch("hybrid_cdc_feed")
      val feedChain = inFlight {
        Snapshots.commitUpdate(s, root, col("doc_id") % 11 === 0,
          Map("text" -> concat(col("text"), lit(" vector")),
            "embedding" -> reverse(col("embedding"))))
        Snapshots.commitDelete(s, root, col("doc_id") % 13 === 0)
        Snapshots.changes(s, root, 1, 3, "doc_id")
          .write.mode("overwrite").parquet(chDir)
      }
      def retractOf(ch: DataFrame) =
        ch.filter(col("_change_type").isin("delete", "update_preimage"))
      def reingestOf(ch: DataFrame) =
        ch.filter(col("_change_type") === "update_postimage")
      // the two BUILDS stay concurrent chains; the SYNCS (O(changes))
      // run sequenced on this thread so the verb can DRILL the window
      // between the two index commits — the torn-read hazard the
      // two-index EPOCH (IndexEpoch) exists to close
      val textChain = inFlight {
        TextIndex.buildIndex(v1, "doc_id", "text", tidx)
      }
      val vecChain = inFlight {
        IvfIndex.buildIndex(v1, "doc_id", "embedding", nCentroids = 8, path = vidx)
      }
      await(textChain); await(vecChain); await(feedChain)
      // ── epoch 1: the consistent v1 pair, one CAS ──
      val epochRoot = Tables.scratch("hybrid_cdc_epoch")
      val tm1 = TextIndex.exportManifest(s, tidx)
      val vp1 = IvfIndex.exportPin(s, vidx)
      IndexEpoch.publish(s, epochRoot, tm1, vp1)
      // v1 fingerprints (integer-exact): total tf of the planted term,
      // and the per-row rounded first embedding component — the two
      // quantities the UPDATE commit moves in each modality
      def textFp(df: DataFrame): Long =
        df.agg(coalesce(sum("total_tf"), lit(0L))).head.getLong(0)
      def vecFp(assigned: DataFrame): Long = assigned
        .agg(coalesce(sum(round(element_at(col("embedding"), 1)
          .cast("double") * 1000).cast("long")), lit(0L))).head.getLong(0)
      val v1VecFp = vecFp(v1.select(col("doc_id"), col("embedding")))
      val drillDoc = v1.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
        .agg(min("doc_id")).head.getLong(0)
      def tfOf(df: DataFrame): Long =
        df.filter(col("doc_id") === drillDoc).select("total_tf")
          .collect().headOption.map(_.getLong(0)).getOrElse(0L)
      val pinnedTf0 = tfOf(TextIndex.searchAllAsOf(s, tidx, Seq("vector"), tm1))
      val ch = s.read.parquet(chDir)
      // ── text index syncs and commits; vector index has NOT ──
      TextIndex.deleteDocs(retractOf(ch).select("doc_id"), "doc_id", tidx)
      TextIndex.appendDocs(reingestOf(ch).select("doc_id", "text"),
        "doc_id", "text", tidx)
      // MID-SYNC DRILL — a reader lands exactly in the crash window:
      //  * the epoch is still 1 (nothing published the flip), so the
      //    epoch reader serves the PINNED pair — both modalities at v1;
      //  * the raw pair is torn (text moved: the drill doc's live tf
      //    grew by the update's planted token; vectors did not move) —
      //    the inconsistency the epoch hides. A crash here leaves the
      //    epoch at 1 forever: both index commits are internally
      //    durable, but the stack stays at the consistent v1 pair.
      val midEpoch = IndexEpoch.current(s, epochRoot)
      val midEpochOk = midEpoch.contains((1, tm1, vp1))
      // the epoch reader resolves its pins FROM the epoch, then reads
      // each index as-of — the serving path a coordinator-aware
      // search tier runs
      val (pinT, pinV) = midEpoch.map(e => (e._2, e._3)).getOrElse((tm1, vp1))
      val midPinnedConsistent =
        tfOf(TextIndex.searchAllAsOf(s, tidx, Seq("vector"), pinT)) == pinnedTf0 &&
        vecFp(IvfIndex.loadLiveAsOf(s, vidx, "doc_id", pinV)._1) == v1VecFp
      val midRawTorn =
        tfOf(TextIndex.searchAll(s, tidx, Seq("vector"))) == pinnedTf0 + 1 &&
        vecFp(IvfIndex.loadLive(s, vidx, "doc_id")._1) == v1VecFp
      // ── vector index syncs; THEN the epoch flips both pins at once ──
      IvfIndex.deleteFromIndex(retractOf(ch).select("doc_id"), "doc_id", vidx)
      IvfIndex.appendToIndex(reingestOf(ch).select("doc_id", "embedding"),
        "doc_id", "embedding", vidx)
      val tm2 = TextIndex.exportManifest(s, tidx)
      val vp2 = IvfIndex.exportPin(s, vidx)
      val e2 = IndexEpoch.publish(s, epochRoot, tm2, vp2)
      // epoch-2 reads must now equal the live reads (the flip landed)
      val (a, c) = IvfIndex.loadLive(s, vidx, "doc_id")
      val postFlipOk = e2 == 2 &&
        IndexEpoch.current(s, epochRoot).contains((2, tm2, vp2)) &&
        tfOf(TextIndex.searchAllAsOf(s, tidx, Seq("vector"), tm2)) ==
          tfOf(TextIndex.searchAll(s, tidx, Seq("vector"))) &&
        vecFp(IvfIndex.loadLiveAsOf(s, vidx, "doc_id", vp2)._1) == vecFp(a)
      val atomicOk = midEpochOk && midPinnedConsistent && midRawTorn && postFlipOk
      val probes = Snapshots.read(s, root).filter(col("doc_id") < 5)
        .select("doc_id", "embedding")
      HybridSearch.rrfTopK(s, tidx, a, c, probes, Seq("hash", "merge", "vector"),
          "doc_id", "embedding", n = 50, k = 10, nProbes = 8)
        .withColumn("atomic_ok", lit(atomicOk))
        .orderBy("probe_id", "rank")
    }),

    // ENFORCED EPOCH-PIN RETENTION — the round-18 close of the one
    // epoch residue: pins used to survive only seq-scoped maintenance
    // (layout maintenance physically retired pinned rows, a documented
    // convention). With the epoch root REGISTERED (graft.epoch.roots),
    // compaction/vacuum on BOTH indexes now RETAIN whatever live pins
    // resolve — pinned text generations + tombstone files, pinned
    // vector rows/centroid generation — the Snapshots branch-ref
    // shield lifted to the stack level. The verb: build both indexes,
    // delete (pre-pin), pin+publish, mutate (post-pin delete+append),
    // run FULL layout maintenance on both, and serve the pinned text
    // search — which must equal the pin-time state exactly (the
    // oracle recomputes it corpus-side). Audits ride as booleans:
    // pinned_stable_* = the pinned reads bit-match their
    // pre-maintenance captures; reclaimed = after IndexEpoch.expire
    // releases the pin, the next compaction physically purges the
    // post-pin-deleted rows and clears the sidecar.
    "q_epoch_retention" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select("doc_id", "text")
        .join(t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
        .localCheckpoint()
      val tidx = Tables.scratch("epoch_ret_tidx")
      val vidx = Tables.scratch("epoch_ret_vidx")
      val root = Tables.scratch("epoch_ret_root")
      // fresh epoch root per run: scratch paths are per-JVM-stable, so
      // a prior run of this query in the SAME JVM (bench warm-up pass,
      // min-of-2 retime) leaves live epochs pinning files the rebuilt
      // indexes no longer hold — the maintenance verbs would then
      // over-retain against a dead incarnation's pins (and the drill
      // would no longer measure a single-epoch stack)
      val __rootP = new org.apache.hadoop.fs.Path(root)
      __rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(__rootP, true): Unit
      val tChain = inFlight {
        TextIndex.buildIndex(corpus, "doc_id", "text", tidx) }
      val vChain = inFlight {
        IvfIndex.buildIndex(corpus, "doc_id", "embedding",
          nCentroids = 8, path = vidx) }
      await(tChain); await(vChain)
      // pre-pin delete: the pin must carry its tombstone FILE list
      val prePin = corpus.filter(col("doc_id") % 17 === 3).select("doc_id")
      TextIndex.deleteDocs(prePin, "doc_id", tidx)
      IvfIndex.deleteFromIndex(prePin, "doc_id", vidx)
      val tPin = TextIndex.exportManifest(s, tidx)
      val vPin = IvfIndex.exportPin(s, vidx)
      IndexEpoch.publish(s, root, tPin, vPin)
      IndexEpoch.withRegisteredRoot(s, root) {
        def textFp() = TextIndex.searchAllAsOf(s, tidx, Seq("vector"), tPin)
          .agg(coalesce(sum("total_tf"), lit(0L)), count(lit(1))).head()
        def vecFp() = IvfIndex.loadLiveAsOf(s, vidx, "doc_id", vPin)._1
          .agg(coalesce(sum(round(element_at(col("embedding"), 1)
            .cast("double") * 1000).cast("long")), lit(0L)),
            count(lit(1))).head()
        val (t0, v0) = (textFp(), vecFp())
        // post-pin mutations: retract-only (%13) and update (%11)
        val gone = corpus.filter(col("doc_id") % 13 === 0).select("doc_id")
        // %143 overlap stays retract-only, so the reclaim audit can
        // assert every %13 row is physically gone after the expire
        val upd = corpus.filter(col("doc_id") % 11 === 0 &&
          col("doc_id") % 13 =!= 0)
        TextIndex.deleteDocs(gone.unionByName(upd.select("doc_id")),
          "doc_id", tidx)
        TextIndex.appendDocs(upd.select(col("doc_id"),
          concat(col("text"), lit(" vector")).as("text")), "doc_id", "text", tidx)
        IvfIndex.deleteFromIndex(gone.unionByName(upd.select("doc_id")),
          "doc_id", vidx)
        IvfIndex.appendToIndex(upd.select(col("doc_id"),
          reverse(col("embedding")).as("embedding")),
          "doc_id", "embedding", vidx)
        // FULL layout maintenance on both indexes — what used to
        // retire the pin (text compacts twice: the second pass sweeps
        // past the reader spare, the case generation retention exists
        // for)
        TextIndex.compactIndex(s, tidx)
        TextIndex.compactIndex(s, tidx)
        TextIndex.vacuumIndex(s, tidx, olderThanMs = 0L)
        IvfIndex.compactLists(s, vidx, "doc_id")
        IvfIndex.vacuumIndex(s, vidx, olderThanMs = 0L)
        val pinnedStableText = textFp() == t0
        val pinnedStableVec = vecFp() == v0
        // release the pin → the next compaction reclaims physically
        IndexEpoch.expire(s, root, keepFrom =
          IndexEpoch.current(s, root).map(_._1 + 1).getOrElse(1))
        IvfIndex.compactLists(s, vidx, "doc_id")
        val reclaimed = s.read.parquet(s"$vidx/assigned")
          .filter(col("doc_id") % 13 === 0).isEmpty &&
          !new org.apache.hadoop.fs.Path(vidx)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
            .exists(new org.apache.hadoop.fs.Path(s"$vidx/tombstones"))
        // deliverable: the pinned text search — the pin-time state,
        // recomputable corpus-side by the oracle
        TextIndex.searchAllAsOf(s, tidx, Seq("vector"), tPin)
          .withColumn("pinned_stable_text", lit(pinnedStableText))
          .withColumn("pinned_stable_vec", lit(pinnedStableVec))
          .withColumn("reclaimed", lit(reclaimed))
          .orderBy("doc_id")
      }
    }),

    // EPOCH-PINNED BM25 — the RANKED as-of read that completes the
    // pinned surface (searchAllAsOf serves raw tf; a serving tier
    // needs the full ranking): generations, seq ceiling, tombstone
    // horizon AND the corpus scalars (n_docs, avgdl) all resolve from
    // the pinned manifest content, and per-term df aggregates from the
    // same pinned masked rows — so the pinned ranking is BIT-STABLE
    // under post-pin mutation and (with the root registered) full
    // layout maintenance, which the verb drills: pin → delete+append →
    // compact twice under enforced retention → the pinned top-20 must
    // equal its pre-maintenance capture row for row (ranking_stable).
    // Oracle: the q_text_bm25 replay over the pin-time corpus state.
    "q_text_bm25_asof" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tidx = Tables.scratch("bm25_asof_tidx")
      val root = Tables.scratch("bm25_asof_root")
      // fresh epoch root per run: scratch paths are per-JVM-stable, so
      // a prior run of this query in the SAME JVM (bench warm-up pass,
      // min-of-2 retime) leaves live epochs pinning files the rebuilt
      // indexes no longer hold — the maintenance verbs would then
      // over-retain against a dead incarnation's pins (and the drill
      // would no longer measure a single-epoch stack)
      val __rootP = new org.apache.hadoop.fs.Path(root)
      __rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(__rootP, true): Unit
      val terms = Seq("hash", "merge", "vector")
      TextIndex.buildIndex(docs, "doc_id", "text", tidx)
      // pre-pin delete: the pinned corpus is documents minus %17==3,
      // carried by the pin's tombstone file list
      TextIndex.deleteDocs(docs.filter(col("doc_id") % 17 === 3)
        .select("doc_id"), "doc_id", tidx)
      val pin = TextIndex.exportManifest(s, tidx)
      IndexEpoch.publish(s, root, pin, Seq("seq=0", "cgen=0"))
      IndexEpoch.withRegisteredRoot(s, root) {
        def ranked() = TextIndex.bm25AsOf(s, tidx, terms, k = 20, pin)
        val before = ranked().collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
        TextIndex.deleteDocs(docs.filter(col("doc_id") % 13 === 0)
          .select("doc_id"), "doc_id", tidx)
        TextIndex.appendDocs(
          docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select(col("doc_id"), concat(col("text"), lit(" vector")).as("text")),
          "doc_id", "text", tidx)
        TextIndex.compactIndex(s, tidx)
        TextIndex.compactIndex(s, tidx) // 2nd: sweeps past the reader spare
        // the post-maintenance pinned ranking is BOTH the stability
        // probe and the deliverable — materialize it ONCE (the
        // q_text_index_compact rule; a second bm25AsOf run re-prices
        // the whole pruned-postings + df + heap-cut plan)
        val afterDir = Tables.scratch("bm25_asof_after")
        ranked().write.mode("overwrite").parquet(afterDir)
        val afterDf = s.read.parquet(afterDir)
        // re-apply bm25AsOf's emit order: parquet read-back order is
        // not contractual, and the stability capture compares sequences
        val after = afterDf.orderBy(col("score").desc, col("doc_id").asc)
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
        afterDf.withColumn("ranking_stable", lit(before == after))
          .orderBy(col("score").desc, col("doc_id").asc)
      }
    }),

    // PINNED HYBRID SEARCH — the fused as-of read that completes the
    // epoch stack: the manifest pins BOTH index states in one CAS, and
    // the serving deliverable a coordinator-pinned tier returns is the
    // FUSED RRF ranking, not each leg alone. rrfTopKAsOf composes the
    // pinned legs under the SAME fusion plan as the live verb: BM25
    // from the pinned manifest content (generations, seq ceiling,
    // tombstone horizon, n_docs/avgdl), the vector leg probing the
    // pin's cgen centroid table over loadLiveAsOf's masked rows.
    // Drill: publish → mutate BOTH modalities → rebalance + compact +
    // vacuum both indexes under enforced retention → the pinned fused
    // top-k must equal its pre-maintenance capture row for row
    // (fused_stable). Exhaustive probing makes the vector leg exact,
    // so the oracle is the q_hybrid_search_rrf replay over the
    // PIN-TIME corpus (minus the pre-pin %17 deletes).
    "q_hybrid_asof" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val tidx = Tables.scratch("hybrid_asof_tidx")
      val vidx = Tables.scratch("hybrid_asof_vidx")
      val root = Tables.scratch("hybrid_asof_root")
      // fresh epoch root per run: scratch paths are per-JVM-stable, so
      // a prior run of this query in the SAME JVM (bench warm-up pass,
      // min-of-2 retime) leaves live epochs pinning files the rebuilt
      // indexes no longer hold — the maintenance verbs would then
      // over-retain against a dead incarnation's pins (and the drill
      // would no longer measure a single-epoch stack)
      val __rootP = new org.apache.hadoop.fs.Path(root)
      __rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(__rootP, true): Unit
      val terms = Seq("hash", "merge", "vector")
      val probes = emb.filter(col("vec_id") < 5).localCheckpoint()
      val tChain = inFlight {
        TextIndex.buildIndex(docs, "doc_id", "text", tidx) }
      val vChain = inFlight {
        IvfIndex.buildIndex(emb, "vec_id", "embedding",
          nCentroids = 16, path = vidx) }
      await(tChain); await(vChain)
      // pre-pin delete on BOTH modalities: each pin must carry its
      // index's tombstone file list
      TextIndex.deleteDocs(docs.filter(col("doc_id") % 17 === 3)
        .select("doc_id"), "doc_id", tidx)
      IvfIndex.deleteFromIndex(emb.filter(col("vec_id") % 17 === 3)
        .select("vec_id"), "vec_id", vidx)
      val tPin = TextIndex.exportManifest(s, tidx)
      val vPin = IvfIndex.exportPin(s, vidx)
      IndexEpoch.publish(s, root, tPin, vPin)
      IndexEpoch.withRegisteredRoot(s, root) {
        def fused() = HybridSearch.rrfTopKAsOf(s, tidx, vidx, probes,
          terms, "vec_id", "embedding", n = 50, k = 10, nProbes = 16,
          tPin, vPin).orderBy("probe_id", "rank")
        def capture() = fused().collect().map(r =>
          (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
            r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toSeq
        val before = capture()
        // post-pin mutation on BOTH modalities: retract-only (%13)
        // and update (%11 — text gains a term, embedding reverses)
        TextIndex.deleteDocs(docs.filter(col("doc_id") % 13 === 0)
          .select("doc_id"), "doc_id", tidx)
        TextIndex.appendDocs(
          docs.filter(col("doc_id") % 11 === 0 && col("doc_id") % 13 =!= 0)
            .select(col("doc_id"), concat(col("text"), lit(" vector")).as("text")),
          "doc_id", "text", tidx)
        IvfIndex.deleteFromIndex(emb.filter(col("vec_id") % 13 === 0)
          .select("vec_id"), "vec_id", vidx)
        IvfIndex.appendToIndex(
          emb.filter(col("vec_id") % 11 === 0 && col("vec_id") % 13 =!= 0)
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")),
          "vec_id", "embedding", vidx)
        // FULL layout maintenance on both indexes under enforced
        // retention — incl. a rebalance pass, so a centroid-generation
        // flip (if the appends skewed a list past the factor) rides
        // the drill: the pinned read must keep probing the pin's cgen
        TextIndex.compactIndex(s, tidx)
        TextIndex.compactIndex(s, tidx) // 2nd: sweeps past the reader spare
        TextIndex.vacuumIndex(s, tidx, olderThanMs = 0L)
        IvfIndex.rebalanceIndex(s, vidx, "vec_id", "embedding",
          maxListFactor = 1.25)
        IvfIndex.compactLists(s, vidx, "vec_id")
        IvfIndex.vacuumIndex(s, vidx, olderThanMs = 0L)
        // the post-maintenance fused ranking is BOTH the stability
        // probe and the deliverable — materialize it ONCE (the
        // q_text_index_compact rule; a third rrfTopKAsOf run re-prices
        // both pinned legs and the fusion)
        val afterDir = Tables.scratch("hybrid_asof_after")
        fused().write.mode("overwrite").parquet(afterDir)
        val afterDf = s.read.parquet(afterDir)
        // re-apply fused()'s emit order: parquet read-back order is
        // not contractual, and the stability capture compares sequences
        val after = afterDf.orderBy("probe_id", "rank").collect().map(r =>
          (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
            r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toSeq
        afterDf.withColumn("fused_stable", lit(before == after))
          .orderBy("probe_id", "rank")
      }
    }),

    // RIGHT-TO-BE-FORGOTTEN across the whole stack — the GDPR erasure
    // verb no single layer provides alone. A snapshot DELETE is not
    // forgetting (time travel still serves the rows); an index
    // tombstone is not forgetting (the posting/list files still hold
    // the content). One id set is erased from EVERY surface, each via
    // its layer's own verbs: the versioned table (DELETE commit +
    // expire, so no resolvable version contains the ids), the text
    // index (tombstone + reconciling compaction — postings physically
    // purged, df/totals recounted), and the vector index (tombstone +
    // list fold — rows physically gone from the cluster partitions).
    // forget_ok audits PHYSICAL residue: raw reads of the surviving
    // table version, the live posting files, and the live inverted
    // lists must all show ZERO rows for the forgotten ids — masked is
    // not enough. Deliverable: per-source rollup of the surviving
    // corpus, exact SQL oracle.
    "q_forget" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = Tables.scratch("forget_tbl")
      val tidx = Tables.scratch("forget_tidx")
      val vidx = Tables.scratch("forget_vidx")
      val corpus = t(s, dir, "documents").select("doc_id", "text", "source", "n_chars")
        .join(t(s, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      Snapshots.create(s, root, corpus)
      val isForgotten = col("doc_id") % 17 === 0
      val ids = corpus.filter(isForgotten).select("doc_id")
      // v1 pinned BEFORE the chains fork: Snapshots.read resolves the
      // version path (and lists its immutable files) eagerly, so the
      // concurrent DELETE commit below cannot change what the index
      // builds ingest — and expire waits for every v1 reader
      val v1 = Snapshots.read(s, root)
      // the three layers' erase pipelines are INDEPENDENT (separate
      // artifacts, separate locks) — run them as concurrent chains;
      // each chain keeps its own build → tombstone → compact order
      val textChain = inFlight {
        // text index: build, tombstone (exact immediately), then
        // reconciling compaction (physical purge of the posting rows)
        TextIndex.buildIndex(v1, "doc_id", "text", tidx)
        TextIndex.deleteDocs(ids, "doc_id", tidx)
        TextIndex.compactIndex(s, tidx)
      }
      val vecChain = inFlight {
        // vector index: build, tombstone, list fold (physical purge)
        IvfIndex.buildIndex(v1, "doc_id", "embedding",
          nCentroids = 8, path = vidx)
        IvfIndex.deleteFromIndex(ids, "doc_id", vidx)
        IvfIndex.compactLists(s, vidx, "doc_id")
      }
      // table: DELETE commit (writes v2; v1's files stay untouched, so
      // the concurrent builds' pinned reads are safe)
      val tblChain = inFlight { Snapshots.commitDelete(s, root, isForgotten) }
      await(textChain); await(vecChain); await(tblChain)
      // expire history + vacuum orphans LAST — it deletes v1's files,
      // so it must not run before every chain has finished reading v1
      Snapshots.expire(s, root, retain = 1)
      // audit PHYSICAL residue on every surface, raw reads — no masks;
      // the four audits are independent scans, same concurrency shape
      val tableResidueF = inFlight {
        Snapshots.read(s, root).filter(isForgotten).count() }
      val postResidueF = inFlight {
        s.read.parquet(TextIndex.postingsDir(s, tidx))
          .join(ids, "doc_id").count() }
      val listResidueF = inFlight {
        s.read.parquet(s"$vidx/assigned")
          .join(ids, Seq("doc_id"), "left_semi").count() }
      val histResidue = Snapshots.versions(s, root).size - 1
      val tableResidue = await(tableResidueF)
      val postResidue = await(postResidueF)
      val listResidue = await(listResidueF)
      val forgotten =
        tableResidue == 0 && histResidue == 0 && postResidue == 0 && listResidue == 0
      Snapshots.read(s, root)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .withColumn("forget_ok", lit(forgotten))
        .orderBy("source")
    }),

    "q_text_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
        .withColumn("dl", size(col("toks")))
      val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
      // tf feeds both the df count and the scoring join — materialize
      // it once (tiny: one row per (doc, matched term)) instead of
      // re-running the explode+filter scan per consumer
      val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("w"))
        .filter(col("w").isin("hash", "merge", "vector"))
        .groupBy("doc_id", "dl", "w").agg(count(lit(1)).cast("double").as("tf"))
        .localCheckpoint()
      val dfT = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(dfT), "w")
        .crossJoin(broadcast(stats))
        .withColumn("contrib",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
            col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id").agg(sum("contrib").as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Document chunking (RAG / training windows): token windows of 50
    // with stride 40 (10-token overlap). One generator explode per doc
    // — the chunk list never materializes on the driver, and the token
    // array is carried once per doc, not per chunk.
    "q_text_chunk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), "\\s+"), t => length(t) > 0).as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("toks"), col("n"),
          posexplode(sequence(lit(0), col("n") - 1, lit(40)))
            .as(Seq("chunk_idx", "chunk_start")))
        .select(col("doc_id"),
          col("chunk_idx").cast("bigint").as("chunk_idx"),
          col("chunk_start").cast("bigint").as("chunk_start"),
          least(lit(50), col("n") - col("chunk_start")).cast("bigint").as("n_chunk_tokens"),
          element_at(col("toks"), col("chunk_start") + 1).as("head_token"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // Deterministic per-epoch TRAINING SHUFFLE: the global reshuffle a
    // training run needs every epoch, as a pure function of
    // (epoch, doc_id) — md5-prefix order key, mod-8 shard — so any
    // worker can recompute its shard without coordination and a rerun
    // is bit-identical. The op is a real shuffle: repartition on shard
    // co-locates each shard in ONE partition (colocated_ok measures
    // max distinct Spark partitions per shard == 1), sortWithinPartitions
    // puts rows in epoch-key order for sequential write-out. The order
    // key u32·2²⁴ + doc_id is collision-free (doc_id < 2²⁴ at every
    // SF) so head_ord is deterministic and the oracle exact.
    "q_train_shuffle" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "n_chars")
      val epochs = Seq(1, 2).map { e =>
        docs.withColumn("epoch", lit(e))
          .withColumn("u32", expr(
            s"cast(conv(substring(md5(cast(concat('epoch$e:', cast(doc_id as string)) as binary)), 1, 8), 16, 10) as bigint)"))
      }.reduce(_ unionByName _)
      val sharded = epochs
        .withColumn("shard", pmod(col("u32"), lit(8L)))
        .withColumn("ord", col("u32") * lit(16777216L) + col("doc_id"))
        .repartition(8, col("shard"))
        .sortWithinPartitions("epoch", "ord")
        .withColumn("pid", spark_partition_id())
      sharded.groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min("ord").as("head_ord"),
          (countDistinct("pid") === 1).as("colocated_ok"))
        .orderBy("epoch", "shard")
    }),

    // TEMPERATURE-scaled source mixing — the multinomial α-sampling a
    // multi-domain training mix uses (p_s ∝ n_s^α, α = 0.5 here) to
    // flatten the source distribution so head domains stop drowning
    // the tail. Per-source inclusion rate r_s = min(1, T·p_s/n_s) with
    // target T = 0.3·N; membership is the md5-u32 test u32 < cut_s.
    // Every cut is computed in PURE INTEGER arithmetic (isqrt weights,
    // bigint `div`) so the oracle reproduces the exact sample — no
    // float normalization whose summation order could flip a boundary
    // doc between engines. Scale shape: one |sources|-row aggregate,
    // one broadcast map join, one scan — the corpus is never shuffled.
    // (Integer-overflow bound: T·w_s·2³² must fit in int64 — holds to
    // ~10⁹ docs/source; past that the cut computation moves to
    // decimal(38,0), the test itself is unchanged.)
    "q_train_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val perSrc = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
        .withColumn("w_s", expr("cast(floor(sqrt(cast(n_s as double))) as bigint)"))
      val tot = perSrc.agg(sum("n_s").as("n_tot"), sum("w_s").as("sw"))
      val rates = perSrc.crossJoin(broadcast(tot))
        .withColumn("cut", least(
          expr("(((3 * n_tot) div 10) * w_s * 4294967296) div (sw * n_s)"),
          lit(4294967296L)))
        .select("source", "n_s", "cut")
      val u32 = expr("cast(conv(substring(md5(cast(concat('mix:', " +
        "cast(doc_id as string)) as binary)), 1, 8), 16, 10) as bigint)")
      val sampled = docs.join(broadcast(rates.select("source", "cut")), "source")
        .filter(u32 < col("cut"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("chars_sampled"))
      rates.join(broadcast(sampled), Seq("source"), "left")
        .select(col("source"), col("n_s").as("n_total"), col("cut"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          coalesce(col("chars_sampled"), lit(0L)).as("chars_sampled"))
        .orderBy("source")
    }),

    // Global QUALITY-ORDERED selection under a token budget (the
    // "keep the best 40% of tokens" curation step), WITHOUT a global
    // sort: ordering every doc through one partitionless window is the
    // anti-pattern that funnels 100 TB into a single task. Two phases:
    // (1) a 1025-row histogram of floor(q·1024) quality buckets finds
    // the budget-crossing bucket b* on the driver — every doc in a
    // higher bucket is provably selected (strictly higher q, cumulative
    // under budget); (2) the exact prefix rule runs only WITHIN b*,
    // so the single-task window touches one bucket's docs, not the
    // corpus. Selection = prefix rule: doc in iff inclusive cumulative
    // tokens (q desc, doc_id order) ≤ budget — the oracle IS the
    // one-window formulation, so the equivalence is hash-checked on
    // every run. q is one integer division (alnum chars / chars), so
    // both engines derive bit-identical doubles and buckets.
    "q_train_token_budget" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("source"),
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
            .cast("bigint").as("tok"),
          (length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")).cast("double") /
            length(col("text"))).as("q"))
        .withColumn("bkt", floor(col("q") * 1024).cast("int"))
        .localCheckpoint() // 3 consumers: histogram, above-set, b* window
      val hist = docs.groupBy("bkt").agg(sum("tok").as("btok"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
      val budget = (4L * hist.map(_._2).sum) / 10L
      // walk buckets best-first; the first bucket whose tokens push the
      // cumulative past the budget is where the exact cut lives
      val crossing: Option[Int] = {
        var c = 0L; var cross = Option.empty[Int]
        hist.foreach { case (b, btok) =>
          if (cross.isEmpty && c + btok > budget) cross = Some(b)
          c += btok
        }
        cross
      }
      val selected = crossing match {
        case None => docs // budget covers everything
        case Some(b) =>
          val cumAbove = hist.takeWhile(_._1 > b).map(_._2).sum
          val rem = budget - cumAbove
          val wCum = Window.orderBy(col("q").desc, col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val within = docs.filter(col("bkt") === b)
            .withColumn("cum", sum("tok").over(wCum))
            .filter(col("cum") <= rem)
            .drop("cum")
          docs.filter(col("bkt") > b).unionByName(within)
      }
      selected.groupBy("source")
        .agg(count(lit(1)).as("n_sel"), sum("tok").as("tok_sel"))
        .orderBy("source")
    }),

    // CLUSTER-CONSISTENT split — the fix for the one flaw of per-doc
    // hash splits: a near-duplicate of an eval doc leaking into train
    // (doc-level hashing assigns the two copies independently).
    // Assignment hashes the doc's near-dup CLUSTER label (connected
    // components over the verified minhash pairs; docs with no dup
    // partner label themselves), so a whole duplicate cluster lands in
    // ONE split by construction — and singletons get exactly the same
    // assignment as q_train_split, so only dup-cluster members ever
    // move. no_straddle_ok MEASURES the contract end-to-end (max
    // distinct splits per label == 1). Composition: banded near-dup
    // pairs → path-halving CC → one corpus-keyed left join → md5 on
    // the label → small agg. Nothing corpus-sized collects.
    "q_train_split_cluster" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
      val labels = Dedup.duplicateClusters(pairs)
        .withColumnRenamed("doc", "doc_id")
      val labeled = docs.join(labels, Seq("doc_id"), "left")
        .withColumn("label", coalesce(col("label"), col("doc_id")))
      val u8 = expr("cast(conv(substring(md5(cast(concat('split:', " +
        "cast(label as string)) as binary)), 1, 2), 16, 10) as bigint)")
      val tagged = labeled.withColumn("split",
        when(u8 < 230, "train").when(u8 < 243, "val").otherwise("test"))
      val mx = tagged.groupBy("label")
        .agg(countDistinct("split").as("nsp"))
        .agg(max("nsp")).head
      val straddleOk = mx.isNullAt(0) || mx.getLong(0) == 1L
      tagged.groupBy("source", "split")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .withColumn("no_straddle_ok", lit(straddleOk))
        .orderBy("source", "split")
    }),

    // Deterministic train/val/test SPLIT manifest (~90/5/5): the
    // assignment is a pure function of doc_id (md5 first byte), so it
    // is stable under re-runs, appends, and re-partitioning — the
    // property that keeps eval sets uncontaminated across pipeline
    // versions (a rand() split reassigns docs every run). One scan,
    // one small aggregate; disjoint + complete by construction.
    "q_train_split" -> ((s, dir) => {
      val u8 = expr("cast(conv(substring(md5(cast(concat('split:', " +
        "cast(doc_id as string)) as binary)), 1, 2), 16, 10) as bigint)")
      t(s, dir, "documents")
        .withColumn("split",
          when(u8 < 230, "train").when(u8 < 243, "val").otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("source", "split")
    }),

    // CURRICULUM schedule — the per-epoch stage mix a curriculum-
    // learning run consumes (easy-heavy early, flattening to uniform).
    // Difficulty proxy: scaled mean token length d = (Σ|tok|·100) div
    // n_toks, pure integer. Stage terciles come from a TWO-PHASE cut
    // (same shape as q_train_token_budget): a bounded d-histogram
    // (|distinct d| rows, ≲ hundreds at any corpus size) finds the
    // tercile boundary buckets on the driver; stage assignment is then
    // a stateless CASE — no global ntile window funneling the corpus
    // through one sort task. Epoch weights anneal 60/30/10 → 34/33/33;
    // planned_tok = w·stage_tok div 100 (integer, cross-engine exact).
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
        // the tokenize HOF is the expensive term and BOTH phases (the
        // 101-row histogram collect, the staged rollup) consume its
        // 3-numeric-column output — materialize it once; the second
        // pass then reads doc-count×24 bytes instead of re-tokenizing
        .localCheckpoint()
      val hist = base.groupBy("d").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      val total = hist.map(_._2).sum
      var cum = 0L; var b1 = Long.MaxValue; var b2 = Long.MaxValue
      hist.foreach { case (dv, n) =>
        cum += n
        if (b1 == Long.MaxValue && cum * 3 >= total) b1 = dv
        if (b2 == Long.MaxValue && cum * 3 >= 2 * total) b2 = dv
      }
      val stageTok = base.withColumn("stage",
          when(col("d") <= b1, "easy").when(col("d") <= b2, "mid").otherwise("hard"))
        .groupBy("stage")
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

    // GRADED contamination report — the triage view behind the binary
    // decontaminate verb: per benchmark doc, how MUCH of it leaked
    // (matched distinct 8-grams / total, in basis points — integer, so
    // the oracle reproduces the exact figure). The curator drops >X bp
    // rather than any-hit. One gram-keyed shuffle join (eval grams ×
    // distinct train grams); nothing corpus-sized is broadcast or
    // windowed — AQE is free to broadcast the eval side when the
    // benchmark is small (the usual case).
    "q_decontaminate_overlap" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("words"))
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(col("words"), 8))).as("gram"))
      val trainGrams = grams.filter(col("doc_id") % 50 =!= 0).select("gram").distinct()
      val evalGrams = grams.filter(col("doc_id") % 50 === 0)
      val hits = evalGrams.join(trainGrams, Seq("gram"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      evalGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("(coalesce(n_hit, cast(0 as bigint)) * 10000) div n_grams").as("overlap_bp"))
        .orderBy("doc_id")
    }),

    // CROSS-SOURCE duplication audit — which source pairs copy from
    // each other (mirror detection / licensing triage): the verified
    // near-dup pairs keyed by normalized source pair. Rides the exact
    // same banded minhash machinery as q_dedup_minhash; on top it is
    // one doc_id-keyed join against a 2-column projection of the
    // corpus (pair side is |dup pairs|, AQE picks the build side) and
    // a |source-pairs|-row aggregate.
    "q_dedup_cross_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
      pairs
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), Seq("doc_b"))
        .select(least(col("src_a"), col("src_b")).as("src_lo"),
          greatest(col("src_a"), col("src_b")).as("src_hi"),
          col("doc_a"), col("doc_b"))
        .groupBy("src_lo", "src_hi")
        .agg(count(lit(1)).as("n_pairs"),
          min("doc_a").as("min_doc_a"), min("doc_b").as("min_doc_b"))
        .orderBy("src_lo", "src_hi")
    }),

    // Embedding OUTLIER report — the corrupt-vector screen an
    // embedding pipeline runs before indexing (truncated reads, wrong
    // preprocessing, mis-batched rows land far from their label's
    // centroid). Per label: population, mean/max squared L2 distance
    // to the centroid, and the count beyond 2× the label mean. Two
    // |labels|-row broadcast joins around one corpus scan; distances
    // via zip_with/aggregate (codegen'd), no explode blowup, no window.
    // The outlier threshold excludes a 1e-7 relative band above 2×mean:
    // the count is an exact integer derived from a float boundary, and
    // a vector sitting within summation-order noise of the boundary
    // (e.g. a 2-row label where one row IS the centroid) would flip the
    // integer between engines; the band makes both engines agree unless
    // a true value lands inside it.
    "q_embed_outliers" -> ((s, dir) => {
      val centroid = udaf(Aggregators.VectorCentroid)
      val emb = t(s, dir, "embeddings")
      val cents = emb.groupBy("label").agg(centroid(col("embedding")).as("centroid"))
      val dist = emb.join(broadcast(cents), Seq("label"))
        .select(col("label"), col("vec_id"),
          aggregate(
            zip_with(col("embedding"), col("centroid"),
              (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
            lit(0.0), (acc, v) => acc + v).as("d2"))
      val stats = dist.groupBy("label")
        .agg(count(lit(1)).as("n"), avg("d2").as("mean_d2"))
      dist.join(broadcast(stats), Seq("label"))
        .groupBy("label", "n", "mean_d2")
        .agg(max("d2").as("max_d2"),
          sum(when(col("d2") > col("mean_d2") * 2 * (1 + 1e-7), 1L)
            .otherwise(0L)).as("n_outliers"))
        .select(col("label"), col("n"), col("mean_d2"), col("max_d2"), col("n_outliers"))
        .orderBy("label")
    }),

    // Windowed CO-OCCURRENCE with PMI — the collocation report a
    // corpus-analysis pass ships (multi-word entities, templated
    // boilerplate show up as high-count high-PMI pairs). Pairs are
    // unordered tokens within a ±3 window, built by three shifted
    // zips INSIDE the array kernel (never a per-doc positional
    // self-join, which is O(|doc|²) before its distance filter). Rank
    // is by integer count (doc-order-free, cross-engine exact); PMI is
    // computed AFTER the top-100 cut, so the corpus-sized aggregate
    // carries no float and the two unigram joins touch 100 rows.
    "q_text_cooccur_pmi" -> ((s, dir) => {
      val toksDf = t(s, dir, "documents")
        .select(Dedup.tokens(col("text")).as("toks"))
      val pairs = toksDf.select(explode(expr(
        "flatten(transform(array(1, 2, 3), d -> " +
          "zip_with(slice(toks, 1, greatest(size(toks) - d, 0)), " +
          "slice(toks, d + 1, greatest(size(toks) - d, 0)), " +
          "(a, b) -> named_struct('lo', least(a, b), 'hi', greatest(a, b)))))"))
        .as("p"))
        .select(col("p.lo").as("lo"), col("p.hi").as("hi"))
      val top = pairs.groupBy("lo", "hi").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("lo"), col("hi")).limit(100)
      val uni = toksDf.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val scal = pairs.agg(count(lit(1)).as("np"))
        .crossJoin(toksDf.select(explode(col("toks")).as("tk")).agg(count(lit(1)).as("nt")))
      top
        .join(uni.select(col("tok").as("lo"), col("c").as("c_lo")), Seq("lo"))
        .join(uni.select(col("tok").as("hi"), col("c").as("c_hi")), Seq("hi"))
        .crossJoin(broadcast(scal))
        .select(col("lo"), col("hi"), col("n"),
          log((col("n").cast("double") * col("nt") * col("nt")) /
            (col("np").cast("double") * col("c_lo") * col("c_hi"))).as("pmi"))
        .orderBy(col("n").desc, col("lo"), col("hi"))
    }),

    // Packing-EFFICIENCY audit — the fill-rate report a training-prep
    // run checks before shipping shards: per source, how full the
    // packed sequences of q_text_pack actually are (offset-bucketed
    // packing overflows a straddling doc into the bucket, so fill can
    // exceed 10000 bp — the report surfaces exactly that). Same pack
    // semantics, one rollup on top; integer basis points. Like
    // q_text_pack itself, the per-source cumsum window here is the
    // SMALL-STRATUM twin (one task per source at scale);
    // `q_train_pack_efficiency_sharded` below audits the
    // shard-bounded layout and is the 100 TB production form.
    "q_train_pack_efficiency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 256
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.wordCount(col("text")).as("n_tok"))
        .withColumn("cum", sum("n_tok").over(w))
        .withColumn("seq_id", floor((col("cum") - col("n_tok")) / budget))
        .groupBy("source", "seq_id")
        .agg(sum("n_tok").as("seq_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_seqs"),
          sum("seq_tokens").as("total_tok"),
          max("seq_tokens").as("max_seq_tok"),
          min("seq_tokens").as("min_seq_tok"))
        .withColumn("capacity", col("n_seqs") * budget)
        .withColumn("fill_bp", expr("(total_tok * 10000) div capacity"))
        .orderBy("source")
    }),

    // Packing-efficiency audit over the SHARDED pack — the production
    // form at 100 TB: the fill-rate rollup runs on q_text_pack_sharded's
    // sequences, whose cumsum windows are (source, shard)-bounded (span
    // docs max per task — see the sizing rule on q_text_pack_sharded)
    // instead of one task per source. The report gains the per-shard
    // boundary effect the sharded contract creates: each shard's last
    // sequence closes partially full, so fill_bp here is the honest
    // fill of the layout a trainer actually ships.
    "q_train_pack_efficiency_sharded" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 256
      val span = 200
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.wordCount(col("text")).as("n_tok"),
          floor(col("doc_id") / span).as("shard"))
      val wS = Window.partitionBy("source", "shard").orderBy("doc_id")
      val local = toks
        .withColumn("cum", sum("n_tok").over(wS))
        .withColumn("local_seq", floor((col("cum") - col("n_tok")) / budget))
      val wShards = Window.partitionBy("source").orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bases = local.groupBy("source", "shard")
        .agg((max("local_seq") + 1).as("n_seqs"))
        .withColumn("base", coalesce(sum("n_seqs").over(wShards), lit(0L)))
      local.join(broadcast(bases.select("source", "shard", "base")),
          Seq("source", "shard"))
        .withColumn("seq_id", col("base") + col("local_seq"))
        .groupBy("source", "seq_id")
        .agg(sum("n_tok").as("seq_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_seqs"),
          sum("seq_tokens").as("total_tok"),
          max("seq_tokens").as("max_seq_tok"),
          min("seq_tokens").as("min_seq_tok"))
        .withColumn("capacity", col("n_seqs") * budget)
        .withColumn("fill_bp", expr("(total_tok * 10000) div capacity"))
        .orderBy("source")
    }),

    // Chat-SFT FLATTENING — the multi-turn → training-document step of
    // an instruction-tuning pipeline: an event stream keyed by
    // conversation (user_id) becomes one dialogue document per
    // conversation, turns ordered by time (event_id tiebreak), each
    // line role#payload with the payload parsed out of the JSON props.
    // One conversation-keyed shuffle; the collect is bounded by a
    // single conversation's length (the natural unit a dialogue doc
    // must fit regardless of engine), never corpus-sized; no window.
    "q_chat_flatten" -> ((s, dir) => {
      val turns = t(s, dir, "events")
        .select(col("user_id").as("conv_id"), col("ts"), col("event_id"),
          concat(col("event_type"), lit("#"),
            get_json_object(col("props"), "$.k")).as("line"))
      turns.groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("line")))),
              x => x.getField("line")),
            "\n").as("dialogue"))
        .withColumn("n_chars", length(col("dialogue")).cast("bigint"))
        .orderBy("conv_id")
    }),

    // Chat-SFT LOSS-MASK accounting — the trainable-token audit an
    // instruction-tuning run reports before training: per conversation,
    // how much of the flattened dialogue is assistant-role (trainable)
    // vs context (masked), plus the masked share in integer basis
    // points. Character-weighted over the same role#payload lines as
    // q_chat_flatten; one keyed aggregate over one scan — the dialogue
    // string itself is never materialized here.
    "q_chat_loss_mask" -> ((s, dir) => {
      val turns = t(s, dir, "events")
        .select(col("user_id").as("conv_id"), col("event_type"),
          length(concat(col("event_type"), lit("#"),
            get_json_object(col("props"), "$.k"))).cast("bigint").as("w"))
      turns.groupBy("conv_id")
        .agg(sum("w").as("n_tok_total"),
          sum(when(col("event_type").isin("purchase", "click"), col("w"))
            .otherwise(0L)).as("n_tok_trainable"))
        .withColumn("mask_bp",
          expr("((n_tok_total - n_tok_trainable) * 10000) div n_tok_total"))
        .orderBy("conv_id")
    }),

    // Threshold-sweep dedup report — the curve a curator reads before
    // picking the dedup operating point: pair count and affected-doc
    // count at each candidate jaccard threshold, in ONE pass over the
    // verified pair set (re-running the dedup per threshold is the
    // naive alternative). The spine is 4 rows crossed against the
    // (bounded, collision-driven) pair set; jaccard itself is an IEEE
    // division of integers, bit-identical across engines, so the ≥
    // comparisons — and therefore the curve — are exact.
    "q_dedup_threshold_sweep" -> ((s, dir) => {
      import s.implicits._
      val pairs = Dedup.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8, shingleSize = 2)
      val th = Seq(0.80, 0.85, 0.90, 0.95).toDF("threshold")
      val agg = pairs.crossJoin(broadcast(th))
        .filter(col("jaccard") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_pairs"), countDistinct("doc_b").as("n_docs_b"))
      th.join(agg, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"))
        .orderBy("threshold")
    }),

    // Per-source GRAM NOVELTY — the content-diversity audit behind
    // source selection: how many of a source's distinct 8-grams appear
    // in NO other source (unique_bp high = genuinely novel content;
    // low = the source is re-serving what the corpus already has).
    // Two gram-keyed shuffles (per-source distinct, gram→source count)
    // and one keyed agg — nothing corpus-sized broadcast or windowed.
    "q_text_gram_novelty" -> ((s, dir) => {
      val srcGram = t(s, dir, "documents")
        .select(col("source"), Dedup.tokens(col("text")).as("words"))
        .select(col("source"),
          explode(array_distinct(Dedup.shingles(col("words"), 8))).as("gram"))
        .distinct()
      val nSrc = srcGram.groupBy("gram").agg(count(lit(1)).as("n_src"))
      srcGram.join(nSrc, Seq("gram"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("unique_bp", expr("(n_unique * 10000) div n_grams"))
        .orderBy("source")
    }),

    // REPEAT-EPOCHS planner — the data-constrained scaling recipe
    // ("how many times may each source repeat"): a 2×-corpus token
    // budget split uniformly across sources; each source's repeat
    // factor is its target over its size, capped at 4 epochs (repeats
    // beyond ~4 stop helping — public data-constrained-LM result).
    // Integer arithmetic end-to-end (repeat in hundredths), one
    // |sources|-row aggregate + broadcast scalars; the corpus is
    // scanned once and never shuffled.
    "q_train_repeat_epochs" -> ((s, dir) => {
      val perSrc = t(s, dir, "documents")
        .select(col("source"),
          size(filter(split(lower(col("text")), "\\W+"), tk => length(tk) > 0))
            .cast("bigint").as("tok"))
        .groupBy("source").agg(sum("tok").as("n_tok"))
      val tot = perSrc.agg(sum("n_tok").as("total"), count(lit(1)).as("n_sources"))
      perSrc.crossJoin(broadcast(tot))
        .withColumn("target_tok", expr("(2 * total) div n_sources"))
        .withColumn("repeat_x100",
          least(lit(400L), expr("(target_tok * 100) div n_tok")))
        .withColumn("planned_tok", expr("(n_tok * repeat_x100) div 100"))
        .select("source", "n_tok", "target_tok", "repeat_x100", "planned_tok")
        .orderBy("source")
    }),

    // Language-mix composition report — the per-source language
    // distribution + Shannon entropy a multilingual curation run
    // monitors (a source whose entropy jumps got polluted; one whose
    // en-share collapses broke its extractor). Same langId classifier
    // as q_text_langid; composition is one small groupBy, shares and
    // entropy ride two |sources|-row broadcast joins. Doubles
    // throughout (6dp-canonicalized), counts exact.
    "q_text_lang_mix" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("source"), TextFunctions.langId(col("text")).as("lang"))
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
      val totals = counts.groupBy("source").agg(sum("n").as("n_src"))
      val withP = counts.join(broadcast(totals), Seq("source"))
        .withColumn("share", col("n").cast("double") / col("n_src"))
      val ent = withP.groupBy("source")
        .agg(sum(expr("-share * log2(share)")).as("entropy"))
      withP.join(broadcast(ent), Seq("source"))
        .select(col("source"), col("lang"), col("n"), col("share"), col("entropy"))
        .orderBy("source", "lang")
    }),

    // DSIR-style importance resampling (Xie et al. '23, "Data
    // Selection for Language Models via Importance Resampling"): score
    // every RAW document by its likelihood ratio between a TARGET
    // domain's hashed-bigram model and the raw corpus's — the
    // data-selection verb that upsamples target-like pretraining data
    // without training a classifier. Features are bigrams hashed into
    // B=512 buckets (md5 → u32 → mod, bit-identical cross-engine);
    // both bag-of-ngrams models use add-1 smoothing; logw(doc) =
    // Σ_b c_doc[b]·ln((c_t[b]+1)/(c_r[b]+1)) + n_grams·ln((N_r+B)/(N_t+B)).
    // Selection is the natural ratio test logw > 0, with a 1e-9 band
    // (the q_embed_outliers rule: a boolean derived from a float
    // boundary must not flip on engine summation order; a zero-bigram
    // doc sits exactly at 0 and is excluded consistently).
    //
    // 100 TB shape: ONE explode+groupBy corpus shuffle produces the
    // per-(doc, bucket) counts, and every downstream consumer — the
    // 512-row models, the corpus totals, the per-doc weights — derives
    // from that same frame, so ReuseExchange runs the tokenize+hash
    // map stage exactly once; the models broadcast, the weight
    // aggregation is one doc-keyed shuffle — no window, no collect,
    // nothing corpus-sized on the driver; the target model is
    // reusable across raw shards.
    "q_train_dsir" -> ((s, dir) => {
      val B = 512
      val docs = t(s, dir, "documents")
      val isTgt = col("source").isin("src0", "src1")
      // tokens materialize through a Project boundary BEFORE shingling:
      // inlining tokens(text) into the shingle HOF would re-embed the
      // split into every lambda position (O(len²) tokenizations per
      // doc — measured 8× the verb's whole runtime)
      val docBAll = docs
        .select(col("doc_id"), col("source"),
          Dedup.tokens(col("text")).as("w"))
        .select(col("doc_id"), col("source"),
          explode(Dedup.shingles(col("w"), 2)).as("bg"))
        .withColumn("b", expr(
          "cast(conv(substring(md5(cast(bg as binary)), 1, 8), 16, 10) as bigint)")
          % B)
        .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("c"))
      val model = docBAll.groupBy("b").agg(
        sum(when(isTgt, col("c")).otherwise(0L)).as("ct"),
        sum(when(!isTgt, col("c")).otherwise(0L)).as("cr"))
      val scal = model.agg(sum("ct").as("nt"), sum("cr").as("nr"))
      docBAll.filter(!isTgt)
        .join(broadcast(model), Seq("b"), "left")
        .crossJoin(broadcast(scal))
        .select(col("doc_id"), col("source"), col("c"), col("nt"), col("nr"),
          (col("c") * (log(coalesce(col("ct"), lit(0L)) + 1) -
            log(coalesce(col("cr"), lit(0L)) + 1))).as("part"))
        .groupBy("doc_id", "source", "nt", "nr")
        .agg(sum("c").as("n_grams"), sum("part").as("s1"))
        .select(col("doc_id"), col("source"), col("n_grams"),
          (col("s1") + col("n_grams") *
            (log(col("nr") + B) - log(col("nt") + B))).as("logw"))
        .withColumn("selected", col("logw") > 1e-9)
        .orderBy("doc_id")
    }),

    // Deterministic hash-based sampling — the reproducible sampling
    // method a production pipeline uses instead of rand(): membership
    // is a pure function of the row key (md5 is bit-identical across
    // engines, so the oracle recomputes the exact sample). First hex
    // nibble ∈ {0,1,2} ⇒ an exact 3/16 rate, stable under re-runs,
    // re-partitioning, and engine changes.
    "q_sample_hash" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(substring(md5(col("event_id").cast("string").cast("binary")), 1, 1)
          .isin("0", "1", "2"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
        .orderBy("event_type")
    }),

    // Quality-WEIGHTED sampling: include each document with probability
    // ∝ its weight (n_chars), the corpus-mixture primitive that
    // up-samples high-value sources without a shuffle — one scan, one
    // broadcast scalar. Deterministic and cross-engine EXACT: the
    // uniform is the md5 32-bit prefix of doc_id and the inclusion test
    // is pure BIGINT arithmetic (u32·max_w < w·⌊0.3·2³²⌋), so there is
    // no float/transcendental to diverge between engines — unlike
    // Efraimidis-Spirakis keys (-ln u/w), whose libm-dependent doubles
    // could flip borderline selections.
    "q_sample_weighted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val u32 = expr(
        "cast(conv(substring(md5(cast(cast(doc_id as string) as binary)), 1, 8), 16, 10) as bigint)")
      docs.crossJoin(broadcast(docs.agg(max("n_chars").as("max_w"))))
        .filter(u32 * col("max_w") < col("n_chars") * lit(1288490188L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"), sum("n_chars").as("chars_sampled"))
        .orderBy("source")
    }),

    // Stratified sampling, EXACT k per stratum with NO window: docs
    // rank within their language by a cross-engine-reproducible md5
    // order and the bounded-heap TopKByScore aggregate keeps the k
    // smallest — partial aggregation, O(n log k) map-side, so a
    // 100 TB stratum never funnels into one sort task (the window
    // formulation q_text_mixture keeps is the percentage form; this
    // is the fixed-budget form a training-mix spec asks for).
    "q_sample_stratified" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val topk = udaf(new Aggregators.TopKByScore(5))
      val scored = docs.select(col("lang"), col("doc_id"),
        expr("cast(conv(substring(md5(cast(concat('strat:', cast(doc_id as string)) as binary)), 1, 8), 16, 10) as bigint)")
          .as("u32"))
        .withColumn("score", -col("u32").cast("double"))
      scored.groupBy("lang")
        .agg(topk(col("doc_id"), col("score")).as("hits"))
        .select(col("lang"), posexplode(col("hits")).as(Seq("pos", "hit")))
        .select(col("lang"), (col("pos") + 1).as("rank"),
          col("hit.id").as("doc_id"))
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .orderBy("lang", "rank")
        .select("lang", "rank", "doc_id", "n_chars")
    }),

    // Stratified training-mix sampling: per source, keep the top 20%
    // of docs by length (word count), deterministic doc_id tiebreak.
    // THRESHOLD form: one aggregate over (source, n_words) — word-
    // count-DOMAIN-sized, never corpus-sized — and the admission
    // threshold T (the n_words of the ceil(0.2·n)-th ranked doc) is
    // selected DISTRIBUTIVELY by a cumulative window over that
    // histogram: every window partition holds a source's DISTINCT
    // word counts (domain-bounded regardless of corpus row count), so
    // nothing corpus-sized ever funnels into one sort task. The
    // driver collects ONLY the selection's |sources| result rows
    // (one (T, need) pair per source — strictly bounded, unlike the
    // former sources×distinct-word-counts histogram collect), reusing
    // them for both the broadcast filter literals and the tie-band
    // heap capacity, so the threshold job runs exactly once. The
    // corpus then passes ONE broadcast-joined filter: everything
    // above T is in; the boundary tie band (n_words == T, smallest
    // doc_ids win) is an O(band) bounded-heap cut — row_number over
    // partitionBy(source), the shape this replaces, would put
    // ~corpus/|sources| rows in one task at 100 TB.
    "q_text_mixture" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // tokenize ONCE: three consumers (histogram, above-threshold
      // filter, tie band) read the 3-column checkpoint, not the text
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).as("n_words"))
        .localCheckpoint()
      val hist = docs.groupBy("source", "n_words").agg(count(lit(1)).as("cnt"))
      val wSrc = Window.partitionBy("source")
      val wCum = Window.partitionBy("source").orderBy(col("n_words").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // the histogram row containing the k-th ranked doc: T = its
      // n_words; `need` = how many tie-band docs at exactly T still
      // fit under the budget. |sources| rows collected.
      val perSource = hist
        .withColumn("k", ceil(sum("cnt").over(wSrc) * 0.2))
        .withColumn("cum_above", coalesce(sum("cnt").over(wCum), lit(0L)))
        .filter(col("cum_above") < col("k") &&
          col("cum_above") + col("cnt") >= col("k"))
        .select(col("source"), col("n_words").as("w_thresh"),
          (col("k") - col("cum_above")).as("need"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      val stats = broadcast(perSource.toDF("source", "w_thresh", "need"))
      val joined = docs.join(stats, "source")
      val above = joined.filter(col("n_words") > col("w_thresh"))
        .select("source", "doc_id", "n_words")
      // heap capacity for the tie-band cut — empty-corpus-safe
      val maxNeed = perSource.map(_._3).maxOption.getOrElse(1L).max(1L).toInt
      val topk = udaf(new Aggregators.TopKByScore(maxNeed))
      val bandPick = joined.filter(col("n_words") === col("w_thresh"))
        .withColumn("score", -col("doc_id").cast("double"))
        .groupBy("source", "w_thresh", "need")
        .agg(topk(col("doc_id"), col("score")).as("hits"))
        .select(col("source"), col("w_thresh"), col("need"),
          posexplode(col("hits")).as(Seq("pos", "hit")))
        .filter(col("pos") < col("need"))
        .select(col("source"), col("hit.id").as("doc_id"),
          col("w_thresh").as("n_words"))
      above.unionByName(bandPick)
        .orderBy("source", "doc_id")
    }),

    // SimHash near-dups (hamming ≤ 3) over the md5-hashed 60-bit
    // signature variant: every signature bit is recomputable in SQL
    // from md5(token), so the oracle re-derives the signatures and the
    // FULL pair set exactly (all-pairs at oracle scale; the Spark side
    // still goes through banded candidate generation).
    "q_dedup_simhash" -> ((s, dir) => {
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
          tokenHashMd5 = true)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("doc_a", "doc_b")
    }),

    // Embedding near-dup pairs at cosine ≥ 0.85 via hyperplane LSH.
    "q_dedup_embedding" -> ((s, dir) => {
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.85)
        .orderBy("vid_a", "vid_b")
    }),

    // Semantic dedup (SemDeDup): k-means clusters + in-cluster exact
    // cosine, keep-lowest-id. The corpus has no organic pairs at
    // τ=0.99 (q_dedup_embedding finds none even at 0.85), so the query
    // PLANTS them: every 10th vector re-enters under a fresh id with a
    // deterministic ±0.005/element jitter (cos to its source ≥ 0.9999).
    // Derived oracle: exact corpus/planted counts, plus booleans a
    // recall or precision regression would flip — precision_ok rechecks
    // every removal's exact cosine and id-monotonicity END TO END
    // (catches a dedup that removes without a valid partner), recall_ok
    // requires ≥ 90% of planted clones removed (boundary-split clusters
    // are the method's only recall loss).
    "q_dedup_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // coalesce: max() is NULL on an empty corpus (the B.9 empty-net rule)
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
        .select((VectorExpressions.cosine_sim(col("rv"), col("dv")) >= 0.99 &&
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

    // PCA-CONDITIONED semantic dedup — q_dedup_semantic's planted
    // fixture through Dedup.semanticDedupPca: the k-means quantizer
    // fits in the top-8 PCA subspace (one exact-integer moment pass;
    // d→8 cuts fit/assign arithmetic 8× at d=64 and denoises the
    // blocking metric), while the in-cluster confirmation stays the
    // exact full-dim cosine — precision is exact by construction, so
    // the same end-to-end recheck booleans gate it, and recall on the
    // planted clones must still clear 90% (the paired BENCH row
    // measures what the conditioning costs/saves vs the raw-space
    // form).
    "q_dedup_semantic_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
      val planted = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + maxId)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + (pmod(hash(col("vec_id"), j), lit(1000)) - 500)
            .cast("double") / 100000.0d).cast("float")))
      val corpus = emb.unionByName(planted).localCheckpoint()
      val removed = Dedup.semanticDedupPca(corpus, "vec_id", "embedding",
        threshold = 0.99, nClusters = 16, pcaK = 8).localCheckpoint()
      val byA = corpus.select(col("vec_id").as("rid"), col("embedding").as("rv"))
      val byB = corpus.select(col("vec_id").as("did"), col("embedding").as("dv"))
      val recheck = removed
        .join(byA, col("vec_id") === col("rid"))
        .join(byB, col("dup_of") === col("did"))
        .select((VectorExpressions.cosine_sim(col("rv"), col("dv")) >= 0.99 &&
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

    // Edit-distance-VERIFIED near-dup pairs: gram-jaccard candidates
    // from the exact prefix-filtering join, then character-level
    // levenshtein confirmation (≤ 10% of the longer text) — the
    // two-stage shape real crawl dedup uses (cheap set filter, exact
    // string verify on survivors only; never levenshtein all-pairs).
    // The corpus has no organic near-dups, so the query plants them:
    // every 5th src0 doc re-enters under a fresh id truncated by 21
    // chars. Fully EXACT oracle: DuckDB replants identically and
    // recomputes both jaccard and levenshtein on the same candidates.
    "q_dedup_editdist" -> ((s, dir) => {
      val all = t(s, dir, "documents")
      // coalesce: max() is NULL on an empty corpus (the B.9 empty-net rule)
      val maxDoc = all.agg(coalesce(max("doc_id"), lit(-1L))).head.getLong(0) + 1
      val base = all.filter(col("source") === "src0").select("doc_id", "text")
      val mut = base.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + maxDoc)
        .withColumn("text",
          expr("substring(text, 1, greatest(length(text) - 21, 1))"))
      val docs = base.unionByName(mut).localCheckpoint()
      val toks = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("words"))
      val grams = toks.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("words"), 2)).as("grams"))
      val pairs = Dedup.prefixJaccardJoin(grams, "doc_id", "grams", threshold = 0.5)
      val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      pairs.join(ta, Seq("doc_a")).join(tb, Seq("doc_b"))
        .withColumn("edit_dist",
          levenshtein(col("text_a"), col("text_b")).cast("long"))
        .filter(col("edit_dist") <=
          greatest(length(col("text_a")), length(col("text_b"))) * 0.1)
        .select("doc_a", "doc_b", "jaccard", "edit_dist")
        .orderBy("doc_a", "doc_b")
    }),

    // Duplicated-substring detection (the ExactSubstr half of Lee et
    // al. '21 "Deduplicating Training Data Makes Language Models
    // Better", public): find every K-token span that recurs across
    // documents and measure, per doc, how much of it is such
    // boilerplate — span count plus the fraction of token POSITIONS
    // covered by at least one cross-doc-duplicated window (overlapping
    // windows must not double-count, hence the distinct-position
    // explode). K=8 here (docs are short); production uses ~50.
    // Scale shape: windows are an explode (O(total tokens) rows, no
    // all-pairs anywhere), duplicated spans fall out of ONE groupBy +
    // an equi-join back, BOTH keyed on xxhash64(gram) — an 8-byte
    // shuffle key instead of the ~50-byte K-token string, ~6× less
    // shuffle volume on the two heaviest exchanges (collision odds
    // |grams|²/2⁶⁴ — the same accepted budget as signatureIndex; the
    // gram string never leaves the row it was built in).
    "q_dedup_substring" -> ((s, dir) => {
      val K = 8
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      val spans = toks.select(col("doc_id"), size(col("toks")).as("n_tok"),
          posexplode_outer(Dedup.shingles(col("toks"), K)))
        .withColumnRenamed("pos", "start")
        .withColumn("ghash",
          when(col("col").isNotNull, xxhash64(col("col"))))
        .drop("col")
      val dupGrams = spans.filter(col("ghash").isNotNull)
        .groupBy("ghash").agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("ghash")
      val dupSpans = spans.join(dupGrams, "ghash")
      val cov = dupSpans
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + K - 1)).as("p"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
      val perDoc = spans.groupBy("doc_id").agg(
        first("n_tok").as("n_tok"), count(col("ghash")).as("n_spans"))
      val dupPerDoc = dupSpans.groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
      perDoc.join(dupPerDoc, Seq("doc_id"), "left")
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"), col("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          coalesce(col("n_cov"), lit(0L)).as("n_cov"),
          (coalesce(col("n_cov"), lit(0L)).cast("double") / col("n_tok"))
            .as("dup_frac"))
        .orderBy("doc_id")
    }),

    // TF-IDF document similarity: the top-10 most similar src0 pairs
    // by sparse tf-idf cosine, computed the scale-correct sparse way —
    // explode terms, weight by tf·ln(N/df), self-join on TERM (never
    // doc×doc), sum products per pair. Stopword-shaped skew is cut at
    // the source: terms in ≥ 80% of the docs carry near-zero idf AND
    // quadratic join fan-out, so they are dropped before the join
    // (df·5 < N·4, exact integer predicate both engines replay). Final
    // top-10 is a TakeOrdered, not a global sort.
    "q_text_tfidf_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("source") === "src0").select("doc_id", "text")
      val nDocs = docs.agg(count(lit(1)).as("nd"))
      val tf = docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
      // dfreq is VOCABULARY-sized and norms CORPUS-sized — both
      // unbounded at scale, so neither is broadcast: the tf⋈dfreq join
      // shares the term key with the groupBy that built dfreq (no extra
      // exchange beyond the one already paid), and the norm joins key
      // on doc ids pairs-side. Only the one-row nDocs scalar broadcasts.
      val w = tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .filter(col("dfreq") * 5 < col("nd") * 4)
        .withColumn("wt", col("tf") * log(col("nd").cast("double") / col("dfreq")))
        .select("doc_id", "term", "wt")
      val norms = w.groupBy("doc_id").agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
      val a = w.select(col("doc_id").as("doc_a"), col("term"), col("wt").as("wa"))
      val b = w.select(col("doc_id").as("doc_b"), col("term"), col("wt").as("wb"))
      a.join(b, Seq("term")).filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
        .join(norms.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("nrm", "norm_a"), Seq("doc_a"))
        .join(norms.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("nrm", "norm_b"), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("dot") / (col("norm_a") * col("norm_b"))).as("cos"))
        .orderBy(col("cos").desc, col("doc_a"), col("doc_b"))
        .limit(10)
    }),

    // n-gram (bigram-shingle) jaccard between documents of one source,
    // via the exact prefix-filtering similarity join — candidate pairs
    // come from a rarest-first prefix-gram equi-join (complete at the
    // threshold, no LSH recall loss), never a cartesian product.
    "q_text_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("source") === "src0")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("words"))
        .select(col("doc_id"),
          array_distinct(Dedup.shingles(col("words"), 2)).as("grams"))
      Dedup.prefixJaccardJoin(docs, "doc_id", "grams", threshold = 0.3)
        .orderBy("doc_a", "doc_b")
    }),

    // Brute-force exact cosine top-5 for 10 probe vectors.
    "q_sim_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("probe_id", "rank")
    }),

    // Two-stage quantized retrieval: int8 coarse scoring over the whole
    // corpus (4x less bandwidth than float32; exact integer dot), top-50
    // candidates per probe, exact cosine re-rank to top-5. The stage-1
    // cut is integer-exact so both engines pick identical candidates.
    "q_sim_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.quantizedRerankTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nCandidates = 50)
        .orderBy("probe_id", "rank")
    }),

    // kNN label classification — the label-propagation verb a curation
    // pipeline runs over a partially-labeled corpus: each held-out
    // probe (vec_id < 10, a FIXED probe set — the corpus side is what
    // scales) takes the MAJORITY label of its 5 nearest labeled
    // neighbors (exact cosine, held-out rows excluded from the corpus
    // side). Votes aggregate per (probe, label) and the winner is one
    // max over struct(votes, -label) — deterministic ties to the
    // smaller label, no window. The neighbor search is the
    // bounded-heap brute-force kernel; a TABLE-sized probe set rides
    // the same composition over knnJoin's shuffle path instead.
    "q_sim_label_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 10)
      val probes = emb.filter(col("vec_id") < 10)
      val knn = SimilaritySearch.bruteForceTopK(
        corpus, probes, "vec_id", "embedding", k = 5)
      val votes = knn
        .join(corpus.select(col("vec_id").as("neighbor_id"), col("label")),
          "neighbor_id")
        .groupBy("probe_id", "label")
        .agg(count(lit(1)).as("votes"))
      // the (votes, -label) winner ordering packs into one decimal
      // (pack_ord; labels are non-negative ints) so both picks stay in
      // a HashAggregate — a struct-ordered max would demote to
      // SortAggregate. The pack embeds label (unique per vote row), so
      // the two picks land on the same (votes, label) row.
      val winOrd = VectorExpressions.pack_ord(
        col("votes"), lit(Long.MaxValue) - col("label"))
      votes.groupBy("probe_id")
        .agg(max_by(col("label"), winOrd).as("pred_label"),
          max_by(col("votes"), winOrd).as("n_votes"))
        .join(probes.select(col("vec_id").as("probe_id"),
          col("label").as("true_label")), "probe_id")
        .withColumn("correct", col("pred_label") === col("true_label"))
        .orderBy("probe_id")
    }),

    // IVF shard merge — build two independent IVF shards (vec_id
    // parity split), consolidate into one index (primary's centroids,
    // secondary re-assigned through the add-without-train path, live
    // views on both sides), then search the MERGED index exhaustively:
    // nProbes = nCentroids makes the answer the exact brute force over
    // the whole corpus, which is the oracle.
    "q_sim_ivf_merge" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val a = Tables.scratch("ivf_merge_a")
      val b = Tables.scratch("ivf_merge_b")
      val dst = Tables.scratch("ivf_merge_dst")
      // shard-parallel builds (separate paths, separate locks); the
      // merge awaits both — the text-merge twin's chain shape
      val buildA = inFlight { IvfIndex.buildIndex(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        nCentroids = 8, path = a) }
      val buildB = inFlight { IvfIndex.buildIndex(
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
        nCentroids = 8, path = b) }
      await(buildA); await(buildB)
      IvfIndex.mergeIndexes(s, a, b, dst, "vec_id", "embedding")
      val (assigned, centroids) = IvfIndex.loadIndex(s, dst)
      IvfIndex.searchTopK(assigned, centroids,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbes = 8)
        .orderBy("probe_id", "rank")
    }),

    // Matryoshka (MRL) two-stage retrieval: coarse cosine over the
    // FIRST 16 of 64 dimensions (4x less compute; with a truncated
    // sidecar column, 4x less I/O), top-50 candidates, exact full-dim
    // re-rank to top-5 — the dimension-shrinking twin of
    // q_sim_rerank's byte-shrinking int8 cut. Both cuts are
    // deterministic (same floats, same libm, ties by neighbor id).
    "q_sim_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilaritySearch.truncatedRerankTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nCandidates = 50, coarseDims = 16)
        .orderBy("probe_id", "rank")
    }),

    // Margin-based mutual-kNN PAIR MINING (Artetxe & Schwenk '19 — the
    // LASER/CCMatrix bitext miner; same shape aligns caption↔image or
    // question↔answer sets). Corpus split into two "languages" (even /
    // odd ids); organic cross-set cosines are random (margins ≤ ~1.5),
    // so the query PLANTS translations: every 10th even vector re-enters
    // the tgt side under a fresh id with a deterministic arithmetic
    // jitter both engines replay bit-for-bit. Both directions are IVF
    // kNN joins with exhaustive probing → the mined pair set is exact
    // and the DuckDB oracle recomputes the full margin pipeline
    // (mutual top-4, ratio margin, threshold 1.6, per-src best). The
    // planted pairs must surface with margin ≈ cos/avgₖ ≫ organic.
    "q_sim_bitext_mining" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
      val src = emb.filter(col("vec_id") % 2 === 0)
      // jitter BEFORE the re-id: lateral column alias resolution would
      // otherwise bind the lambda's vec_id to the just-aliased new id
      val planted = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
            / 100000.0d).cast("float")))
        .select((col("vec_id") + maxId).as("vec_id"), col("embedding"))
      val tgt = emb.filter(col("vec_id") % 2 === 1)
        .select("vec_id", "embedding").unionByName(planted)
      val srcIdx = Tables.scratch("bitext_src_idx")
      val tgtIdx = Tables.scratch("bitext_tgt_idx")
      // independent index builds — concurrent chains (wall = max, not sum)
      val fSrc = inFlight(IvfIndex.buildIndex(src, "vec_id", "embedding",
        nCentroids = 8, path = srcIdx))
      IvfIndex.buildIndex(tgt, "vec_id", "embedding", nCentroids = 8, path = tgtIdx)
      await(fSrc)
      val (sa, sc) = IvfIndex.loadIndex(s, srcIdx)
      val (ta, tc) = IvfIndex.loadIndex(s, tgtIdx)
      SimilaritySearch.marginMutualKnn(sa, sc, ta, tc, "vec_id", "embedding",
          k = 4, nProbes = 8, marginThreshold = 1.6)
        .orderBy("src_id")
    }),

    // BITEXT MINING AT THE PRODUCTION OPERATING POINT — the recall
    // audit that licenses pruned probing (the q_sim_recall_curve
    // design applied to mining): exhaustive mutual-kNN mining is
    // exact but O(|src|×|tgt|) pair volume — the suite's steepest
    // scaler — while nProbes < nLists bounds each direction's join to
    // the probed lists (sub-quadratic, the 100 TB form). This verb
    // MEASURES what pruning costs on the planted-translation ground
    // truth: mining runs at nProbes 1→2→4→8(=all), and each level's
    // PLANTED-PAIR recall (planted tgt = src + maxId, the pairs that
    // must be found) is computed engine-side. Deliverable: the exact
    // exhaustive mined set (brute-force SQL oracle) carrying
    //  - exhaustive_recall_ok: the exhaustive run recovers EVERY
    //    planted translation (margin ≈ cos/avgₖ ≫ threshold by
    //    construction);
    //  - pruned_recall_ok: nProbes=1 — the CHEAPEST operating point,
    //    1/8th of the exhaustive pair volume — already recovers ≥80%
    //    of planted pairs (a planted near-duplicate lands in its
    //    source's nearest list except at centroid knife-edges, so
    //    single-probe mining finds it; the sf-robust floor is spec-
    //    and scale-verified). The full curve is asserted in DedupSpec.
    "q_sim_bitext_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
      val src = emb.filter(col("vec_id") % 2 === 0)
      val planted = emb.filter(col("vec_id") % 10 === 0)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
            / 100000.0d).cast("float")))
        .select((col("vec_id") + maxId).as("vec_id"), col("embedding"))
      val tgt = emb.filter(col("vec_id") % 2 === 1)
        .select("vec_id", "embedding").unionByName(planted)
      val srcIdx = Tables.scratch("bitext_recall_src_idx")
      val tgtIdx = Tables.scratch("bitext_recall_tgt_idx")
      val fSrc = inFlight(IvfIndex.buildIndex(src, "vec_id", "embedding",
        nCentroids = 8, path = srcIdx))
      IvfIndex.buildIndex(tgt, "vec_id", "embedding", nCentroids = 8, path = tgtIdx)
      await(fSrc)
      val (sa, sc) = IvfIndex.loadIndex(s, srcIdx)
      val (ta, tc) = IvfIndex.loadIndex(s, tgtIdx)
      val nPlanted = emb.filter(col("vec_id") % 10 === 0).count()
      def minedAt(p: Int) = SimilaritySearch.marginMutualKnn(
        sa, sc, ta, tc, "vec_id", "embedding",
        k = 4, nProbes = p, marginThreshold = 1.6)
      def plantedFound(df: org.apache.spark.sql.DataFrame): Long =
        df.filter(col("src_id") % 10 === 0 &&
          col("tgt_id") === col("src_id") + maxId).count()
      // exhaustive mined set is BOTH the deliverable and the ground
      // truth — materialize once
      val exhDir = Tables.scratch("bitext_recall_exh")
      minedAt(8).write.mode("overwrite").parquet(exhDir)
      val exh = s.read.parquet(exhDir)
      val found1 = plantedFound(minedAt(1))
      val found8 = plantedFound(exh)
      exh
        .withColumn("exhaustive_recall_ok", lit(found8 == nPlanted))
        .withColumn("pruned_recall_ok", lit(found1 * 10L >= nPlanted * 8L))
        .orderBy("src_id")
    }),

    // Same top-k via the bounded-heap typed aggregator (no window sort;
    // O(n log k) with partial aggregation — the 100 TB top-k path).
    "q_sim_topk_agg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val topk = udaf(new Aggregators.TopKByScore(5))
      val scored = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
        .join(broadcast(probes), col("probe_id") =!= col("neighbor_id"))
        .withColumn("cos", VectorExpressions.cosine_sim(col("probe_vec"), col("nv")))
      scored.groupBy("probe_id")
        .agg(topk(col("neighbor_id"), col("cos")).as("hits"))
        .select(col("probe_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
        .select(col("probe_id"), (col("pos") + 1).as("rank"),
          col("hit.id").as("neighbor_id"), col("hit.score").as("cos"))
        .orderBy("probe_id", "rank")
    }),

    // LSH-bucketed ANN top-5 with a DERIVED oracle: the approximate
    // pair list is not SQL-predictable, but per-probe quality bounds
    // are — emit the exact top-1 cosine (DuckDB recomputes it) plus a
    // boolean asserting the ANN result is complete (5 hits) and every
    // rank-r hit is within an absolute cosine gap of the exact rank-r
    // answer. Deterministic planes ⇒ reproducible booleans; a recall
    // regression flips them and fails the hash gate.
    "q_sim_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 10)
      val ann = SimilaritySearch.lshTopK(
        emb, probes, "vec_id", "embedding", k = 5, nBits = 5, nTables = 12)
      val exact = SimilaritySearch.bruteForceTopK(
        emb, probes, "vec_id", "embedding", k = 5)
      val gaps = ann.join(
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
            coalesce(col("max_gap"), lit(1.0)) <= lit(0.12)).as("ann_ok"))
        .orderBy("probe_id")
    }),

    // Multi-probe ANN (Lv '07): HALF the hash tables of q_sim_ann, with
    // each probe additionally searching the 2 buckets reached by
    // flipping its lowest-margin sign bits per table. The corpus-side
    // cost (hashing + shuffle rows) halves; the probe-side fan-out is
    // over 10 rows. Same derived-oracle shape as q_sim_ann: exact top-1
    // cosine (DuckDB recomputes) + completeness/gap booleans that a
    // recall regression would flip.
    "q_sim_ann_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") < 10)
      val ann = SimilaritySearch.lshTopK(
        emb, probes, "vec_id", "embedding", k = 5, nBits = 5, nTables = 6, nFlips = 2)
      val exact = SimilaritySearch.bruteForceTopK(
        emb, probes, "vec_id", "embedding", k = 5)
      val gaps = ann.join(
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
            coalesce(col("max_gap"), lit(1.0)) <= lit(0.12)).as("ann_ok"))
        .orderBy("probe_id")
    }),

    // IVF ANN: k-means coarse quantizer fitted ONCE and persisted as
    // parquet; the search reads the prebuilt index (no per-query refit
    // — the 100 TB fit-once/search-many discipline). Same derived
    // oracle as q_sim_ann: exact top-1 cosine (DuckDB-recomputable)
    // plus per-probe completeness + cosine-gap bound booleans
    // (nProbes=8/16 measures max_gap ≈ 0.05 here; bound 0.1).
    "q_sim_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.Tables.scratch("ivf_index")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 16, path = idx)
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      val probes = emb.filter(col("vec_id") < 10)
      val ivf = IvfIndex.searchTopK(assigned, centroids, probes,
        "vec_id", "embedding", k = 5, nProbes = 8)
      val exact = SimilaritySearch.bruteForceTopK(
        emb, probes, "vec_id", "embedding", k = 5)
      val gaps = ivf.join(
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
            coalesce(col("max_gap"), lit(1.0)) <= lit(0.1)).as("ivf_ok"))
        .orderBy("probe_id")
    }),

    // Incremental IVF maintenance: fit centroids on HALF the corpus,
    // ingest the other half with appendToIndex — nearest-centroid
    // assignment only, no k-means refit (FAISS add-without-train; the
    // per-batch ingest path at scale). Probing ALL lists then makes
    // the index path exhaustive, so the answer must equal brute-force
    // top-5 EXACTLY — which can only happen if every appended vector
    // actually landed in an inverted list. Exact SQL oracle.
    "q_sim_ivf_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.Tables.scratch("ivf_incr_index")
      IvfIndex.buildIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nCentroids = 8, path = idx)
      IvfIndex.appendToIndex(emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", idx)
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      IvfIndex.searchTopK(assigned, centroids, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbes = 8)
        .orderBy("probe_id", "rank")
    }),

    // IVF-PQ-lite: the quantized two-stage re-rank COMPOSED with the
    // cluster-partitioned index layout — stage 1 scores the probed
    // lists' int8 codes (partition-pruned scan at 1/4 float width),
    // stage 2 exact-cosine re-ranks the surviving candidates from the
    // float column of the same pruned files; the corpus table is never
    // read at query time (inputFiles-asserted in DedupSpec). Same
    // derived oracle as q_sim_ivf: exact top-1 cosine plus per-probe
    // completeness + cosine-gap bound (nProbes=8/16, nCandidates=50
    // measures max_gap ≈ 0.05 here; bound 0.1 — the PQ cut adds no
    // gap beyond IVF's because the re-rank is exact and nCandidates
    // covers the probed lists' true top-5 comfortably).
    "q_sim_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.Tables.scratch("ivf_pq_index")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 16, path = idx)
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      val probes = emb.filter(col("vec_id") < 10)
      val pq = IvfIndex.searchTopKQuantized(assigned, centroids, probes,
        "vec_id", "embedding", k = 5, nProbes = 8, nCandidates = 50)
      val exact = SimilaritySearch.bruteForceTopK(
        emb, probes, "vec_id", "embedding", k = 5)
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

    // FILTERED vector search (the "where label = X" ANN every vector
    // store fields): the metadata predicate composes with the index as
    // a PRE-filter on the pruned lists scan — label is a payload
    // column OF the inverted lists (buildIndex persists every caller
    // column), so the predicate pushes down into the same
    // partition-pruned parquet read and candidates are filtered before
    // any distance math. Post-filtering a top-k would be WRONG (k
    // shrinks or empties when the filter is selective); pre-filtering
    // keeps k exact over the eligible corpus. Exhaustive probing makes
    // the index path exact → brute-force-over-the-filtered-corpus
    // oracle.
    "q_sim_filtered_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Tables.scratch("ivf_filtered_index")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 8, path = idx)
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      IvfIndex.searchTopK(assigned.filter(col("label") === 3), centroids,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nProbes = 8)
        .orderBy("probe_id", "rank")
    }),

    // Radius (range) search — FAISS range_search: ALL neighbors at
    // cosine >= 0.3, not a fixed k. Same pruned index access path as
    // searchTopK but the cut is the threshold itself: a filter, no
    // heap, no window, output sized by the match set — the shape
    // near-dup mining and recall sweeps need ("everything this
    // similar"), which top-k cannot express. Exhaustive probing →
    // exact threshold-join oracle.
    "q_sim_range_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Tables.scratch("ivf_range_index")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 8, path = idx)
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      IvfIndex.searchRadius(assigned, centroids, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", minCos = 0.3, nProbes = 8)
        .orderBy("probe_id", "neighbor_id")
    }),

    // Batch kNN JOIN — the table×table shape (label propagation,
    // dedup candidate generation): every tenth corpus vector is a
    // probe and gets its 3 nearest index rows. The probe→list pairing
    // is a SHUFFLE join on the list id (searchTopK's broadcast would
    // be fatal for a data-sized probe table); the per-probe cut is the
    // bounded heap. Exhaustive probing → exact brute-force oracle.
    "q_sim_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Tables.scratch("ivf_knn_index")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 8, path = idx)
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      IvfIndex.knnJoin(assigned, centroids, emb.filter(col("vec_id") % 10 === 1),
          "vec_id", "embedding", k = 3, nProbes = 8)
        .orderBy("probe_id", "rank")
    }),

    // Streaming IVF ingest — the vector twin of q_stream_text_index:
    // the quantizer is fitted ONCE on the bootstrap half of the
    // corpus; the other half arrives as paced micro-batches and each
    // batch lands in the inverted lists via appendToIndex (nearest-
    // centroid assignment only, O(batch × nCentroids) — the
    // continuous-ingest path a vector index needs at scale, where a
    // per-batch k-means refit would re-scan the corpus). Probing ALL
    // lists afterwards makes the index path exhaustive, so the answer
    // must equal brute-force top-5 EXACTLY — only possible if every
    // streamed vector actually landed in a live list.
    "q_stream_ivf_ingest" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.Tables.scratch("stream_ivf_index")
      IvfIndex.buildIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nCentroids = 8, path = idx)
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "embeddings", "vec_id", 3)
        .filter(col("vec_id") % 2 === 1)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          IvfIndex.appendToIndex(batch, "vec_id", "embedding", idx)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      IvfIndex.searchTopK(assigned, centroids, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbes = 8)
        .withColumn("multi_batch", lit(nBatches >= 3))
        .orderBy("probe_id", "rank")
    }),

    // IVF list REBALANCE — the skew-maintenance verb: a built index is
    // deliberately skewed small (nCentroids=4, so at least one list
    // sits far above the mean), rebalanceIndex splits every list above
    // 1.25× mean into two fresh sub-lists (2-means fitted on the hot
    // list ONLY — a partition-pruned read) and retires the hot
    // centroids in ONE atomic centroid-generation commit. Exhaustive
    // probing over the LIVE centroid set must then equal brute-force
    // top-5 EXACTLY — which holds only if the split moved every row
    // exactly once and retired lists are truly invisible.
    // `rebalance_ok` asserts the maintenance effect itself: either
    // nothing was hot (balanced already) or the max live list SHRANK.
    "q_sim_ivf_rebalance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.Tables.scratch("ivf_rebal_index")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 4, path = idx)
      val maxBefore = IvfIndex.listSizes(s, idx, "vec_id").map(_._2).max
      val split = IvfIndex.rebalanceIndex(s, idx, "vec_id", "embedding", maxListFactor = 1.25)
      val sizesAfter = IvfIndex.listSizes(s, idx, "vec_id")
      val ok = split.isEmpty || sizesAfter.map(_._2).max < maxBefore
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      val nLive = sizesAfter.size
      IvfIndex.searchTopK(assigned, centroids, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbes = nLive)
        .withColumn("rebalance_ok", lit(ok))
        .orderBy("probe_id", "rank")
    }),

    // IVF skew ADVISORY from SQL — the graft_ivf_skew TVF closing the
    // rebalance loop: a pipeline reads the one-row advisory
    // (hot lists under graft.ivf.maxListFactor, the exact selection
    // rule rebalanceIndex applies) and schedules the repair at cadence
    // when `rebalance_advised`. Engine-side invariants measured here:
    // the advisory equals an independent recount off the masked live
    // list sizes (skew_consistent), and an advised rebalance strictly
    // reduces the max list (progress_ok — deterministic: every split
    // sub-list is smaller than its hot parent, and every un-split list
    // was already ≤ factor × mean < max). total_live ties the report
    // to the corpus exactly — the SQL oracle's check.
    "q_sim_ivf_skew" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Tables.scratch("ivf_skew_idx")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 4, path = idx)
      // the factor rides the STATEMENT (optional TVF arg) — no session
      // conf set/restore, so a cadence poll composes with concurrent
      // chains (the partitionOverwriteMode lesson applied here too)
      locally {
        val before = s.sql(s"SELECT * FROM graft_ivf_skew('$idx', 1.25)").head()
        // independent recount, same rule (live sizes, > factor × mean, ≥ 2)
        val sizes = IvfIndex.listSizes(s, idx, "vec_id")
        val mean = sizes.map(_._2).sum.toDouble / sizes.size
        val hotRe = sizes.filter(x => x._2 > 1.25 * mean && x._2 >= 2)
          .map(_._1).sorted
        val consistent =
          before.getAs[String]("hot_lists") == hotRe.mkString(",") &&
          before.getAs[Long]("n_hot") == hotRe.length.toLong &&
          before.getAs[Long]("max_list") == sizes.map(_._2).max &&
          before.getAs[Boolean]("rebalance_advised") == hotRe.nonEmpty
        // the advisory drives the repair: rebalance iff advised
        if (before.getAs[Boolean]("rebalance_advised"))
          IvfIndex.rebalanceIndex(s, idx, "vec_id", "embedding",
            maxListFactor = 1.25)
        val after = s.sql(s"SELECT * FROM graft_ivf_skew('$idx', 1.25)").head()
        val progressOk = !before.getAs[Boolean]("rebalance_advised") ||
          after.getAs[Long]("max_list") < before.getAs[Long]("max_list")
        val liveOk = after.getAs[Long]("total_live") ==
          before.getAs[Long]("total_live")
        import s.implicits._
        Seq((before.getAs[Long]("total_live"),
            before.getAs[Long]("factor_bp"),
            consistent, progressOk && liveOk))
          .toDF("total_live", "factor_bp", "skew_consistent", "progress_ok")
      }
    }),

    // ANN RECALL AUDIT — the eval knob every vector-index deployment
    // tunes: recall@k of the IVF search as nProbes grows (1→2→4→all),
    // measured against the exact brute-force top-k. Two engine-side
    // invariants ride the exact deliverable:
    //  - recall_monotone_ok: probed lists NEST as nProbes grows, so
    //    per-probe recall can only grow — provable, not just expected
    //    (an item that evicts an exact-top-k member from a superset's
    //    top-k scores above it, hence is itself exact-top-k; at most
    //    k−1 such items exist, so the member stays in the top-k);
    //  - exhaustive_exact: at nProbes = nCentroids the IVF answer
    //    equals brute force bit-for-bit (same cosine, same id
    //    tie-break) — the IVF contract's ground truth.
    // Deliverable: the exact top-5 (SQL-oracle-checkable) carrying the
    // audit booleans; the curve's intermediate values are asserted in
    // the spec (they are engine-measured, not oracle-derivable).
    "q_sim_recall_curve" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Tables.scratch("ivf_recall_idx")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 8, path = idx)
      val (a, c) = IvfIndex.loadIndex(s, idx)
      val probes = emb.filter(col("vec_id") < 10)
      // the exact answer feeds four recall joins AND the output —
      // materialize once (tmp-parquet over cache: the array column
      // re-read is cheaper than the storage-block copy)
      val exactDir = Tables.scratch("ivf_recall_exact")
      SimilaritySearch.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 5)
        .write.mode("overwrite").parquet(exactDir)
      val exact = s.read.parquet(exactDir)
      val exactIds = exact.select("probe_id", "neighbor_id")
      val nExact = exactIds.count()
      val hitsAt = Seq(1, 2, 4, 8).map { p =>
        IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
            k = 5, nProbes = p)
          .select("probe_id", "neighbor_id")
          .join(exactIds, Seq("probe_id", "neighbor_id"))
          .count()
      }
      val monotone = hitsAt.sliding(2).forall(w => w.head <= w.last)
      val fullExact = hitsAt.last == nExact
      exact
        .withColumn("recall_monotone_ok", lit(monotone))
        .withColumn("exhaustive_exact", lit(fullExact))
        .orderBy("probe_id", "rank")
    }),

    // ADVISORY-DRIVEN AUTO-REPAIR — the production loop the skew
    // advisory exists for, composed end to end: a drifting paced
    // ingest appends micro-batches into a deliberately small index
    // (nCentroids=4, so drift concentrates lists), and EACH batch
    // boundary runs poll → advisory → (if advised) rebalance — the
    // cadence loop an operator would schedule, here driven by the
    // stream itself. After the stream drains, repairs run until the
    // advisory reads clean (each pass strictly shrinks the max list,
    // and a 1-row list is never hot, so the loop terminates).
    // Engine-side invariants on the exact deliverable:
    //  - repair_loop_ok: every advisory that fired (on the then-
    //    quiesced index — appends committed, no tombstones) was
    //    followed by a rebalance that actually split (advisory⇔repair
    //    consistency, the q_sim_ivf_skew rule under composition);
    //  - advisory_clean: the final advisory reads rebalance_advised =
    //    false. Exhaustive probing over the final live centroid set
    //    must then equal brute-force top-5 over the WHOLE corpus —
    //    only possible if every streamed row landed in a live list
    //    and every mid-stream split moved every row exactly once.
    "q_stream_ivf_autorepair" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = Tables.scratch("stream_ivf_autorepair")
      IvfIndex.buildIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", nCentroids = 4, path = idx)
      val loopOk = new java.util.concurrent.atomic.AtomicBoolean(true)
      def pollAndRepair(): Boolean = {
        val adv = IvfIndex.skewReport(s, idx, "vec_id", 1.25).head()
        if (adv.getAs[Boolean]("rebalance_advised")) {
          val split = IvfIndex.rebalanceIndex(s, idx, "vec_id", "embedding",
            maxListFactor = 1.25)
          // quiesced advisory ⇔ repair: an advised rebalance MUST split
          if (split.isEmpty) loopOk.set(false)
          true
        } else false
      }
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "embeddings", "vec_id", 3)
        .filter(col("vec_id") % 2 === 1)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          IvfIndex.appendToIndex(batch, "vec_id", "embedding", idx)
          pollAndRepair() // the cadence poll, at every batch boundary
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // drain: repair until the advisory reads clean (strictly
      // shrinking max list ⇒ terminates; the bound is a safety net)
      var drains = 0
      while (pollAndRepair() && drains < 16) drains += 1
      val cleanAfter = !IvfIndex.skewReport(s, idx, "vec_id", 1.25)
        .head().getAs[Boolean]("rebalance_advised")
      val (assigned, centroids) = IvfIndex.loadIndex(s, idx)
      val nLive = centroids.count().toInt
      IvfIndex.searchTopK(assigned, centroids, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbes = nLive)
        .withColumn("repair_loop_ok", lit(loopOk.get()))
        .withColumn("advisory_clean", lit(cleanAfter))
        .orderBy("probe_id", "rank")
    }),

    // IVF DELETE — retraction for the vector index (GDPR-erasure /
    // unlearning): deleteFromIndex is an O(deleted ids) tombstone
    // append; the live view (loadLive) masks immediately with a
    // broadcast anti-join ABOVE the pruned scan, and compactLists
    // later folds the tombstones physically (live lists rewritten
    // without masked rows, emptied lists dropped, sidecar cleared
    // last — crash-safe by mask idempotence). Exhaustive probing must
    // equal brute force over the REMAINING corpus exactly, both
    // before compaction (mask semantics) and after (purge preserved
    // the answer bit-for-bit): purged + compact_identical are the
    // measured engine-side invariants, the q_text_index_delete shape.
    "q_sim_ivf_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = graft.Tables.scratch("ivf_del_index")
      IvfIndex.buildIndex(emb, "vec_id", "embedding", nCentroids = 8, path = idx)
      IvfIndex.deleteFromIndex(
        emb.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id", idx)
      val probes = emb.filter(col("vec_id") < 10)
      def searchLive() = {
        val (a, c) = IvfIndex.loadLive(s, idx, "vec_id")
        IvfIndex.searchTopK(a, c, probes, "vec_id", "embedding",
          k = 5, nProbes = 8)
      }
      val preDir = graft.Tables.scratch("ivf_del_pre")
      searchLive().write.mode("overwrite").parquet(preDir)
      IvfIndex.compactLists(s, idx, "vec_id")
      val purged = IvfIndex.loadIndex(s, idx)._1
        .filter(col("vec_id") % 7 === 0).count() == 0
      val postDir = graft.Tables.scratch("ivf_del_post")
      searchLive().write.mode("overwrite").parquet(postDir)
      val pre = s.read.parquet(preDir)
      val post = s.read.parquet(postDir)
      val identical = pre.exceptAll(post).isEmpty && post.exceptAll(pre).isEmpty
      post
        .withColumn("purged", lit(purged))
        .withColumn("compact_identical", lit(identical))
        .orderBy("probe_id", "rank")
    }),

    // CDF-driven VECTOR index maintenance — the composition a
    // production embedding pipeline runs, and the payoff of the
    // seq-scoped IVF tombstones: embeddings live in a versioned
    // snapshot table; an UPDATE commit (re-embedding: vec_id % 11 = 0
    // vectors are replaced — reverse() stands in for the new model's
    // output) and a DELETE commit (vec_id % 13 = 0) produce v3; ONE
    // change feed v1→v3 then syncs the index with O(changes) work —
    // retract (tombstone the deleted + update_preimage ids), re-ingest
    // (update_postimage rows at a higher ingest seq). NO compaction
    // and NO refit in the sync path: the re-ingested vectors are
    // visible the moment their seq commits. Exhaustive probing over
    // the synced live index must equal brute force over the v3 live
    // state — the update term is load-bearing (reversed vectors rank
    // differently), so a sync that missed a leg cannot pass.
    "q_sim_ivf_cdc" -> ((s, dir) => {
      import graft.operators.Snapshots
      val emb = t(s, dir, "embeddings")
      val root = graft.Tables.scratch("ivf_cdc_tbl")
      val idx = graft.Tables.scratch("ivf_cdc_idx")
      Snapshots.create(s, root, emb.select("vec_id", "embedding"))
      // build ∥ feed (the q_forget/q_hybrid_cdc chain discipline):
      // the build indexes pinned v1 while the commits write NEW
      // version dirs and the feed materializes — no shared state
      val v1 = Snapshots.read(s, root)
      val chDir = graft.Tables.scratch("ivf_cdc_feed")
      val feedChain = inFlight {
        Snapshots.commitUpdate(s, root, col("vec_id") % 11 === 0,
          Map("embedding" -> reverse(col("embedding"))))
        Snapshots.commitDelete(s, root, col("vec_id") % 13 === 0)
        // materialize the feed once (its diff join feeds both legs)
        Snapshots.changes(s, root, 1, 3, "vec_id")
          .write.mode("overwrite").parquet(chDir)
      }
      IvfIndex.buildIndex(v1, "vec_id", "embedding", nCentroids = 8, path = idx)
      await(feedChain)
      val ch = s.read.parquet(chDir)
      IvfIndex.deleteFromIndex(
        ch.filter(col("_change_type").isin("delete", "update_preimage"))
          .select("vec_id"), "vec_id", idx)
      IvfIndex.appendToIndex(
        ch.filter(col("_change_type") === "update_postimage")
          .select("vec_id", "embedding"), "vec_id", "embedding", idx)
      val (a, c) = IvfIndex.loadLive(s, idx, "vec_id")
      IvfIndex.searchTopK(a, c, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbes = 8)
        .orderBy("probe_id", "rank")
    }),

    // Int8 embedding quantization (the storage format a vector corpus
    // ships at scale: 4× smaller than float32). Per-vector max-abs
    // scaling; floor(x + 0.5) rounding — NOT round() — so both engines
    // round half-up identically and the quantized values are EXACTLY
    // recomputable by the oracle (qsum is an exact integer check over
    // all 64 dims, not a tolerance band).
    "q_embed_quantize" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          array_max(transform(col("embedding"), x => abs(x)))
            .cast("double").as("max_abs"),
          col("embedding"))
        .filter(col("max_abs") > 0)
        .withColumn("q", transform(col("embedding"), x =>
          floor(x.cast("double") * (lit(127.0) / col("max_abs")) + lit(0.5)).cast("long")))
        .select(col("vec_id"), col("max_abs"),
          aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("qsum"),
          element_at(col("q"), 1).as("q0"),
          (array_max(col("q")) <= 127 && array_min(col("q")) >= -127).as("in_range"))
        .orderBy("vec_id")
    }),

    // In-engine PCA over the embedding corpus (power iteration with
    // deflation — the dimensionality-reduction/whitening primitive an
    // embedding pipeline runs before clustering or drift monitoring).
    // The corpus collapses to ONE parameter-sized EXACT-integer moment
    // buffer (GramAgg: count + Σx_q + the Σx_q·x_qᵀ triangle, all long
    // sums — bit-identical under any partitioning), the driver runs 30
    // fixed iterations per component on the 64×64 covariance, and the
    // projection back is one codegen'd left fold per row. Deterministic
    // end to end ⇒ the DuckDB oracle replays the ENTIRE run: the same
    // integer moments, all 60 iterations, the deflation, and the
    // fold-ordered projections.
    "q_embed_pca" -> ((s, dir) => {
      graft.operators.Embeddings.pcaProject(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 2, iters = 30)
        .orderBy("vec_id")
    }),

    // EXACT embedding near-dup with PROVABLY COMPLETE blocking — the
    // lossless counterpart of q_dedup_embedding's LSH (which can miss
    // pairs): unit-normalize, project onto the top PCs (contractive on
    // differences), grid at r = √(2−2τ) + a DIMENSION-SCALED slack
    // (quantization error grows as √d/scale — a fixed slack breaks
    // exactness at production dims), and join only the 3^k-cell
    // neighborhoods — a theorem guarantees every pair with full cosine
    // ≥ τ lands in adjacent cells; candidates then pass the JOINT
    // projected-ball filter (Σ Δpc² ≤ R²+slack, a second necessary
    // condition the per-axis boxes miss) before the exact full-dim
    // confirm, so the result IS the threshold pair set (plain threshold
    // self-join oracle over the planted fixture; every 15th vector
    // re-enters jittered under a fresh id; zero-norm vectors excluded
    // on both sides). Candidate volume is O(Σ cell²) instead of O(n²)
    // — blocking_effective measures it on this corpus, and the PRE-JOIN
    // Σcell² histogram guard (blocking_advised / grid_pcs) flags a
    // degenerate corpus before the join is ever enumerated.
    "q_dedup_embedding_blocked" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
      val planted = emb.filter(col("vec_id") % 15 === 0)
        .withColumn("embedding", transform(col("embedding"), (x, j) =>
          (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
            / 100000.0d).cast("float")))
        .select((col("vec_id") + maxId).as("vec_id"), col("embedding"))
      val corpus = emb.select("vec_id", "embedding").unionByName(planted)
      graft.operators.Embeddings.exactNearDupsBlocked(
          corpus, "vec_id", "embedding", threshold = 0.95)
        .orderBy("vid_a", "vid_b")
    }),

    // STREAMING PCA — incremental moment maintenance over a paced
    // ingest: each arriving micro-batch folds into ONE exact-integer
    // moment buffer (GramAgg), persisted to an ingest-seq-partitioned
    // log with per-write dynamic overwrite (retried batches replace —
    // the gate family's idempotence contract). Long sums COMMUTE, so
    // the drained fold is BIT-IDENTICAL to the one-shot moment pass —
    // streaming PCA equals batch PCA exactly (engine-measured:
    // stream_equals_batch compares the folded and one-shot buffers
    // element for element), and the oracle is the full batch replay.
    // This is the production shape: the corpus never re-scans when new
    // data arrives — the covariance updates in O(batch), and the
    // eigen-solve re-runs on the driver for free.
    "q_stream_embed_pca" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val log = Tables.scratch("stream_pca_moments")
      val logSchema = "g array<bigint>, ingest long"
      Seq.empty[Array[Long]].toDF("g").withColumn("ingest", lit(-1L))
        .write.mode("overwrite").partitionBy("ingest").parquet(log)
      val q = graft.streaming.StreamOps
        .tableStreamPaced(s, dir, "embeddings", "vec_id", 3)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
          val g = graft.operators.Embeddings.moments(batch, "vec_id", "embedding")
          Seq(g).toDF("g").withColumn("ingest", lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest").parquet(log)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      val folded = s.read.schema(logSchema).parquet(log).select("g").collect()
        .map(_.getAs[Seq[Long]]("g").toArray)
        .foldLeft(Array.empty[Long])(graft.operators.Embeddings.mergeMoments)
      val oneShot = graft.operators.Embeddings.moments(emb, "vec_id", "embedding")
      val exactEq = folded.sameElements(oneShot)
      graft.operators.Embeddings.pcaProjectFromMoments(
          emb, "vec_id", "embedding", folded, k = 2, iters = 30)
        .withColumn("multi_batch", lit(nBatches >= 3))
        .withColumn("stream_equals_batch", lit(exactEq))
        .orderBy("vec_id")
    }),

    // Vector centroid per label via typed UDAF, exploded per dimension.
    "q_embed_centroid" -> ((s, dir) => {
      val centroid = udaf(Aggregators.VectorCentroid)
      t(s, dir, "embeddings")
        .groupBy("label")
        .agg(centroid(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "v")))
        .orderBy("label", "pos")
    }),

    // Embedding DRIFT report — the model-migration monitor: embeddings
    // live in a versioned snapshot table; a re-embedding UPDATE commit
    // produces v2; the report compares per-label centroids between v1
    // and the live version (cosine of the two centroid vectors +
    // population). One groupBy per version over |labels| keys, a
    // |labels|-row join, double math end-to-end — no window, no
    // collect. The v1 read goes through snapshot time travel, so the
    // same query works across any version pair.
    "q_embedding_drift" -> ((s, dir) => {
      import graft.operators.Snapshots
      val emb = t(s, dir, "embeddings")
      val root = Tables.scratch("emb_drift_tbl")
      Snapshots.create(s, root, emb.select("vec_id", "embedding", "label"))
      Snapshots.commitUpdate(s, root, col("vec_id") % 11 === 0,
        Map("embedding" -> reverse(col("embedding"))))
      val centroid = udaf(Aggregators.VectorCentroid)
      def cents(df: DataFrame) = df.groupBy("label")
        .agg(centroid(col("embedding")).as("c"), count(lit(1)).as("n"))
      val v1 = cents(Snapshots.read(s, root, Some(1)))
      val v2 = cents(Snapshots.read(s, root))
      def dotD(a: Column, b: Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
      v1.select(col("label"), col("c").as("c1"), col("n").as("n_vecs"))
        .join(v2.select(col("label"), col("c").as("c2")), Seq("label"))
        .withColumn("drift_cos",
          dotD(col("c1"), col("c2")) /
            (sqrt(dotD(col("c1"), col("c1"))) * sqrt(dotD(col("c2"), col("c2")))))
        .select("label", "n_vecs", "drift_cos")
        .orderBy("label")
    }),

    // Language-ID heuristic (stopword/CJK based).
    "q_text_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }),

    // Quality scoring: length/punct/word-shape composite. The report
    // form materializes each text scan once (see TextFunctions
    // .qualityReport) — composing punctRatio/qualityScore inline
    // re-ran the regexp scans per reference.
    "q_text_quality" -> ((s, dir) => {
      TextFunctions.qualityReport(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Repetition scoring (boilerplate/loop detector for corpus
    // filtering): per-doc bigram repetition ratio (1 − distinct/total)
    // and the hottest bigram's share. Tokens materialize behind a
    // select barrier before the shingle transform (the HOF-CSE trap:
    // a lambda over a non-attribute re-tokenizes per element).
    "q_text_repetition" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      val grams = toks.select(col("doc_id"),
        explode(Dedup.shingles(col("toks"), 2)).as("gram"))
      grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
        .groupBy("doc_id").agg(
          sum("n").as("n_grams"),
          (lit(1.0) - count(lit(1)).cast("double") / sum("n")).as("rep_ratio"),
          (max("n").cast("double") / sum("n")).as("top_frac"))
        .orderBy("doc_id")
    }),

    // Corpus-wide vocabulary mining: top-20 bigrams by document
    // frequency. Map-side distinct-per-doc (array_distinct before the
    // explode) keeps the shuffle at one row per (doc, gram); the final
    // top-k is a TakeOrdered, never a global sort.
    "q_text_top_ngrams" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      toks.select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(col("toks"), 2))).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("gram").asc)
        .limit(20)
    }),

    // Perplexity quality filter (the CCNet recipe, public: Wenzek et
    // al. '19 filter web crawl by LM perplexity): a unigram LM with
    // add-1/2 smoothing is trained ON the corpus itself — P(t) =
    // (count(t) + 0.5) / (N + 0.5·V) — and each document scores its
    // mean token negative-log-likelihood; high-ppl docs are the
    // gibberish/boilerplate tail a curation pipeline drops. All three
    // stages are one Spark plan: per-(doc,token) counts FIRST (one
    // shuffled row per distinct pair — the map-side shrink), vocab =
    // second-level reaggregation of those counts (never a second text
    // scan), scoring join ON the corpus-sized vocab (hash join, NOT
    // broadcast — vocabulary grows with corpus at 100 TB), corpus
    // totals broadcast as the only scalar side. ln (not log2): both
    // engines bind libm log, so per-token bits are bit-identical and
    // only the final sum order can differ (absorbed by 6dp canon).
    "q_text_perplexity" -> ((s, dir) => {
      val docTok = t(s, dir, "documents")
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val vocab = docTok.groupBy("tok").agg(sum("c").as("cnt"))
      val totals = vocab.agg(sum("cnt").as("n_corpus"), count(lit(1)).as("v_size"))
      docTok.join(vocab, "tok")
        .crossJoin(broadcast(totals))
        .select(col("doc_id"), col("c"),
          (col("c") * -log((col("cnt") + 0.5) /
            (col("n_corpus") + col("v_size") * 0.5))).as("nll"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_tok"),
          (sum("nll") / sum("c")).as("avg_nll"))
        .select(col("doc_id"), col("n_tok"), col("avg_nll"),
          exp(col("avg_nll")).as("ppl"))
        .orderBy("doc_id")
    }),

    // TF-IDF keyphrase extraction — top-3 scoring terms per document,
    // the per-doc summarization a corpus card / search-snippet pipeline
    // runs. tf comes from per-(doc,term) counts, idf from the SAME
    // counts' second-level reaggregation (never a second text scan);
    // smoothing ln((N+1)/(df+1)) keeps every idf finite. df spans the
    // FULL corpus while scoring is restricted to the report's docs, so
    // the statistics stay corpus-true. The per-doc cut is a window
    // PARTITIONED BY doc_id — per-partition cardinality is the doc's
    // distinct-term count, bounded by document length, never
    // corpus-scaled: the one window shape that stays safe at 100 TB.
    // Ties (equal tf and df) break on term asc, deterministic in both
    // engines; the idf double is the same libm ln of the same integers.
    "q_text_keyphrase" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val dt = docs
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfc = dt.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      dt.filter(col("doc_id") < 100)
        .join(dfc, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("score",
          col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    }),

    // Bigram-LM scoring (the Heafield/KenLM-shaped quality signal one
    // notch past q_text_perplexity's unigram): P(w2|w1) with add-1/2
    // smoothing over the corpus-trained bigram table, each doc scored
    // by mean bigram negative-log-likelihood. Counts flow one way:
    // per-(doc,bigram) counts first (map-side shrink), the global
    // bigram table and its context-marginal are REAGGREGATIONS of
    // those counts, and scoring joins hash-to-hash on the bigram key
    // (the bigram vocabulary grows with the corpus at 100 TB — never
    // broadcast); the unigram vocab size is the only broadcast scalar.
    // Docs with fewer than two tokens have no bigrams and drop out,
    // matching the oracle's inner-join shape.
    "q_text_bigram_lm" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
      val docBg = toks
        .select(col("doc_id"), explode(Dedup.shingles(col("w"), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      val bgCounts = docBg.groupBy("bg").agg(sum("c").as("c_bg"))
      val ctxCounts = bgCounts
        .withColumn("ctx", split(col("bg"), " ").getItem(0))
        .groupBy("ctx").agg(sum("c_bg").as("c_ctx"))
      val vSize = toks.select(explode(col("w")).as("tok"))
        .agg(countDistinct("tok").as("v_size"))
      docBg.join(bgCounts, "bg")
        .withColumn("ctx", split(col("bg"), " ").getItem(0))
        .join(ctxCounts, "ctx")
        .crossJoin(broadcast(vSize))
        .select(col("doc_id"), col("c"),
          (col("c") * -log((col("c_bg") + 0.5) /
            (col("c_ctx") + col("v_size") * 0.5))).as("nll"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), (sum("nll") / sum("c")).as("avg_nll"))
        .select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
          exp(col("avg_nll")).as("ppl"))
        .orderBy("doc_id")
    }),

    // Multi-class PII scan — the detection side of q_text_redact's
    // replacement verb: per-doc counts of email / phone / IPv4 /
    // PAN-shaped matches plus a severity grade, the audit table a
    // curation pipeline reviews before release. The fixture corpus
    // carries no PII, so a deterministic synthetic mix is injected
    // (same concat trick as q_text_redact — both engines build the
    // identical augmented string). One projection pass, all regex
    // kernels codegen'd; patterns stay in the Java∩RE2 dialect so
    // Spark and DuckDB count identical matches.
    "q_pii_scan" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").withColumn("txt", concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach user"), col("doc_id"), lit("@example.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" call 555-867-5309"))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".17"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" card 4111111111111111"))
          .otherwise(lit(""))))
      withPii.select(col("doc_id"),
          regexp_count(col("txt"),
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).as("n_email"),
          regexp_count(col("txt"), lit("\\d{3}-\\d{3}-\\d{4}")).as("n_phone"),
          regexp_count(col("txt"),
            lit("\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}")).as("n_ip"),
          regexp_count(col("txt"), lit("\\d{16}")).as("n_pan"))
        .withColumn("severity",
          when(col("n_pan") > 0, lit("high"))
            .when(col("n_email") + col("n_phone") > 0, lit("medium"))
            .when(col("n_ip") > 0, lit("low"))
            .otherwise(lit("none")))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace words + BPE-ish subword estimate.
    "q_text_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextFunctions.wordCount(col("text")).as("n_words"),
          TextFunctions.tokenEstimate(col("text")).as("n_tokens_est"),
          (col("n_chars") === length(col("text"))).as("chars_ok"))
        .orderBy("doc_id")
    }),

    // Per-source dataset card — the corpus-composition rollup every
    // training run records (docs, token volume, length profile,
    // language spread per source). One partial-aggregated groupBy over
    // |sources| keys; no window, no collect beyond the result itself.
    "q_text_dataset_card" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), col("lang"), col("n_chars").cast("long").as("n_chars"),
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
            .cast("long").as("n_words"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_words").as("total_words"),
          sum("n_chars").as("total_chars"),
          avg("n_words").as("avg_words"),
          max("n_words").as("max_words"),
          countDistinct("lang").as("n_langs"))
        .orderBy("source")
    }),

    // INCREMENTAL dataset-card maintenance (incremental view
    // maintenance): the per-source card is a materialized view of
    // delta-able aggregates (count / sum words / sum chars); after an
    // UPDATE commit (append ' vector': doc_id % 11 = 0) and a DELETE
    // commit (doc_id % 13 = 0), ONE change feed v1→v3 refreshes it —
    // +1-signed rows for insert/update_postimage, −1 for delete/
    // update_preimage, one |sources|-keyed aggregate over O(changes)
    // rows, then a |sources|-row merge into the stored card. Everything
    // DOWNSTREAM of the feed is O(changes); the feed itself is this
    // CoW layout's version diff (Snapshots.changes — O(versions
    // compared), matching the dimension-scale table the layout
    // serves). On a logged-CDF or partition-sharded source
    // (PartitionedSnapshots) the identical delta-merge consumes the
    // pruned feed unchanged and the whole refresh is O(changes).
    // `ivm_ok` is the engine-side proof: the incrementally-maintained
    // card must equal the full recompute bit-for-bit (avg derives
    // from the sums at read time — ratios of delta-able sums stay
    // exact under IVM where a stored avg would not).
    "q_card_incremental" -> ((s, dir) => {
      import graft.operators.Snapshots
      val root = Tables.scratch("card_incr_tbl")
      Snapshots.create(s, root,
        t(s, dir, "documents").select("doc_id", "source", "text"))
      def wordsOf(c: Column) =
        size(filter(split(c, "\\s+"), x => length(x) > 0)).cast("long")
      def card(df: DataFrame) = df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(wordsOf(col("text"))).as("total_words"),
          sum(length(col("text")).cast("long")).as("total_chars"))
      val view = Tables.scratch("card_incr_view")
      card(Snapshots.read(s, root)).write.mode("overwrite").parquet(view)
      Snapshots.commitUpdate(s, root, col("doc_id") % 11 === 0,
        Map("text" -> concat(col("text"), lit(" vector"))))
      Snapshots.commitDelete(s, root, col("doc_id") % 13 === 0)
      val deltas = Snapshots.changes(s, root, 1, 3, "doc_id")
        .select(col("source"),
          when(col("_change_type").isin("insert", "update_postimage"), 1L)
            .otherwise(-1L).as("sign"),
          wordsOf(col("text")).as("w"),
          length(col("text")).cast("long").as("c"))
        .groupBy("source")
        .agg(sum("sign").as("d_docs"), sum(col("sign") * col("w")).as("d_words"),
          sum(col("sign") * col("c")).as("d_chars"))
      // refresh the stored view IN PLACE (the IVM verb's deliverable),
      // materializing once — the audit's two exceptAll passes must not
      // re-run the change-feed join per consumer
      val view2 = Tables.scratch("card_incr_view2")
      s.read.parquet(view)
        .join(deltas, Seq("source"), "full_outer")
        .select(col("source"),
          (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
          (coalesce(col("total_words"), lit(0L)) + coalesce(col("d_words"), lit(0L))).as("total_words"),
          (coalesce(col("total_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L))).as("total_chars"))
        .filter(col("n_docs") > 0)
        .write.mode("overwrite").parquet(view2)
      val fullDir = Tables.scratch("card_incr_full")
      card(Snapshots.read(s, root)).write.mode("overwrite").parquet(fullDir)
      val incr = s.read.parquet(view2)
      val full = s.read.parquet(fullDir)
      val ivmOk = incr.exceptAll(full).isEmpty && full.exceptAll(incr).isEmpty
      incr
        .withColumn("avg_words",
          col("total_words").cast("double") / col("n_docs"))
        .withColumn("ivm_ok", lit(ivmOk))
        .orderBy("source")
    }),

    // Vocabulary build + id-encoding — the corpus→trainer step: mine
    // the top-V tokens by corpus frequency (rank desc count, asc token
    // — fully deterministic), assign ids 1..V by rank, and encode every
    // document as its id sequence (OOV → 0). The vocab is PARAMETER-
    // sized (V rows — the one driver collect), ships to every task as
    // a broadcast map literal, and the encode itself is a single
    // codegen'd `transform` over the token array — no explode, no
    // join, no shuffle on the corpus side at any scale. Top-V selection
    // is a TakeOrdered over the (token, count) aggregate: vocabulary-
    // domain-sized input, never corpus rows.
    "q_text_vocab_encode" -> ((s, dir) => {
      val V = 256
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(lower(col("text")), "\\W+"), t => length(t) > 0).as("toks"))
      val vocab = toks.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(V)
        .collect().zipWithIndex
        .map { case (r, i) => (r.getString(0), (i + 1).toLong) }.toMap
      val vmap = typedlit(vocab)
      toks
        .withColumn("ids", transform(col("toks"),
          tk => coalesce(element_at(vmap, tk), lit(0L))))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_toks"),
          size(filter(col("ids"), i => i === 0L)).cast("long").as("n_oov"),
          aggregate(col("ids"), lit(0L), (a, v) => a + v).as("ids_sum"),
          coalesce(element_at(col("ids"), 1), lit(-1L)).as("first_id"))
        .orderBy("doc_id")
    }),

    // MODEL-BASED corpus filter (fastText-class, Joulin '16 — the
    // CCNet/RefinedWeb learned-filter step, in the FineWeb-Edu
    // DISTILLATION shape: an expensive curator keep-rule becomes the
    // training label and a cheap token model learns to reproduce it):
    // a logistic classifier over frequency-ranked bag-of-token
    // features, trained IN-ENGINE by full-batch GD (one Spark job per
    // step — the gradient is an F+1-row parameter-sized collect) and
    // applied to every doc. Label here: the topical-density keep rule
    // "mentions 'vector' at least twice" (balanced ~50/50 on the
    // fixture corpus and linearly separable on the feature the model
    // must DISCOVER; any curator label column slots in). 15 heavy-ball
    // momentum steps at lr 0.05 / mu 0.9 — plain GD needs ~40 steps for
    // the same ~0.88 accuracy on raw-count features, whose stable lr is
    // small (larger steps oscillate; measured during tuning). Training
    // is deterministic end to end (vocab rank ties, double sums, libm
    // exp), so the oracle replays all 15 steps, velocity and all.
    "q_text_classifier_filter" -> ((s, dir) => {
      graft.operators.TextClassifier.trainAndScore(
          t(s, dir, "documents"), "doc_id", "text",
          label = when(size(filter(split(lower(col("text")), "\\W+"),
            w => w === "vector")) >= 2, 1.0).otherwise(0.0),
          nFeatures = 64, iters = 15, lr = 0.05)
        .orderBy("doc_id")
    }),

    // PERSISTED-MODEL scoring — the production shape of the learned
    // filter (train-once / serve-many, the index family's discipline
    // applied to the model): the classifier trains on the LABELED half
    // of the corpus only (doc_id even — labels exist only where a
    // curator graded), persists as an F+1-row parquet artifact, and
    // every document — including the held-out unlabeled half — scores
    // against the saved weights in ONE label-free broadcast-join pass.
    // The oracle replays the half-corpus training run and the
    // occurrence-wise scoring tail.
    "q_text_classifier_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lbl = when(size(filter(split(lower(col("text")), "\\W+"),
        w => w === "vector")) >= 2, 1.0).otherwise(0.0)
      val model = Tables.scratch("clf_model")
      graft.operators.TextClassifier.trainAndSave(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", lbl,
        nFeatures = 64, iters = 15, lr = 0.05, path = model)
      graft.operators.TextClassifier.scoreWith(s, model, docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // SEEDED MINI-BATCH GD — the 100 TB training knob: full-batch GD
    // is iters corpus passes (the family's one corpus-bound cost);
    // here each of the 15 steps trains on a deterministic md5-bucket
    // QUARTER of the corpus (first 4 of 16 hex digits, salt = the
    // step index, the q_sample_seeded machinery), so the total
    // gradient work drops ~4× while the step-salted buckets cover the
    // corpus in expectation every 4 steps. The sample rule is pure
    // md5 arithmetic, so the DuckDB oracle replays all 15 sampled
    // steps EXACTLY — mini-batch training stays hash-gate exact, not
    // statistically-close (the fixture-rule accuracy band vs
    // full-batch is spec-asserted in TextClassifierSpec).
    "q_text_classifier_minibatch" -> ((s, dir) => {
      graft.operators.TextClassifier.trainAndScore(
          t(s, dir, "documents"), "doc_id", "text",
          label = when(size(filter(split(lower(col("text")), "\\W+"),
            w => w === "vector")) >= 2, 1.0).otherwise(0.0),
          nFeatures = 64, iters = 15, lr = 0.05, batchOf16 = 4)
        .orderBy("doc_id")
    }),

    // BPE tokenizer-merge TRAINING (Sennrich '16) — the vocabulary
    // construction run before any training job. The corpus collapses
    // to its word-frequency table in one groupBy; each of the 6 rounds
    // is then vocab-sized: a zip-explode pair count, a 1-row driver
    // argmax, and a codegen'd array-fold rewrite (greedy LTR
    // non-overlapping, the subword-nmt contract). Deliverable = the
    // ranked merge table + the compression curve (tokens_after strictly
    // decreasing). Deterministic tie-break (n desc, pair asc) ⇒ the
    // DuckDB oracle replays the whole run merge for merge (its rewrite
    // uses the islands-parity formulation — provably the same greedy
    // LTR result, a cross-IMPLEMENTATION check, not just cross-engine).
    "q_text_bpe_train" -> ((s, dir) => {
      Bpe.trainMerges(t(s, dir, "documents"), "text", nMerges = 6)
        .orderBy("merge_rank")
    }),

    // ENCODE under the trained tokenizer — the inference path and the
    // number a token budget is actually spent in. Merges never cross
    // word boundaries, so the final symbol table IS the tokenizer
    // applied to every vocab word: the corpus encodes via one doc-word
    // explode + a vocab-sized hash join + a per-doc aggregate (no
    // per-doc merge replay). Oracle: the same chained-CTE replay, its
    // final symbol table joined back to the per-doc word stream.
    "q_text_bpe_encode" -> ((s, dir) => {
      Bpe.encodeStats(t(s, dir, "documents"), "doc_id", "text", nMerges = 6)
        .orderBy("doc_id")
    }),

    // PERSISTED tokenizer applied to a corpus it was NOT trained on —
    // the production serve path (train-once / serve-many, the
    // q_text_classifier_score discipline applied to the tokenizer):
    // the tokenizer trains on the even-doc_id half only, persists as a
    // two-table parquet artifact (ranked merges + final symbol table),
    // and the WHOLE corpus — including the held-out odd half, whose
    // vocabulary the tokenizer never saw — encodes via one LEFT
    // vocab-join pass with zero training jobs. Unseen words are never
    // dropped: they fall back to their character lengths and are
    // counted per doc (n_oov — the drift signal that schedules
    // retraining). Oracle: the same half-corpus training replay, its
    // final symbol table LEFT-joined to the full per-doc word stream
    // with the same character fallback.
    "q_text_bpe_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = Tables.scratch("bpe_model")
      Bpe.trainAndSave(docs.filter(col("doc_id") % 2 === 0), "text",
        nMerges = 6, path = model)
      Bpe.encodeWith(s, model, docs, "doc_id", "text").orderBy("doc_id")
    }),

    // Sequence packing: greedy offset-bucketing of documents into
    // fixed token-budget training sequences per source (window cumsum
    // → bucket id → per-sequence stats). The per-source window is the
    // SMALL-STRATUM twin; `q_text_pack_sharded` below is the 100 TB
    // form whose window partitions are shard-bounded.
    "q_text_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 256
      val w = Window.partitionBy("source").orderBy("doc_id")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.wordCount(col("text")).as("n_tok"))
        .withColumn("cum", sum("n_tok").over(w))
        .withColumn("seq_id", floor((col("cum") - col("n_tok")) / budget))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("seq_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("source", "seq_id")
    }),

    // Sequence packing, SHARDED — the 100 TB form: documents pack
    // within (source, shard) where shard = a deterministic doc_id
    // range bucket, so every cumsum window partition is shard-bounded
    // (span docs max) instead of stratum-sized; no sequence crosses a
    // shard boundary (each shard's last sequence closes partially
    // full — the training-shard contract). Global sequence ids come
    // from a per-shard BASE: the second window runs over the SHARD
    // LIST, never over docs.
    //
    // SIZING RULE for `span` (the one parameter that carries the 100 TB
    // contract): the base window's per-source partition holds
    // idRange/span rows, so span must be chosen with
    //   sources × (idRange / span) ≲ 10^6   (metadata-order shard list)
    //   span × avg doc tokens ≲ executor task memory (cumsum partition)
    // e.g. 10^11 docs with span = 10^5 → 10^6 shard rows total — a
    // KB-scale window input — while each cumsum partition sorts 10^5
    // rows. Both bounds are plan-asserted in PlanSpec ("bases window
    // input is shard-list-sized").
    "q_text_pack_sharded" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 256
      val span = 200
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.wordCount(col("text")).as("n_tok"),
          floor(col("doc_id") / span).as("shard"))
      val wS = Window.partitionBy("source", "shard").orderBy("doc_id")
      val local = toks
        .withColumn("cum", sum("n_tok").over(wS))
        .withColumn("local_seq", floor((col("cum") - col("n_tok")) / budget))
      val wShards = Window.partitionBy("source").orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bases = local.groupBy("source", "shard")
        .agg((max("local_seq") + 1).as("n_seqs"))
        .withColumn("base", coalesce(sum("n_seqs").over(wShards), lit(0L)))
      local.join(broadcast(bases.select("source", "shard", "base")),
          Seq("source", "shard"))
        .withColumn("seq_id", col("base") + col("local_seq"))
        .groupBy("source", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("seq_tokens"),
          min("doc_id").as("first_doc"))
        .orderBy("source", "seq_id")
    }),

    // Intra-document segment dedup (C4-style repetition removal):
    // first-occurrence-preserving distinct over ' | '-separated
    // segments. Duplicate segments are injected so the op is exercised.
    "q_text_line_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("segs", concat_ws(" | ",
          col("text"), substring(col("text"), 1, 50), substring(col("text"), 1, 50)))
        .select(col("doc_id"),
          array_join(array_distinct(split(col("segs"), " \\| ")), " | ").as("dedup_text"))
        .orderBy("doc_id")
    }),

    // PII redaction: regex scrubbing of emails and phone numbers
    // (patterns injected so the redaction paths are exercised).
    "q_text_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("txt", concat(
          lit("contact john.doe+spam@example-mail.com then "),
          substring(col("text"), 1, 60),
          lit(" or call 555-123-4567 x"), col("doc_id")))
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("txt"),
              "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
            "\\d{3}-\\d{3}-\\d{4}", "[PHONE]").as("redacted"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: flag training docs sharing any 8-token
    // gram with the benchmark set (doc_id % 50 == 0 stands in for the
    // eval corpus). Gram equi-join + left-semi — at 100 TB the bench
    // gram set is small and broadcastable; never an all-pairs compare.
    "q_text_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("words"))
      val grams = docs.select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("words"), 8))).as("gram"))
      val bench = grams.filter(col("doc_id") % 50 === 0).select("gram").distinct()
      val contaminated = grams.filter(col("doc_id") % 50 =!= 0)
        .join(bench, Seq("gram"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
      docs.filter(col("doc_id") % 50 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy("doc_id")
    }),

    // FUZZY decontamination — the near-dup complement of the exact
    // 8-gram containment check above: a benchmark document that was
    // paraphrased or lightly edited into the training corpus shares no
    // long exact gram but keeps a high bigram-jaccard. Cross-table
    // prefix-filtered similarity join (Dedup.crossJaccardJoin): both
    // sides' prefixes under ONE shared gram order, candidates are
    // train-prefix × bench-prefix collisions ONLY (within-corpus dup
    // pairs never materialize), verified by exact jaccard — complete,
    // no LSH recall loss, hence the EXACT oracle below.
    "q_text_decontaminate_fuzzy" -> ((s, dir) => {
      // tokens materialize through a Project boundary before the
      // shingle HOF — inlining tokens(text) re-embeds the split into
      // every lambda position (O(len²) tokenizations per doc; fixing
      // this took the verb from 13.6 s to ~7 s at sf0.1)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
        .select(col("doc_id"), Dedup.shingles(col("w"), 2).as("grams"))
      Dedup.crossJaccardJoin(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "grams", threshold = 0.8)
        .select(col("doc_a").as("doc_id"), col("doc_b").as("bench_id"),
          col("jaccard"))
        .orderBy("doc_id", "bench_id")
    }),

    // SEMANTIC decontamination — the embedding-space member of the
    // decontamination family: contamination that was paraphrased or
    // re-templated into the corpus shares no long exact gram and keeps
    // only a modest bigram-jaccard, but its embedding stays ~identical.
    // The corpus has no organic matches at τ=0.95 (max cross cosine
    // ≈0.49 at sf0.01), so the query PLANTS them: every 20th corpus
    // vector re-enters as a "benchmark item" under test_id = vec_id/20
    // with a deterministic arithmetic jitter (cos ≥ 0.999) both engines
    // replay bit-for-bit. The benchmark side broadcasts (eval sets are
    // never corpus-sized); the corpus streams through one codegen'd
    // threshold-join scan — exact by construction, EXACT oracle.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val tests = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") / 20).cast("long").as("test_id"),
          transform(col("embedding"), (x, j) =>
            (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
              / 100000.0d).cast("float")).as("test_vec"))
      Dedup.semanticDecontaminate(emb, "vec_id", "embedding",
          tests, "test_id", "test_vec", threshold = 0.95)
        .orderBy("vec_id")
    }),

    // INCREMENTAL fuzzy decontamination — the production shape of the
    // previous query: the benchmark set is processed ONCE into a
    // persisted contamination index (frozen bench-df prefix order,
    // prefix rows, verification arrays); ingest batches are then
    // checked in O(batch × collisions) with no benchmark re-read. Two
    // disjoint batches checked separately; the UNION of their results
    // must equal the one-shot cross join (the oracle is the same
    // exact-jaccard recompute), which only holds if the frozen-order
    // prefix check is complete per batch.
    "q_decontaminate_incremental" -> ((s, dir) => {
      // same Project-boundary rule as q_text_decontaminate_fuzzy
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
        .select(col("doc_id"), Dedup.shingles(col("w"), 2).as("grams"))
      val idx = Tables.scratch("contamination_idx")
      Dedup.buildContaminationIndex(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "grams", 0.8, idx)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val b1 = Dedup.checkContamination(
        train.filter(col("doc_id") % 2 === 0), "doc_id", "grams", 0.8, idx)
      val b2 = Dedup.checkContamination(
        train.filter(col("doc_id") % 2 =!= 0), "doc_id", "grams", 0.8, idx)
      b1.unionByName(b2)
        .select(col("doc_a").as("doc_id"), col("doc_b").as("bench_id"),
          col("jaccard"))
        .orderBy("doc_id", "bench_id")
    }),

    // Winnowing fingerprints (rolling-hash document sketch) with a
    // DERIVED oracle: hash values are custom, but winnowing's
    // structural guarantees are length-derivable — with k=7, w=10 a
    // doc of n chars has n_grams = max(n-6, 0) k-gram hashes, and the
    // selected-minima count must be 0 when n_grams = 0, exactly 1 when
    // n_grams ≤ w, else within [⌈windows/w⌉, windows] for
    // windows = n_grams - w + 1 (each pick survives ≤ w windows; one
    // pick per window). The oracle recomputes n_grams from len(text)
    // and predicts the density check TRUE; value overlap behavior
    // stays covered in scalatest.
    "q_text_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          greatest(length(col("text")) - lit(6), lit(0)).cast("bigint").as("n_grams"),
          size(VectorExpressions.fingerprint(col("text"), 7, 10)).as("n_fp"))
        .select(col("doc_id"), col("n_grams"),
          when(col("n_grams") === 0, col("n_fp") === 0)
            .when(col("n_grams") <= 10, col("n_fp") === 1)
            .otherwise(
              col("n_fp") >= ceil((col("n_grams") - lit(9)) / lit(10.0)) &&
              col("n_fp") <= col("n_grams") - lit(9)).as("density_ok"))
        .orderBy("doc_id")
    }),

    // SQL surface of the custom expressions (registered functions).
    "q_sql_cosine" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT a.vec_id AS vid, cosine_sim(a.embedding, b.embedding) AS cos
          |FROM embeddings a JOIN embeddings b ON b.vec_id = 0
          |ORDER BY vid""".stripMargin)
    }),

    // Multimodal: binary payload → per-partition batched feature
    // extraction (stub codec, real plumbing).
    "q_multimodal_features" -> ((s, dir) => {
      val payloads = Multimodal.withPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(payloads)
        .orderBy("doc_id")
    }),

    // Resize/downsample pass: every-4th-byte stub in the per-partition
    // codec slot; the oracle recomputes the resized content's md5 from
    // the text (corpus is pure ASCII, so bytes == chars), value-checking
    // the binary transform end to end, not just its byte counts.
    "q_multimodal_resize" -> ((s, dir) => {
      val payloads = Multimodal.withPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.resize(payloads, factor = 4)
        .orderBy("doc_id")
    }),

    // REAL image codec in the resize slot (java.awt + ImageIO, pure
    // JVM): per-doc deterministic PNG bitmaps, decoded and
    // nearest-neighbor-downsampled 2x per partition. The bitmap's
    // channels follow a closed-form pixel formula, so the oracle
    // recomputes the RESIZED image's exact channel sums in SQL — the
    // decode, the stride, and the sample coordinates are all
    // value-checked, not just row counts.
    "q_multimodal_image_resize" -> ((s, dir) => {
      val imgs = Multimodal.withImagePayload(t(s, dir, "documents"), "doc_id")
      Multimodal.imageResize(imgs, factor = 2)
        .orderBy("doc_id")
    }),

    // Frame sampling: binary payload → FrameSize-byte frames → every
    // 2nd frame kept; per-doc sampled counts/bytes are oracle-derivable
    // from payload length, so the explode plumbing is value-checked.
    "q_multimodal_frames" -> ((s, dir) => {
      val payloads = Multimodal.withPayload(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(payloads, every = 2)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sampled"),
          sum(length(col("frame"))).as("sampled_bytes"))
        .orderBy("doc_id")
    }),

    // TRUE BinaryType round-trip: raw digest bytes (full 0–255 range,
    // not UTF-8-safe text) written to parquet as BinaryType, read back,
    // fed through the codec plumbing; payload_hex proves byte-exact
    // survival (DuckDB's md5 is VARCHAR-only, so equality is checked on
    // the hex image rather than a blob digest).
    "q_multimodal_roundtrip" -> ((s, dir) => {
      val out = graft.Tables.scratch("multimodal_bin")
      val bin = t(s, dir, "documents")
        .select(col("doc_id"),
          unhex(sha2(col("text").cast("binary"), 256)).as("payload"))
      bin.write.mode("overwrite").parquet(out)
      val back = s.read.parquet(out)
      Multimodal.extractFeatures(back)
        .join(back.select(col("doc_id"), lower(hex(col("payload"))).as("payload_hex")), "doc_id")
        .select(col("doc_id"), col("n_bytes"), col("n_frames"), col("payload_hex"))
        .orderBy("doc_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT sha256(text) AS content_sha, min(doc_id) AS doc_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $gramIndexCte
        |SELECT doc_a, doc_b, jaccard FROM jpairs
        |WHERE jaccard >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the audit's deliverable is the slice's COMPLETE exact pair set
    // (the prefix-filter join is lossless by the prefix lemma), so the
    // same inverted-index enumeration restricted to the audit slice is
    // its oracle; the booleans are the engine-measured claims
    "q_dedup_recall_audit" ->
      s"""WITH ${gramIndexCte.replace("FROM documents))",
             "FROM documents WHERE doc_id % 2 = 0))")}
        |SELECT doc_a, doc_b, jaccard,
        |  true AS lsh_recall_ok, true AS lsh_subset_ok FROM jpairs
        |WHERE jaccard >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    // recomputes the md5-60-bit simhash signatures bit-for-bit (token
    // hash = first 15 hex chars of md5 = digest's first 60 bits), then
    // takes ALL pairs at hamming ≤ 3 — the banded Spark plan must agree
    // exactly because 4-chunk pigeonhole banding is complete at ≤3.
    "q_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       x -> len(x) > 0)) AS tok
        |  FROM documents),
        |th AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
        |  FROM toks),
        |bits AS (
        |  SELECT doc_id, bit,
        |    sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS w
        |  FROM th, range(60) t(bit) GROUP BY doc_id, bit),
        |sig AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(sum(CASE WHEN w > 0 THEN (1::BIGINT << bit) END), 0)
        |         AS BIGINT) AS sh
        |  FROM documents d LEFT JOIN bits USING (doc_id) GROUP BY d.doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM sig a, sig b
        |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_clusters" ->
      (dupClusterCte +
        "\nSELECT u AS doc, min(v) AS label FROM reach GROUP BY u ORDER BY doc"),

    "q_dedup_canonicalize" ->
      (dupClusterCte + """,
        |labels AS (SELECT u AS doc, min(v) AS label FROM reach GROUP BY u),
        |sized AS (
        |  SELECT l.doc, l.label, d.n_chars
        |  FROM labels l JOIN documents d ON l.doc = d.doc_id),
        |k AS (
        |  SELECT label, doc AS keeper FROM (
        |    SELECT label, doc, row_number() OVER (PARTITION BY label
        |      ORDER BY n_chars DESC, doc ASC) AS rn
        |    FROM sized) WHERE rn = 1),
        |cnt AS (SELECT label, count(*) AS n_members FROM sized GROUP BY 1)
        |SELECT s.doc, s.label, k.keeper, s.doc = k.keeper AS is_keeper,
        |  cnt.n_members
        |FROM sized s JOIN k USING (label) JOIN cnt USING (label)
        |ORDER BY doc""".stripMargin),

    // per-doc weight 1/|cluster| in integer bp; docs outside any
    // near-dup cluster are their own singleton (weight 10000)
    "q_dedup_soft" ->
      (dupClusterCte + """,
        |labels AS (SELECT u AS doc, min(v) AS label FROM reach GROUP BY u),
        |sz AS (SELECT label, count(*) AS n_members FROM labels GROUP BY label)
        |SELECT d.doc_id, d.source,
        |  COALESCE(l.label, d.doc_id) AS label,
        |  CAST(COALESCE(s.n_members, 1) AS BIGINT) AS n_members,
        |  CAST(10000 // COALESCE(s.n_members, 1) AS BIGINT) AS weight_bp,
        |  CAST((d.n_chars * 10000) // COALESCE(s.n_members, 1) AS BIGINT) AS eff_chars_bp
        |FROM documents d
        |  LEFT JOIN labels l ON d.doc_id = l.doc
        |  LEFT JOIN sz s ON l.label = s.label
        |ORDER BY d.doc_id""".stripMargin),

    "q_dedup_incremental" ->
      s"""WITH $gramIndexCte
        |SELECT doc_a, doc_b, jaccard FROM jpairs
        |WHERE jaccard >= 0.8
        |  AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the streamed per-batch union must equal the one-shot incremental
    // result exactly; multi_batch proves ≥3 paced micro-batches ran
    "q_stream_dedup_ingest" ->
      s"""WITH $gramIndexCte
        |SELECT doc_a, doc_b, jaccard, true AS multi_batch FROM jpairs
        |WHERE jaccard >= 0.8
        |  AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_corpus" ->
      // every doc in `labels` sits in a ≥2-doc cluster (labels come
      // from pairs), so doc = label ⟺ representative of a real cluster
      (dupClusterCte + """,
        |labels AS (SELECT u AS doc, min(v) AS label FROM reach GROUP BY u)
        |SELECT d.doc_id, (r.doc IS NOT NULL) AS had_dups
        |FROM documents d
        |LEFT JOIN (SELECT doc FROM labels WHERE doc = label) r
        |  ON d.doc_id = r.doc
        |WHERE d.doc_id NOT IN (SELECT doc FROM labels WHERE doc <> label)
        |ORDER BY d.doc_id""".stripMargin),

    "q_text_search_any" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS total_tf
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_wildcard_index" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w LIKE 'me%' GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS total_tf
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // 1-based positions here vs 0-based in the index — only the
    // DIFFERENCE enters the predicate, so the bases cancel
    "q_text_proximity_index" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
        |  FROM d WHERE len(toks) > 0),
        |a AS (SELECT doc_id, i AS pa FROM p WHERE toks[i] = 'hash'),
        |b AS (SELECT doc_id, i AS pb FROM p WHERE toks[i] = 'table')
        |SELECT a.doc_id, count(*) AS n_pairs
        |FROM a JOIN b ON a.doc_id = b.doc_id AND abs(pa - pb) <= 3
        |GROUP BY a.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // same deliverable as q_text_search_index (the TVF is an access
    // path, not a semantics change)
    "q_sql_text_search" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS total_tf, d.lang
        |FROM tf JOIN documents d ON tf.doc_id = d.doc_id
        |GROUP BY tf.doc_id, d.lang
        |HAVING count(*) = 3
        |ORDER BY tf.doc_id""".stripMargin,

    // corpus-side adjacency count twin of the positional-index phrase
    // search
    "q_text_phrase_index" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
        |  FROM d WHERE len(toks) >= 2)
        |SELECT doc_id, count(*) AS n_occ
        |FROM p WHERE toks[i] = 'table' AND toks[i + 1] = 'hash'
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // index-served BM25: identical deliverable to q_text_bm25 — the
    // oracle is the same corpus-side computation
    "q_text_search_eval" ->
      Seq("hash merge", "hash vector", "table vector")
        .map(duckSearchEval).mkString("", "\nUNION ALL\n", "\nORDER BY query"),

    "q_text_bm25_index" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
        |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
        |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
        |df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w)
        |SELECT tf.doc_id,
        |  sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))) AS score
        |FROM tf, df, s WHERE tf.w = df.w
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // Exact RRF oracle: corpus-side BM25 ranks (identical formula to
    // q_text_bm25_index) + brute-force cosine ranks per probe, fused
    // by the same 1/(60+r) sum. DOUBLE casts force double division
    // (a bare 1.0/bigint would type DECIMAL in DuckDB); ties break by
    // doc id ascending in both rankers and the fused cut, exactly as
    // the heap aggregator does.
    "q_hybrid_search_rrf" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS toks
         |  FROM documents),
         |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
         |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
         |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
         |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
         |dfs AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         |bm_scores AS (
         |  SELECT tf.doc_id,
         |    sum(ln((st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
         |        * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf, dfs, st WHERE tf.w = dfs.w GROUP BY tf.doc_id),
         |bm AS (SELECT doc_id, trank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS trank
         |  FROM bm_scores) WHERE trank <= 50),
         |vr AS (SELECT probe_id, neighbor_id, vrank FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS vrank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id) WHERE vrank <= 50),
         |contrib AS (
         |  SELECT probes.probe_id, bm.doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + bm.trank AS DOUBLE) AS c
         |  FROM (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id < 5) probes, bm
         |  UNION ALL
         |  SELECT probe_id, neighbor_id AS doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + vrank AS DOUBLE) AS c FROM vr),
         |fused AS (SELECT probe_id, doc_id, sum(c) AS rrf FROM contrib GROUP BY 1, 2)
         |SELECT probe_id, rank, doc_id, rrf FROM (
         |  SELECT probe_id, doc_id, rrf,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,

    // recomputes the final card from the deterministically-mutated
    // state; ivm_ok TRUE is the engine-side incremental-equals-full
    // proof carried into the compared output
    "q_card_incremental" ->
      """WITH v3 AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' vector' ELSE text END AS text
        |  FROM documents WHERE doc_id % 13 <> 0)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |                           x -> len(x) > 0))) AS BIGINT) AS total_words,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |                           x -> len(x) > 0))) AS DOUBLE) / count(*) AS avg_words,
        |  true AS ivm_ok
        |FROM v3 GROUP BY source ORDER BY source""".stripMargin,

    // live totals recomputed from the surviving docs; n_tombs = the
    // retracted id count
    "q_sql_index_stats" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(lower(text), '\W+'),
        |                    t -> len(t) > 0)) AS dl
        |  FROM documents)
        |SELECT
        |  CAST(count(*) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS sum_dl,
        |  CAST(sum(dl) FILTER (WHERE doc_id % 7 <> 0) AS DOUBLE)
        |    / count(*) FILTER (WHERE doc_id % 7 <> 0) AS avgdl,
        |  CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_tombs
        |FROM l""".stripMargin,

    // boolean algebra mirrored as set ops over the distinct doc-term
    // incidence
    "q_text_boolean_index" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |a AS (SELECT doc_id FROM tok WHERE w = 'hash'
        |      INTERSECT SELECT doc_id FROM tok WHERE w = 'merge'),
        |b AS (SELECT doc_id FROM tok WHERE w = 'vector'
        |      EXCEPT SELECT doc_id FROM tok WHERE w = 'table'),
        |u AS (SELECT doc_id, 1 AS in_a, 0 AS in_b FROM a
        |      UNION ALL SELECT doc_id, 0, 1 FROM b)
        |SELECT doc_id, max(in_a) = 1 AS in_first, max(in_b) = 1 AS in_second
        |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the hybrid oracle over the deterministically-mutated corpus:
    // text || ' vector' and list_reverse(embedding) for doc_id % 11,
    // doc_id % 13 erased — both legs recomputed from that state
    "q_hybrid_cdc" ->
      s"""WITH m AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 11 = 0 THEN d.text || ' vector' ELSE d.text END AS text,
         |    CASE WHEN d.doc_id % 11 = 0 THEN list_reverse(e.embedding)
         |         ELSE e.embedding END AS embedding
         |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
         |  WHERE d.doc_id % 13 <> 0),
         |d2 AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS toks
         |  FROM m),
         |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d2),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
         |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
         |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
         |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
         |dfs AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         |bm_scores AS (
         |  SELECT tf.doc_id,
         |    sum(ln((st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
         |        * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf, dfs, st WHERE tf.w = dfs.w GROUP BY tf.doc_id),
         |bm AS (SELECT doc_id, trank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS trank
         |  FROM bm_scores) WHERE trank <= 50),
         |vr AS (SELECT probe_id, neighbor_id, vrank FROM (
         |  SELECT p.doc_id AS probe_id, c.doc_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.doc_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.doc_id ASC) AS vrank
         |  FROM m p, m c
         |  WHERE p.doc_id < 5 AND c.doc_id <> p.doc_id) WHERE vrank <= 50),
         |contrib AS (
         |  SELECT probes.probe_id, bm.doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + bm.trank AS DOUBLE) AS c
         |  FROM (SELECT doc_id AS probe_id FROM m WHERE doc_id < 5) probes, bm
         |  UNION ALL
         |  SELECT probe_id, neighbor_id AS doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + vrank AS DOUBLE) AS c FROM vr),
         |fused AS (SELECT probe_id, doc_id, sum(c) AS rrf FROM contrib GROUP BY 1, 2)
         |SELECT probe_id, rank, doc_id, rrf, TRUE AS atomic_ok FROM (
         |  SELECT probe_id, doc_id, rrf,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,

    // PRF: round-1 BM25 → top-10 feedback docs → top-5 non-seed terms
    // by the integer occurrence metric → round-2 BM25 with the
    // expanded term set; both BM25 rounds are the proven-exact formula
    "q_text_prf_search" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS toks
         |  FROM documents),
         |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
         |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
         |tf1 AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
         |        WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
         |dfs1 AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf1 GROUP BY w),
         |bm1 AS (
         |  SELECT tf1.doc_id,
         |    sum(ln((st.n_docs - dfs1.df + 0.5) / (dfs1.df + 0.5) + 1)
         |        * tf1.tf * 2.2 / (tf1.tf + 1.2 * (0.25 + 0.75 * tf1.dl / st.avgdl))) AS score
         |  FROM tf1, dfs1, st WHERE tf1.w = dfs1.w GROUP BY tf1.doc_id),
         |fb AS (SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
         |  FROM bm1) WHERE r <= 10),
         |exp AS (
         |  SELECT w AS term FROM tok JOIN fb USING (doc_id)
         |  WHERE w NOT IN ('hash', 'merge', 'vector')
         |  GROUP BY w ORDER BY count(*) DESC, w ASC LIMIT 5),
         |terms2 AS (SELECT term FROM exp
         |           UNION SELECT unnest(['hash', 'merge', 'vector'])),
         |tf2 AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
         |        WHERE w IN (SELECT term FROM terms2) GROUP BY 1, 2, 3),
         |dfs2 AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf2 GROUP BY w)
         |SELECT tf2.doc_id,
         |  sum(ln((st.n_docs - dfs2.df + 0.5) / (dfs2.df + 0.5) + 1)
         |      * tf2.tf * 2.2 / (tf2.tf + 1.2 * (0.25 + 0.75 * tf2.dl / st.avgdl))) AS score
         |FROM tf2, dfs2, st WHERE tf2.w = dfs2.w
         |GROUP BY tf2.doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the hybrid oracle wrapped by the same SQL the engine composes on
    // top of the TVF (rank filter + documents join)
    "q_sql_hybrid" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS toks
         |  FROM documents),
         |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
         |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
         |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
         |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
         |dfs AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         |bm_scores AS (
         |  SELECT tf.doc_id,
         |    sum(ln((st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
         |        * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf, dfs, st WHERE tf.w = dfs.w GROUP BY tf.doc_id),
         |bm AS (SELECT doc_id, trank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS trank
         |  FROM bm_scores) WHERE trank <= 50),
         |vr AS (SELECT probe_id, neighbor_id, vrank FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS vrank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id) WHERE vrank <= 50),
         |contrib AS (
         |  SELECT probes.probe_id, bm.doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + bm.trank AS DOUBLE) AS c
         |  FROM (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id < 5) probes, bm
         |  UNION ALL
         |  SELECT probe_id, neighbor_id AS doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + vrank AS DOUBLE) AS c FROM vr),
         |fused AS (SELECT probe_id, doc_id, sum(c) AS rrf FROM contrib GROUP BY 1, 2),
         |hybrid AS (
         |  SELECT probe_id, rank, doc_id, rrf FROM (
         |    SELECT probe_id, doc_id, rrf,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank
         |    FROM fused))
         |SELECT h.probe_id, h.rank, h.doc_id, h.rrf, dd.source
         |FROM hybrid h JOIN documents dd ON h.doc_id = dd.doc_id
         |WHERE h.rank <= 5
         |ORDER BY h.probe_id, h.rank""".stripMargin,

    // the q_sql_hybrid replay over the PIN-TIME corpus (both legs
    // minus the pre-pin %17 deletes); the post-pin index mutations
    // must be invisible to the pinned TVF relation
    "q_sql_hybrid_asof" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS toks
         |  FROM documents WHERE doc_id % 17 <> 3),
         |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
         |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
         |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
         |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
         |dfs AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         |bm_scores AS (
         |  SELECT tf.doc_id,
         |    sum(ln((st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
         |        * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf, dfs, st WHERE tf.w = dfs.w GROUP BY tf.doc_id),
         |bm AS (SELECT doc_id, trank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS trank
         |  FROM bm_scores) WHERE trank <= 50),
         |vr AS (SELECT probe_id, neighbor_id, vrank FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS vrank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
         |    AND c.vec_id % 17 <> 3) WHERE vrank <= 50),
         |contrib AS (
         |  SELECT probes.probe_id, bm.doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + bm.trank AS DOUBLE) AS c
         |  FROM (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id < 5) probes, bm
         |  UNION ALL
         |  SELECT probe_id, neighbor_id AS doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + vrank AS DOUBLE) AS c FROM vr),
         |fused AS (SELECT probe_id, doc_id, sum(c) AS rrf FROM contrib GROUP BY 1, 2),
         |hybrid AS (
         |  SELECT probe_id, rank, doc_id, rrf FROM (
         |    SELECT probe_id, doc_id, rrf,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank
         |    FROM fused))
         |SELECT h.probe_id, h.rank, h.doc_id, h.rrf, dd.source
         |FROM hybrid h JOIN documents dd ON h.doc_id = dd.doc_id
         |WHERE h.rank <= 5
         |ORDER BY h.probe_id, h.rank""".stripMargin,

    "q_text_bm25" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
        |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
        |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
        |df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w)
        |SELECT tf.doc_id,
        |  sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))) AS score
        |FROM tf, df, s WHERE tf.w = df.w
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // The index is an access-path optimization, not a semantics change:
    // the oracle computes the same conjunctive tf-sum straight from the
    // corpus. Only docs containing ALL three terms survive.
    "q_text_search_index" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS total_tf, d.lang
        |FROM tf JOIN documents d ON tf.doc_id = d.doc_id
        |GROUP BY tf.doc_id, d.lang
        |HAVING count(*) = 3
        |ORDER BY tf.doc_id""".stripMargin,

    // the v3 live state recomputed corpus-side: %11 docs carry the
    // appended term, %13 docs are gone
    "q_text_index_cdc" ->
      """WITH live AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' vector' ELSE text END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 13 <> 0),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM live),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS total_tf, d.lang
        |FROM tf JOIN live d ON tf.doc_id = d.doc_id
        |GROUP BY tf.doc_id, d.lang
        |HAVING count(*) = 3
        |ORDER BY tf.doc_id""".stripMargin,

    "q_text_synonym_search" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, w, count(*) AS tf,
        |    CASE WHEN w IN ('hash', 'key') THEN 0
        |         WHEN w IN ('merge', 'join') THEN 1
        |         ELSE 2 END AS grp
        |  FROM tok
        |  WHERE w IN ('hash', 'key', 'merge', 'join', 'vector', 'stream')
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
        |FROM tf GROUP BY doc_id
        |HAVING count(DISTINCT grp) = 3
        |ORDER BY doc_id""".stripMargin,

    // merged-shard search == corpus-side search; totals_ok is the
    // engine-measured manifest invariant
    "q_text_index_merge" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS total_tf, d.lang,
        |  TRUE AS totals_ok
        |FROM tf JOIN documents d ON tf.doc_id = d.doc_id
        |GROUP BY tf.doc_id, d.lang
        |HAVING count(*) = 3
        |ORDER BY tf.doc_id""".stripMargin,

    // conjunctive search over the LIVE corpus only (doc_id % 7 = 0
    // deleted); the booleans are engine-measured invariants
    "q_text_index_delete" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents WHERE doc_id % 7 <> 0),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS total_tf, d.lang,
        |  TRUE AS purged, TRUE AS tombstone_exact
        |FROM tf JOIN documents d ON tf.doc_id = d.doc_id
        |GROUP BY tf.doc_id, d.lang
        |HAVING count(*) = 3
        |ORDER BY tf.doc_id""".stripMargin,

    // same conjunctive deliverable as q_text_search_index; the two
    // invariant booleans are measured engine-side and must come back
    // TRUE (a compaction that loses rows or fails to drop files flips
    // them and fails the hash gate)
    "q_text_index_compact" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS total_tf, d.lang,
        |  TRUE AS files_dropped, TRUE AS search_identical
        |FROM tf JOIN documents d ON tf.doc_id = d.doc_id
        |GROUP BY tf.doc_id, d.lang
        |HAVING count(*) = 3
        |ORDER BY tf.doc_id""".stripMargin,

    "q_text_chunk" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, len(toks), 40)) AS chunk_start
        |  FROM d WHERE len(toks) > 0)
        |SELECT doc_id,
        |  CAST(chunk_start / 40 AS BIGINT) AS chunk_idx,
        |  chunk_start,
        |  least(50, n - chunk_start) AS n_chunk_tokens,
        |  toks[chunk_start + 1] AS head_token
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // same integer inclusion test, bit for bit
    // same tokenizer/bigram/md5-bucket construction as the Spark side;
    // logw doubles compare at the canonicalizer's 6dp, the selected
    // boolean sits behind the 1e-9 band
    "q_train_dsir" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
        |  FROM w),
        |gb AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(bg), 1, 8))::BIGINT % 512 AS b
        |  FROM g),
        |db AS (
        |  SELECT doc_id, source, b, count(*) AS c FROM gb
        |  WHERE source NOT IN ('src0', 'src1') GROUP BY 1, 2, 3),
        |t AS (SELECT b, count(*) AS ct FROM gb
        |      WHERE source IN ('src0', 'src1') GROUP BY b),
        |r AS (SELECT b, count(*) AS cr FROM gb
        |      WHERE source NOT IN ('src0', 'src1') GROUP BY b),
        |sc AS (SELECT
        |  (SELECT count(*) FROM gb WHERE source IN ('src0', 'src1')) AS nt,
        |  (SELECT count(*) FROM gb WHERE source NOT IN ('src0', 'src1')) AS nr),
        |agg AS (
        |  SELECT d.doc_id, d.source, sc.nt, sc.nr,
        |    CAST(sum(d.c) AS BIGINT) AS n_grams,
        |    sum(d.c * (ln(COALESCE(t.ct, 0) + 1) - ln(COALESCE(r.cr, 0) + 1))) AS s1
        |  FROM db d LEFT JOIN t USING (b) LEFT JOIN r USING (b), sc
        |  GROUP BY d.doc_id, d.source, sc.nt, sc.nr)
        |SELECT doc_id, source, n_grams,
        |  s1 + n_grams * (ln(nr + 512) - ln(nt + 512)) AS logw,
        |  (s1 + n_grams * (ln(nr + 512) - ln(nt + 512))) > 1e-9 AS selected
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_sample_weighted" ->
      """WITH m AS (SELECT max(n_chars) AS max_w FROM documents)
        |SELECT source, count(*) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sampled
        |FROM documents, m
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    * max_w < n_chars * 1288490188
        |GROUP BY source ORDER BY source""".stripMargin,

    // the heap keeps the k SMALLEST u32 per stratum, ties by doc_id —
    // identical to this window's ordering
    "q_sample_stratified" ->
      """WITH s AS (
        |  SELECT lang, doc_id, n_chars,
        |    ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u32
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY u32, doc_id) AS rank
        |  FROM s)
        |SELECT lang, rank, doc_id, n_chars FROM r
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "q_sample_hash" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
        |FROM events
        |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_text_mixture" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_words
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source, n_words,
        |    row_number() OVER (PARTITION BY source ORDER BY n_words DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM d)
        |SELECT source, doc_id, n_words FROM r
        |WHERE rn <= ceil(n_src * 0.2)
        |ORDER BY source, doc_id""".stripMargin,

    // the one remaining all-pairs oracle (dense cosine has no inverted
    // index); DuckDB's NATIVE list_cosine_similarity instead of the
    // lambda-form duckCos makes the O(n²) scan feasible at sf0.1
    // (~12.5M pairs × 128-d) — both accumulate doubles left-to-right,
    // so the 6dp-canonicalized values agree
    "q_dedup_embedding" ->
      """SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
         |  list_cosine_similarity(
         |    list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         |    list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS cos
         |FROM embeddings a, embeddings b
         |WHERE a.vec_id < b.vec_id
         |  AND list_cosine_similarity(
         |    list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
         |    list_transform(b.embedding, x -> CAST(x AS DOUBLE))) >= 0.85
         |ORDER BY vid_a, vid_b""".stripMargin,

    // same planting + same two-stage predicate as the engine; all-pairs
    // is safe here (src0 + mutants ≈ n/20 · 1.2 docs)
    // same K=8 windows, 0-based starts; parallel unnests zip
    // positionally, range(start, start+8) is the window's covered
    // positions (exclusive end = Spark's inclusive sequence(start,
    // start+7))
    "q_dedup_substring" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, len(w) AS n_tok, greatest(len(w) - 7, 0) AS n_spans, w
        |  FROM w),
        |sp AS (
        |  SELECT doc_id,
        |    unnest(range(greatest(n_tok - 7, 0))) AS start,
        |    unnest([array_to_string(w[i+1:i+8], ' ')
        |            FOR i IN range(greatest(n_tok - 7, 0))]) AS gram
        |  FROM base),
        |dup AS (SELECT gram FROM sp GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        |dsp AS (SELECT doc_id, start FROM sp JOIN dup USING (gram)),
        |dcnt AS (SELECT doc_id, count(*) AS n_dup FROM dsp GROUP BY doc_id),
        |cov AS (
        |  SELECT doc_id, count(DISTINCT p) AS n_cov
        |  FROM (SELECT doc_id, unnest(range(start, start + 8)) AS p FROM dsp)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tok, b.n_spans,
        |  coalesce(d.n_dup, 0) AS n_dup_spans,
        |  coalesce(c.n_cov, 0) AS n_cov,
        |  CAST(coalesce(c.n_cov, 0) AS DOUBLE) / b.n_tok AS dup_frac
        |FROM base b
        |LEFT JOIN dcnt d USING (doc_id)
        |LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_editdist" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |d AS (
        |  SELECT doc_id, text FROM documents WHERE source = 'src0'
        |  UNION ALL
        |  SELECT doc_id + m.off,
        |    substr(text, 1, greatest(len(text) - 21, 1))
        |  FROM documents, m WHERE source = 'src0' AND doc_id % 5 = 0),
        |g AS (
        |  SELECT doc_id, text,
        |    list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS grams
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |        FROM d))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM g a, g b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
        |  AND levenshtein(a.text, b.text) <= greatest(len(a.text), len(b.text)) * 0.1
        |ORDER BY doc_a, doc_b""".stripMargin,

    // counts are exact; the booleans are the engine's end-to-end
    // removal recheck (see the query comment) predicted TRUE
    "q_dedup_semantic" ->
      """WITH base AS (SELECT count(*) AS n FROM embeddings),
        |p AS (SELECT count(*) AS np FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT base.n + p.np AS n_corpus, p.np AS n_planted,
        |  TRUE AS precision_ok, TRUE AS recall_ok
        |FROM base, p""".stripMargin,

    // same planted fixture and recheck contract; only the quantizer's
    // feature space differs (top-8 PCA), which precision/recall gate
    "q_dedup_semantic_pca" ->
      """WITH base AS (SELECT count(*) AS n FROM embeddings),
        |p AS (SELECT count(*) AS np FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT base.n + p.np AS n_corpus, p.np AS n_planted,
        |  TRUE AS precision_ok, TRUE AS recall_ok
        |FROM base, p""".stripMargin,

    "q_train_shuffle" ->
      """WITH e AS (
        |  SELECT 1 AS epoch, doc_id, n_chars,
        |    ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS u32
        |  FROM documents
        |  UNION ALL
        |  SELECT 2, doc_id, n_chars,
        |    ('0x' || substr(md5('epoch2:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |  FROM documents)
        |SELECT epoch, u32 % 8 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(u32 * 16777216 + doc_id) AS head_ord,
        |  TRUE AS colocated_ok
        |FROM e GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin,

    // identical pure-integer cut arithmetic (isqrt weights, // floor
    // division) — the sample membership is bit-exact across engines
    "q_train_temperature_mix" ->
      """WITH per AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        |w AS (SELECT source, n_s,
        |        CAST(floor(sqrt(n_s)) AS BIGINT) AS w_s FROM per),
        |tot AS (SELECT sum(n_s) AS n_tot, sum(w_s) AS sw FROM w),
        |rates AS (
        |  SELECT source, n_s,
        |    least((((3 * n_tot) // 10) * w_s * 4294967296) // (sw * n_s),
        |          4294967296) AS cut
        |  FROM w, tot),
        |sel AS (
        |  SELECT d.source, d.n_chars
        |  FROM documents d JOIN rates r USING (source)
        |  WHERE ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |        < r.cut)
        |SELECT r.source, r.n_s AS n_total, CAST(r.cut AS BIGINT) AS cut,
        |  count(s.n_chars) AS n_sampled,
        |  CAST(coalesce(sum(s.n_chars), 0) AS BIGINT) AS chars_sampled
        |FROM rates r LEFT JOIN sel s ON r.source = s.source
        |GROUP BY r.source, r.n_s, r.cut ORDER BY r.source""".stripMargin,

    // the ONE-WINDOW formulation of the prefix rule — the engine's
    // two-phase bucketed selection must reproduce it doc-for-doc
    "q_train_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS tok,
        |    CAST(len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |      / len(text) AS q
        |  FROM documents WHERE len(text) > 0),
        |b AS (SELECT (4 * sum(tok)) // 10 AS budget FROM d),
        |w AS (SELECT *, sum(tok) OVER (ORDER BY q DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT source, count(*) AS n_sel, CAST(sum(tok) AS BIGINT) AS tok_sel
        |FROM w, b WHERE cum <= budget
        |GROUP BY source ORDER BY source""".stripMargin,

    // same recursive transitive closure as the clusters oracle; the
    // straddle boolean is TRUE by the engine's construction and
    // re-derivable here (one label → one hash → one split)
    "q_train_split_cluster" ->
      (dupClusterCte + """,
        |labels AS (SELECT u AS doc, min(v) AS label FROM reach GROUP BY u),
        |lab AS (
        |  SELECT d.source, d.n_chars, coalesce(l.label, d.doc_id) AS label
        |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc),
        |tg AS (
        |  SELECT source, n_chars,
        |    ('0x' || substr(md5('split:' || CAST(label AS VARCHAR)), 1, 2))::BIGINT AS u8
        |  FROM lab)
        |SELECT source,
        |  CASE WHEN u8 < 230 THEN 'train'
        |       WHEN u8 < 243 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  TRUE AS no_straddle_ok
        |FROM tg GROUP BY 1, 2 ORDER BY source, split""".stripMargin),

    "q_train_split" ->
      """WITH d AS (
        |  SELECT source, n_chars,
        |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS u8
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN u8 < 230 THEN 'train'
        |       WHEN u8 < 243 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY 1, 2 ORDER BY source, split""".stripMargin,

    // the tercile boundaries are a pure function of the d-histogram
    // (window cumsum here = the engine's driver-side walk), so stage
    // assignment and the integer schedule arithmetic are bit-exact
    "q_train_curriculum" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS tok,
        |    (list_aggregate(list_transform(w, t -> CAST(len(t) AS BIGINT)), 'sum') * 100)
        |      // CAST(len(w) AS BIGINT) AS d
        |  FROM tok WHERE len(w) > 0),
        |hist AS (SELECT d, count(*) AS n FROM base GROUP BY d),
        |cumh AS (SELECT d, sum(n) OVER (ORDER BY d) AS cum,
        |           (SELECT count(*) FROM base) AS total FROM hist),
        |b AS (SELECT min(CASE WHEN cum * 3 >= total THEN d END) AS b1,
        |             min(CASE WHEN cum * 3 >= 2 * total THEN d END) AS b2 FROM cumh),
        |st AS (
        |  SELECT CASE WHEN d <= b1 THEN 'easy'
        |              WHEN d <= b2 THEN 'mid' ELSE 'hard' END AS stage,
        |    count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS stage_tok
        |  FROM base, b GROUP BY 1),
        |sched(epoch, stage, w) AS (VALUES
        |  ('e1','easy',60),('e1','mid',30),('e1','hard',10),
        |  ('e2','easy',40),('e2','mid',35),('e2','hard',25),
        |  ('e3','easy',34),('e3','mid',33),('e3','hard',33))
        |SELECT s.epoch, s.stage, CAST(s.w AS BIGINT) AS w,
        |  CAST(st.n_docs AS BIGINT) AS n_docs, st.stage_tok,
        |  CAST((s.w * st.stage_tok) // 100 AS BIGINT) AS planned_tok
        |FROM sched s JOIN st USING (stage) ORDER BY epoch, stage""".stripMargin,

    // same 8-gram construction as the binary decontaminate oracle;
    // overlap in integer basis points — bit-exact across engines
    "q_decontaminate_overlap" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]) AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |        FROM documents)
        |  WHERE len(w) >= 8),
        |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        |train AS (SELECT DISTINCT gram FROM e WHERE doc_id % 50 <> 0),
        |ev AS (SELECT doc_id, gram FROM e WHERE doc_id % 50 = 0),
        |h AS (SELECT doc_id, count(*) AS n_hit FROM ev JOIN train USING (gram) GROUP BY doc_id),
        |v AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY doc_id)
        |SELECT v.doc_id, CAST(v.n_grams AS BIGINT) AS n_grams,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  CAST((coalesce(h.n_hit, 0) * 10000) // v.n_grams AS BIGINT) AS overlap_bp
        |FROM v LEFT JOIN h USING (doc_id) ORDER BY v.doc_id""".stripMargin,

    // exact-jaccard pairs (the LSH-recall-checking oracle of
    // q_dedup_minhash) keyed by normalized source pair
    "q_dedup_cross_source" ->
      s"""WITH $gramIndexCte,
        |p AS (SELECT doc_a, doc_b FROM jpairs WHERE jaccard >= 0.8),
        |j AS (
        |  SELECT least(da.source, db.source) AS src_lo,
        |    greatest(da.source, db.source) AS src_hi, p.doc_a, p.doc_b
        |  FROM p JOIN documents da ON p.doc_a = da.doc_id
        |         JOIN documents db ON p.doc_b = db.doc_id)
        |SELECT src_lo, src_hi, count(*) AS n_pairs,
        |  min(doc_a) AS min_doc_a, min(doc_b) AS min_doc_b
        |FROM j GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin,

    // centroid = the q_embed_centroid oracle; distances re-derived in
    // double and compared at the canonicalizer's 6dp
    "q_embed_outliers" ->
      """WITH c AS (
        |  SELECT label, pos, avg(v) AS cv
        |  FROM (SELECT label, unnest(range(len(embedding))) AS pos,
        |          CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
        |  GROUP BY label, pos),
        |d AS (
        |  SELECT label, vec_id, sum((x.v - c.cv) * (x.v - c.cv)) AS d2
        |  FROM (SELECT label, vec_id, unnest(range(len(embedding))) AS pos,
        |          CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings) x
        |  JOIN c USING (label, pos)
        |  GROUP BY label, vec_id),
        |st AS (SELECT label, count(*) AS n, avg(d2) AS mean_d2 FROM d GROUP BY label)
        |SELECT d.label, CAST(st.n AS BIGINT) AS n, st.mean_d2, max(d.d2) AS max_d2,
        |  CAST(sum(CASE WHEN d.d2 > st.mean_d2 * 2 * (1 + 1e-7) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN st USING (label)
        |GROUP BY d.label, st.n, st.mean_d2
        |ORDER BY d.label""".stripMargin,

    // the q_text_langid CASE classifier with source carried through;
    // entropy in double, 6dp-canonicalized
    "q_text_lang_mix" ->
      """WITH p AS (
        |  SELECT source,
        |    CASE
        |      WHEN regexp_matches(lower(text), '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |      WHEN greatest(en, es, fr, de) = 0 THEN 'und'
        |      WHEN en = greatest(en, es, fr, de) THEN 'en'
        |      WHEN de = greatest(en, es, fr, de) THEN 'de'
        |      WHEN fr = greatest(en, es, fr, de) THEN 'fr'
        |      ELSE 'es' END AS lang
        |  FROM (
        |    SELECT source, text,
        |      len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('the','and','of','is','to'))) AS en,
        |      len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('el','la','los','que','y'))) AS es,
        |      len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('le','la','les','et','est'))) AS fr,
        |      len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('der','die','das','und','ist'))) AS de
        |    FROM documents)),
        |c AS (SELECT source, lang, count(*) AS n FROM p GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM c GROUP BY source),
        |w AS (SELECT c.source, c.lang, CAST(c.n AS BIGINT) AS n,
        |        CAST(c.n AS DOUBLE) / t.n_src AS share
        |      FROM c JOIN t USING (source)),
        |e AS (SELECT source, sum(-share * log2(share)) AS entropy FROM w GROUP BY source)
        |SELECT w.source, w.lang, w.n, w.share, e.entropy
        |FROM w JOIN e USING (source) ORDER BY source, lang""".stripMargin,

    // same three shifted pair streams; rank by integer count (total
    // order with the lexicographic tiebreak), PMI re-derived in double
    // with the same left-associated arithmetic
    "q_text_cooccur_pmi" ->
      """WITH tok AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |p1 AS (SELECT unnest([{'lo': least(w[i], w[i+1]), 'hi': greatest(w[i], w[i+1])}
        |                      FOR i IN range(1, len(w))]) AS p FROM tok),
        |p2 AS (SELECT unnest([{'lo': least(w[i], w[i+2]), 'hi': greatest(w[i], w[i+2])}
        |                      FOR i IN range(1, len(w) - 1)]) AS p FROM tok),
        |p3 AS (SELECT unnest([{'lo': least(w[i], w[i+3]), 'hi': greatest(w[i], w[i+3])}
        |                      FOR i IN range(1, len(w) - 2)]) AS p FROM tok),
        |pr AS (SELECT p.lo AS lo, p.hi AS hi FROM
        |  (SELECT p FROM p1 UNION ALL SELECT p FROM p2 UNION ALL SELECT p FROM p3)),
        |top AS (SELECT lo, hi, count(*) AS n FROM pr GROUP BY lo, hi
        |        ORDER BY n DESC, lo, hi LIMIT 100),
        |uni AS (SELECT unnest(w) AS tok FROM tok),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        |sc AS (SELECT (SELECT count(*) FROM pr) AS np, (SELECT count(*) FROM uni) AS nt)
        |SELECT t.lo, t.hi, CAST(t.n AS BIGINT) AS n,
        |  ln((t.n * 1.0 * sc.nt * sc.nt) / (sc.np * 1.0 * a.c * b.c)) AS pmi
        |FROM top t JOIN uc a ON a.tok = t.lo JOIN uc b ON b.tok = t.hi, sc
        |ORDER BY n DESC, t.lo, t.hi""".stripMargin,

    // the q_text_pack CTE with a per-source rollup on top; offset
    // bucketing can overflow a bucket, so fill_bp may exceed 10000
    "q_train_pack_efficiency" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tok
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM toks),
        |seqs AS (
        |  SELECT source, CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS seq_id,
        |    CAST(sum(n_tok) AS BIGINT) AS seq_tokens
        |  FROM cum GROUP BY source, seq_id)
        |SELECT source, count(*) AS n_seqs, CAST(sum(seq_tokens) AS BIGINT) AS total_tok,
        |  max(seq_tokens) AS max_seq_tok, min(seq_tokens) AS min_seq_tok,
        |  CAST(count(*) * 256 AS BIGINT) AS capacity,
        |  CAST((CAST(sum(seq_tokens) AS BIGINT) * 10000) // (count(*) * 256) AS BIGINT) AS fill_bp
        |FROM seqs GROUP BY source ORDER BY source""".stripMargin,

    // the q_text_pack_sharded CTE with the same per-source rollup —
    // the production (shard-bounded) layout's fill report
    "q_train_pack_efficiency_sharded" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tok,
        |    CAST(floor(doc_id / 200) AS BIGINT) AS shard
        |  FROM documents),
        |loc AS (
        |  SELECT doc_id, source, shard, n_tok,
        |    CAST(floor((CAST(sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok) / 256.0) AS BIGINT) AS local_seq
        |  FROM toks),
        |bases AS (
        |  SELECT source, shard,
        |    COALESCE(CAST(sum(n_seqs) OVER (PARTITION BY source ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS base
        |  FROM (SELECT source, shard, max(local_seq) + 1 AS n_seqs
        |        FROM loc GROUP BY source, shard)),
        |seqs AS (
        |  SELECT l.source, CAST(b.base + l.local_seq AS BIGINT) AS seq_id,
        |    CAST(sum(l.n_tok) AS BIGINT) AS seq_tokens
        |  FROM loc l JOIN bases b ON l.source = b.source AND l.shard = b.shard
        |  GROUP BY l.source, seq_id)
        |SELECT source, count(*) AS n_seqs, CAST(sum(seq_tokens) AS BIGINT) AS total_tok,
        |  max(seq_tokens) AS max_seq_tok, min(seq_tokens) AS min_seq_tok,
        |  CAST(count(*) * 256 AS BIGINT) AS capacity,
        |  CAST((CAST(sum(seq_tokens) AS BIGINT) * 10000) // (count(*) * 256) AS BIGINT) AS fill_bp
        |FROM seqs GROUP BY source ORDER BY source""".stripMargin,

    // the dialogue string must match byte-for-byte: same role#payload
    // line construction, chr(10) separator, (ts, event_id) turn order
    "q_chat_flatten" ->
      """SELECT user_id AS conv_id, count(*) AS n_turns,
        |  string_agg(event_type || '#' || json_extract_string(props, '$.k'),
        |    chr(10) ORDER BY ts, event_id) AS dialogue,
        |  CAST(len(string_agg(event_type || '#' || json_extract_string(props, '$.k'),
        |    chr(10) ORDER BY ts, event_id)) AS BIGINT) AS n_chars
        |FROM events GROUP BY user_id ORDER BY conv_id""".stripMargin,

    // same character weights; trainable roles = purchase/click;
    // integer basis points
    "q_chat_loss_mask" ->
      """WITH w AS (
        |  SELECT user_id AS conv_id, event_type,
        |    CAST(len(event_type || '#' || json_extract_string(props, '$.k')) AS BIGINT) AS w
        |  FROM events)
        |SELECT conv_id, CAST(sum(w) AS BIGINT) AS n_tok_total,
        |  CAST(sum(CASE WHEN event_type IN ('purchase','click') THEN w ELSE 0 END) AS BIGINT)
        |    AS n_tok_trainable,
        |  CAST(((sum(w) - sum(CASE WHEN event_type IN ('purchase','click') THEN w ELSE 0 END))
        |    * 10000) // sum(w) AS BIGINT) AS mask_bp
        |FROM w GROUP BY conv_id ORDER BY conv_id""".stripMargin,

    // same exact-jaccard pair set as the minhash oracle; the sweep is
    // a 4-row spine against it — thresholds forced to DOUBLE so the
    // output types (and the ≥ comparisons) match the engine bit-exactly
    "q_dedup_threshold_sweep" ->
      s"""WITH $gramIndexCte,
        |p AS (SELECT doc_a, doc_b, jaccard FROM jpairs WHERE jaccard >= 0.8),
        |th(threshold) AS (VALUES (CAST(0.80 AS DOUBLE)), (CAST(0.85 AS DOUBLE)),
        |                         (CAST(0.90 AS DOUBLE)), (CAST(0.95 AS DOUBLE))),
        |agg AS (
        |  SELECT t.threshold, count(*) AS n_pairs,
        |    count(DISTINCT p.doc_b) AS n_docs_b
        |  FROM th t JOIN p ON p.jaccard >= t.threshold
        |  GROUP BY t.threshold)
        |SELECT th.threshold,
        |  CAST(coalesce(agg.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(coalesce(agg.n_docs_b, 0) AS BIGINT) AS n_docs_b
        |FROM th LEFT JOIN agg USING (threshold) ORDER BY th.threshold""".stripMargin,

    // same 8-gram construction as the decontaminate oracles, keyed by
    // source; uniqueness = gram appears in exactly one source
    "q_text_gram_novelty" ->
      """WITH g AS (
        |  SELECT source,
        |    list_distinct([array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)]) AS grams
        |  FROM (SELECT source,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |        FROM documents)
        |  WHERE len(w) >= 8),
        |sg AS (SELECT DISTINCT source, gram
        |       FROM (SELECT source, unnest(grams) AS gram FROM g)),
        |ns AS (SELECT gram, count(*) AS n_src FROM sg GROUP BY gram)
        |SELECT sg.source, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN ns.n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  CAST((sum(CASE WHEN ns.n_src = 1 THEN 1 ELSE 0 END) * 10000)
        |    // count(*) AS BIGINT) AS unique_bp
        |FROM sg JOIN ns USING (gram)
        |GROUP BY sg.source ORDER BY sg.source""".stripMargin,

    // identical pure-integer budget arithmetic (uniform 2×-corpus
    // split, repeat factor in hundredths capped at 400)
    "q_train_repeat_epochs" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '\W+'),
        |      x -> len(x) > 0))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total,
        |               count(*) AS n_sources FROM per)
        |SELECT source, n_tok,
        |  CAST((2 * total) // n_sources AS BIGINT) AS target_tok,
        |  CAST(least(400, (((2 * total) // n_sources) * 100) // n_tok) AS BIGINT) AS repeat_x100,
        |  CAST((n_tok * least(400, (((2 * total) // n_sources) * 100) // n_tok)) // 100 AS BIGINT) AS planned_tok
        |FROM per, tot ORDER BY source""".stripMargin,

    "q_text_tfidf_pairs" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE source = 'src0'),
        |n AS (SELECT count(*) AS nd FROM d),
        |t AS (
        |  SELECT doc_id, w AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                             x -> len(x) > 0)) AS w
        |        FROM d)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS dfreq FROM t GROUP BY 1),
        |w AS (
        |  SELECT doc_id, t.term, tf * ln(CAST(nd AS DOUBLE) / dfreq) AS wt
        |  FROM t JOIN df USING (term), n
        |  WHERE dfreq * 5 < nd * 4),
        |nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY 1),
        |dt AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wt * b.wt) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dot / (na.nrm * nb.nrm) AS cos
        |FROM dt
        |JOIN nrm na ON dt.doc_a = na.doc_id
        |JOIN nrm nb ON dt.doc_b = nb.doc_id
        |ORDER BY cos DESC, doc_a, doc_b LIMIT 10""".stripMargin,

    "q_text_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |        FROM documents WHERE source = 'src0'))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        |FROM g a, g b
        |WHERE a.doc_id < b.doc_id
        |  AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_sim_ann" ->
      s"""SELECT p.vec_id AS probe_id,
         |  max(${duckCos("p.embedding", "c.embedding")}) AS exact_top1_cos,
         |  TRUE AS ann_ok
         |FROM embeddings p, embeddings c
         |WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
         |GROUP BY p.vec_id ORDER BY probe_id""".stripMargin,

    "q_sim_ann_multiprobe" ->
      s"""SELECT p.vec_id AS probe_id,
         |  max(${duckCos("p.embedding", "c.embedding")}) AS exact_top1_cos,
         |  TRUE AS ann_ok
         |FROM embeddings p, embeddings c
         |WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
         |GROUP BY p.vec_id ORDER BY probe_id""".stripMargin,

    "q_sim_ivf" ->
      s"""SELECT p.vec_id AS probe_id,
         |  max(${duckCos("p.embedding", "c.embedding")}) AS exact_top1_cos,
         |  TRUE AS ivf_ok
         |FROM embeddings p, embeddings c
         |WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
         |GROUP BY p.vec_id ORDER BY probe_id""".stripMargin,

    "q_sim_ivf_pq" ->
      s"""SELECT p.vec_id AS probe_id,
         |  max(${duckCos("p.embedding", "c.embedding")}) AS exact_top1_cos,
         |  TRUE AS pq_ok
         |FROM embeddings p, embeddings c
         |WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
         |GROUP BY p.vec_id ORDER BY probe_id""".stripMargin,

    // exhaustive probing + the label pre-filter → exact brute force
    // over the eligible (label = 3) corpus
    "q_sim_filtered_ann" ->
      s"""SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id AND c.label = 3)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // exhaustive probing → the knn join equals brute force per probe
    "q_sim_knn_join" ->
      s"""SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id % 10 = 1 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // exhaustive probing → the radius cut is an exact threshold join
    "q_sim_range_search" ->
      s"""SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |  ${duckCos("p.embedding", "c.embedding")} AS cos
         |FROM embeddings p, embeddings c
         |WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
         |  AND ${duckCos("p.embedding", "c.embedding")} >= 0.3
         |ORDER BY probe_id, neighbor_id""".stripMargin,

    "q_text_faceted_search" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2),
        |hits AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
        |         FROM tf GROUP BY doc_id HAVING count(*) = 3)
        |SELECT d.source, d.lang, count(*) AS n_hits,
        |  CAST(sum(h.total_tf) AS BIGINT) AS facet_tf
        |FROM hits h JOIN documents d ON h.doc_id = d.doc_id
        |GROUP BY d.source, d.lang
        |ORDER BY d.source, d.lang""".stripMargin,

    // positions via the zipped unnest (0-based range — the same
    // coordinates as Spark's posexplode); window membership replayed
    // as the start×occupant join; best window = most hits, earliest
    // start
    "q_text_snippet" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS w,
        |               unnest(range(len(toks))) AS pos FROM d),
        |m AS (SELECT doc_id, w, pos FROM tok
        |      WHERE w IN ('hash', 'merge', 'vector')),
        |full_docs AS (SELECT doc_id FROM m GROUP BY doc_id
        |              HAVING count(DISTINCT w) = 3),
        |wnd AS (
        |  SELECT a.doc_id, a.pos AS start, count(*) AS n_hits
        |  FROM m a
        |  JOIN m b ON a.doc_id = b.doc_id
        |          AND b.pos >= a.pos AND b.pos < a.pos + 8
        |  JOIN full_docs f ON f.doc_id = a.doc_id
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, start, n_hits,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY n_hits DESC, start ASC) AS rn FROM wnd)
        |SELECT doc_id, CAST(start AS BIGINT) AS snip_start,
        |       CAST(n_hits AS BIGINT) AS snip_hits
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_forget" ->
      """SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
        |  TRUE AS forget_ok
        |FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |WHERE d.doc_id % 17 <> 0
        |GROUP BY d.source
        |ORDER BY d.source""".stripMargin,

    "q_text_fingerprint" ->
      """SELECT doc_id, greatest(len(text) - 6, 0) AS n_grams,
        |       TRUE AS density_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_embed_quantize" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs,
        |    embedding
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, max_abs,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5) AS BIGINT)) AS qv
        |  FROM q WHERE max_abs > 0)
        |SELECT vec_id, max_abs,
        |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS qsum,
        |  qv[1] AS q0,
        |  (list_max(qv) <= 127 AND list_min(qv) >= -127) AS in_range
        |FROM qq ORDER BY vec_id""".stripMargin,

    // Full two-stage replication: same quantization, same integer dot,
    // same fixed-association approx score, same two cuts.
    "q_sim_rerank" ->
      s"""WITH m AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
         |      AS max_abs
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id, embedding, max_abs,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5)
         |           AS DOUBLE)) AS qv
         |  FROM m WHERE max_abs > 0),
         |s AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    list_dot_product(p.qv, c.qv) * p.max_abs * c.max_abs / 16129.0
         |      AS approx,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos
         |  FROM q p, q c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |cand AS (
         |  SELECT probe_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY approx DESC, neighbor_id ASC) AS crank
         |  FROM s)
         |SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT probe_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM cand WHERE crank <= 50)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_sim_label_knn" ->
      s"""WITH knn AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY p.vec_id
         |        ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC,
         |          c.vec_id ASC) AS rank
         |    FROM embeddings p, embeddings c
         |    WHERE p.vec_id < 10 AND c.vec_id >= 10)
         |  WHERE rank <= 5),
         |votes AS (
         |  SELECT k.probe_id, c.label, count(*) AS votes
         |  FROM knn k JOIN embeddings c ON k.neighbor_id = c.vec_id
         |  GROUP BY 1, 2),
         |win AS (
         |  SELECT probe_id, label AS pred_label, votes AS n_votes FROM (
         |    SELECT probe_id, label, votes,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY votes DESC, label ASC) AS rn
         |    FROM votes) WHERE rn = 1)
         |SELECT w.probe_id, w.pred_label, CAST(w.n_votes AS BIGINT) AS n_votes,
         |  p.label AS true_label, w.pred_label = p.label AS correct
         |FROM win w JOIN embeddings p ON w.probe_id = p.vec_id
         |ORDER BY w.probe_id""".stripMargin,

    // merged-shard IVF probed exhaustively = brute force over the
    // union corpus
    "q_sim_ivf_merge" ->
      s"""SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_sim_matryoshka" ->
      s"""WITH tr AS (
         |  SELECT vec_id, embedding, embedding[1:16] AS te
         |  FROM embeddings
         |  WHERE list_aggregate(list_transform(embedding[1:16],
         |    x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum') > 0),
         |s AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.te", "c.te")} AS coarse,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos
         |  FROM tr p, tr c WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id),
         |cand AS (
         |  SELECT probe_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY coarse DESC, neighbor_id ASC) AS crank
         |  FROM s)
         |SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT probe_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM cand WHERE crank <= 50)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_sim_topk" ->
      s"""SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // nProbes = nCentroids makes the incremental-IVF search exhaustive
    // over the (fit-half ∪ appended-half) lists = the whole corpus, so
    // the exact brute-force oracle applies verbatim
    "q_sim_ivf_incremental" ->
      s"""SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // streamed-ingest IVF probed exhaustively = the whole corpus: the
    // same exact brute-force oracle; multi_batch is the engine-side
    // proof the ingest actually arrived in ≥3 paced micro-batches
    "q_stream_ivf_ingest" ->
      s"""SELECT probe_id, rank, neighbor_id, cos, true AS multi_batch FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // auto-repair composition: mid-stream rebalances move rows but
    // never change the answer — exhaustive probing over the final
    // live generation = the same exact brute-force top-5; the two
    // booleans are the engine-side advisory⇔repair proof
    "q_stream_ivf_autorepair" ->
      s"""SELECT probe_id, rank, neighbor_id, cos,
         |  true AS repair_loop_ok, true AS advisory_clean FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // the SQL TVF's exhaustive search with the rank<=3 SQL filter on
    // top = brute-force top-3 exactly
    "q_sql_ann" ->
      s"""SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // CDC-synced IVF probed exhaustively = brute force over the v3
    // live state (updates applied, deletes gone) — the oracle
    // recomputes the re-embedding (reverse) and the erasure directly
    "q_sim_ivf_cdc" ->
      s"""WITH live AS (
         |  SELECT vec_id,
         |    CASE WHEN vec_id % 11 = 0 THEN list_reverse(embedding)
         |         ELSE embedding END AS embedding
         |  FROM embeddings WHERE vec_id % 13 <> 0)
         |SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, live c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // deleted-IVF probed exhaustively = brute force over the REMAINING
    // corpus; purged/compact_identical are engine-side invariants
    "q_sim_ivf_delete" ->
      s"""SELECT probe_id, rank, neighbor_id, cos,
         |  true AS purged, true AS compact_identical FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id % 7 <> 0 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // rebalanced IVF probed exhaustively over the LIVE centroid set =
    // the whole corpus moved exactly once: same exact oracle;
    // rebalance_ok is the engine-side max-list-shrank proof
    "q_sim_ivf_rebalance" ->
      s"""SELECT probe_id, rank, neighbor_id, cos, true AS rebalance_ok FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_sim_ivf_skew" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_live,
        |  CAST(12500 AS BIGINT) AS factor_bp,
        |  true AS skew_consistent, true AS progress_ok
        |FROM embeddings""".stripMargin,

    "q_sim_recall_curve" ->
      s"""SELECT probe_id, rank, neighbor_id, cos,
         |  true AS recall_monotone_ok, true AS exhaustive_exact FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "q_sim_topk_agg" ->
      s"""SELECT probe_id, rank, neighbor_id, cos FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    ${duckCos("p.embedding", "c.embedding")} AS cos,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id)
         |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // exhaustive probing both directions → the mined set is the exact
    // margin pipeline over brute-force kNN: mutual top-4, ratio margin,
    // threshold, per-src best (ties → lowest tgt id). The planted
    // translations re-derive from the same arithmetic jitter (DuckDB
    // lambda index j is 1-based, hence j - 1).
    "q_sim_bitext_mining" -> duckBitextMining(""),

    "q_sim_bitext_recall" -> duckBitextMining(
      ", TRUE AS exhaustive_recall_ok, TRUE AS pruned_recall_ok"),

    "q_text_langid" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN regexp_matches(lower(text), '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |    WHEN greatest(en, es, fr, de) = 0 THEN 'und'
        |    WHEN en = greatest(en, es, fr, de) THEN 'en'
        |    WHEN de = greatest(en, es, fr, de) THEN 'de'
        |    WHEN fr = greatest(en, es, fr, de) THEN 'fr'
        |    ELSE 'es' END AS pred_lang
        |FROM (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('the','and','of','is','to'))) AS en,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('el','la','los','que','y'))) AS es,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('le','la','les','et','est'))) AS fr,
        |    len(list_filter(string_split_regex(lower(text), '\W+'), t -> t IN ('der','die','das','und','ist'))) AS de
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """SELECT doc_id,
        |  length(text) AS n_chars_actual,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
        |  CASE WHEN len(toks) = 0 THEN 0.0
        |       ELSE CAST(len(list_filter(toks, t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','at','by','be','this'))) AS DOUBLE) / len(toks) END AS stop_ratio,
        |  round((
        |    CASE WHEN length(text) BETWEEN 100 AND 10000 THEN 1.0
        |         WHEN length(text) < 100 THEN CAST(length(text) AS DOUBLE) / 100.0
        |         ELSE 0.5 END
        |    + greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) / length(text) END) * 5.0)
        |    + CASE WHEN nw = 0 THEN 0.3
        |           WHEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / nw BETWEEN 2.0 AND 12.0 THEN 1.0
        |           ELSE 0.3 END
        |  ) / 3.0, 6) AS quality
        |FROM (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS nw
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_text_tokens" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_words,
        |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_tokens_est,
        |  n_chars = length(text) AS chars_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_dataset_card" ->
      """SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0))) AS BIGINT) AS total_words,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  avg(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0))) AS avg_words,
        |  CAST(max(len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0))) AS BIGINT) AS max_words,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // vocab rank is fully ordered (count desc, token asc), so the
    // top-256 set and every id agree across engines exactly
    "q_text_vocab_encode" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
        |  FROM documents),
        |flat AS (SELECT doc_id, unnest(toks) AS w FROM tok),
        |cnt AS (SELECT w, count(*) AS n FROM flat GROUP BY w),
        |vocab AS (
        |  SELECT w, row_number() OVER (ORDER BY n DESC, w ASC) AS id
        |  FROM cnt ORDER BY n DESC, w ASC LIMIT 256),
        |enc AS (
        |  SELECT f.doc_id,
        |    CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |    CAST(sum(coalesce(v.id, 0)) AS BIGINT) AS ids_sum
        |  FROM flat f LEFT JOIN vocab v ON f.w = v.w GROUP BY f.doc_id),
        |fw AS (
        |  SELECT t.doc_id,
        |    CASE WHEN len(t.toks) = 0 THEN CAST(-1 AS BIGINT)
        |         ELSE CAST(coalesce(v.id, 0) AS BIGINT) END AS first_id
        |  FROM tok t LEFT JOIN vocab v ON t.toks[1] = v.w)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
        |  coalesce(e.n_oov, CAST(0 AS BIGINT)) AS n_oov,
        |  coalesce(e.ids_sum, CAST(0 AS BIGINT)) AS ids_sum,
        |  fw.first_id
        |FROM tok t LEFT JOIN enc e USING (doc_id) JOIN fw USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q_text_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |dt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT tok, sum(c) AS cnt FROM dt GROUP BY 1),
        |tot AS (SELECT sum(cnt) AS n_corpus, count(*) AS v_size FROM vocab)
        |SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_tok,
        |  sum(d.c * -ln((v.cnt + 0.5) / (t.n_corpus + 0.5 * t.v_size)))
        |    / sum(d.c) AS avg_nll,
        |  exp(sum(d.c * -ln((v.cnt + 0.5) / (t.n_corpus + 0.5 * t.v_size)))
        |    / sum(d.c)) AS ppl
        |FROM dt d JOIN vocab v USING (tok), tot t
        |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    "q_text_keyphrase" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |      x -> len(x) > 0)) AS term
        |  FROM documents),
        |dt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rank, term, tf, df, score FROM (
        |  SELECT d.doc_id, d.term, d.tf, f.df,
        |    d.tf * ln((t.n_docs + 1.0) / (f.df + 1.0)) AS score,
        |    row_number() OVER (PARTITION BY d.doc_id
        |      ORDER BY d.tf * ln((t.n_docs + 1.0) / (f.df + 1.0)) DESC,
        |        d.term ASC) AS rank
        |  FROM dt d JOIN dfc f USING (term), tot t
        |  WHERE d.doc_id < 100)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_text_bigram_lm" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
        |  FROM w),
        |dbg AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |bgc AS (SELECT bg, sum(c) AS c_bg FROM dbg GROUP BY 1),
        |ctx AS (SELECT string_split(bg, ' ')[1] AS ctx, sum(c_bg) AS c_ctx
        |        FROM bgc GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v_size FROM (
        |        SELECT unnest(w) AS tok FROM w))
        |SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_bigrams,
        |  sum(d.c * -ln((b.c_bg + 0.5) / (x.c_ctx + 0.5 * v.v_size)))
        |    / sum(d.c) AS avg_nll,
        |  exp(sum(d.c * -ln((b.c_bg + 0.5) / (x.c_ctx + 0.5 * v.v_size)))
        |    / sum(d.c)) AS ppl
        |FROM dbg d JOIN bgc b USING (bg)
        |  JOIN ctx x ON string_split(d.bg, ' ')[1] = x.ctx, v
        |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin,

    "q_pii_scan" ->
      """WITH p AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ' reach user' || doc_id || '@example.org' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' call 555-867-5309' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' host 10.0.' || (doc_id % 256) || '.17' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' card 4111111111111111' ELSE '' END AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_email,
        |  CAST(len(regexp_extract_all(txt, '\d{3}-\d{3}-\d{4}')) AS BIGINT)
        |    AS n_phone,
        |  CAST(len(regexp_extract_all(txt,
        |    '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(txt, '\d{16}')) AS BIGINT) AS n_pan,
        |  CASE WHEN len(regexp_extract_all(txt, '\d{16}')) > 0 THEN 'high'
        |       WHEN len(regexp_extract_all(txt,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |         + len(regexp_extract_all(txt, '\d{3}-\d{3}-\d{4}')) > 0
        |         THEN 'medium'
        |       WHEN len(regexp_extract_all(txt,
        |         '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) > 0 THEN 'low'
        |       ELSE 'none' END AS severity
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_text_top_ngrams" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |e AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS gram
        |  FROM w)
        |SELECT gram, count(*) AS doc_freq FROM e
        |GROUP BY gram ORDER BY doc_freq DESC, gram ASC LIMIT 20""".stripMargin,

    "q_text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS gram
        |  FROM w),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM e GROUP BY doc_id, gram)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
        |  1.0 - CAST(count(*) AS DOUBLE) / sum(n) AS rep_ratio,
        |  CAST(max(n) AS DOUBLE) / sum(n) AS top_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tok
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM toks)
        |SELECT source, CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS seq_tokens, min(doc_id) AS first_doc
        |FROM cum GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin,

    "q_text_pack_sharded" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)) AS n_tok,
        |    CAST(floor(doc_id / 200) AS BIGINT) AS shard
        |  FROM documents),
        |loc AS (
        |  SELECT doc_id, source, shard, n_tok,
        |    CAST(floor((CAST(sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tok) / 256.0) AS BIGINT) AS local_seq
        |  FROM toks),
        |bases AS (
        |  SELECT source, shard,
        |    COALESCE(CAST(sum(n_seqs) OVER (PARTITION BY source ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS base
        |  FROM (SELECT source, shard, max(local_seq) + 1 AS n_seqs
        |        FROM loc GROUP BY source, shard))
        |SELECT l.source, CAST(b.base + l.local_seq AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(l.n_tok) AS BIGINT) AS seq_tokens,
        |  min(l.doc_id) AS first_doc
        |FROM loc l JOIN bases b ON l.source = b.source AND l.shard = b.shard
        |GROUP BY l.source, seq_id ORDER BY l.source, seq_id""".stripMargin,

    "q_text_line_dedup" ->
      """WITH segs AS (
        |  SELECT doc_id,
        |    unnest(string_split(s, ' | ')) AS seg,
        |    unnest(range(len(string_split(s, ' | ')))) AS pos
        |  FROM (SELECT doc_id,
        |          text || ' | ' || substring(text, 1, 50) || ' | ' || substring(text, 1, 50) AS s
        |        FROM documents))
        |SELECT doc_id, string_agg(seg, ' | ' ORDER BY pos) AS dedup_text
        |FROM (SELECT doc_id, seg, pos,
        |        row_number() OVER (PARTITION BY doc_id, seg ORDER BY pos) AS rn
        |      FROM segs)
        |WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      'contact john.doe+spam@example-mail.com then ' || substring(text, 1, 60)
        |        || ' or call 555-123-4567 x' || doc_id,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct([array_to_string(w[i:i+7], ' ') FOR i IN range(1, len(w) - 6)])) AS gram
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w
        |        FROM documents)
        |  WHERE len(w) >= 8),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |cont AS (SELECT DISTINCT doc_id FROM g
        |         WHERE doc_id % 50 <> 0 AND gram IN (SELECT gram FROM bench))
        |SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM cont) AS contaminated
        |FROM documents d WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""".stripMargin,

    // exact bigram-jaccard between every (train, bench) doc pair via
    // the shared inverted-index CTE; the prefix-filtered cross join
    // must reproduce it verbatim (completeness has no recall term)
    "q_text_decontaminate_fuzzy" ->
      s"""WITH $gramIndexCte
         |SELECT CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_id,
         |  CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS bench_id,
         |  jaccard
         |FROM jpairs
         |WHERE jaccard >= 0.8 AND ((doc_a % 10 = 0) <> (doc_b % 10 = 0))
         |ORDER BY doc_id, bench_id""".stripMargin,

    // identical one-shot oracle as q_text_decontaminate_fuzzy: per-
    // batch completeness means the union of batch checks reproduces it
    "q_decontaminate_incremental" ->
      s"""WITH $gramIndexCte
         |SELECT CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_id,
         |  CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS bench_id,
         |  jaccard
         |FROM jpairs
         |WHERE jaccard >= 0.8 AND ((doc_a % 10 = 0) <> (doc_b % 10 = 0))
         |ORDER BY doc_id, bench_id""".stripMargin,

    // exact threshold join over the replanted benchmark side: every
    // corpus × test cosine is scored, flagged rows keep their best
    // match (ties → lowest test id)
    "q_decontaminate_semantic" ->
      s"""WITH tests AS (
         |  SELECT vec_id // 20 AS test_id,
         |    list_transform(embedding, (x, j) -> CAST(CAST(x AS DOUBLE)
         |      + ((vec_id * 31 + (j - 1) * 7) % 1000 - 500) / 100000.0 AS FLOAT)) AS tv
         |  FROM embeddings WHERE vec_id % 20 = 0),
         |sc AS (
         |  SELECT c.vec_id, t.test_id, ${duckCos("c.embedding", "t.tv")} AS cos
         |  FROM embeddings c, tests t
         |  WHERE ${duckCos("c.embedding", "t.tv")} >= 0.95)
         |SELECT vec_id, test_id, cos FROM (
         |  SELECT vec_id, test_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, test_id ASC) AS rn
         |  FROM sc) WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the union of per-batch gate checks equals the one-shot check
    // (fixed benchmark ⇒ batch independence); booleans engine-measured
    "q_stream_decontaminate" ->
      s"""WITH tests AS (
         |  SELECT vec_id // 20 AS test_id,
         |    list_transform(embedding, (x, j) -> CAST(CAST(x AS DOUBLE)
         |      + ((vec_id * 31 + (j - 1) * 7) % 1000 - 500) / 100000.0 AS FLOAT)) AS tv
         |  FROM embeddings WHERE vec_id % 20 = 0),
         |sc AS (
         |  SELECT c.vec_id, t.test_id, ${duckCos("c.embedding", "t.tv")} AS cos
         |  FROM embeddings c, tests t
         |  WHERE ${duckCos("c.embedding", "t.tv")} >= 0.95)
         |SELECT vec_id, test_id, cos, true AS multi_batch,
         |  true AS conservation_ok FROM (
         |  SELECT vec_id, test_id, cos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, test_id ASC) AS rn
         |  FROM sc) WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q_text_bpe_train" -> duckBpe(6),

    "q_text_bpe_encode" -> duckBpeEncode(6),

    "q_text_bpe_apply" -> duckBpeApply(6, "doc_id % 2 = 0"),

    "q_text_classifier_filter" -> duckLogReg(64, 15, 0.05, 0.9),

    "q_text_classifier_score" -> duckLogRegScore(64, 15, 0.05, 0.9, "doc_id % 2 = 0"),

    "q_text_classifier_minibatch" -> duckLogReg(64, 15, 0.05, 0.9, "true", 4),

    "q_stream_classifier_gate" -> duckLogRegScore(64, 15, 0.05, 0.9,
      "doc_id % 2 = 0", ",\n  TRUE AS multi_batch, TRUE AS conservation_ok"),

    "q_sql_cosine" ->
      s"""SELECT a.vec_id AS vid, ${duckCos("a.embedding", "b.embedding")} AS cos
         |FROM embeddings a JOIN embeddings b ON b.vec_id = 0
         |ORDER BY vid""".stripMargin,

    "q_multimodal_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames,
        |  md5(text) AS checksum
        |FROM documents ORDER BY doc_id""".stripMargin,

    // resized = bytes at positions 0,4,8,… — the regexp keeps the first
    // char of each ≤4-char run ('s' so '.' crosses newlines); md5 over
    // the resampled string equals md5 over the resampled bytes because
    // the corpus is pure ASCII (verified: 0 multibyte docs at all SFs)
    "q_multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT) AS n_resized,
        |  md5(regexp_replace(text, '(.).{0,3}', '\1', 'gs')) AS resized_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the engine decodes REAL PNGs; the oracle re-derives the resized
    // pixels from the bitmap's closed-form channel formulas
    // (r=(7x+13y+id)%256, g=(3x+id)%256, b=(5y+id)%256 at source
    // coords (2x, 2y)) — value equality proves the decode+resample
    "q_multimodal_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(32 + doc_id % 16 AS BIGINT) AS w,
        |         CAST(24 + doc_id % 8 AS BIGINT) AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, unnest(range(w // 2)) AS x FROM dims),
        |pxy AS (SELECT doc_id, w, h, x, unnest(range(h // 2)) AS y FROM px)
        |SELECT doc_id,
        |  CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
        |  CAST(w // 2 AS INTEGER) AS dst_w, CAST(h // 2 AS INTEGER) AS dst_h,
        |  CAST(sum((2*x*7 + 2*y*13 + doc_id) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((2*x*3 + doc_id) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((2*y*5 + doc_id) % 256) AS BIGINT) AS sum_b
        |FROM pxy GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin,

    // sampled frames = indices 0,2,4,…; each 256 bytes except a partial
    // last frame (index n_frames-1), which is sampled iff its index is
    // even — subtract the shortfall in exactly that case
    "q_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, octet_length(encode(text)) AS nb,
        |    CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(ceil(n_frames / 2.0) AS BIGINT) AS n_sampled,
        |  CAST(ceil(n_frames / 2.0) * 256
        |    - CASE WHEN (n_frames - 1) % 2 = 0 AND nb % 256 <> 0
        |           THEN 256 - nb % 256 ELSE 0 END AS BIGINT) AS sampled_bytes
        |FROM f WHERE n_frames > 0 ORDER BY doc_id""".stripMargin,

    "q_multimodal_roundtrip" ->
      """SELECT doc_id, 32 AS n_bytes, 1 AS n_frames,
        |       sha256(text) AS payload_hex
        |FROM documents ORDER BY doc_id""".stripMargin
  ) ++ Map(
    // centroid: per-dimension mean, positional unnest (lockstep)
    // v2 recomputed from the deterministic re-embedding (list_reverse
    // for vec_id % 11 = 0); centroids as per-dimension double avgs,
    // drift as the cosine of the two centroid vectors
    "q_embedding_drift" ->
      """WITH v1 AS (
        |  SELECT label, pos, avg(v) AS c1
        |  FROM (SELECT label, unnest(range(len(embedding))) AS pos,
        |          CAST(unnest(embedding) AS DOUBLE) AS v
        |        FROM embeddings)
        |  GROUP BY 1, 2),
        |src2 AS (
        |  SELECT label,
        |    CASE WHEN vec_id % 11 = 0 THEN list_reverse(embedding)
        |         ELSE embedding END AS embedding
        |  FROM embeddings),
        |v2 AS (
        |  SELECT label, pos, avg(v) AS c2
        |  FROM (SELECT label, unnest(range(len(embedding))) AS pos,
        |          CAST(unnest(embedding) AS DOUBLE) AS v
        |        FROM src2)
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT v1.label, sum(c1 * c2) AS dot,
        |    sum(c1 * c1) AS s1, sum(c2 * c2) AS s2
        |  FROM v1 JOIN v2 ON v1.label = v2.label AND v1.pos = v2.pos
        |  GROUP BY 1),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT j.label, n.n_vecs, dot / (sqrt(s1) * sqrt(s2)) AS drift_cos
        |FROM j JOIN n USING (label) ORDER BY label""".stripMargin,

    // the q_text_bm25 replay over the PIN-TIME corpus state (documents
    // minus the pre-pin %17 deletes) — post-pin mutations and layout
    // maintenance must be invisible to the pinned ranking
    "q_text_bm25_asof" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\W+'), t -> len(t) > 0) AS toks
        |  FROM documents WHERE doc_id % 17 <> 3),
        |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
        |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
        |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
        |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
        |df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w)
        |SELECT tf.doc_id,
        |  sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))) AS score,
        |  TRUE AS ranking_stable
        |FROM tf, df, s WHERE tf.w = df.w
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // the q_hybrid_search_rrf replay over the PIN-TIME corpus: both
    // legs recomputed from documents/embeddings minus the pre-pin %17
    // deletes — post-pin mutation and all layout maintenance on both
    // indexes must be invisible to the fused pinned ranking
    "q_hybrid_asof" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '\\W+'), t -> len(t) > 0) AS toks
         |  FROM documents WHERE doc_id % 17 <> 3),
         |l AS (SELECT doc_id, len(toks) AS dl, toks FROM d),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM l),
         |tok AS (SELECT doc_id, dl, unnest(toks) AS w FROM l),
         |tf AS (SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf FROM tok
         |       WHERE w IN ('hash', 'merge', 'vector') GROUP BY 1, 2, 3),
         |dfs AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
         |bm_scores AS (
         |  SELECT tf.doc_id,
         |    sum(ln((st.n_docs - dfs.df + 0.5) / (dfs.df + 0.5) + 1)
         |        * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
         |  FROM tf, dfs, st WHERE tf.w = dfs.w GROUP BY tf.doc_id),
         |bm AS (SELECT doc_id, trank FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS trank
         |  FROM bm_scores) WHERE trank <= 50),
         |vr AS (SELECT probe_id, neighbor_id, vrank FROM (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY ${duckCos("p.embedding", "c.embedding")} DESC, c.vec_id ASC) AS vrank
         |  FROM embeddings p, embeddings c
         |  WHERE p.vec_id < 5 AND c.vec_id <> p.vec_id
         |    AND c.vec_id % 17 <> 3) WHERE vrank <= 50),
         |contrib AS (
         |  SELECT probes.probe_id, bm.doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + bm.trank AS DOUBLE) AS c
         |  FROM (SELECT vec_id AS probe_id FROM embeddings WHERE vec_id < 5) probes, bm
         |  UNION ALL
         |  SELECT probe_id, neighbor_id AS doc_id,
         |    CAST(1 AS DOUBLE) / CAST(60 + vrank AS DOUBLE) AS c FROM vr),
         |fused AS (SELECT probe_id, doc_id, sum(c) AS rrf FROM contrib GROUP BY 1, 2)
         |SELECT probe_id, rank, doc_id, rrf, TRUE AS fused_stable FROM (
         |  SELECT probe_id, doc_id, rrf,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY rrf DESC, doc_id) AS rank
         |  FROM fused)
         |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,

    // the pin-time state recomputed corpus-side: the pinned corpus is
    // documents ∩ embeddings minus the pre-pin %17 deletes; post-pin
    // mutations and all layout maintenance must be invisible to it
    "q_epoch_retention" ->
      """WITH corpus AS (
        |  SELECT d.doc_id, d.text FROM documents d
        |  JOIN embeddings e ON d.doc_id = e.vec_id
        |  WHERE d.doc_id % 17 <> 3),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\W+'),
        |                       t -> len(t) > 0)) AS w
        |  FROM corpus)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS total_tf,
        |  TRUE AS pinned_stable_text, TRUE AS pinned_stable_vec,
        |  TRUE AS reclaimed
        |FROM tok WHERE w = 'vector'
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_embed_pca" -> duckPca(2, 30),

    "q_dedup_embedding_blocked" ->
      s"""WITH m AS (SELECT max(vec_id) + 1 AS mx FROM embeddings),
         |base0 AS (
         |  SELECT vec_id AS id, embedding AS v FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + (SELECT mx FROM m) AS id,
         |    list_transform(embedding, (x, j) -> CAST(CAST(x AS DOUBLE)
         |      + ((vec_id * 31 + (j - 1) * 7) % 1000 - 500) / 100000.0 AS FLOAT)) AS v
         |  FROM embeddings WHERE vec_id % 15 = 0),
         |base AS (
         |  -- zero-norm vectors are excluded on BOTH sides: the engine
         |  -- drops them before pairing, and an all-pairs cosine here
         |  -- would emit NaN rows for them instead
         |  SELECT id, v FROM base0
         |  WHERE list_aggregate(list_transform(v,
         |    x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), 'sum') > 0)
         |SELECT a.id AS vid_a, b.id AS vid_b, ${duckCos("a.v", "b.v")} AS cos,
         |  TRUE AS blocking_effective, TRUE AS blocking_advised,
         |  3 AS grid_pcs
         |FROM base a JOIN base b ON a.id < b.id
         |WHERE ${duckCos("a.v", "b.v")} >= 0.95
         |ORDER BY vid_a, vid_b""".stripMargin,


    "q_stream_embed_pca" -> duckPca(2, 30,
      ",\n  TRUE AS multi_batch, TRUE AS stream_equals_batch"),

    "q_embed_centroid" ->
      """SELECT label, pos, avg(v) AS v
        |FROM (SELECT label,
        |        unnest(range(len(embedding))) AS pos,
        |        CAST(unnest(embedding) AS DOUBLE) AS v
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin
  )
}
