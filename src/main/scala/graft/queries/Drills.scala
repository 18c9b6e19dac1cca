package graft.queries

import graft.{GraftSession, Tables}
import graft.functions.VectorExpressions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Scaffolding the drills, their stock-Spark controls (`graft.Baseline`)
  * and their audits share: fixtures, artifacts and audit shapes that
  * were written out once per query. Each drill keeps its own verb
  * sequence; only the blocks that were identical across drills live
  * here. The helpers `Baseline` calls use only stock Spark constructs
  * (or, for the planted-dedup audit, exactly what the control already
  * used), so a control stays a stock-Spark control.
  */
private[graft] object Drills {

  /** Cosine of two array columns with stock higher-order functions:
    * double-accumulated dot product over the product of the two norms —
    * the formulation stock Spark offers where graft has the codegen'd
    * `CosineSim` expression.
    */
  def hofCos(a: String, b: String): Column = expr(
    s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
       | / (sqrt(aggregate($a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))
       |    * sqrt(aggregate($b, CAST(0.0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))""".stripMargin)

  /** Stock exact top-`k` cosine search: every (probe, corpus row) pair
    * but the self pair, scored with `hofCos` and cut by a row_number
    * window (cos desc, neighbour id asc). `probes` and `corpus` carry
    * (`vec_id`, `embedding`); returns (`probe_id`, `rank`,
    * `neighbor_id`, `cos`).
    */
  def hofTopK(probes: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("neighbor_vec"))
      .join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos", hofCos("probe_vec", "neighbor_vec"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "cos")
  }

  /** `v` with the fixtures' deterministic arithmetic jitter: element j
    * moves by ((vec_id·31 + j·7) mod 1000 − 500) / 10⁵, at most ±0.005:
    * a planted near-duplicate the DuckDB oracles re-derive with the
    * same arithmetic.
    */
  def jitter(v: Column): Column = transform(v, (x, j) =>
    (x + ((col("vec_id") * 31 + j * 7) % 1000 - 500).cast("double")
      / 100000.0d).cast("float"))

  /** The flat retrieval artifacts a stock user writes for `docs`
    * (`doc_id`, `text`): positional postings (`doc_id`, `term`, `tf`,
    * sorted `positions`) at `path("postings")`, then — with `sidecars` —
    * doc lengths (`doc_id`, `dl`) at `path("doclen")` and term dfs
    * (`term`, `df`) at `path("df")`. Returns the postings path.
    */
  def flatPostings(s: SparkSession, docs: DataFrame, path: String => String,
      sidecars: Boolean = true): String = {
    val post = path("postings")
    val toks = docs.select(col("doc_id"),
      graft.operators.Dedup.tokens(col("text")).as("toks"))
    toks.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .write.mode("overwrite").parquet(post)
    if (sidecars) {
      toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(path("doclen"))
      s.read.parquet(post).groupBy("term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(path("df"))
    }
    post
  }

  /** The frequency-only flat artifacts a stock BM25 serves from:
    * postings (`doc_id`, `term`, `tf`) at `post` and doc lengths
    * (`doc_id`, `dl`) at `dls`.
    */
  def flatTfPostings(docs: DataFrame, post: String, dls: String): Unit = {
    val toks = docs.select(col("doc_id"),
      graft.operators.Dedup.tokens(col("text")).as("toks"))
    toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(post)
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(dls)
  }

  /** Stock BM25 (k1 = 1.2, b = 0.75) of `terms` from flat artifacts:
    * postings with `tf` at `post`, doc lengths at `dls`. Returns
    * (`doc_id`, `score`) for every doc holding a term, unordered.
    */
  def flatBm25(s: SparkSession, post: String, dls: String, terms: Seq[String]): DataFrame = {
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
  }

  /** The derived-oracle audit of an approximate top-5 search: per
    * probe, the exact top-1 cosine (which DuckDB recomputes) and
    * `okCol` — the approximate answer is complete (5 hits) and every
    * rank-r hit is within `maxGap` of the exact rank-r cosine. Both
    * inputs carry (`probe_id`, `rank`, `cos`).
    */
  def top5GapAudit(approx: DataFrame, exact: DataFrame, maxGap: Double,
      okCol: String): DataFrame = {
    val gaps = approx.join(
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
          coalesce(col("max_gap"), lit(1.0)) <= lit(maxGap)).as(okCol))
      .orderBy("probe_id")
  }

  /** Drains `stream` under AvailableNow, handing each micro-batch and
    * its batch id to `perBatch`; returns how many micro-batches carried
    * rows.
    */
  def drainBatches(stream: DataFrame)(perBatch: (DataFrame, Long) => Unit): Int = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) => perBatch(batch, bid) }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.count(_.numInputRows > 0)
  }

  /** `Tables.scratch(name)`, emptied first. Scratch paths are
    * per-JVM-stable, so a prior run of the same drill in the SAME JVM
    * (bench warm-up pass, min-of-2 retime) leaves live epochs pinning
    * files the rebuilt indexes no longer hold — the maintenance verbs
    * would then over-retain against a dead incarnation's pins (and the
    * drill would no longer measure a single-epoch stack).
    */
  def freshEpochRoot(s: SparkSession, name: String): String = {
    val root = Tables.scratch(name)
    GraftSession.fsOf(s, root).delete(new org.apache.hadoop.fs.Path(root), true)
    root
  }

  /** Write `df` to `path` once and return the read-back, so an audit
    * and the deliverable consume one materialized answer instead of
    * re-running its plan per consumer.
    */
  def materialize(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Row-multiset equality: both `exceptAll` directions are empty. */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The planted near-duplicate audit of the semantic-dedup drills:
    * every 10th embedding re-enters under a fresh id with a
    * deterministic ±0.005/element jitter, `dedup` runs over the union,
    * and the output reports the corpus and planted counts plus
    * `precision_ok` (every removal's exact cosine to its `dup_of` is
    * ≥ 0.99 with `dup_of` < `vec_id`) and `recall_ok` (≥ 90% of the
    * planted clones removed). `dedup` returns (`vec_id`, `dup_of`).
    */
  def plantedSemanticDedup(emb: DataFrame, dedup: DataFrame => DataFrame): DataFrame = {
    // coalesce: max() is NULL on an empty corpus (the B.9 empty-net rule)
    val maxId = emb.agg(coalesce(max("vec_id"), lit(-1L))).head.getLong(0) + 1
    val planted = emb.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + maxId)
      .withColumn("embedding", transform(col("embedding"), (x, j) =>
        (x + (pmod(hash(col("vec_id"), j), lit(1000)) - 500)
          .cast("double") / 100000.0d).cast("float")))
    val corpus = emb.unionByName(planted).localCheckpoint()
    val removed = dedup(corpus).localCheckpoint()
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
  }
}
