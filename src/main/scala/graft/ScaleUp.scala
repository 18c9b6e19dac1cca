package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesize a larger scale factor locally by replicating a base SF
  * directory N times with key offsets — the standard way to probe
  * scaling behavior without a generator: each replica offsets every
  * key column by `replica * (max(key)+1)` CONSISTENTLY across fact and
  * dimension tables, so intra-replica join structure (orders→customer,
  * lineitem→orders/part/supplier, events per user) is preserved
  * exactly and all join/agg outputs scale linearly by construction.
  * Anything super-linear in a measured query is then attributable to
  * the ENGINE (a plan that degraded, a shuffle that spilled), not to
  * the data — which is the point of the exercise.
  *
  * Two columns get content perturbation so the workload's similarity
  * structure scales rather than degenerates:
  *  - `documents.text`: replica > 0 rotates vowels/consonant classes
  *    deterministically (per-replica `translate`), so cross-replica
  *    copies are NOT near-duplicates of each other; the dup RATE stays
  *    that of the base corpus instead of every doc gaining 9 clones
  *    (which would inflate LSH candidate pairs ~45× and measure the
  *    synthetic data, not the engine). Char/token counts preserved.
  *  - `embeddings.embedding`: deterministic per-(vec_id, dim) jitter
  *    of ±0.005, so replicas are not exact vector duplicates (brute
  *    force/ANN top-k would otherwise return 10-way ties).
  *
  * region/nation are fixed dimensions (as in TPC-H) and are copied
  * once, unreplicated.
  *
  * Usage: scripts/run.sh graft.ScaleUp <baseDir> <outDir> <factor>
  */
object ScaleUp {

  private def offsetBy(df: DataFrame, col0: String, step: Long, i: Int): DataFrame =
    df.withColumn(col0, col(col0) + lit(step * i))

  /** `widen` mode: a PRODUCTION-DIMENSION embeddings fixture — the
    * base table's d=64 vectors lifted to `dOut` dims (optionally
    * replicated `factor`×), for measuring dimension-sensitive pairs
    * (the semantic-dedup PCA-conditioning claim is d-arithmetic; both
    * of its fixture points were d=64). Construction: output dim j
    * reads input dim (37j+11) mod d_in (a unit-stride-free mixing so
    * the widened covariance isn't block-diagonal), scaled by a
    * 1/(1+j/32) decay (production embedding spectra decay; a flat
    * tile would make every direction equally informative, flattering
    * PCA), plus deterministic per-(vec_id, j) noise of ±0.03 — wide
    * enough that replicas of one base vector sit at cosine ≈ 0.92,
    * clearly OUTSIDE a 0.99 dedup threshold (the main-mode rule:
    * replicas must not be near-dups of each other, or the fixture
    * inflates candidate pairs and measures the data, not the engine),
    * while the queries' own planted clones (±0.005 on top) stay
    * clearly inside it (cos ≈ 0.998). Signal rank stays d_in; the
    * noise floor makes the tail eigenvalues nonzero, which is exactly
    * the production shape the top-k subspace claim is about.
    *
    * Usage: scripts/run.sh graft.ScaleUp widen <baseDir> <outDir> <dOut> [factor]
    */
  private def widen(spark: SparkSession, baseDir: String, outDir: String,
      dOut: Int, factor: Int): Unit = {
    val emb = spark.read.parquet(Tables.path(baseDir, "embeddings"))
    val dIn = emb.select(col("embedding")).limit(1).collect()
      .head.getSeq[Any](0).length
    val vecStep = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val widened = (0 until factor).map { i =>
      offsetBy(emb, "vec_id", vecStep, i)
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dOut - 1)), j =>
            (element_at(col("embedding"), pmod(j * 37 + 11, lit(dIn)) + 1)
                .cast("double") / (lit(1.0) + j.cast("double") / lit(32.0))
              + (pmod(hash(col("vec_id"), j, lit(7919)), lit(1000)) - 500)
                .cast("double") * 0.00006).cast("float")))
    }.reduce(_ unionByName _)
    widened.write.mode(SaveMode.Overwrite)
      .parquet(Tables.path(outDir, "embeddings"))
    println(s"[scaleup] embeddings widened d=$dIn -> d=$dOut x$factor " +
      s"-> ${Tables.path(outDir, "embeddings")}")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    if (args.headOption.contains("widen")) {
      val Array(_, baseDir, outDir, dS) = args.take(4)
      val factor = args.lift(4).map(_.toInt).getOrElse(1)
      widen(spark, baseDir, outDir, dS.toInt, factor)
      spark.stop(); sys.exit(0)
    }
    val Array(baseDir, outDir, factorS) = args.take(3)
    val factor = factorS.toInt

    def raw(name: String): DataFrame =
      spark.read.parquet(Tables.path(baseDir, name))
    def keyStep(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // fixed dimensions: copy once
    Seq("region", "nation").foreach { n =>
      raw(n).write.mode(SaveMode.Overwrite).parquet(Tables.path(outDir, n))
    }

    val cust = raw("customer"); val custStep = keyStep(cust, "c_custkey")
    val supp = raw("supplier"); val suppStep = keyStep(supp, "s_suppkey")
    val part = raw("part"); val partStep = keyStep(part, "p_partkey")
    val ords = raw("orders"); val ordStep = keyStep(ords, "o_orderkey")
    val li = raw("lineitem")
    val ev = raw("events"); val evStep = keyStep(ev, "event_id")
    val userStep = keyStep(ev, "user_id")
    val docs = raw("documents"); val docStep = keyStep(docs, "doc_id")
    val emb = raw("embeddings"); val vecStep = keyStep(emb, "vec_id")

    // per-replica deterministic text transform: rotate two disjoint
    // char classes independently (5 × 5 = 25 distinct transforms ≥ any
    // sane factor), preserving string length and token boundaries
    def mutateText(c: org.apache.spark.sql.Column, i: Int) = {
      if (i == 0) c
      else {
        val vowels = "aeiou"; val cons = "stnrh"
        def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
        translate(translate(c, vowels, rot(vowels, i % 5)), cons, rot(cons, (i / 5) % 5))
      }
    }

    def replicate(name: String, one: Int => DataFrame): Unit = {
      val out = Tables.path(outDir, name)
      (0 until factor).foreach { i =>
        val mode = if (i == 0) SaveMode.Overwrite else SaveMode.Append
        one(i).write.mode(mode).parquet(out)
      }
      println(s"[scaleup] $name x$factor -> $out")
    }

    replicate("customer", i => offsetBy(cust, "c_custkey", custStep, i))
    replicate("supplier", i => offsetBy(supp, "s_suppkey", suppStep, i))
    replicate("part", i => offsetBy(part, "p_partkey", partStep, i))
    replicate("orders", i =>
      offsetBy(offsetBy(ords, "o_orderkey", ordStep, i), "o_custkey", custStep, i))
    replicate("lineitem", i =>
      offsetBy(offsetBy(offsetBy(li, "l_orderkey", ordStep, i),
        "l_partkey", partStep, i), "l_suppkey", suppStep, i))
    // ts stays int64 nanos (read under nanosAsLong) — Tables applies
    // the same div-1000 conversion it applies to the base table
    replicate("events", i =>
      offsetBy(offsetBy(ev, "event_id", evStep, i), "user_id", userStep, i))
    replicate("documents", i =>
      offsetBy(docs, "doc_id", docStep, i)
        .withColumn("text", mutateText(col("text"), i)))
    // jitter in [-0.005, 0.005), deterministic in (vec_id, dim).
    // The per-element cast back to FLOAT is load-bearing: the division
    // promotes to double, and an uncast transform would silently
    // publish array<double> embeddings — a replica whose SCHEMA (not
    // just values) differs from the base table it claims to replicate.
    replicate("embeddings", i =>
      offsetBy(emb, "vec_id", vecStep, i)
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else transform(col("embedding"), (x, j) =>
            (x + (pmod(hash(col("vec_id"), j, lit(i)), lit(1000)) - 500)
              .cast("float") / 100000.0f).cast("float"))))

    spark.stop()
    sys.exit(0)
  }
}
