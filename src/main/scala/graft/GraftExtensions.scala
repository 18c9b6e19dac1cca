package graft

import graft.functions.VectorExpressions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType

/** Engine extension point (SURVEY §4.3): registers the custom
  * expressions as SQL functions so `spark.sql("... cosine_sim(a,b)")`
  * works. `GraftSession.local()` activates it; elsewhere, set
  * `spark.sql.extensions=graft.GraftExtensions` on the session builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

    // naive interval theta-join → bucketed equi-join (never BNLJ)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)

    // plans the manifest-stats annotation node (see ManifestSized):
    // pass-through at execution, bound-carrying for JoinSelection
    ext.injectPlannerStrategy(_ => graft.plans.ManifestSizedStrategy)

    // pushdown transparency for the annotation: Filter/Project written
    // ABOVE a TVF in user SQL swap below the ManifestSized node inside
    // the operator-optimization batch, so predicate pushdown and
    // column pruning reach the search subplan while the (still-valid)
    // bound floats to the top of the TVF leg for JoinSelection
    ext.injectOptimizerRule(_ => graft.plans.PushThroughManifestSized)

    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(array<float>, array<float>) - cosine similarity"),
      (es: Seq[Expression]) => CosineSim(es(0), es(1))))

    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(array<float>, array<float>) - dot product"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))

    ext.injectFunction((FunctionIdentifier("l2_dist"),
      info("l2_dist", "l2_dist(array<float>, array<float>) - euclidean distance"),
      (es: Seq[Expression]) => L2Dist(es(0), es(1))))

    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(array<string>, k) - k-minima MinHash signature"),
      (es: Seq[Expression]) => MinHashSig(es(0), intArg(es(1), "k"))))

    ext.injectFunction((FunctionIdentifier("lsh_bands"),
      info("lsh_bands", "lsh_bands(array<long>, rowsPerBand) - LSH band keys"),
      (es: Seq[Expression]) => LshBands(es(0), intArg(es(1), "rowsPerBand"))))

    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 64-bit SimHash"),
      (es: Seq[Expression]) => SimHash64(es(0))))

    ext.injectFunction((FunctionIdentifier("graft_fingerprint"),
      info("graft_fingerprint", "graft_fingerprint(text, k, w) - winnowing fingerprint"),
      (es: Seq[Expression]) => Fingerprint(es(0), intArg(es(1), "k"), intArg(es(2), "w"))))

    ext.injectFunction((FunctionIdentifier("hyperplane_bucket"),
      info("hyperplane_bucket", "hyperplane_bucket(array<float>, nBits) - LSH bucket id"),
      (es: Seq[Expression]) => HyperplaneBucket(es(0), intArg(es(1), "nBits"))))

    // SQL time travel over graft snapshot tables:
    //   SELECT * FROM graft_snapshot('/path/to/table', 2)
    // (Iceberg's `table VERSION AS OF` / Delta's `@v2` surface). The
    // builder resolves the version through the snapshot MANIFEST and
    // returns the analyzed parquet plan of that version's directory,
    // so filter/column pushdown applies to the scan exactly as for a
    // directly-read table.
    ext.injectTableFunction((FunctionIdentifier("graft_snapshot"),
      info("graft_snapshot",
        "graft_snapshot(root, version) - read a snapshot table version"),
      GraftExtensions.snapshotTvfBuilder))

    // SQL surface for index-served retrieval:
    //   SELECT * FROM graft_text_search('/path/to/index', 'hash merge')
    // resolves to TextIndex.searchAll's analyzed plan — conjunctive
    // match over the persisted inverted index, reading only the query
    // terms' bucket partitions; joins/filters compose on top in SQL.
    ext.injectTableFunction((FunctionIdentifier("graft_text_search"),
      info("graft_text_search",
        "graft_text_search(indexPath, 'terms ...') - conjunctive index search"),
      GraftExtensions.textSearchTvfBuilder))

    // SQL surface for index-served vector search:
    //   SELECT * FROM graft_ann_search('/path/to/ivf', '/path/to/probes', 5, 8)
    // resolves to IvfIndex.searchTopK over the LIVE index view
    // (committed seqs, tombstones masked) — the probed-cluster
    // partition pruning and the bounded-heap cut both survive into
    // SQL, and joins/filters compose on top. Probe tables follow the
    // embeddings schema convention: (vec_id, embedding).
    ext.injectTableFunction((FunctionIdentifier("graft_ann_search"),
      info("graft_ann_search",
        "graft_ann_search(indexPath, probesPath, k, nProbes) - IVF ANN top-k"),
      GraftExtensions.annSearchTvfBuilder))

    // Index observability in SQL:
    //   SELECT * FROM graft_index_stats('/path/to/index')
    // one manifest-served row (totals, seq, tombstone horizon, live
    // generations) — zero jobs at any index size.
    ext.injectTableFunction((FunctionIdentifier("graft_index_stats"),
      info("graft_index_stats",
        "graft_index_stats(indexPath) - one-row live manifest view"),
      GraftExtensions.indexStatsTvfBuilder))

    // IVF skew advisory in SQL (the observability half of
    // rebalanceIndex; factor = optional 2nd arg, else
    // graft.ivf.maxListFactor, else 2.0):
    //   SELECT * FROM graft_ivf_skew('/path/to/ivf'[, 1.25])
    // one row naming the lists a rebalance would split, same selection
    // rule, so `WHERE rebalance_advised` schedules the repair at
    // cadence from plain SQL.
    ext.injectTableFunction((FunctionIdentifier("graft_ivf_skew"),
      info("graft_ivf_skew",
        "graft_ivf_skew(indexPath[, maxListFactor]) - one-row hot-list advisory"),
      GraftExtensions.ivfSkewTvfBuilder))

    // SQL surface for hybrid retrieval: RRF fusion of the two index-
    // served legs (HybridSearch.rrfTopK) —
    //   SELECT * FROM graft_hybrid_search(textIdx, vecIdx, probes,
    //                                     'terms ...', n, k, nProbes)
    // Both legs keep their layouts' pruning (term buckets / probed
    // cluster partitions) and the fused cut stays a heap aggregate;
    // joins/filters compose on top in SQL.
    ext.injectTableFunction((FunctionIdentifier("graft_hybrid_search"),
      info("graft_hybrid_search",
        "graft_hybrid_search(textIndexPath, vecIndexPath, probesPath, " +
          "'terms ...', n, k, nProbes) - RRF-fused hybrid top-k"),
      GraftExtensions.hybridSearchTvfBuilder))

    // The epoch surface in SQL — pinned fused retrieval:
    //   SELECT * FROM graft_hybrid_search_asof(epochRoot, textIdx,
    //     vecIdx, probes, 'terms ...', n, k, nProbes[, epoch])
    // resolves the pin from the epoch root's manifest CONTENT (max
    // committed epoch unless named) and serves rrfTopKAsOf's plan —
    // the same ranking a coordinator-pinned tier returns, stable
    // under post-pin mutation and (root registered) maintenance.
    ext.injectTableFunction((FunctionIdentifier("graft_hybrid_search_asof"),
      info("graft_hybrid_search_asof",
        "graft_hybrid_search_asof(epochRoot, textIndexPath, vecIndexPath, " +
          "probesPath, 'terms ...', n, k, nProbes[, epoch]) - pinned fused top-k"),
      GraftExtensions.hybridSearchAsOfTvfBuilder))

    // SQL surface for the change feed (Delta's table_changes):
    //   SELECT * FROM graft_table_changes('/path/to/table', 1, 3, 'key')
    // Resolves to Snapshots.changes' analyzed plan — the one
    // full-outer diff join — with _change_type exposed for SQL
    // filters/aggregates on top (the standard CDC-consumer shape).
    ext.injectTableFunction((FunctionIdentifier("graft_table_changes"),
      info("graft_table_changes",
        "graft_table_changes(root, vFrom, vTo, keyCol) - row-level change feed"),
      GraftExtensions.tableChangesTvfBuilder))

    // SQL surface for branch reads (write-audit-publish from SQL):
    //   SELECT * FROM graft_branch('/path/to/table', 'audit'[, version])
    // Resolves through the BRANCH ref's manifest to the staged
    // version's parquet plan — pushdown intact, main untouched.
    ext.injectTableFunction((FunctionIdentifier("graft_branch"),
      info("graft_branch",
        "graft_branch(root, name[, version]) - read a branch head/version"),
      GraftExtensions.branchTvfBuilder))
  }
}

object GraftExtensions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** The graft_snapshot TVF plan builder: resolves the version through
    * the snapshot manifest and returns that version directory's
    * analyzed parquet plan, so filter/column pushdown reach the scan
    * exactly as for a directly-read table.
    */
  val snapshotTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      def strArg(e: Expression, what: String): String = e match {
        case Literal(v, StringType) if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"$what must be a string literal, got $other")
      }
      val root = strArg(es.head, "graft_snapshot root")
      val version = es.drop(1).headOption.map(intArg(_, "graft_snapshot version"))
      val s = SparkSession.active
      val plan = graft.operators.Snapshots
        .read(s, root, version)
        .queryExecution.analyzed
      // stats-into-CBO: a committed version's cardinality is EXACTLY
      // its footers' row sum — a driver metadata read (the version's
      // file set is immutable). The scan's own file-size estimate
      // already sizes bytes, but carries no rowCount; with the exact
      // count advertised, joins/aggregates above the TVF estimate
      // from real cardinality on a cold session.
      maybeBounded(s, plan,
        graft.plans.ManifestSized.parquetRowCount(s,
          graft.operators.Snapshots.versionDir(s, root, version)))
    }

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(v, StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  /** Annotate `plan` with a manifest-derived row bound — but only when
    * the session can PLAN the annotation node (ManifestSizedStrategy
    * injected via the extensions). The snapshot-layer TVF builders are
    * also registered on STOCK sessions ([[registerSnapshotSqlSurface]],
    * the Baseline control JVM) where an unplannable ManifestSized
    * would fail at execution — there the plain plan is returned and
    * the (lazy) footer read never runs.
    */
  private def maybeBounded(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      rows: => Long): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    if (s.sessionState.planner.strategies.contains(graft.plans.ManifestSizedStrategy))
      graft.plans.ManifestSized.bounded(plan, rows)
    else plan

  /** The graft_text_search TVF: whitespace-split the terms literal and
    * return TextIndex.searchAll's analyzed plan — the partition-pruned
    * conjunctive search as a SQL-composable relation.
    */
  val textSearchTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length != 2) throw new IllegalArgumentException(
        s"graft_text_search expects exactly 2 string-literal arguments " +
          s"(indexPath, terms); got ${es.length}")
      val path = strArg(es.head, "graft_text_search indexPath")
      val terms = strArg(es(1), "graft_text_search terms")
        .split("\\s+").toSeq.filter(_.nonEmpty)
      val spark = SparkSession.active
      val plan = graft.operators.TextIndex.searchAll(spark, path, terms)
        .queryExecution.analyzed
      // stats-into-CBO: a conjunctive search returns at most the live
      // doc count — a MANIFEST scalar (zero jobs) the size-only
      // estimator cannot see (it scales the pruned postings bytes
      // through the aggregate and lands orders of magnitude high). A
      // TVF leg joined to a fact table broadcasts from this bound
      // alone — no hint, no ANALYZE.
      val (nDocs, _) = graft.operators.TextIndex.corpusTotals(spark, path)
      graft.plans.ManifestSized.bounded(plan, nDocs)
    }

  /** The graft_ann_search TVF: IVF top-k over the live view of a
    * persisted index, as a SQL-composable relation. Schema convention:
    * index and probe tables carry (vec_id, embedding).
    */
  val annSearchTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length != 4) throw new IllegalArgumentException(
        s"graft_ann_search expects (indexPath, probesPath, k, nProbes); got ${es.length} args")
      val idx = strArg(es.head, "graft_ann_search indexPath")
      val probes = strArg(es(1), "graft_ann_search probesPath")
      val k = intArg(es(2), "graft_ann_search k")
      val nProbes = intArg(es(3), "graft_ann_search nProbes")
      val s = SparkSession.active
      val (a, c) = graft.operators.IvfIndex.loadLive(s, idx, "vec_id")
      val probesDf = s.read.parquet(probes)
      val plan = graft.operators.IvfIndex.searchTopK(a, c, probesDf,
          "vec_id", "embedding", k, nProbes)
        .queryExecution.analyzed
      // stats-into-CBO: a top-k search returns at most probes × k
      // rows. The probe count comes from the parquet FOOTERS (driver
      // file listing, no job) — a DataFrame count() here would run a
      // full scan job at ANALYSIS time, on every statement that
      // references the TVF. The bound makes a TVF-leg join broadcast
      // without hints.
      graft.plans.ManifestSized.bounded(plan,
        graft.plans.ManifestSized.parquetRowCount(s, probes) * k)
    }

  /** The graft_ivf_skew TVF: one-row hot-list advisory under the
    * session's `graft.ivf.maxListFactor` (default 2.0, rebalance's own
    * default). Index id convention as for graft_ann_search: vec_id.
    */
  val ivfSkewTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length < 1 || es.length > 2) throw new IllegalArgumentException(
        s"graft_ivf_skew expects (indexPath[, maxListFactor]); got ${es.length} args")
      val s = SparkSession.active
      // factor precedence: explicit 2nd argument, else the session
      // conf, else rebalance's own default — the per-statement arg
      // exists so a cadence poll never has to MUTATE session conf
      // (set/restore is a cross-thread hazard under concurrent chains,
      // the partitionOverwriteMode lesson)
      val factor = es.drop(1).headOption.map {
        case Literal(v, _: org.apache.spark.sql.types.NumericType) if v != null =>
          v.toString.toDouble
        case other => throw new IllegalArgumentException(
          s"graft_ivf_skew maxListFactor must be a numeric literal, got $other")
      }.orElse(s.conf.getOption("graft.ivf.maxListFactor").map(_.toDouble))
        .getOrElse(2.0)
      graft.operators.IvfIndex.skewReport(s,
          strArg(es.head, "graft_ivf_skew indexPath"), "vec_id", factor)
        .queryExecution.analyzed
    }

  /** The graft_index_stats TVF: the one-row manifest view. */
  val indexStatsTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length != 1) throw new IllegalArgumentException(
        s"graft_index_stats expects (indexPath); got ${es.length} args")
      graft.operators.TextIndex.indexStats(SparkSession.active,
          strArg(es.head, "graft_index_stats indexPath"))
        .queryExecution.analyzed
    }

  /** The graft_hybrid_search TVF: RRF-fused hybrid retrieval over a
    * persisted text index and the live view of a persisted vector
    * index, as a SQL-composable relation.
    */
  val hybridSearchTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length != 7) throw new IllegalArgumentException(
        "graft_hybrid_search expects (textIndexPath, vecIndexPath, " +
          s"probesPath, terms, n, k, nProbes); got ${es.length} args")
      val tidx = strArg(es.head, "graft_hybrid_search textIndexPath")
      val vidx = strArg(es(1), "graft_hybrid_search vecIndexPath")
      val probes = strArg(es(2), "graft_hybrid_search probesPath")
      val terms = strArg(es(3), "graft_hybrid_search terms")
        .split("\\s+").toSeq.filter(_.nonEmpty)
      val n = intArg(es(4), "graft_hybrid_search n")
      val k = intArg(es(5), "graft_hybrid_search k")
      val nProbes = intArg(es(6), "graft_hybrid_search nProbes")
      val s = SparkSession.active
      val (a, c) = graft.operators.IvfIndex.loadLive(s, vidx, "vec_id")
      val plan = graft.operators.HybridSearch.rrfTopK(s, tidx, a, c,
          s.read.parquet(probes), terms, "vec_id", "embedding", n, k, nProbes)
        .queryExecution.analyzed
      // stats-into-CBO: the fused output is at most probes × k rows
      // (one fused top-k per probe) — footer-derived probe count, no
      // job; a hybrid TVF leg joined to a fact table broadcasts cold
      graft.plans.ManifestSized.bounded(plan,
        graft.plans.ManifestSized.parquetRowCount(s, probes) * k)
    }

  /** The graft_hybrid_search_asof TVF: the PINNED fused hybrid read
    * ([[graft.operators.HybridSearch.rrfTopKAsOf]]) as a
    * SQL-composable relation — the epoch surface in SQL, the
    * q_sql_timetravel/q_sql_branch discipline applied to the index
    * stack. The pin resolves from the epoch ROOT's manifest content
    * (max committed epoch, or the explicit trailing epoch number), so
    * a SQL reader names a coordinate, never an index generation.
    */
  val hybridSearchAsOfTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length != 8 && es.length != 9) throw new IllegalArgumentException(
        "graft_hybrid_search_asof expects (epochRoot, textIndexPath, " +
          "vecIndexPath, probesPath, terms, n, k, nProbes[, epoch]); " +
          s"got ${es.length} args")
      val root = strArg(es.head, "graft_hybrid_search_asof epochRoot")
      val tidx = strArg(es(1), "graft_hybrid_search_asof textIndexPath")
      val vidx = strArg(es(2), "graft_hybrid_search_asof vecIndexPath")
      val probes = strArg(es(3), "graft_hybrid_search_asof probesPath")
      val terms = strArg(es(4), "graft_hybrid_search_asof terms")
        .split("\\s+").toSeq.filter(_.nonEmpty)
      val n = intArg(es(5), "graft_hybrid_search_asof n")
      val k = intArg(es(6), "graft_hybrid_search_asof k")
      val nProbes = intArg(es(7), "graft_hybrid_search_asof nProbes")
      val s = SparkSession.active
      val (tPin, vPin) = es.lift(8) match {
        case Some(e) =>
          val ep = intArg(e, "graft_hybrid_search_asof epoch")
          graft.operators.IndexEpoch.at(s, root, ep).getOrElse(
            throw new IllegalArgumentException(
              s"graft_hybrid_search_asof: epoch $ep not committed at $root"))
        case None => graft.operators.IndexEpoch.current(s, root)
          .map { case (_, t, v) => (t, v) }
          .getOrElse(throw new IllegalArgumentException(
            s"graft_hybrid_search_asof: no committed epoch at $root"))
      }
      val plan = graft.operators.HybridSearch.rrfTopKAsOf(s, tidx, vidx,
          s.read.parquet(probes), terms, "vec_id", "embedding", n, k,
          nProbes, tPin, vPin)
        .queryExecution.analyzed
      graft.plans.ManifestSized.bounded(plan,
        graft.plans.ManifestSized.parquetRowCount(s, probes) * k)
    }

  /** The graft_table_changes TVF: the row-level diff between two
    * committed versions as a SQL-composable relation (Delta's
    * `table_changes`). One full-outer key join under the hood —
    * O(|vFrom| + |vTo|) at any table size.
    */
  val tableChangesTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length != 4) throw new IllegalArgumentException(
        s"graft_table_changes expects (root, vFrom, vTo, keyCol); got ${es.length} args")
      val s = SparkSession.active
      val root = strArg(es.head, "graft_table_changes root")
      val vFrom = intArg(es(1), "graft_table_changes vFrom")
      val vTo = intArg(es(2), "graft_table_changes vTo")
      val plan = graft.operators.Snapshots.changes(s, root, vFrom, vTo,
          strArg(es(3), "graft_table_changes keyCol"))
        .queryExecution.analyzed
      // stats-into-CBO: under the CDC key contract (key unique per
      // version) the diff emits ≤ |vFrom| + |vTo| rows (inserts and
      // deletes once, updates twice but only for keys live in BOTH
      // sides) — footer counts of the two immutable version dirs,
      // where the size-only estimate of a full-outer join explodes
      maybeBounded(s, plan,
        graft.plans.ManifestSized.parquetRowCount(s,
          graft.operators.Snapshots.versionDir(s, root, Some(vFrom))) +
        graft.plans.ManifestSized.parquetRowCount(s,
          graft.operators.Snapshots.versionDir(s, root, Some(vTo))))
    }

  /** The graft_branch TVF: resolve a version through a BRANCH ref's
    * manifest — the SQL read half of write-audit-publish (audit the
    * staged snapshot in plain SQL before fast-forwarding main).
    */
  val branchTvfBuilder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    (es: Seq[Expression]) => {
      if (es.length < 2 || es.length > 3) throw new IllegalArgumentException(
        s"graft_branch expects (root, name[, version]); got ${es.length} args")
      val s = SparkSession.active
      val root = strArg(es.head, "graft_branch root")
      val name = strArg(es(1), "graft_branch name")
      val version = es.drop(2).headOption.map(intArg(_, "graft_branch version"))
      val plan = graft.operators.Snapshots.readBranch(s, root, name, version)
        .queryExecution.analyzed
      // same exact-footer cardinality as graft_snapshot, resolved
      // through the branch ref's manifest
      maybeBounded(s, plan,
        graft.plans.ManifestSized.parquetRowCount(s,
          graft.operators.Snapshots.branchVersionDir(s, root, name, version)))
    }

  /** Register ONLY the graft_snapshot name binding on a live session —
    * no optimizer rules, no expression functions. Lets a stock session
    * (the Baseline control JVM) run the SQL-time-travel query's graft
    * side without contaminating any control plan.
    */
  def registerSnapshotTvf(spark: SparkSession): Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_snapshot"),
      new ExpressionInfo(classOf[GraftExtensions].getName, null,
        "graft_snapshot",
        "graft_snapshot(root, version) - read a snapshot table version", ""),
      snapshotTvfBuilder)

  /** Same stock-session exception for the other snapshot-layer TVFs
    * the SQL pairs' graft sides need (graft_table_changes,
    * graft_branch): name bindings only, nothing touches a control
    * plan.
    */
  def registerSnapshotSqlSurface(spark: SparkSession): Unit = {
    registerSnapshotTvf(spark)
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(classOf[GraftExtensions].getName, null,
        "graft_table_changes",
        "graft_table_changes(root, vFrom, vTo, keyCol) - row-level change feed", ""),
      tableChangesTvfBuilder)
    spark.sessionState.tableFunctionRegistry.registerFunction(
      FunctionIdentifier("graft_branch"),
      new ExpressionInfo(classOf[GraftExtensions].getName, null,
        "graft_branch",
        "graft_branch(root, name[, version]) - read a branch head/version", ""),
      branchTvfBuilder)
  }
}
