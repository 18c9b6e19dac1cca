package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, IntegerLiteral}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Stats-into-CBO for index-served relations (the `q_table_stats_bhj`
  * pattern extended to the retrieval TVFs): a pass-through logical
  * node whose ONLY job is to advertise a size/row bound derived from
  * the index MANIFEST instead of the size-only estimate Catalyst
  * propagates up from the underlying postings/list scans.
  *
  * Why it matters: a search's OUTPUT is bounded by manifest totals
  * (`searchAll` ≤ live n_docs rows; an ANN/hybrid top-k is at most
  * probes × k rows; a snapshot version is exactly its footers' row
  * sum) — bounds the planner cannot see, because the size-only
  * visitor scales the leaf bytes through the aggregates and lands
  * orders of magnitude high. A TVF leg joined to a fact table then
  * sort-merge-shuffles the fact side where the manifest already
  * proves the leg broadcast-sized. With the bound advertised, plain
  * `JoinSelection` picks the broadcast hash join on its own — no
  * hint, no ANALYZE, cold session.
  *
  * The node is resolved (output = child output) and plans to its
  * child's physical plan via [[ManifestSizedStrategy]] — zero
  * execution footprint. It is NOT opaque to the optimizer: user SQL
  * places Filter/Project ABOVE the TVF, and without help those would
  * stop at the annotation boundary (no pushdown rule matches an
  * unknown node). [[PushThroughManifestSized]] swaps the annotation
  * below them — the row bound stays a valid UPPER bound above a
  * filter (filters only shrink) and is re-widthed under a projection
  * — so predicate pushdown and column pruning reach the underlying
  * search subplan exactly as if the annotation were absent, while
  * JoinSelection keeps seeing the bound at the top of the TVF leg.
  */
case class ManifestSized(child: LogicalPlan, sizeBytes: BigInt,
    rowBound: BigInt) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override def stats: Statistics =
    Statistics(sizeInBytes = sizeBytes.max(1), rowCount = Some(rowBound.max(0)))
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object ManifestSized {
  /** EstimationUtils' output-size convention: 8 bytes row overhead
    * plus each attribute's type default size.
    */
  def rowWidth(output: Seq[Attribute]): Long =
    8L + output.map(_.dataType.defaultSize.toLong).sum

  def bounded(plan: LogicalPlan, rowBound: Long): ManifestSized =
    ManifestSized(plan, BigInt(rowBound.max(0L)) * rowWidth(plan.output),
      BigInt(rowBound.max(0L)))

  /** Exact row count of a parquet directory from its FOOTERS — a
    * driver file-listing plus one footer read per file, NO Spark job.
    * This is what lets a TVF builder advertise `probes × k` (or a
    * snapshot version's exact cardinality) at ANALYSIS time without
    * running a data-sized count() action per query resolution: a
    * DataFrame `count()` on a v1 parquet source is a real scan job,
    * paid again on every statement that references the TVF. `keep`
    * selects the counted files by name.
    */
  // Per-FILE footer-count cache keyed by (path, length, mtime): the
  // TVF builders run at ANALYSIS time on every statement resolution,
  // and a version with thousands of files would pay thousands of
  // footer opens per query. The listing itself (cheap, and required
  // anyway to discover the file set) validates every entry — an
  // immutable snapshot version hits 100%, a rewritten probes table
  // (new names/len/mtime) misses and re-reads, so the cache is safe
  // for MUTABLE directories too. Bounded by wholesale clear.
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def parquetRowCount(spark: SparkSession, path: String,
      keep: String => Boolean = _ => true): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".") && keep(name)) {
        val key = s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
        val cached = footerCache.get(key)
        if (cached != null) n += cached
        else {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
          val cnt = try r.getRecordCount finally r.close()
          if (footerCache.size > 65536) footerCache.clear()
          footerCache.put(key, cnt)
          n += cnt
        }
      }
    }
    n
  }
}

/** Pushdown transparency for [[ManifestSized]]: rewrite
  * `Filter(c, ManifestSized(x))` → `ManifestSized'(Filter(c, x))` and
  * `Project(l, ManifestSized(x))` → `ManifestSized'(Project(l, x))`,
  * re-deriving the byte bound from the new output width each time.
  * Runs inside the operator-optimization batch (fixed point), so the
  * ordinary pushdown rules then carry the filter/projection the rest
  * of the way into the search subplan — the annotation floats to the
  * top of the TVF leg, which is exactly where JoinSelection reads it.
  */
object PushThroughManifestSized extends Rule[LogicalPlan] {
  private def asLong(b: BigInt): Long = b.min(BigInt(Long.MaxValue)).toLong

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond, ManifestSized(child, _, rowBound)) =>
      ManifestSized.bounded(Filter(cond, child), asLong(rowBound))
    case p @ Project(exprs, ManifestSized(child, _, rowBound))
        if p.resolved && exprs.forall(_.deterministic) =>
      ManifestSized.bounded(Project(exprs, child), asLong(rowBound))
    // a LIMIT above the TVF tightens the bound to min(n, bound) and
    // still floats the annotation to the top of the leg. GlobalLimit
    // bounds total output; a bare LocalLimit is per-partition and
    // passes the bound through unchanged.
    case g @ GlobalLimit(IntegerLiteral(n), ManifestSized(child, _, rowBound)) =>
      ManifestSized.bounded(g.withNewChildren(Seq(child)),
        math.min(n.toLong, asLong(rowBound)))
    case g @ GlobalLimit(IntegerLiteral(n),
        l @ LocalLimit(_, ManifestSized(child, _, rowBound))) =>
      ManifestSized.bounded(
        g.withNewChildren(Seq(l.withNewChildren(Seq(child)))),
        math.min(n.toLong, asLong(rowBound)))
    case l @ LocalLimit(_, ManifestSized(child, _, rowBound)) =>
      ManifestSized.bounded(l.withNewChildren(Seq(child)), asLong(rowBound))
    // an Aggregate's output cardinality is at most its input's (one
    // row per group; ≤ 1 row when ungrouped), so the bound survives as
    // an upper bound and the annotated leg stays broadcast-eligible —
    // SELECT k, count(*) FROM tvf GROUP BY k joined to a fact table.
    case a @ Aggregate(groupingExprs, aggExprs, ManifestSized(child, _, rowBound), _)
        if a.resolved && aggExprs.forall(_.deterministic) =>
      ManifestSized.bounded(
        a.withNewChildren(Seq(child)),
        if (groupingExprs.isEmpty) 1L else asLong(rowBound))
  }
}

/** Plans [[ManifestSized]] as its child — the node exists only for
  * its statistics.
  */
object ManifestSizedStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ManifestSized(child, _, _) => planLater(child) :: Nil
    case _ => Nil
  }
}
