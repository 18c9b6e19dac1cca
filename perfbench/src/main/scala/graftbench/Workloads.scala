package graftbench

import java.io.File

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{IvfIndex, PartitionedSnapshots, Snapshots, TextIndex}
import graft.sources.GraftFileSystem

/** One step of a workload. `run` does the op's work up to the point
  * where a DataFrame is ready; the runner then collects it (the exec
  * phase). Commits do all their work in `run` and return None.
  * `verb` names the public ingest verb an op calls and `input` the
  * seeded batch file it commits (both empty for queries).
  */
final case class Op(name: String, kind: String, verb: String, batch: Int,
    run: Ctx => Option[DataFrame], input: String = "")

/** Everything an op can reach: the session, where the base tables and
  * the seeded batches live, and the volume of the last set-up cycle. */
final class Ctx(val spark: SparkSession, val dataDir: String, val batchDir: String,
    val volume: String, val volumeRoot: String) {
  /** Tables as the workload reads them: through `graft://` for the lake
    * workloads, straight from the local inputs otherwise. */
  def tablesDir: String = s"graft://$volume/tables"
  def snap: String = s"graft://$volume/orders_snap"
  def part: String = s"graft://$volume/orders_part"
  def textIdx: String = s"graft://$volume/text_idx"
  def ivfIdx: String = s"graft://$volume/ivf_idx"
  def batch(kind: String, b: Int): DataFrame =
    spark.read.parquet(s"$batchDir/${kind}_$b.parquet")
}

/** Per-batch parameters written by the generator (`batches/meta.tsv`). */
final case class BatchMeta(batch: Int, delMod: Int, delRes: Int, term: String)

trait Workload {
  /** Reads tables through the connector (so set-up loads a volume). */
  def viaConnector: Boolean
  /** Builds the workload's starting state in the cycle's volume. */
  def prepare(ctx: Ctx): Unit = ()
  /** The ops of the pass with batch index `b` (0 for the first pass). */
  def pass(b: Int, ctx: Ctx): Seq[Op]
  /** Untimed passes before the timed ones. */
  def warmupPasses: Int
  /** Highest batch index the seeded inputs support. */
  def maxBatch: Int = Int.MaxValue
  /** State left behind by the run, captured for the oracle afterwards. */
  def finalState(ctx: Ctx): Seq[(String, DataFrame)] = Nil
}

object Workloads {
  /** lake_sql: every 17th of the 85 `Relational`, `Aggregates`,
    * `Windows` and `Joins` queries in name order, starting with the
    * first (a pass over all 85 takes about 50 s at this scale, longer
    * than a run may measure). */
  val LakeSql: Seq[String] = Seq(
    "q1_agg", "q_except_all", "q_join_salted", "q_sql_tpch_q12", "q_sql_tpch_q8")

  /** llm_stream: `LlmPipeline` queries on the Dedup, SimilaritySearch
    * and TextIndex operators, and two `StreamingQueries` (stateful
    * dedup, windowed aggregate), kept to a pass of a few seconds. */
  val LlmStream: Seq[String] = Seq(
    "q_dedup_exact", "q_sim_topk", "q_text_phrase_index", "q_stream_dedup", "q_stream_tumbling")

  /** An op that always throws: proves failure accounting end to end. */
  val FailProbe: Op = Op("bench_fail_probe", "query", "", 0,
    _ => throw new IllegalStateException("deliberate failure (fail probe)"))

  private def queryOp(name: String, onConnector: Boolean): Op = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"unknown query $name"))
    Op(name, "query", "", 0,
      ctx => Some(fn(ctx.spark, if (onConnector) ctx.tablesDir else ctx.dataDir)))
  }

  /** A fixed list of queries, run in one seed-fixed order every pass. */
  final class Queries(names: Seq[String], val viaConnector: Boolean,
      seed: Long, failProbe: Boolean) extends Workload {
    private val order: Seq[Op] = {
      val ops = names.map(queryOp(_, viaConnector))
      new scala.util.Random(seed).shuffle(ops) ++ (if (failProbe) Seq(FailProbe) else Nil)
    }
    /** The first pass runs every query cold (about three times a
      * warm pass); by the third, passes vary by less than run-to-run
      * noise. */
    val warmupPasses = 2
    def pass(b: Int, ctx: Ctx): Seq[Op] = order
  }

  /** Copy-on-write commits and index maintenance through `graft://`:
    * each pass commits the next seeded batch, reading the latest version
    * back after each commit, then compacts, expires and vacuums. */
  final class Ingest(meta: Seq[BatchMeta], failProbe: Boolean) extends Workload {
    val viaConnector = true
    /** None: `prepare` already runs the commit and index-build paths.
      * The first timed pass is about 10 % slower than later ones, so
      * it rarely sets the median of three. */
    val warmupPasses = 0
    override val maxBatch: Int = meta.map(_.batch).max
    /** `Snapshots.compact` target: about one file per core for the base
      * orders table. Merges and deletes keep the file count of the
      * version they rewrite, so the table's layout is set by this. */
    val CompactBytes: Long = 64L * 1024

    override def prepare(ctx: Ctx): Unit = {
      val s = ctx.spark
      Snapshots.create(s, ctx.snap, Tables(s, ctx.tablesDir, "orders"), Seq("o_orderkey"))
      // start in the layout every pass leaves behind, so that the
      // warm-up pass and the timed passes rewrite the same files
      Snapshots.compact(s, ctx.snap, CompactBytes)
      PartitionedSnapshots.create(s, ctx.part, Tables(s, ctx.tablesDir, "orders"), "o_orderstatus")
      TextIndex.buildIndex(Tables(s, ctx.tablesDir, "documents"), "doc_id", "text", ctx.textIdx)
      IvfIndex.buildIndex(Tables(s, ctx.tablesDir, "embeddings"), "vec_id", "embedding", 8, ctx.ivfIdx)
    }

    override def finalState(ctx: Ctx): Seq[(String, DataFrame)] = Seq(
      "orders_snap" -> Snapshots.read(ctx.spark, ctx.snap),
      "orders_part" -> PartitionedSnapshots.read(ctx.spark, ctx.part)
        .select(Snapshots.read(ctx.spark, ctx.snap).columns.map(col): _*),
      "vectors" -> IvfIndex.loadLive(ctx.spark, ctx.ivfIdx, "vec_id")._1.select("vec_id", "embedding"))

    private def ordersDigest(df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n"), sum("o_orderkey").as("key_sum"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents_sum"))

    def pass(b: Int, ctx: Ctx): Seq[Op] = {
      val m = meta.find(_.batch == b).getOrElse(sys.error(s"no batch $b"))
      def commit(name: String, verb: String, input: String = "")(f: SparkSession => Unit): Op =
        Op(name, "commit", verb, b, c => { f(c.spark); None }, input)
      def readback(name: String)(f: SparkSession => DataFrame): Op =
        Op(name, "readback", "readback", b, c => Some(f(c.spark)))
      val readSnap = readback("read_snap")(s => ordersDigest(Snapshots.read(s, ctx.snap)))
      val ops = Seq(
        commit("merge", "merge", "upsert")(s =>
          Snapshots.commitMerge(s, ctx.snap, ctx.batch("upsert", b), "o_orderkey")),
        readSnap,
        commit("delete", "delete")(s => Snapshots.commitDelete(s, ctx.snap,
          col("o_orderkey") % m.delMod === m.delRes)),
        readSnap,
        commit("merge_part", "merge", "upsert")(s => PartitionedSnapshots.commitMerge(s, ctx.part,
          ctx.batch("upsert", b), "o_orderkey", "o_orderstatus")),
        readback("read_part")(s => ordersDigest(PartitionedSnapshots.read(s, ctx.part))),
        commit("append_docs", "append", "docs")(_ =>
          TextIndex.appendDocs(ctx.batch("docs", b), "doc_id", "text", ctx.textIdx)),
        commit("delete_docs", "delete", "docdel")(_ =>
          TextIndex.deleteDocs(ctx.batch("docdel", b), "doc_id", ctx.textIdx)),
        readback("read_text")(s =>
          TextIndex.searchAll(s, ctx.textIdx, Seq(m.term))
            .agg(count(lit(1)).as("hits"),
              coalesce(sum(col("doc_id") * col("total_tf")), lit(0L)).as("tf_sum"))
            .crossJoin(TextIndex.indexStats(s, ctx.textIdx).select("n_docs", "sum_dl"))),
        commit("append_vecs", "append", "vecs")(_ =>
          IvfIndex.appendToIndex(ctx.batch("vecs", b), "vec_id", "embedding", ctx.ivfIdx)),
        commit("delete_vecs", "delete", "vecdel")(_ =>
          IvfIndex.deleteFromIndex(ctx.batch("vecdel", b), "vec_id", ctx.ivfIdx)),
        readback("read_ivf")(s =>
          IvfIndex.loadLive(s, ctx.ivfIdx, "vec_id")._1
            .agg(count(lit(1)).as("n"), sum("vec_id").as("id_sum"),
              sum(size(col("embedding"))).cast("long").as("dims"))),
        commit("compact", "compact")(s => Snapshots.compact(s, ctx.snap, CompactBytes)),
        commit("expire", "expire")(s => Snapshots.expire(s, ctx.snap, 3)),
        commit("vacuum", "vacuum")(s => Snapshots.vacuum(s, ctx.snap, 0L)))
      ops ++ (if (failProbe) Seq(FailProbe) else Nil)
    }
  }

  def apply(name: String, seed: Long, meta: Seq[BatchMeta], failProbe: Boolean): Workload =
    name match {
      case "lake_sql" => new Queries(LakeSql, viaConnector = true, seed, failProbe)
      case "llm_stream" => new Queries(LlmStream, viaConnector = false, seed, failProbe)
      case "lake_ingest" => new Ingest(meta, failProbe)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Set-up step of one cycle: mount a fresh volume, upload the base
    * tables into it through the connector, register them. */
  def load(spark: SparkSession, dataDir: String, volume: String, root: String,
      viaConnector: Boolean): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    if (viaConnector) {
      GraftFileSystem.mount(conf, volume, root)
      new File(root).mkdirs()
      val dst = new Path(s"graft://$volume/tables")
      val dfs = dst.getFileSystem(conf)
      dfs.mkdirs(dst)
      val lfs = FileSystem.getLocal(conf)
      Tables.all.foreach { t =>
        FileUtil.copy(lfs, new Path(Tables.path(dataDir, t)), dfs,
          new Path(dst, s"$t.parquet"), false, conf)
      }
      Tables.registerAll(spark, dst.toString)
    } else Tables.registerAll(spark, dataDir)
  }

  def readMeta(path: String): Seq[BatchMeta] = {
    val f = new File(path)
    if (!f.isFile) Nil
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val c = l.split("\t")
        BatchMeta(c(0).toInt, c(1).toInt, c(2).toInt, c(3))
      }.toList
      finally src.close()
    }
  }
}
