package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.GraftFileSystem

/** One executed op, as written to `results.json`. */
final case class OpRecord(pass: Int, traced: Boolean, name: String, kind: String,
    verb: String, batch: Int, ok: Boolean, reason: String, seconds: Double,
    buildS: Double, execS: Double, rows: Long, hash: String, digest: Seq[Long],
    newFiles: Long, newBytes: Long, inputBytes: Long)

/** The benchmark driver: one SparkSession, one closed-loop client.
  *
  * Usage (normally through `perfbench/run.py`):
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --batches DIR --out DIR --cores N [--op-cap-s S] [--deadline-s S] [--fail-probe]
  * }}}
  * `--data` holds the fixed base tables (read only), `--batches` the
  * seeded lake_ingest batches.
  * Phases: session start; three set-up cycles (mount a fresh volume,
  * upload the base tables through the connector, register them); the
  * workload's starting state on the last volume; the workload's untimed
  * warm-up passes (the first run of each query captures its output for
  * the oracle);
  * then timed passes until `--seconds` have elapsed and at least
  * [[TimedOps]] ops in [[TimedPasses]] passes were timed. With `--trace 1`
  * every other timed pass is traced:
  * counting connector, Spark listeners, spans.
  */
object Main {
  /** Ops and passes a run times, at least (whole passes). While these
    * floors take longer than `--seconds`, every run of a workload times
    * the same number of passes (three), so that figures which grow with
    * the work done, such as the retained heap, compare across runs. */
  val TimedOps = 15
  val TimedPasses = 3

  private final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, batches: String, out: String, cores: Int, opCapS: Double,
      deadlineS: Double, failProbe: Boolean)

  private def parse(args: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "fail-probe") { kv(k) = "1"; i += 1 }
      else { kv(k) = args(i + 1); i += 2 }
    }
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("data"), kv("batches"), kv("out"),
      kv.getOrElse("cores", "4").toInt, kv.getOrElse("op-cap-s", "60").toDouble,
      kv.getOrElse("deadline-s", "150").toDouble, kv.contains("fail-probe"))
  }

  /** The one session config every workload, warm-up and oracle capture
    * share; `results.json` records it. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.graft.streaming.shufflePartitions", "8")
      .config("spark.ui.enabled", "false")
      // GraftFileSystem reports block hosts ("localhost0", ...) that name
      // no executor; under the default 3 s locality wait a task set over
      // such splits can stall indefinitely in local mode (seen in
      // TextIndex.appendDocs through graft://). Schedule without waiting.
      .config("spark.locality.wait", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val hardDeadlineNs = System.nanoTime() + (a.deadlineS * 1e9).toLong
    val work = s"${a.out}/work"
    new File(work).mkdirs()
    val meta = Workloads.readMeta(s"${a.batches}/meta.tsv")
    val wl = Workloads(a.workload, a.seed, meta, a.failProbe)

    val spark = session(a.cores, work)
    val sessionStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val streams = new StreamListener
    spark.streams.addListener(streams)

    // ── set-up: three load cycles, each on a fresh volume, then the
    // workload's starting state on the last one ──────────────────────
    val cycles = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      Workloads.load(spark, a.data, s"lake$k", s"$work/vol$k", wl.viaConnector)
      (System.nanoTime() - t0) / 1e9
    }
    val ctx = new Ctx(spark, a.data, a.batches, "lake3", s"$work/vol3")
    val tp = System.nanoTime()
    wl.prepare(ctx)
    val prepareS = (System.nanoTime() - tp) / 1e9
    val runner = new Runner(spark, ctx, wl, streams, a.cores, a.opCapS, a.out)

    // ── warm-up: the workload's untimed passes; the first execution
    // of each query captures its output for the oracle ───────────────
    val tw = System.nanoTime()
    // a traced run compares traced with untraced passes, so none of
    // them may be a workload's cold first pass
    val warmup = if (a.trace) math.max(1, wl.warmupPasses) else wl.warmupPasses
    (1 to warmup).foreach(_ => runner.runPass(0, traced = false))
    val warmupS = (System.nanoTime() - tw) / 1e9
    val firstOpS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val oracleSql = graft.SparkEntry.oracleSql.filter { case (k, _) => runner.records.exists(_.name == k) }
    Files.write(Paths.get(a.out, "oracle_sql.json"), Json(oracleSql).getBytes(StandardCharsets.UTF_8))

    // ── timed passes ─────────────────────────────────────────────────
    val batchesBefore = streams.all.size
    val t0 = System.nanoTime()
    var p = 1
    def elapsed = (System.nanoTime() - t0) / 1e9
    // TimedPasses >= 2 also gives a traced run a traced and an untraced pass
    def timedOps = runner.records.count(_.pass > 0)
    while ((elapsed < a.seconds || runner.completePasses < TimedPasses || timedOps < TimedOps) &&
        runner.batches <= wl.maxBatch &&
        System.nanoTime() < hardDeadlineNs) {
      runner.runPass(p, traced = a.trace && p % 2 == 1)
      p += 1
    }
    val measuredS = elapsed
    if (a.trace) Spans.add(Span(runner.workloadSpan, 0L, "workload", a.workload, 0L,
      runner.passes.collectFirst { case p if p("pass") == 1 => p("start_us").asInstanceOf[Long] }.get,
      Clock.nowUs()))
    wl.finalState(ctx).foreach { case (name, df) =>
      Canon.capture(spark, df.collect(), df, s"${a.out}/final/$name")
    }
    val timedBatches = streams.all.drop(batchesBefore)
    val retainedMb = Jvm.retainedHeapMb()

    val results = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores, "seconds" -> a.seconds, "measured_s" -> measuredS,
      "config" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "session_start_s" -> sessionStartS, "setup_cycles_s" -> cycles,
      "prepare_s" -> prepareS,
      "warmup_s" -> warmupS, "first_op_s" -> firstOpS,
      "retained_heap_mb" -> retainedMb,
      "passes" -> runner.passes.toSeq,
      "ops" -> runner.records.toSeq.map(r => Map(
        "pass" -> r.pass, "traced" -> r.traced, "name" -> r.name, "kind" -> r.kind,
        "verb" -> r.verb, "batch" -> r.batch, "ok" -> r.ok,
        "reason" -> Option(r.reason), "seconds" -> r.seconds, "build_s" -> r.buildS,
        "exec_s" -> r.execS, "rows" -> r.rows, "hash" -> Option(r.hash),
        "digest" -> Option(r.digest), "new_files" -> r.newFiles,
        "new_bytes" -> r.newBytes, "input_bytes" -> r.inputBytes)),
      "stream_batches" -> timedBatches.map(b => Map(
        "trigger_ms" -> b.durations.getOrElse("triggerExecution", 0L),
        "input_rows" -> b.inputRows)),
      "layers" -> runner.layers.toSeq)
    Files.write(Paths.get(a.out, "results.json"), Json(results).getBytes(StandardCharsets.UTF_8))
    if (a.trace) {
      val lines = Spans.all.map(s => Json(s)).mkString("", "\n", "\n")
      Files.write(Paths.get(a.out, "spans.jsonl"), lines.getBytes(StandardCharsets.UTF_8))
    }
    spark.streams.active.foreach(_.stop())
    spark.stop()
    // streaming and state-store pools leave non-daemon threads behind
    sys.exit(0)
  }
}

/** Runs passes of one workload and keeps every op record. */
final class Runner(spark: SparkSession, ctx: Ctx, wl: Workload, streams: StreamListener,
    cores: Int, opCapS: Double, outDir: String) {
  private def daemon = new java.util.concurrent.ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "bench-op"); t.setDaemon(true); t
    }
  }
  private var pool = Executors.newSingleThreadExecutor(daemon)
  /** Root of the trace tree: every traced pass hangs under it. */
  val workloadSpan: Long = Spans.id()
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val reference = mutable.Map.empty[String, String]
  private val conf = spark.sparkContext.hadoopConfiguration
  private val graftImpl = conf.get("fs.graft.impl", classOf[GraftFileSystem].getName)

  def completePasses: Int = passes.count(p => p("pass").asInstanceOf[Int] > 0)
  /** Passes run so far, warm-up included: the next pass's batch index. */
  def batches: Int = passes.size

  /** Runs one pass; `p` is 0 for a warm-up pass, else the timed pass number. */
  def runPass(p: Int, traced: Boolean): Unit = {
    val ops = wl.pass(batches, ctx)
    val exec = if (traced) Some(new ExecListener) else None
    val planSums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val opSpans = mutable.ArrayBuffer.empty[Span]
    val passId = Spans.id()
    exec.foreach(spark.sparkContext.addSparkListener)
    if (traced) conf.set("fs.graft.impl", classOf[CountingGraftFileSystem].getName)
    val fs0 = FsCounters.snapshot()
    val gc0 = Jvm.gcSeconds
    val jit0 = Jvm.jitSeconds
    val batches0 = streams.all.size
    Jvm.resetPeak()
    val passStartUs = Clock.nowUs()
    val t0 = System.nanoTime()
    ops.foreach(op => records += runOp(op, p, traced, passId, planSums, opSpans))
    val wallS = (System.nanoTime() - t0) / 1e9
    val passEndUs = Clock.nowUs()
    if (traced) {
      conf.set("fs.graft.impl", graftImpl)
      val l = exec.get
      drain(() => l.pendingJobs == 0 && streams.started.get == streams.ended.get,
        math.max(l.lastEventNs.get, streams.lastEventNs.get))
      spark.sparkContext.removeSparkListener(l)
      val passRecs = records.filter(_.pass == p)
      val opWall = passRecs.map(_.seconds).sum
      val execSum = l.summary()
      val fs1 = FsCounters.snapshot()
      val gcS = Jvm.gcSeconds - gc0
      val jitS = Jvm.jitSeconds - jit0
      val ingest = passRecs.filter(_.verb.nonEmpty).groupBy(_.verb).toSeq.flatMap {
        case (v, rs) => Seq(s"ingest.$v.s" -> rs.map(_.seconds).sum, s"ingest.$v.n" -> rs.size.toDouble)
      } ++ Seq("ingest.files_rewritten" -> passRecs.map(_.newFiles).sum.toDouble,
        "ingest.bytes_rewritten" -> passRecs.map(_.newBytes).sum.toDouble)
      val sb = streams.all.drop(batches0)
      val trig = sb.map(_.durations.getOrElse("triggerExecution", 0L)).sum / 1e3
      val addB = sb.map(_.durations.getOrElse("addBatch", 0L)).sum / 1e3
      val stream = Seq("addBatch", "queryPlanning", "getBatch", "latestOffset",
        "walCommit", "commitOffsets").map(k =>
        s"stream.${k}_s" -> sb.map(_.durations.getOrElse(k, 0L)).sum / 1e3) ++ Seq(
        "stream.batches" -> sb.size.toDouble,
        "stream.input_rows" -> sb.map(_.inputRows).sum.toDouble,
        "stream.state_rows" -> sb.map(_.stateRows).sum.toDouble,
        "stream.state_mem_bytes" -> sb.map(_.stateMem).sum.toDouble,
        "stream.state_commit_s" -> sb.map(_.stateCommitMs).sum / 1e3,
        "stream.trigger_s" -> trig,
        "stream.overhead_frac" -> (if (trig > 0) (trig - addB) / trig else 0.0))
      layers += (Map("pass" -> p.toDouble, "pass_s" -> wallS,
        "exec.busy_frac" -> execSum.getOrElse("exec.task_s", 0.0) / math.max(1e-9, opWall * cores),
        "jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS, "jvm.heap_peak_mb" -> Jvm.peakHeapMb) ++
        execSum ++ planSums ++ ingest ++ stream ++
        fs1.map { case (k, v) => k -> (v - fs0(k)) })
      val passSpan = Span(passId, workloadSpan, "pass", s"pass $p", 0L, passStartUs, passEndUs)
      Spans.add(passSpan)
      opSpans.foreach(Spans.add)
      l.spans(opSpans.filter(s => s.layer != "op").toSeq).foreach(Spans.add)
    }
    passes += Map("pass" -> p, "batch" -> batches, "traced" -> traced, "wall_s" -> wallS,
      "ops" -> ops.size, "start_us" -> passStartUs)
  }

  /** Waits until the listener bus has caught up: nothing pending and
    * no event for 200 ms (5 s at most). */
  private def drain(done: () => Boolean, last: => Long): Unit = {
    val limit = System.nanoTime() + 5000000000L
    while (System.nanoTime() < limit &&
        !(done() && System.nanoTime() - last > 200000000L)) Thread.sleep(20)
  }

  private def localFiles(root: String): Map[String, Long] = {
    val base = Paths.get(root)
    if (Files.isRegularFile(base)) Map(root -> Files.size(base))
    else if (!Files.isDirectory(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Bytes of the user rows a commit publishes: its seeded batch file. */
  private def inputBytes(op: Op): Long =
    if (op.input.isEmpty) 0L
    else localFiles(s"${ctx.batchDir}/${op.input}_${op.batch}.parquet").values.sum

  private def runOp(op: Op, p: Int, traced: Boolean, passId: Long,
      planSums: mutable.Map[String, Double], opSpans: mutable.ArrayBuffer[Span]): OpRecord = {
    val opId = Spans.id()
    val group = s"bench-op-$opId"
    val before = if (op.kind == "commit") localFiles(ctx.volumeRoot) else Map.empty[String, Long]
    val sc = spark.sparkContext
    val startUs = Clock.nowUs()
    val t0 = System.nanoTime()
    val fut = Future {
      sc.setJobGroup(group, op.name, interruptOnCancel = true)
      try {
        val b0 = Clock.nowUs()
        val df = op.run(ctx)
        val b1 = Clock.nowUs()
        val rows = df.map(_.collect()).getOrElse(Array.empty[Row])
        val e1 = Clock.nowUs()
        (df, rows, b0, b1, e1)
      } finally sc.clearJobGroup()
    }(ExecutionContext.fromExecutor(pool))
    val outcome: Either[String, (Option[DataFrame], Array[Row], Long, Long, Long)] =
      try Right(Await.result(fut, opCapS.seconds))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          spark.streams.active.foreach(q => scala.util.Try(q.stop()))
          pool.shutdownNow()
          pool = Executors.newSingleThreadExecutor(daemon)
          Left(f"timeout after $opCapS%.0f s")
        case e: Throwable =>
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
          Left(s"${root.getClass.getSimpleName}: ${String.valueOf(root.getMessage).take(300)}")
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    val endUs = Clock.nowUs()
    val after = if (op.kind == "commit") localFiles(ctx.volumeRoot) else Map.empty[String, Long]
    val fresh = after.filter { case (f, n) => !before.get(f).contains(n) }
    System.err.println(f"[perfbench] pass $p%d ${op.name}%s $seconds%.3f s" +
      outcome.left.map(r => s" FAILED: $r").left.getOrElse(""))
    outcome match {
      case Left(reason) =>
        OpRecord(p, traced, op.name, op.kind, op.verb, op.batch, ok = false, reason, seconds,
          0, 0, 0, null, null, fresh.size, fresh.values.sum, inputBytes(op))
      case Right((df, rows, b0, b1, e1)) =>
        val hash = df.map(d => Canon.hash(rows, d.schema.fieldNames.toSeq)).orNull
        val digest = if (op.kind == "readback") rows.headOption.map(r =>
          (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue)).orNull
          else null
        var ok = true
        var reason: String = null
        // the first successful run of a query is the one the oracle checks;
        // every later run must reproduce it
        if (op.kind == "query") reference.get(op.name) match {
          case None =>
            reference(op.name) = hash
            df.foreach(d => Canon.capture(spark, rows, d, s"$outDir/outputs/${op.name}"))
          case Some(h) if h != hash =>
            ok = false
            reason = "mismatch: output differs from the oracle-checked first run"
          case _ => ()
        }
        if (traced) {
          val opSpan = Span(opId, passId, "op", op.name, opId, startUs, endUs)
          val build = Span(Spans.id(), opId, "build", op.name, opId, b0, b1)
          val execS = Span(Spans.id(), opId, "exec", op.name, opId, b1, e1)
          opSpans += opSpan += build += execS
          planSums("plan.build_s") += (b1 - b0) / 1e6
          df.foreach { d =>
            PlanMetrics.phases(d).foreach { case (ph, (s, e)) =>
              planSums(s"plan.${ph}_s") += (e - s) / 1e3
              val sUs = s * 1000L
              val parent = if (sUs < b1) build else execS
              opSpans += Span(Spans.id(), parent.id, "plan", ph, opId, sUs,
                math.max(sUs, e * 1000L))
            }
            PlanMetrics.of(d).foreach { case (k, v) => planSums(k) += v }
          }
        }
        OpRecord(p, traced, op.name, op.kind, op.verb, op.batch, ok, reason, seconds,
          (b1 - b0) / 1e6, (e1 - b1) / 1e6, rows.length.toLong, hash, digest,
          fresh.size, fresh.values.sum, inputBytes(op))
    }
  }
}

/** Canonical form of a result: columns sorted by name, doubles to 6
  * decimals, rows sorted — equal for equal results across runs. */
object Canon {
  private def v(x: Any): String = x match {
    case null => "null"
    case d: Double => if (d.isNaN) "nan" else f"$d%.6f"
    case f: Float => if (f.isNaN) "nan" else f"${f.toDouble}%.6f"
    case b: java.math.BigDecimal => b.toPlainString
    case r: Row => (0 until r.length).map(i => v(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => v(k) + ":" + v(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def hash(rows: Array[Row], cols: Seq[String]): String = {
    val order = cols.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val lines = rows.map(r => order.map(i => v(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-1")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update(10.toByte) }
    s"${rows.length}:" + md.digest().map("%02x".format(_)).mkString
  }

  /** Writes the collected rows as one parquet file for the DuckDB oracle. */
  def capture(spark: SparkSession, rows: Array[Row], df: DataFrame, path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
}
