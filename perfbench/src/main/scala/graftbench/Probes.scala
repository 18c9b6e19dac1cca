package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.GraftFileSystem

/** Connector counters, filled by [[CountingGraftFileSystem]]. One
  * process-wide set: the benchmark runs one op at a time and reads
  * the totals per pass.
  */
object FsCounters {
  val Ops: Seq[String] = Seq("open", "create", "rename", "delete", "list", "stat", "mkdirs")
  private val n = Ops.map(_ -> new AtomicLong).toMap
  private val nanos = Ops.map(_ -> new AtomicLong).toMap
  val inits = new AtomicLong
  val initNanos = new AtomicLong
  val bytesRead = new AtomicLong
  val bytesWritten = new AtomicLong
  val failed = new AtomicLong

  def timed[T](op: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => failed.incrementAndGet(); throw e }
    finally {
      n(op).incrementAndGet()
      nanos(op).addAndGet(System.nanoTime() - t0)
    }
  }

  def snapshot(): Map[String, Double] =
    Ops.flatMap(o => Seq(s"sources.$o.n" -> n(o).get.toDouble,
      s"sources.$o.s" -> nanos(o).get / 1e9)).toMap ++ Map(
      "sources.init.n" -> inits.get.toDouble,
      "sources.init.s" -> initNanos.get / 1e9,
      "sources.bytes_read" -> bytesRead.get.toDouble,
      "sources.bytes_written" -> bytesWritten.get.toDouble,
      "sources.failed.n" -> failed.get.toDouble)
}

/** `GraftFileSystem` with every engine-facing call counted and timed.
  * Registered as `fs.graft.impl` only while a traced pass runs.
  */
class CountingGraftFileSystem extends GraftFileSystem {
  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    val t0 = System.nanoTime()
    try super.initialize(name, conf)
    finally {
      FsCounters.inits.incrementAndGet()
      FsCounters.initNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    FsCounters.timed("open") {
      new FSDataInputStream(new CountingInput(super.open(f, bufferSize)))
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    FsCounters.timed("create") {
      new CountingOutput(super.create(f, permission, overwrite, bufferSize,
        replication, blockSize, progress))
    }

  override def rename(src: Path, dst: Path): Boolean =
    FsCounters.timed("rename")(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    FsCounters.timed("delete")(super.delete(f, recursive))

  override def listStatus(f: Path): Array[FileStatus] =
    FsCounters.timed("list")(super.listStatus(f))

  override def getFileStatus(f: Path): FileStatus =
    FsCounters.timed("stat")(super.getFileStatus(f))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    FsCounters.timed("mkdirs")(super.mkdirs(f, permission))
}

/** Input stream wrapper that counts the bytes handed to the reader. */
private class CountingInput(in: FSDataInputStream) extends FSInputStream {
  private def count(k: Int): Int = {
    if (k > 0) FsCounters.bytesRead.addAndGet(k)
    k
  }
  override def read(): Int = {
    val b = in.read()
    if (b >= 0) FsCounters.bytesRead.incrementAndGet()
    b
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = count(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
    count(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, b, off, len)
    count(len)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** Output stream wrapper: the position at close is the bytes written. */
private class CountingOutput(out: FSDataOutputStream)
    extends FSDataOutputStream(out, null) {
  private var counted = false
  override def close(): Unit = {
    if (!counted) { counted = true; FsCounters.bytesWritten.addAndGet(getPos) }
    super.close()
  }
}

/** One timed interval of the trace tree. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    op: Long, startUs: Long, endUs: Long)

object Spans {
  private val nextId = new AtomicLong(1)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def id(): Long = nextId.getAndIncrement()
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
}

/** Epoch microseconds from one monotonic base, so benchmark spans and
  * Spark's epoch-millisecond event times land on the same axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class JobEvent(id: Int, startMs: Long, var endMs: Long, module: String)
final case class StageEvent(id: Int, job: Int, var startMs: Long, var endMs: Long,
    durations: mutable.ArrayBuffer[Long])

/** Aggregates Spark scheduler events while one traced pass runs. Job
  * spans are parented by time to the op phase that submitted them (one
  * op runs at a time), which also catches jobs that operators submit
  * from their own threads.
  */
class ExecListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobEvent]()
  val stages = new ConcurrentHashMap[Int, StageEvent]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val sums = new ConcurrentHashMap[String, Double]()
  val lastEventNs = new AtomicLong(System.nanoTime())
  private val OperatorFrame = """graft\.operators\.(\w+?)\$?[.(]""".r

  private def add(k: String, v: Double): Unit = sums.merge(k, v, (a, b) => a + b)
  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val details = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    val module = OperatorFrame.findFirstMatchIn(details).map(_.group(1)).getOrElse("")
    jobs.put(e.jobId, JobEvent(e.jobId, e.time, -1L, module))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    val st = stages.computeIfAbsent(i.stageId,
      _ => StageEvent(i.stageId, stageJob.getOrDefault(i.stageId, -1), 0L, 0L,
        mutable.ArrayBuffer.empty))
    st.startMs = i.submissionTime.getOrElse(0L)
    st.endMs = i.completionTime.getOrElse(st.startMs)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val st = stages.computeIfAbsent(e.stageId,
      _ => StageEvent(e.stageId, stageJob.getOrDefault(e.stageId, -1), 0L, 0L,
        mutable.ArrayBuffer.empty))
    st.durations.synchronized { st.durations += e.taskInfo.duration }
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.deser_s", m.executorDeserializeTime / 1e3)
      add("exec.shuffle_read_bytes",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  def pendingJobs: Int = jobs.values.asScala.count(_.endMs < 0)

  /** Summed task metrics plus job/stage counts, skew and the per-module
    * job time of the `graft.operators` file that submitted each job. */
  def summary(): Map[String, Double] = {
    val js = jobs.values.asScala.toSeq
    val ss = stages.values.asScala.toSeq
    val skew = ss.flatMap { s =>
      val d = s.durations.synchronized(s.durations.sorted.toIndexedSeq)
      if (d.size < 2) None
      else {
        val med = if (d.size % 2 == 1) d(d.size / 2) else (d(d.size / 2 - 1) + d(d.size / 2)) / 2.0
        Some(d.last / math.max(med.toDouble, 1.0))
      }
    }
    val perModule = js.filter(_.module.nonEmpty).groupBy(_.module).toSeq.flatMap {
      case (mod, jm) => Seq(s"operators.$mod.s" -> jm.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3,
        s"operators.$mod.jobs" -> jm.size.toDouble)
    }
    sums.asScala.toMap ++ Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.skew_max" -> (if (skew.isEmpty) 1.0 else skew.max)) ++ perModule
  }

  /** Job and stage spans, each job parented to the innermost span of
    * `ops` (build, plan or exec) whose interval holds its start. */
  def spans(parents: Seq[Span]): Seq[Span] = {
    val jobSpans = jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      val sUs = j.startMs * 1000L
      val eUs = math.max(j.endMs, j.startMs) * 1000L
      val holder = parents.filter(p => p.startUs <= sUs && sUs <= p.endUs)
        .sortBy(p => p.endUs - p.startUs).headOption
      holder.map(h => j.id -> Span(Spans.id(), h.id, "job", s"job ${j.id}", h.op, sUs, eUs))
    }.toMap
    val stageSpans = stages.values.asScala.toSeq.flatMap { s =>
      jobSpans.get(s.job).filter(_ => s.startMs > 0).map { js =>
        Span(Spans.id(), js.id, "stage", s"stage ${s.id}", js.op,
          s.startMs * 1000L, math.max(s.endMs, s.startMs) * 1000L)
      }
    }
    jobSpans.values.toSeq ++ stageSpans
  }
}

/** Micro-batch progress of every streaming query. */
final case class Batch(durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateMem: Long, stateCommitMs: Long)

class StreamListener extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  val started = new AtomicLong
  val ended = new AtomicLong
  val lastEventNs = new AtomicLong(System.nanoTime())

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    started.incrementAndGet(); lastEventNs.set(System.nanoTime())
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    lastEventNs.set(System.nanoTime())
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val so = p.stateOperators.toSeq
    batches.add(Batch(d, p.numInputRows, so.map(_.numRowsTotal).sum,
      so.map(_.memoryUsedBytes).sum, so.map(_.commitTimeMs).sum))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    ended.incrementAndGet(); lastEventNs.set(System.nanoTime())
  }

  def all: Seq[Batch] = batches.asScala.toSeq
}

/** SQL metrics read from a finished DataFrame's executed plan. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): Map[String, Double] = {
    var joinRows = 0L
    var scanFiles = 0L
    val plan: SparkPlan = df.queryExecution.executedPlan
    foreach(plan) { p =>
      val cls = p.getClass.getSimpleName
      if (cls.contains("Join")) joinRows += p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      if (cls.contains("Scan")) scanFiles += p.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
    Map("sql.join_rows_out" -> joinRows.toDouble, "sql.scan_files" -> scanFiles.toDouble)
  }

  /** Seconds per planning phase from the query's own tracker. */
  def phases(df: DataFrame): Map[String, (Long, Long)] =
    df.queryExecution.tracker.phases.map { case (k, v) => (k, (v.startTimeMs, v.endTimeMs)) }
}

/** Minimal JSON writer (the benchmark keeps to the JDK and Spark jars). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: Span => apply(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "op" -> s.op, "start_us" -> s.startUs, "end_us" -> s.endUs))
    case other => str(other.toString)
  }
}

/** JVM-wide counters: collector time, JIT time, heap peak. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Heap in use after full collections: the least of three readings,
    * each after a collection, so one late-finishing cycle cannot inflate
    * it. */
  def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}
