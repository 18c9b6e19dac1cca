package graft

/** Concurrent Spark jobs from one session. A verb composed of SMALL
  * independent jobs (a tombstone append next to a sidecar recount, a
  * text-index chain next to a vector-index chain) pays the sum of job
  * latencies run sequentially while most of the cluster idles;
  * submitted from separate threads, the scheduler interleaves their
  * stages — the standard Spark concurrent-jobs pattern — and the verb's
  * wall-clock is max(), not sum(). Correctness is untouched as long as
  * every commit or visibility point [[await]]s all of its inputs: the
  * crash windows are then exactly the sequential protocol's.
  */
private[graft] object InFlight {

  /** Start `f` on its own daemon thread. */
  def inFlight[T](f: => T): java.util.concurrent.Future[T] = {
    val task = new java.util.concurrent.FutureTask[T](() => f)
    val th = new Thread(task, s"graft-inflight-${java.util.UUID.randomUUID}")
    th.setDaemon(true)
    th.start()
    task
  }

  /** The result of `f`, rethrowing the exception `f` threw. */
  def await[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
}
