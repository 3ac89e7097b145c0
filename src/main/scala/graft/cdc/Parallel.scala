package graft.cdc

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.SparkSession

/** THE way graft overlaps independent Spark actions (guide §2.6: one
  * action's straggler tail back-fills the executors another's driver
  * think-time leaves idle — Drizzle's hiding of per-batch driver overhead).
  * Pass ONLY actions with no ordering dependency: disjoint output dirs,
  * independent materializations. Results come back in input order.
  *
  * == Threads and local properties ==
  *
  * Each call runs its thunks on at most [[MaxConcurrent]] FRESH threads
  * that the caller creates, so every worker starts with a copy of the
  * caller's Spark local properties as they stand at the call: the stream's
  * job group (which `query.stop()` cancels), the scheduler pool, the SQL
  * execution id, any tracing property. A pooled thread would instead keep
  * whatever properties were live when the pool first created it, and carry
  * a stale job group into every later call.
  *
  * == Failure and interrupt ==
  *
  * Every job a worker launches also carries a per-call job tag. On the
  * first failure, or an interrupt of the caller, no further thunk starts
  * and the call's jobs are cancelled by that tag until every worker has
  * exited. Only then is the first failure rethrown (an interrupt rethrows
  * as the caller's InterruptedException): an abandoned in-flight writer
  * would race the caller's retry of the same sequence (withCommitRetry
  * re-enters the whole fold). Workers are never interrupted — a running
  * thunk leaves through its own failure path when its job is cancelled, so
  * claim and lock releases in its finally blocks run undisturbed.
  */
object Parallel {

  /** Most thunks one call runs at once. */
  val MaxConcurrent = 4

  def all[A](spark: SparkSession, thunks: Seq[() => A]): Seq[A] = {
    if (thunks.isEmpty) return Nil
    val sc = spark.sparkContext
    val tag = s"graft-parallel-${java.util.UUID.randomUUID()}"
    val results = new Array[Any](thunks.size)
    val next = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable](null)
    val lock = new Object
    val n = math.min(thunks.size, MaxConcurrent)
    var live = n // workers still running; guarded by lock
    val workers = Seq.tabulate(n) { w =>
      new Thread(() => {
        try {
          sc.addJobTag(tag)
          var i = next.getAndIncrement()
          while (i < thunks.size && failure.get == null) {
            results(i) = thunks(i)()
            i = next.getAndIncrement()
          }
        } catch {
          case t: Throwable => failure.compareAndSet(null, t)
        } finally lock.synchronized { live -= 1; lock.notifyAll() }
      }, s"graft-parallel-$w")
    }
    workers.foreach(_.start())
    try lock.synchronized {
      while (live > 0 && failure.get == null) lock.wait()
    } catch {
      case e: InterruptedException => failure.compareAndSet(null, e)
    }
    val first = failure.get
    if (first != null) {
      abort(sc, tag, workers, s"graft.cdc.Parallel call aborted: $first")
      throw first
    }
    results.toSeq.asInstanceOf[Seq[A]]
  }

  /** Cancel the call's jobs until every worker has exited. A worker's
    * action returns only once its job has ended, so when the last worker
    * is gone none of the call's jobs is still active; one last cancel
    * covers jobs a worker left running asynchronously.
    */
  private def abort(sc: org.apache.spark.SparkContext, tag: String,
      workers: Seq[Thread], reason: String): Unit = {
    var interrupted = false
    def cancel(): Unit = if (!sc.isStopped) sc.cancelJobsWithTag(tag, reason)
    while (workers.exists(_.isAlive)) {
      cancel()
      try workers.foreach(_.join(50L))
      catch { case _: InterruptedException => interrupted = true }
    }
    cancel()
    if (interrupted) Thread.currentThread().interrupt()
  }

  def pair[X, Y](spark: SparkSession)(fx: => X, fy: => Y): (X, Y) = {
    val r = all[Any](spark, Seq(() => fx, () => fy))
    (r(0).asInstanceOf[X], r(1).asInstanceOf[Y])
  }
}
