package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** [[Bench]]'s per-gate job accounting: one listener charges every Spark
  * job, and each stage it runs, to the gate that launched it.
  *
  * [[gate]] names the gate in a Spark local property for the length of its
  * body. Threads the body starts ([[graft.cdc.Parallel]]'s workers, a
  * stream's execution thread) copy the caller's local properties when they
  * are created, so their jobs carry the same name. A job that carries no
  * gate name counts once in [[unattributed]].
  *
  * Per gate: jobs; completed stages with their tasks and shuffle-write
  * bytes; `jobBusySec`, the length of the union of the gate's job
  * intervals within its window; and `driverGapSec`, the window's wall time
  * minus that, when no job of the gate was running. r16 found the suite
  * bound by about 100 ms of driver overhead per job, so a gate's job count
  * and driver gap explain most of its time.
  *
  * Registers itself on `sc`. Read the counts only after draining the
  * listener bus (`GraftShims.drainListenerBus`). Gate names must be
  * unique; [[gate]] runs on one thread at a time.
  */
private[graft] final class GateCounters(sc: SparkContext)
    extends SparkListener {
  import GateCounters._

  /** One gated job, with its completed stages. Times are epoch
    * milliseconds, as the listener events carry them.
    */
  private final class Job(val gate: String, val start: Long) {
    @volatile var end: Long = -1L
    var stages, tasks, shuffleBytes = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val ungated = new AtomicLong(0L)
  // each gate's window in epoch nanoseconds, in run order
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]

  // wall-clock epoch nanoseconds on the monotonic clock, comparable with
  // the listener events' epoch milliseconds
  private val epochBase =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochNanos(): Long = epochBase + System.nanoTime()

  sc.addSparkListener(this)

  def gate[A](name: String)(body: => A): A = {
    val t0 = epochNanos()
    val prev = sc.getLocalProperty(GateKey)
    sc.setLocalProperty(GateKey, name)
    try body
    finally {
      sc.setLocalProperty(GateKey, prev)
      windows += ((name, t0, epochNanos()))
    }
  }

  /** Jobs that started outside every gate. */
  def unattributed: Long = ungated.get

  /** Each gate's counts, in run order. */
  def counts: Seq[(String, Counts)] = {
    val byGate = jobs.values.asScala.toSeq.groupBy(_.gate)
    windows.toSeq.map { case (g, t0, t1) =>
      val js = byGate.getOrElse(g, Nil)
      val busy = covered(js.map { j =>
        val end = if (j.end < 0) t1 else j.end * 1000000L
        (math.max(j.start * 1000000L, t0), math.min(end, t1))
      })
      g -> Counts(js.size.toLong, js.map(_.stages).sum, js.map(_.tasks).sum,
        js.map(_.shuffleBytes).sum, busy / 1e9, (t1 - t0 - busy) / 1e9)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(GateKey))) match {
      case Some(g) =>
        val j = new Job(g, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageJob.put(_, j))
      case None => ungated.incrementAndGet()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      j.stages += 1
      j.tasks += e.stageInfo.numTasks
      Option(e.stageInfo.taskMetrics).foreach(m =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
    }
}

private[graft] object GateCounters {

  /** The local property that names the running gate. */
  final val GateKey = "graft.bench.gate"

  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      shuffleBytes: Long, jobBusySec: Double, driverGapSec: Double)

  /** Length of the union of `[start, end)` intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) { total += e - from; reach = e }
    }
    total
  }
}
