package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed call into one layer. Times are epoch nanoseconds so that they
  * line up with Spark's job and task event times (epoch milliseconds).
  * `op` identifies the commit or operation the span belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** One Spark job as the listener saw it, attributed to the span whose id the
  * calling thread carried in the `perfbench.span` local property, and to the
  * streaming query and batch that launched it.
  */
final class JobRec(val id: Int, val span: Long, val query: String,
    val batch: Long, val start: Long) {
  @volatile var end: Long = start
  /** The span the job is charged to: the caller's, or for a streaming
    * commit the span made from that batch's progress.
    */
  var owner: Long = span
  var stages = 0
  var tasks = 0
  var taskNanos = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  /** (launch, finish) of every task, epoch nanoseconds. */
  val taskSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans kept in memory plus a scheduler listener; written out at exit.
  * Exists only in the traced run.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Clock.nanosOfMillis

  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  def newId(): Long = ids.incrementAndGet()

  /** Run `body` as span `name`; Spark jobs it launches carry the span id. */
  def span[A](name: String, op: Long)(body: => A): A = {
    val id = newId()
    val parent = stack.get.headOption.getOrElse(0L)
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    stack.set(id :: stack.get)
    val t0 = Clock.now()
    try body
    finally {
      spans.add(Span(id, name, parent, op, t0, Clock.now()))
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  def add(s: Span): Unit = spans.add(s)

  /** Forget every job seen so far (set-up is not measured). */
  def resetJobs(): Unit = { jobs.clear(); stageJob.clear() }

  def jobList: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId,
      prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L),
      prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      nanosOfMillis(e.time))
    rec.stages = e.stageIds.size
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = nanosOfMillis(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        j.taskSpans += ((nanosOfMillis(e.taskInfo.launchTime),
          nanosOfMillis(e.taskInfo.finishTime)))
        val m = e.taskMetrics
        if (m != null) {
          j.taskNanos += m.executorRunTime * 1000000L
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
          j.inputRecords += m.inputMetrics.recordsRead
          j.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Spans as JSON lines, jobs included as child spans of their owner. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.asScala.toSeq.sortBy(_.start).foreach { s =>
        w.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""")
        w.newLine()
      }
      jobList.foreach { j =>
        w.write(s"""{"job":${j.id},"parent":${j.owner},"query":${if (j.query == null) "null" else "\"" + j.query + "\""},"batch":${j.batch},"start_ns":${j.start},"end_ns":${j.end},"stages":${j.stages},"tasks":${j.tasks},"task_ns":${j.taskNanos}}""")
        w.newLine()
      }
      val self = Tracer.selfTimes(spans.asScala.toSeq, jobList).toSeq.sorted
        .map { case (n, t) => s""""$n":$t""" }
      w.write(s"""{"self_ns":{${self.mkString(",")}}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Epoch nanoseconds on a monotonic clock, comparable with Spark's event
  * times (epoch milliseconds).
  */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = base + System.nanoTime()
  def nanosOfMillis(ms: Long): Long = ms * 1000000L
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Total length of the union of intervals. */
  def covered(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `[from, to)` covered by the intervals. */
  def coveredWithin(iv: Iterable[(Long, Long)], from: Long, to: Long): Long =
    covered(iv.iterator.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq)

  /** Self time of each span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span], jobs: Seq[JobRec]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    val jobKids = jobs.groupBy(_.owner)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)) ++
          jobKids.getOrElse(s.id, Nil).map(j => (j.start, j.end))
        s.dur - coveredWithin(iv, s.start, s.end)
      }.sum
    }
  }
}

/** GC time and heap peak from the JVM's management beans. */
final class JvmMeter {
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  private var gc0 = 0L
  def start(): Unit = { gc0 = gcMs; pools.foreach(_.resetPeakUsage()) }
  def gcSeconds: Double = (gcMs - gc0) / 1000.0
  def heapPeakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
