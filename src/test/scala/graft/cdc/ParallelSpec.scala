package graft.cdc

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftShims
import org.scalatest.funsuite.AnyFunSuite

/** [[Parallel]]: the one helper that overlaps independent Spark actions.
  * Jobs it launches carry exactly the caller's local properties as they
  * stand at the call; a failure cancels the call's other jobs before it
  * is rethrown.
  */
class ParallelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private def sc = spark.sparkContext

  /** Job starts whose RDD name begins with `prefix`: RDD name → the job's
    * local properties.
    */
  private def recording[A](prefix: String)(f: => A)
      : (A, Map[String, java.util.Properties]) = {
    val seen = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.flatMap(_.rddInfos).map(_.name)
          .filter(_.startsWith(prefix)).foreach(seen.put(_, e.properties))
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      GraftShims.drainListenerBus(sc)
      import scala.jdk.CollectionConverters._
      (a, seen.asScala.toMap)
    } finally sc.removeSparkListener(listener)
  }

  /** One small job over an RDD named `name` (how the listener finds it). */
  private def job(name: String): Long =
    sc.parallelize(1 to 8, 2).setName(name).count()

  test("jobs of a call made with no job group do not carry an earlier call's group") {
    val (_, jobs) = recording("grp-") {
      sc.setJobGroup("g1", "earlier call")
      try (1 to 4).foreach { i =>
        Parallel.pair(spark)(job(s"grp-g1-a$i"), job(s"grp-g1-b$i"))
      } finally sc.clearJobGroup()
      Parallel.pair(spark)(job("grp-none-a"), job("grp-none-b"))
    }
    val group = jobs.map { case (n, p) => n -> p.getProperty("spark.jobGroup.id") }
    assert(group.size == 10, s"every job seen: $group")
    assert(group.filter(_._1.startsWith("grp-g1")).values.forall(_ == "g1"),
      s"the g1 call's jobs carry g1: $group")
    assert(group.filter(_._1.startsWith("grp-none")).values.forall(_ == null),
      s"the group-less call's jobs carry no group: $group")
  }

  test("a local property set by the caller reaches every job the helper launches") {
    // an earlier call with the property unset: no thread it used may
    // serve the later call with stale properties
    Parallel.pair(spark)(job("warm-a"), job("warm-b"))
    val (counts, jobs) = recording("lp-") {
      sc.setLocalProperty("graft.test.marker", "m1")
      try Parallel.all(spark, Seq.tabulate(6)(i => () => job(s"lp-$i")))
      finally sc.setLocalProperty("graft.test.marker", null)
    }
    assert(counts == Seq.fill(6)(8L))
    val marker = jobs.map { case (n, p) => n -> p.getProperty("graft.test.marker") }
    assert(marker.size == 6 && marker.values.forall(_ == "m1"),
      s"every job carries the caller's property: $marker")
    assert(jobs.values.forall(_.getProperty("spark.job.tags")
      .contains("graft-parallel-")), "every job carries the call's tag")
  }

  test("results come back in input order, at most MaxConcurrent at a time") {
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val peak = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = Parallel.all(spark, Seq.tabulate(10) { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep((10 - i) * 5L)
      running.decrementAndGet()
      i
    })
    assert(out == (0 until 10))
    assert(peak.get <= Parallel.MaxConcurrent)
    assert(Parallel.all(spark, Seq.empty[() => Int]).isEmpty)
  }

  test("a failure cancels the call's other jobs and is rethrown once they are gone") {
    import org.apache.spark.sql.functions.{col, udf}
    val slow = udf { (x: Long) => Thread.sleep(100L); x }
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.flatMap(_.rddInfos).exists(_.name == "slow-sibling"))
          started.countDown()
    }
    sc.addSparkListener(listener)
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Parallel.pair(spark)(
          { started.await(60, java.util.concurrent.TimeUnit.SECONDS)
            throw new IllegalStateException("boom") },
          { // 20 s per task if left to run; killed tasks stop sleeping
            sc.setLocalProperty("spark.job.interruptOnCancel", "true")
            spark.range(0, 800, 1, 4).select(slow(col("id")))
              .rdd.setName("slow-sibling").count() })
      }
      assert(e.getMessage == "boom")
    } finally sc.removeSparkListener(listener)
    val secs = (System.nanoTime() - t0) / 1e9
    GraftShims.drainListenerBus(sc)
    assert(sc.statusTracker.getActiveJobIds().isEmpty)
    assert(secs < 15, s"the sibling job was cancelled, not awaited: $secs s")
  }
}
