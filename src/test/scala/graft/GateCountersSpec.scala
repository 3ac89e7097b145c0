package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GateCounters]]: every job a gate starts, on its own thread or on a
  * [[graft.cdc.Parallel]] worker, is charged to that gate; a job outside
  * every gate counts only as unattributed.
  */
class GateCountersSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Counts per `graft.test.marker` value: jobs and their stages from job
    * starts, completed stages, and tasks from task ends.
    */
  private final class Independent extends SparkListener {
    val jobs = new ConcurrentHashMap[String, Int]()
    val stages = new ConcurrentHashMap[String, Int]()
    val tasks = new ConcurrentHashMap[String, Int]()
    val untagged = new ConcurrentHashMap[String, Int]()
    private val stageMarker = new ConcurrentHashMap[Int, String]()
    private def bump(m: ConcurrentHashMap[String, Int], k: String): Unit =
      m.merge(k, 1, (a: Int, b: Int) => a + b)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.marker")))
        .foreach { m =>
          bump(jobs, m)
          val tags = Option(e.properties.getProperty("spark.job.tags")).getOrElse("")
          if (!tags.contains("graft-parallel-")) bump(untagged, m)
          e.stageIds.foreach(stageMarker.put(_, m))
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageMarker.get(e.stageInfo.stageId)).foreach(bump(stages, _))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageMarker.get(e.stageId)).foreach(bump(tasks, _))
  }

  test("each gate is charged its own jobs, Parallel workers' included") {
    val sc = spark.sparkContext
    def marked[A](m: String)(f: => A): A = {
      sc.setLocalProperty("graft.test.marker", m)
      try f finally sc.setLocalProperty("graft.test.marker", null)
    }
    val grouped = spark.range(0, 2000, 1, 4)
      .groupBy((col("id") % 7).as("k")).count()
    val seen = new Independent
    sc.addSparkListener(seen)
    val counters = new GateCounters(sc)
    val walls = scala.collection.mutable.Map.empty[String, Double]
    def timed(gate: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      counters.gate(gate)(marked(gate)(f))
      walls(gate) = (System.nanoTime() - t0) / 1e9
    }
    try {
      timed("plain")(grouped.collect())
      timed("pair")(graft.cdc.Parallel.pair(spark)(
        grouped.collect(), spark.range(0, 500, 1, 3).count()))
      marked("ungated")(spark.range(0, 100, 1, 2).count())
      GraftShims.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(counters)
      sc.removeSparkListener(seen)
    }

    val got = counters.counts.toMap
    assert(got.keySet == Set("plain", "pair"))
    for (g <- Seq("plain", "pair")) {
      val c = got(g)
      assert(c.jobs == seen.jobs.get(g), s"$g jobs: $c")
      assert(c.stages == seen.stages.get(g), s"$g stages: $c")
      assert(c.tasks == seen.tasks.get(g), s"$g tasks: $c")
      assert(c.jobs > 0 && c.tasks > 0, s"$g ran nothing: $c")
      assert(math.abs(c.jobBusySec + c.driverGapSec - walls(g)) < 0.001,
        s"$g busy + gap ${c.jobBusySec + c.driverGapSec} != wall ${walls(g)}")
      assert(c.jobBusySec >= 0 && c.driverGapSec >= 0, s"$g: $c")
    }
    assert(got("plain").shuffleBytes > 0, "the grouping shuffles")
    // every job of the pair gate ran on a Parallel worker
    assert(seen.jobs.get("pair") >= 2 && !seen.untagged.containsKey("pair"),
      s"pair jobs not from Parallel workers: ${seen.untagged}")
    assert(seen.jobs.get("ungated") > 0)
    assert(counters.unattributed >= seen.jobs.get("ungated"),
      s"unattributed ${counters.unattributed}")
  }
}
