package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import graft.cdc.{MaterializedTable, TableGroup}

/** What one run prints: end-to-end metrics (untraced run) or per-layer
  * metrics (traced run), the operation tally, and any oracle mismatch.
  */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]

  def check(what: Option[String]): Unit = what.foreach { m =>
    if (mismatches.size < 20) System.err.println(s"[perfbench] MISMATCH $m")
    mismatches += m
  }

  def json(trace: Boolean): String = {
    val ms = (if (trace) layer else e2e).map { case (k, (v, u)) =>
      // JSON has no NaN; Main fails a run with an unmeasured metric
      val num = if (v.isNaN || v.isInfinite) "-1" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": ${mismatches.isEmpty}, "attempted": ${math.max(attempted, 1L)}, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val cores: Int, val tracer: Option[Tracer],
    val counters: Option[StepCounters], val plant: Boolean) {
  val res = new Result
  val jvm = new JvmMeter

  def span[A](name: String, op: Long)(body: => A): A =
    tracer.fold(body)(_.span(name, op)(body))

  def dir(name: String): String = work.resolve(name).toString

  /** Forget what set-up recorded; returns the commit-retry count so far. */
  def startMeasure(): Long = {
    tracer.foreach(_.resetJobs())
    counters.foreach(_.reset())
    jvm.start()
    graft.cdc.MaterializedTable.commitRetryCount.get()
  }
}

object Bench {
  /** Hash buckets per member table. */
  val NumBuckets = 8

  /** Latency charged to a failed operation: it misses every limit. */
  val FailedMs = 1.0e6

  def ms(nanos: Long): Double = nanos / 1.0e6

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 50)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def framesDf(spark: SparkSession, txns: Seq[Txn]): DataFrame =
    spark.createDataset(txns.map(_.frame))(Encoders.BINARY).toDF("value")

  /** Land transactions as one group commit through the harness pipeline. */
  def commit(ctx: Ctx, root: String, txns: Seq[Txn], batchId: Long): Int = {
    val cl = Pipeline.changelog(framesDf(ctx.spark, txns), ctx.counters).persist()
    try TableGroup.commit(ctx.spark, root, Pipeline.members(cl), Pipeline.OrderCols,
      batchId = batchId, numBuckets = NumBuckets, statsCols = Pipeline.StatsCols)
    finally cl.unpersist()
  }

  /** Bytes of every file under `dir`. */
  def storedBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** (bucket dirs, parquet files, parquet bytes) written by member versions
    * above `afterVersion`, read from the version directories of the layout.
    */
  def written(memberDir: String, afterVersion: Long): (Long, Long, Long) = {
    val p = java.nio.file.Paths.get(memberDir)
    var buckets, files, bytes = 0L
    val vs = Files.list(p)
    try vs.iterator().asScala.foreach { v =>
      val n = v.getFileName.toString
      if (Files.isDirectory(v) && n.matches("v\\d+") && n.drop(1).toLong > afterVersion) {
        val bs = Files.list(v)
        try bs.iterator().asScala.filter(_.getFileName.toString.startsWith("_bucket=")).foreach { b =>
          buckets += 1
          val fs = Files.list(b)
          try fs.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).foreach { f =>
            files += 1; bytes += Files.size(f)
          } finally fs.close()
        } finally bs.close()
      }
    } finally vs.close()
    (buckets, files, bytes)
  }

  /** Member versions above `afterVersion` that wrote at least one bucket. */
  def folded(memberDir: String, afterVersion: Long): Long = {
    val s = Files.list(java.nio.file.Paths.get(memberDir))
    try s.iterator().asScala.count { v =>
      val n = v.getFileName.toString
      n.matches("v\\d+") && n.drop(1).toLong > afterVersion && {
        val bs = Files.list(v)
        try bs.iterator().asScala.exists(_.getFileName.toString.startsWith("_bucket="))
        finally bs.close()
      }
    }.toLong finally s.close()
  }

  def currentVersion(ctx: Ctx, memberDir: String): Long =
    MaterializedTable.listVersions(ctx.spark, memberDir).max

  /** Compare every member's group-committed state with the oracle. */
  def checkGroup(ctx: Ctx, root: String, oracle: Oracle): Unit =
    Gen.Tables.foreach { t =>
      ctx.res.check(Oracle.diff(s"group state of $t", oracle.state(t),
        ctx.span("check", 0)(Pipeline.rows(TableGroup.read(ctx.spark, root, t)))))
    }

  /** Initial replica: the group's state right after set-up. */
  def snapshot(ctx: Ctx, root: String): Map[String, mutable.LongMap[Row]] =
    Gen.Tables.map { t =>
      t -> mutable.LongMap.from(ctx.span("check", 0)(Pipeline.rows(TableGroup.read(ctx.spark, root, t))))
    }.toMap
}
