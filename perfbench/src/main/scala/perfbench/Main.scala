package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload <firehose|serve> --seed <n>
  * --seconds <s> --trace <0|1> [--plant 1] --work <dir>`
  *
  * Prints a human-readable account on stderr and, as the last line of
  * stdout, one JSON object with the end-to-end metrics (`--trace 0`) or the
  * per-layer metrics (`--trace 1`). Exits 1 if any answer disagrees with the
  * oracle or any reported metric went unmeasured (NaN or infinite). `--plant 1` alters one expected row, to show that the check bites.
  */
object Main {
  /** Set-ups per run; `setup_s` reports the median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = Workload(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val plant = a.get("plant").contains("1")
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      // group commits need >= 2; any retention defers GC to vacuum(), which
      // the benchmark never runs, so every version stays readable
      .config("spark.graft.materialized.retainVersions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val counters = if (trace) Some(new StepCounters(spark)) else None
    val ctx = new Ctx(spark, work, seed, seconds, cores, tracer, counters, plant)

    val reps = (0 until SetupReps).map { rep =>
      val s = System.nanoTime()
      ctx.span("setup", rep)(workload.setup(ctx, rep))
      (System.nanoTime() - s) / 1e9
    }
    ctx.res.e2e("setup_s") = (sessionS + Bench.median(reps), "s")
    System.err.println(f"[perfbench] session $sessionS%.2fs, set-ups ${reps.map(r => f"$r%.2f").mkString(" ")}s")

    ctx.span("run", 0)(workload.run(ctx))

    tracer.foreach { tr =>
      val path = work.getParent.resolve(s"spans-${arg("workload")}-$seed.jsonl")
      tr.write(path)
      val self = Tracer.selfTimes(scala.jdk.CollectionConverters.CollectionHasAsScala(tr.spans).asScala.toSeq, tr.jobList)
      System.err.println(s"[perfbench] spans written to $path; self time by span: " +
        self.toSeq.sortBy(-_._2).map { case (n, t) => f"$n=${t / 1e9}%.3fs" }.mkString(" "))
    }
    if (trace) Metrics.complete(ctx)
    val res = ctx.res
    // a missing measurement fails the run rather than read as a gain
    (if (trace) res.layer else res.e2e).foreach { case (k, (v, _)) =>
      if (v.isNaN || v.isInfinite) res.check(Some(s"$k was not measured"))
    }
    (res.e2e ++ res.layer).foreach { case (k, (v, u)) => System.err.println(f"[perfbench] $k%-32s $v%.4f $u") }
    System.err.println(s"[perfbench] attempted ${res.attempted} failed ${res.failed} mismatches ${res.mismatches.size}")
    spark.stop()
    println(res.json(trace))
    System.out.flush()
    sys.exit(if (res.mismatches.isEmpty) 0 else 1)
  }
}
