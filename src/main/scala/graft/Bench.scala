package graft

/** Per-round benchmark: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract).
  *
  * Local-bench-specific tuning, documented for the 100 TB reading:
  *   - file splits sized for single-file sf tables
  *     ([[MainSession.BenchTuning]]);
  *   - a warm-up action runs first so JVM/codegen/FileSystem init isn't
  *     billed to whichever query happens to run first.
  *
  * Each gate's Spark jobs, stages, tasks, shuffle bytes, job-busy seconds
  * and driver gap ([[GateCounters]]) land in BENCH_DETAIL.json's
  * `_counters` block.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = MainSession.cpus("4")
    // soak harness knob: at 1000× data, shuffle partitions pinned to the
    // core count mean ~2 GB reduce partitions in one shared local JVM —
    // the 8g heap OOMs on pressure a real cluster never sees (partitions
    // there scale with data; executors bring their own heap). Default
    // stays = cpus (the recorded-anchor harness); the 1000× soak passes a
    // data-proportional value and records it as a named condition.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    // soak-harness conf passthrough: `SPARK_GRAFT_CONF="k=v;k2=v2"` sets
    // arbitrary session confs for a targeted run (e.g. the phash hot-band
    // cap for the mm07 decade row). Empty (the default, and every driver
    // drive) sets nothing — the recorded-anchor harness is untouched.
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(";").map(_.trim).filter(_.contains("="))
      .map { kv => val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }
    val spark = MainSession(cpus, conf = MainSession.Warehouse ++
      MainSession.BenchTuning ++
      Seq("spark.sql.shuffle.partitions" -> shuffle) ++ extraConf)
    val counters = new GateCounters(spark.sparkContext)

    // BENCH-TAIL LINT: count the warnings that are 100×-scale smells —
    // a single-partition window (WindowExec) or a self-derived trivially-
    // true join predicate. The count rides the summary JSON (lint_warns),
    // so a regression is loud in the round-over-round diff instead of
    // scrolling past in the log tail.
    val lintWarns = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val appender = new AbstractAppender(
          "graft-bench-lint", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
          val m = e.getMessage.getFormattedMessage
          if (m.contains("No Partition Defined for Window operation") ||
              m.contains("trivially true equals predicate"))
            lintWarns.incrementAndGet()
        }
      }
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
      ctx.updateLoggers()
    } catch { // lint is best-effort; the bench contract must survive
      case e: Throwable =>
        System.err.println(s"[bench] lint appender failed: ${e.getMessage}")
    }

    // warm-up: parquet reader + the changelog-derivation path, so JVM/codegen
    // init isn't billed to whichever query runs first (alphabetically cdc01,
    // which otherwise pays ~1.5 s of first-execution codegen for the
    // JSON/envelope expressions every CDC query shares)
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    graft.cdc.ChangelogGen.fromEvents(spark, sfDir).limit(64).toDF().count()

    // optional args = query-name prefixes to run (local iteration aid);
    // no args = the full driver-contract surface
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => args.exists(n.startsWith) }
    // a failed query reports duration -1 (a silently-tiny duration would make
    // a REGRESSION look like a speedup in the round-over-round comparison)
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      counters.gate(name) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          name -> (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            name -> -1.0
        }
      }
    }
    // CDC throughput micro-bench (BASELINE.md): envelopes/s through
    // generate → latest-state compaction. Guarded: the one-JSON-line driver
    // contract must survive any failure here (and events.parquet is only
    // readable through Tables.events' nanos handling).
    val cdcEps = try {
      // MEDIAN of three runs: the r13 anchor pair showed a single
      // end-of-drive sample swinging 39% while the 325-gate total moved
      // 1.5% — the stamp was the noisy quantity, not the VM. Three
      // back-to-back samples cost ~2 extra seconds and the median drops
      // the one-off GC/scheduler outlier that produced sub-band stamps
      // against healthy totals.
      val nEvents = graft.Tables.events(spark, sfDir).count()
      val samples = (1 to 3).map { _ =>
        val tCdc0 = System.nanoTime()
        graft.cdc.LatestState.batch(
          graft.cdc.ChangelogGen.fromEvents(spark, sfDir).toDF(),
          Seq("table", "key"), Seq("lsn", "seq")).count()
        nEvents / ((System.nanoTime() - tCdc0) / 1e9)
      }.sorted
      samples(1)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] cdc micro-bench failed: ${e.getMessage}")
        -1.0
    }

    // The driver captures a BOUNDED (~2,000-char) stdout tail. A per-query
    // map for 280+ gates cannot fit that window at any key compression
    // (BENCH r4–r7 all arrived truncated, `parsed: null`). So: the stdout
    // line is a SUMMARY guaranteed < 1,800 chars — total, per-family sums,
    // the 10 slowest gates, cdc throughput — and the full per-query map is
    // written to BENCH_DETAIL.json in the repo root (committed each round)
    // for round-over-round per-query diffing.
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def prefix(name: String): String = name.takeWhile(_ != '_')
    val total = results.map(_._2).filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    // family = the gate prefix stripped of digits: q01->q, txt05->txt, vec10->vec
    val families = results.groupBy { case (k, _) => prefix(k).replaceAll("[0-9]+$", "") }
      .toSeq.sortBy(_._1)
      .map { case (f, g) => "\"" + f + "\":" + fmt(g.map(_._2).filter(_ >= 0).sum) }
      .mkString("{", ",", "}")
    val slowTen = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
    // key by bare prefix for brevity, BUT keep the full gate name when two
    // of the ten share a prefix — duplicate JSON keys would make parsers
    // silently keep only one timing
    val slowest = slowTen
      .map { case (k, v) =>
        val p = prefix(k)
        val key = if (slowTen.count(e => prefix(e._1) == p) > 1) k else p
        "\"" + key + "\":" + fmt(v)
      }
      .mkString("{", ",", "}")
    // WINDOW VERDICT — the stamp-band discipline, automated (it lived in
    // BASELINE.md prose through r14 and fired twice): the median-of-3 cdc
    // stamp is a VM-health probe, and full-surface rows recorded while the
    // stamp sits BELOW the healthy band (late-day/post-soak page-cache
    // pressure reads as 35–50% uniform inflation) are distrusted BY RULE.
    // The verdict rides in the JSON itself so a degraded row can never be
    // quoted later without its label. Band is declared for the driver's
    // sf0.1 drive (median-of-3 anchors, r14: 180k–275k); other SFs have no
    // declared band -> "n/a". Above-band is healthy (the rule only
    // distrusts BELOW — inflation can only push the stamp down).
    val band = sys.env.getOrElse("SPARK_GRAFT_STAMP_BAND", "180000-275000")
      .split("-") match { case Array(lo, hi) => (lo.toLong, hi.toLong) }
    val window =
      if (!sfDir.replaceAll("/+$", "").endsWith("sf0.1")) "n/a"
      else if (cdcEps < 0) "unknown"
      else if (cdcEps.toLong < band._1) "degraded"
      else "healthy"
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},""" +
      s""""n_failed":$nFailed,"families":$families,"slowest":$slowest,""" +
      s""""cdc_events_per_sec":${cdcEps.toLong},"window":"$window",""" +
      s""""lint_warns":${lintWarns.get},"sf":"$sfDir"}"""
    org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
    val countersJson = (
      s"""    "_unattributed": {"jobs": ${counters.unattributed}}""" +:
      counters.counts.map { case (g, c) =>
        s"""    "$g": {"jobs": ${c.jobs}, "stages": ${c.stages}, """ +
        s""""tasks": ${c.tasks}, "shuffle_bytes": ${c.shuffleBytes}, """ +
        s""""job_busy_s": ${fmt(c.jobBusySec)}, """ +
        s""""driver_gap_s": ${fmt(c.driverGapSec)}}"""
      }).mkString("  \"_counters\": {\n", ",\n", "\n  }")
    // full per-query detail — written BEFORE the stdout length guard below,
    // so an oversized summary can never discard the run's per-query record;
    // path resolves against the launch directory (overridable) rather than
    // a hardcoded checkout location. Header, counters and per-gate rows are
    // one comma-joined list, so a filter that selects no gate still writes
    // valid JSON.
    val detail = (Seq(
      s"""  "_total_sec": ${fmt(total)}""",
      s"""  "_n_queries": ${results.size}""",
      s"""  "_cdc_events_per_sec": ${cdcEps.toLong}""",
      s"""  "_window": "$window"""",
      s"""  "_sf": "$sfDir"""",
      countersJson) ++
      results.map { case (k, v) => "  \"" + k + "\": " + fmt(v) })
      .mkString("{\n", ",\n", "\n}\n")
    try {
      // a FILTERED run (prefix args) writes a side file — it must never
      // clobber the full-surface record the driver and the soak math read
      val name =
        if (args.isEmpty) "BENCH_DETAIL.json" else "BENCH_DETAIL.partial.json"
      val out = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_DETAIL_PATH",
        new java.io.File(sys.props("user.dir"), name).getPath))
      java.nio.file.Files.write(out, detail.getBytes("UTF-8"))
    } catch { // detail file is best-effort; the stdout contract must survive
      case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    require(line.length < 1800,
      s"bench summary line is ${line.length} chars — exceeds the driver's " +
      "2,000-char stdout capture window; shrink the summary, not the surface")
    println(line)
    spark.stop()
  }
}
