package perfbench

import graft.cdc.MaterializedTable

/** Turns what a run recorded into named metrics. */
object Metrics {
  import Bench._

  /** Every per-layer metric with its unit. The traced run of every workload
    * reports all of them; one a workload does not exercise reads 0.
    */
  val Layer: Seq[(String, String)] = Seq(
    "decode.frames" -> "count",
    "decode.events" -> "count",
    "decode.bytes" -> "bytes",
    "decode.task_s" -> "s",
    "split.rows_in" -> "count",
    "split.rows_out" -> "count",
    "guard.dropped" -> "count",
    "merge.count" -> "count",
    "merge.jobs_per_merge" -> "jobs",
    "merge.tasks" -> "count",
    "merge.shuffle_bytes" -> "bytes",
    "merge.files_written" -> "count",
    "merge.bytes_written" -> "bytes",
    "merge.buckets_touched" -> "count",
    "merge.job_busy_s" -> "s",
    "merge.driver_gap_s" -> "s",
    "commit.count" -> "count",
    "commit_p50_ms" -> "ms",
    "commit.retries" -> "count",
    "commit.members_folded" -> "count",
    "commit.task_busy_share" -> "ratio",
    "commit.minimal_ms" -> "ms",
    "commit.fixed_share" -> "ratio",
    "commit.per_event_share" -> "ratio",
    "stream.batches" -> "count",
    "stream.rows_per_batch" -> "frames",
    "stream.addBatch_ms" -> "ms",
    "stream.walCommit_ms" -> "ms",
    "stream.latestOffset_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms",
    "stream.triggerExecution_ms" -> "ms",
    "feed.batches" -> "count",
    "feed.rows" -> "count",
    "feed.getBatch_ms" -> "ms",
    "feed.commit_to_visible_p50_ms" -> "ms",
    "feed.lag_versions" -> "versions",
    "read.buckets_scanned" -> "count",
    "read.buckets_total" -> "count",
    "read.input_bytes" -> "bytes",
    "read.input_records" -> "count",
    "read.rows_returned" -> "count",
    "read.files_per_bucket" -> "count",
    "jobs" -> "count",
    "stages" -> "count",
    "tasks" -> "count",
    "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes",
    "job_busy_s" -> "s",
    "driver_gap_s" -> "s",
    "gc_s" -> "s",
    "heap_peak_mb" -> "MiB",
    "failed_ratio" -> "ratio")

  /** Put the per-layer metrics in table order, filling the ones this
    * workload does not exercise with 0.
    */
  def complete(ctx: Ctx): Unit = {
    val l = ctx.res.layer
    val unknown = l.keySet.toSet -- Layer.map(_._1)
    require(unknown.isEmpty, s"metrics missing from Metrics.Layer: $unknown")
    val all = Layer.map { case (n, u) => n -> ((l.get(n).map(_._1).getOrElse(0.0), u)) }
    l.clear()
    l ++= all
  }

  /** End-to-end read latencies of the read client. */
  def reads(ctx: Ctx, r: Reader): Unit = {
    val e2e = ctx.res.e2e
    e2e("lookup_p50_ms") = (median(r.lookupMs), "ms")
    e2e("lookup_p95_ms") = (pct(r.lookupMs, 95), "ms")
    e2e("scan_p50_ms") = (median(r.scanMs), "ms")
    e2e("query_p50_ms") = (median(r.queryMs), "ms")
    e2e("feed_p50_ms") = (median(r.feedMs), "ms")
    ctx.tracer.foreach { tr =>
      val readJobs = tr.jobList.filter(j => readSpans(tr).contains(j.span))
      val l = ctx.res.layer
      l("read.buckets_scanned") = (r.bucketsScanned.toDouble, "count")
      l("read.buckets_total") = (r.bucketsTotal.toDouble, "count")
      l("read.input_bytes") = (readJobs.map(_.inputBytes).sum.toDouble, "bytes")
      l("read.input_records") = (readJobs.map(_.inputRecords).sum.toDouble, "count")
      l("read.rows_returned") = (r.rowsReturned.toDouble, "count")
    }
  }

  private def readSpans(tr: Tracer): Set[Long] = {
    import scala.jdk.CollectionConverters._
    tr.spans.asScala.filter(_.name.startsWith("read.")).map(_.id).toSet
  }

  /** Storage written by the measured commits, and file shape at the end. */
  private def storage(ctx: Ctx, root: String, afterVersion: Long): Unit = {
    val l = ctx.res.layer
    val w = Gen.Tables.map(t => written(s"$root/$t", afterVersion))
    val merges = Gen.Tables.map(t => currentVersion(ctx, s"$root/$t") - afterVersion).sum
    l("merge.count") = (merges.toDouble, "count")
    l("merge.buckets_touched") = (w.map(_._1).sum.toDouble, "count")
    l("merge.files_written") = (w.map(_._2).sum.toDouble, "count")
    l("merge.bytes_written") = (w.map(_._3).sum.toDouble, "bytes")
    val fpb = Gen.Tables.flatMap(t => MaterializedTable.filesPerBucket(ctx.spark, s"$root/$t").values)
    l("read.files_per_bucket") = (mean(fpb.map(_.toDouble)), "count")
  }

  /** Per-commit split of wall time: the share with at least one task running
    * (per-event work) and the rest (driver gaps plus per-job overhead).
    */
  private def commitJobs(ctx: Ctx, commits: Seq[(Long, Long, Seq[JobRec])], merges: Double): Unit = {
    val l = ctx.res.layer
    val jobs = commits.flatMap(_._3)
    val wall = commits.map { case (s, e, _) => e - s }.sum.toDouble
    val busy = commits.map { case (s, e, js) => Tracer.coveredWithin(js.map(j => (j.start, j.end)), s, e) }.sum
    val taskBusy = commits.map { case (s, e, js) =>
      Tracer.coveredWithin(js.flatMap(_.taskSpans), s, e) }.sum
    l("merge.jobs_per_merge") = (if (merges > 0) jobs.size / merges else 0.0, "jobs")
    l("merge.tasks") = (jobs.map(_.tasks).sum.toDouble, "count")
    l("merge.shuffle_bytes") = (jobs.map(_.shuffleWrite).sum.toDouble, "bytes")
    l("merge.job_busy_s") = (busy / 1e9, "s")
    l("merge.driver_gap_s") = ((wall - busy) / 1e9, "s")
    l("commit.task_busy_share") = (if (wall > 0) taskBusy / wall else 0.0, "ratio")
  }

  /** Purpose check, after Drizzle's split of a micro-batch into a fixed
    * part and a per-record part: the fixed cost of a commit is what a
    * commit of one new row per member costs on the same group (every job,
    * driver gap, manifest and root swap, none of the volume); the rest of a
    * workload commit is per-event work. Run last: it adds versions.
    */
  def purpose(ctx: Ctx, root: String, keyBase: Long, commitMs: Double): Unit = {
    val g = new Gen(ctx.seed, Shape(1, 0, 0, 0, 0, 0, 1, 1), NumBuckets)
    val minimal = (0 until 3).map { i =>
      val txn = g.inserts(Gen.Tables.map(t => t -> (keyBase + i)))
      val t = System.nanoTime()
      Bench.commit(ctx, root, Seq(txn), 1000000000L + i)
      ms(System.nanoTime() - t)
    }
    val fixed = math.min(1.0, median(minimal) / commitMs)
    val l = ctx.res.layer
    l("commit.minimal_ms") = (median(minimal), "ms")
    l("commit.fixed_share") = (fixed, "ratio")
    l("commit.per_event_share") = (1.0 - fixed, "ratio")
  }

  /** Every job of the measured part (the correctness checks excluded). */
  private def scheduler(ctx: Ctx, tr: Tracer, t0: Long, t1: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val l = ctx.res.layer
    val checks = tr.spans.asScala.filter(_.name == "check").map(_.id).toSet
    val jobs = tr.jobList.filterNot(j => checks.contains(j.span))
    val busy = Tracer.coveredWithin(jobs.map(j => (j.start, j.end)), t0, t1)
    l("jobs") = (jobs.size.toDouble, "count")
    l("stages") = (jobs.map(_.stages).sum.toDouble, "count")
    l("tasks") = (jobs.map(_.tasks).sum.toDouble, "count")
    l("shuffle_read_bytes") = (jobs.map(_.shuffleRead).sum.toDouble, "bytes")
    l("shuffle_write_bytes") = (jobs.map(_.shuffleWrite).sum.toDouble, "bytes")
    l("job_busy_s") = (busy / 1e9, "s")
    l("driver_gap_s") = ((t1 - t0 - busy) / 1e9, "s")
    l("gc_s") = (ctx.jvm.gcSeconds, "s")
    l("heap_peak_mb") = (ctx.jvm.heapPeakMb, "MiB")
    l("failed_ratio") = (ctx.res.failed.toDouble / math.max(ctx.res.attempted, 1L), "ratio")
  }

  private def steps(ctx: Ctx, poison: Long): Unit = {
    val l = ctx.res.layer
    ctx.counters.foreach { c =>
      l("decode.frames") = (c.frames.value.toDouble, "count")
      l("decode.events") = (c.events.value.toDouble, "count")
      l("decode.bytes") = (c.bytes.value.toDouble, "bytes")
      l("decode.task_s") = (c.decodeNanos.value / 1e9, "s")
      l("split.rows_in") = (c.events.value.toDouble, "count")
      l("split.rows_out") = (c.splitOut.value.toDouble, "count")
      l("guard.dropped") = ((c.splitOut.value - c.guardOut.value).toDouble, "count")
      if (c.splitOut.value - c.guardOut.value != poison)
        ctx.res.check(Some(s"guard dropped ${c.splitOut.value - c.guardOut.value} rows, " +
          s"the generator made $poison poison changes"))
    }
  }

  private def time(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def epochNanos(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L

  def firehoseLayers(ctx: Ctx, tr: Tracer, live: Live, root: String, setupVersion: Long,
      t0: Long, t1: Long, retries0: Long, poison: Long): Unit = {
    val l = ctx.res.layer
    steps(ctx, poison)
    storage(ctx, root, setupVersion)
    val wp = live.writerProgress
    val writerId = live.writer.id.toString
    val byBatch = tr.jobList.filter(_.query == writerId).groupBy(_.batch)
    // a commit is the writer batch's foreachBatch (GroupCommitStream calls
    // TableGroup.commit there): from the end of planning to the end of
    // addBatch, laid out from the batch's trigger start. It becomes a span
    // that owns the batch's jobs.
    val commits = wp.map { p =>
      val s = epochNanos(p) + ((time(p, "latestOffset") + time(p, "walCommit") +
        time(p, "getBatch") + time(p, "queryPlanning")) * 1e6).toLong
      val e = s + (time(p, "addBatch") * 1e6).toLong
      val jobs = byBatch.getOrElse(p.batchId, Nil)
      val span = Span(tr.newId(), "stream.commit", 0L, p.batchId, s, e)
      tr.add(span)
      jobs.foreach(_.owner = span.id)
      (s, e, jobs)
    }
    commitJobs(ctx, commits, l("merge.count")._1)
    l("commit.count") = (wp.size.toDouble, "count")
    l("commit_p50_ms") = (median(wp.map(time(_, "addBatch"))), "ms")
    l("commit.retries") = ((MaterializedTable.commitRetryCount.get() - retries0).toDouble, "count")
    l("commit.members_folded") = (Gen.Tables.map(t => folded(s"$root/$t", setupVersion)).sum.toDouble, "count")
    l("stream.batches") = (wp.size.toDouble, "count")
    l("stream.rows_per_batch") = (mean(wp.map(_.numInputRows.toDouble)), "frames")
    for (k <- Seq("addBatch", "walCommit", "latestOffset", "queryPlanning", "triggerExecution"))
      l(s"stream.${k}_ms") = (mean(wp.map(time(_, k))), "ms")

    val sp = live.subProgress
    val subs = live.subBatches
    val visibleAt = live.visibleAt
    l("feed.batches") = (subs.size.toDouble, "count")
    l("feed.rows") = (live.delivered.size.toDouble, "count")
    l("feed.getBatch_ms") = (mean(sp.map(time(_, "getBatch"))), "ms")
    val commitEnd = commits.zip(wp).map { case ((_, e, _), p) => p.batchId -> e }.toMap
    l("feed.commit_to_visible_p50_ms") = (median(commitEnd.flatMap { case (b, e) =>
      visibleAt.get(b).map(v => ms(v - e)) }), "ms")
    // versions the subscriber was behind when it delivered
    l("feed.lag_versions") = (mean(subs.map { case (_, upTo, at) =>
      commitEnd.count { case (b, e) => e <= at && b > upTo }.toDouble }), "versions")
    scheduler(ctx, tr, t0, t1)
  }

  def serveLayers(ctx: Ctx, tr: Tracer, root: String, v0: Long, t0: Long, t1: Long,
      retries0: Long, commitMs: Seq[Double], folded: Long, poison: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val l = ctx.res.layer
    steps(ctx, poison)
    storage(ctx, root, v0)
    val spans = tr.spans.asScala.toSeq
    val commitSpans = spans.filter(_.name == "commit")
    val byParent = tr.jobList.groupBy(_.span)
    commitJobs(ctx, commitSpans.map(s => (s.start, s.end, byParent.getOrElse(s.id, Nil))),
      l("merge.count")._1)
    l("commit.count") = (commitSpans.size.toDouble, "count")
    l("commit_p50_ms") = (median(commitMs), "ms")
    l("commit.retries") = ((MaterializedTable.commitRetryCount.get() - retries0).toDouble, "count")
    l("commit.members_folded") = (folded.toDouble, "count")
    val feeds = spans.filter(_.name == "read.feed")
    l("feed.batches") = (feeds.size.toDouble, "count")
    l("feed.getBatch_ms") = (mean(feeds.map(s => ms(s.dur))), "ms")
    scheduler(ctx, tr, t0, t1)
  }
}
