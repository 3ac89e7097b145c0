package perfbench

import scala.collection.mutable

/** A workload: seeded set-up (timed, repeatable into fresh directories) and
  * one measured run over the last set-up.
  */
trait Workload {
  /** Generate inputs, encode frames and populate the group (the first
    * set-up in a JVM also pays its warm-up).
    */
  def setup(ctx: Ctx, rep: Int): Unit
  def run(ctx: Ctx): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "firehose" => new Firehose
    case "serve" => new Serve
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** A read mix: lookups, pruned scans, SQL queries, time-travel reads. */
  final case class Mix(lookups: Int, scans: Int, queries: Int, versions: Int)
}

/** Closed loop: a pre-encoded backlog drained in equal chunks, each offered
  * once the previous one is visible to the subscriber.
  */
final class Firehose extends Workload {
  import Bench._

  val shape = Shape(keySpace = 40000, zipf = 0.0, fill = 0.5, deleteShare = 0.1,
    keyChangeShare = 0.02, poisonShare = 0.005, minEvents = 1, maxEvents = 20)
  /** Reads on the state the drain leaves behind. */
  val probe = Workload.Mix(lookups = 20, scans = 6, queries = 4, versions = 2)
  val chunks = 3
  /** Backlog transactions per measured second. */
  val txnsPerSecond = 140

  private var root: String = _
  private var oracle: Oracle = _
  private var txns: Vector[Txn] = _
  private var setupVersion: Long = 0L

  def setup(ctx: Ctx, rep: Int): Unit = {
    root = ctx.dir(s"group$rep")
    val gen = new Gen(ctx.seed, shape, NumBuckets)
    val first = gen.populate(2000)
    val per = txnsPerSecond * ctx.seconds / chunks
    txns = Vector.fill(per * chunks)(gen.next())
    System.err.println(s"[perfbench] input digest ${Gen.digest((first ++ txns).iterator.map(_.frame))}")
    if (rep == 0) System.err.println(s"[perfbench] inputs: ${Gen.describe(first, txns)}")
    oracle = new Oracle
    first.foreach(oracle(_))
    commit(ctx, root, first, -1)
    setupVersion = currentVersion(ctx, s"$root/${Gen.Tables.head}")
  }

  private def drive(live: Live): Unit = {
    val per = txns.size / chunks
    var c = 0
    var ok = true
    while (c < chunks && ok) {
      live.offer(c * per, (c + 1) * per, txns.slice(c * per, (c + 1) * per).map(_.frame))
      ok = live.awaitVisible(c, System.nanoTime() + 120L * 1000000000L)
      c += 1
    }
  }

  def run(ctx: Ctx): Unit = {
    val replica = snapshot(ctx, root)
    val live = new Live(ctx, root)
    live.start()
    val retries0 = ctx.startMeasure()
    val t0 = Clock.now()
    try drive(live) finally live.stop()
    val t1 = Clock.now()
    live.failure.foreach(f => System.err.println(s"[perfbench] stream failed: $f"))

    // freshness: every event from its chunk's offer to its delivery; the
    // oracle takes the transactions that became visible
    val visibleAt = live.visibleAt
    val fresh = mutable.ArrayBuffer.empty[Double]
    val firstOffer = live.offers.headOption.map(_._3).getOrElse(t0)
    var visibleEvents = 0L
    var lastVisible = firstOffer
    live.offers.zipWithIndex.foreach { case ((from, until, offeredAt), i) =>
      val at = live.batchOfOffer(i).flatMap(visibleAt.get)
      (from until until).foreach { k =>
        val n = txns(k).events
        at match {
          case Some(t) =>
            oracle(txns(k))
            visibleEvents += n
            lastVisible = math.max(lastVisible, t)
            val f = ms(t - offeredAt)
            (0 until n).foreach(_ => fresh += f)
          case None =>
            ctx.res.failed += n
            (0 until n).foreach(_ => fresh += FailedMs)
        }
      }
    }
    val offered = live.offers.lastOption.map(_._2).getOrElse(0)
    val never = txns.drop(offered).map(_.events.toLong).sum // not offered: writer died
    ctx.res.attempted += txns.map(_.events.toLong).sum
    ctx.res.failed += never
    (0L until never).foreach(_ => fresh += FailedMs)

    val e2e = ctx.res.e2e
    e2e("events_per_s") = (visibleEvents / ((lastVisible - firstOffer) / 1e9), "events/s")
    e2e("freshness_p50_ms") = (median(fresh), "ms")
    e2e("freshness_p90_ms") = (pct(fresh, 90), "ms")

    // correctness: the group's state and the subscriber's replica
    if (ctx.plant) oracle.plantMismatch()
    checkGroup(ctx, root, oracle)
    live.replay(replica)
    Gen.Tables.foreach { t =>
      ctx.res.check(Oracle.diff(s"change-feed replica of $t", oracle.state(t), replica(t).toMap))
    }

    // the read probe on the state the drain left behind
    val reader = new Reader(ctx, root, oracle)
    val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    val dirs = Gen.Tables.map(t => t -> s"$root/$t").toMap
    val cur = currentVersion(ctx, dirs(Gen.Tables.head))
    var op = 0L
    def next(): Long = { op += 1; op }
    reader.warmUp(cur, rnd, shape.keySpace)
    for (i <- 0 until probe.lookups) {
      val t = Gen.Tables(i % Gen.Tables.size)
      reader.lookup(next(), t, rnd.nextInt(shape.keySpace).toLong)
    }
    for (i <- 0 until probe.scans)
      reader.scan(next(), Gen.Tables(i % Gen.Tables.size), rnd.nextInt(NumBuckets), 100000000L)
    for (i <- 0 until probe.queries) reader.query(next(), i)
    for (i <- 0 until probe.versions) {
      val t = Gen.Tables(i % Gen.Tables.size)
      val z = rnd.nextInt(NumBuckets)
      reader.version(next(), t, cur, z, oracle.zone(t, z))
    }
    // feed pulls over the last committed versions of each member
    Gen.Tables.foreach { t =>
      if (cur > setupVersion) reader.feed(next(), t, cur - 1, cur)
    }
    Metrics.reads(ctx, reader)
    e2e("stored_mb") = (storedBytes(root) / 1048576.0, "MiB")

    ctx.tracer.foreach { tr =>
      Metrics.firehoseLayers(ctx, tr, live, root, setupVersion, t0, t1, retries0, oracle.poison)
      Metrics.purpose(ctx, root, 2L * shape.keySpace, ctx.res.layer("commit_p50_ms")._1)
    }
  }
}

/** One read client beside a writer: a seeded mix of reads with a small
  * group commit every round, each followed by change-feed pulls of the new
  * version.
  */
final class Serve extends Workload {
  import Bench._

  // fixed-size commits, so every seed writes about the same bytes
  val shape = Shape(keySpace = 20000, zipf = 0.8, fill = 0.5, deleteShare = 0.1,
    keyChangeShare = 0.02, poisonShare = 0.01, minEvents = 12, maxEvents = 12)
  /** Reads after each commit and its change-feed pulls. */
  val round = Workload.Mix(lookups = 24, scans = 4, queries = 2, versions = 2)
  /** Measured seconds per round. */
  val secondsPerRound = 7
  val txnsPerCommit = 2

  private var root: String = _
  private var oracle: Oracle = _
  private var commits: Vector[Vector[Txn]] = _

  def setup(ctx: Ctx, rep: Int): Unit = {
    root = ctx.dir(s"group$rep")
    val gen = new Gen(ctx.seed, shape, NumBuckets)
    val first = gen.populate(2000)
    val rounds = math.max(1, ctx.seconds / secondsPerRound)
    commits = Vector.fill(rounds)(Vector.fill(txnsPerCommit)(gen.next()))
    System.err.println(s"[perfbench] input digest ${Gen.digest((first ++ commits.flatten).iterator.map(_.frame))}")
    if (rep == 0) System.err.println(s"[perfbench] inputs: ${Gen.describe(first, commits.flatten)}")
    oracle = new Oracle
    first.foreach(oracle(_))
    commit(ctx, root, first, -1)
  }

  def run(ctx: Ctx): Unit = {
    val replica = snapshot(ctx, root)
    val reader = new Reader(ctx, root, oracle)
    val dirs = Gen.Tables.map(t => t -> s"$root/$t").toMap
    val v0 = currentVersion(ctx, dirs(Gen.Tables.head))
    // (count, sum v) per (table, zone) at each version, for time travel
    val zonesAt = mutable.HashMap.empty[Long, Map[(String, Int), (Long, Long)]]
    def snapZones(v: Long): Unit = zonesAt(v) =
      (for (t <- Gen.Tables; z <- 0 until NumBuckets) yield (t, z) -> oracle.zone(t, z)).toMap
    snapZones(v0)
    val rnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
    reader.warmUp(v0, rnd, shape.keySpace)
    val retries0 = ctx.startMeasure()
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    var ingestNs = 0L // commits and their feed pulls, the reads left out
    var folded = 0L
    var events = 0L
    var op = 0L
    def next(): Long = { op += 1; op }
    var v = v0
    val t0 = Clock.now()
    commits.zipWithIndex.foreach { case (batch, k) =>
      // one small group commit, then pull its changes member by member
      val c0 = Clock.now()
      ctx.res.attempted += 1
      val landed = try {
        folded += ctx.span("commit", k.toLong)(Bench.commit(ctx, root, batch, k.toLong))
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] commit $k failed: $e")
          ctx.res.failed += 1
          false
      }
      commitMs += ms(Clock.now() - c0)
      val n = batch.map(_.events).sum
      if (landed) {
        batch.foreach(oracle(_))
        v += 1
        snapZones(v)
        Gen.Tables.foreach { t =>
          reader.feed(next(), t, v - 1, v).foreach { case (id, r) =>
            if (r == null) replica(t).remove(id) else replica(t)(id) = r
          }
        }
        events += n
        fresh += ms(Clock.now() - c0)
      } else fresh += FailedMs
      ingestNs += Clock.now() - c0
      for (i <- 0 until round.lookups) {
        val t = Gen.Tables(rnd.nextInt(Gen.Tables.size))
        reader.lookup(next(), t, rnd.nextInt(shape.keySpace).toLong)
      }
      for (_ <- 0 until round.scans) {
        val t = Gen.Tables(rnd.nextInt(Gen.Tables.size))
        reader.scan(next(), t, rnd.nextInt(NumBuckets), 100000000L)
      }
      for (i <- 0 until round.queries) reader.query(next(), k * round.queries + i)
      for (_ <- 0 until round.versions) {
        val t = Gen.Tables(rnd.nextInt(Gen.Tables.size))
        val back = rnd.nextInt((v - v0 + 1).toInt)
        val z = rnd.nextInt(NumBuckets)
        reader.version(next(), t, v - back, z, zonesAt(v - back)((t, z)))
      }
    }
    val t1 = Clock.now()
    val e2e = ctx.res.e2e
    e2e("events_per_s") = (events / (ingestNs / 1e9), "events/s")
    e2e("freshness_p50_ms") = (median(fresh), "ms")
    e2e("freshness_p90_ms") = (pct(fresh, 90), "ms")
    Metrics.reads(ctx, reader)
    e2e("stored_mb") = (storedBytes(root) / 1048576.0, "MiB")

    if (ctx.plant) oracle.plantMismatch()
    checkGroup(ctx, root, oracle)
    Gen.Tables.foreach { t =>
      ctx.res.check(Oracle.diff(s"change-feed replica of $t", oracle.state(t), replica(t).toMap))
    }
    ctx.tracer.foreach { tr =>
      Metrics.serveLayers(ctx, tr, root, v0, t0, t1, retries0, commitMs.toSeq, folded,
        commits.flatten.map(_.changes.count(_.poison).toLong).sum)
      Metrics.purpose(ctx, root, 2L * shape.keySpace, median(commitMs))
    }
  }
}
