package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import graft.cdc.MaterializedTable

/** The one read client: point lookups, stats-pruned range reads, SQL over
  * `format("graft")`, time-travel reads and change-feed pulls, each timed
  * and, where the oracle knows the answer, checked against it.
  */
final class Reader(ctx: Ctx, root: String, oracle: Oracle) {
  import Bench._

  private val spark = ctx.spark
  val lookupMs, scanMs, queryMs, versionMs, feedMs = mutable.ArrayBuffer.empty[Double]
  var bucketsScanned, bucketsTotal, rowsReturned = 0L
  /** Off during [[warmUp]]: its answers are checked but not measured. */
  private var measuring = true

  Gen.Tables.foreach { t =>
    spark.read.format("graft").load(s"$root/$t").createOrReplaceTempView(t)
  }

  private val cols = Pipeline.RowCols.map(col)

  private def timed[A](name: String, op: Long, into: mutable.ArrayBuffer[Double])(
      body: => A): Option[A] = {
    if (!measuring) return scala.util.Try(body).toOption
    ctx.res.attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = ctx.span(name, op)(body)
      into += ms(System.nanoTime() - t0)
      Some(a)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        ctx.res.failed += 1
        into += FailedMs
        None
    }
  }

  /** One unmeasured pass over the read paths, so that the measured reads
    * do not pay their first-call code generation and JIT.
    */
  def warmUp(v: Long, rnd: java.util.SplittableRandom, keySpace: Int): Unit = {
    measuring = false
    try {
      Gen.Tables.foreach(t => lookup(0, t, rnd.nextInt(keySpace).toLong))
      scan(0, Gen.Tables.head, 0, 100000000L)
      query(0, 0)
      query(0, 1)
      version(0, Gen.Tables.head, v, 0, oracle.zone(Gen.Tables.head, 0))
    } finally measuring = true
  }

  /** Traced run only: how many of the member's live buckets `pred` reads. */
  private def countBuckets(dir: String, pred: org.apache.spark.sql.Column,
      point: Boolean): Unit =
    if (ctx.tracer.isDefined) {
      bucketsTotal += MaterializedTable.matchingBuckets(spark, dir, lit(true)).size
      bucketsScanned += (if (point) 1 else MaterializedTable.matchingBuckets(spark, dir, pred).size)
    }

  def lookup(op: Long, t: String, id: Long): Unit = {
    val dir = s"$root/$t"
    timed("read.lookup", op, lookupMs) {
      MaterializedTable.lookup(spark, dir, Seq(id)).select(cols: _*).collect()
    }.foreach { rows =>
      if (measuring) rowsReturned += rows.length
      ctx.res.check(Oracle.diff(s"lookup $t/$id at op $op",
        oracle.lookup(t, id).map(id -> _).toMap, Pipeline.rowsOf(rows)))
    }
    if (measuring) countBuckets(dir, lit(true), point = true)
  }

  def scan(op: Long, t: String, zone: Int, vMax: Long): Unit = {
    val dir = s"$root/$t"
    val pred = col("zone") === zone && col("v") < vMax
    timed("read.scan", op, scanMs) {
      MaterializedTable.readPruned(spark, dir, pred).select(cols: _*).collect()
    }.foreach { rows =>
      if (measuring) rowsReturned += rows.length
      val want = oracle.rows(t).filter(r => r.zone == zone && r.v < vMax).map(r => r.id -> r).toMap
      ctx.res.check(Oracle.diff(s"scan $t zone=$zone v<$vMax at op $op", want,
        Pipeline.rowsOf(rows)))
    }
    if (measuring) countBuckets(dir, pred, point = false)
  }

  /** Even `i`: a per-zone aggregate of one member; odd: a two-member join. */
  def query(op: Long, i: Int): Unit =
    if (i % 2 == 0) {
      val t = Gen.Tables((i / 2) % Gen.Tables.size)
      timed("read.query", op, queryMs) {
        spark.sql(s"SELECT zone, count(*) AS n, sum(v) AS s FROM $t GROUP BY zone").collect()
      }.foreach { rows =>
        if (measuring) rowsReturned += rows.length
        val got = rows.map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val want = (0 until NumBuckets).map(z => z -> oracle.zone(t, z)).filter(_._2._1 > 0).toMap
        if (got != want) ctx.res.check(Some(s"zone aggregate of $t at op $op: $got vs $want"))
      }
    } else {
      timed("read.query", op, queryMs) {
        spark.sql("SELECT count(*), sum(o.v) FROM orders o JOIN users u " +
          "ON o.ref = u.id WHERE u.zone < 4").collect()
      }.foreach { rows =>
        if (measuring) rowsReturned += rows.length
        val users = oracle.rows("users").filter(_.zone < 4).map(_.id).toSet
        val hits = oracle.rows("orders").filter(r => users.contains(r.ref)).toSeq
        val want = (hits.size.toLong, hits.map(_.v).sum)
        val r = rows.head
        val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        if (got != want) ctx.res.check(Some(s"join at op $op: $got vs $want"))
      }
    }

  /** Time travel: one zone of member `t` as of version `v`, against the
    * oracle's (count, sum) for that version.
    */
  def version(op: Long, t: String, v: Long, zone: Int, want: (Long, Long)): Unit =
    timed("read.version", op, versionMs) {
      MaterializedTable.readVersion(spark, s"$root/$t", v).where(col("zone") === zone)
        .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).collect()
    }.foreach { rows =>
      if (measuring) rowsReturned += rows.length
      val got = (rows.head.getLong(0), rows.head.getLong(1))
      if (got != want) ctx.res.check(Some(s"$t@v$v zone $zone at op $op: $got vs $want"))
    }

  /** The changes of member `t` between two versions, as (key, new row or
    * null for a delete).
    */
  def feed(op: Long, t: String, fromV: Long, toV: Long): Seq[(Long, Row)] =
    timed("read.feed", op, feedMs) {
      MaterializedTable.changeFeed(spark, s"$root/$t", fromV, toV, Pipeline.KeyCols)
        .select(col("id") +: col("op") +:
          Pipeline.RowCols.tail.map(c => col(s"after_$c")): _*).collect()
    }.map { rows =>
      rowsReturned += rows.length
      rows.toSeq.map { r =>
        val id = r.getLong(0)
        id -> (if (r.getString(1) == graft.cdc.Op.Delete) null
          else Row(id, r.getLong(2), r.getLong(3), r.getInt(4), r.getString(5), r.getString(6)))
      }
    }.getOrElse(Nil)
}
