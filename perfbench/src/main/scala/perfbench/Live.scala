package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.streaming.GroupCommitStream

/** One wire-to-feed delivery of the subscriber: (table, op, key, before, after). */
final case class FeedRow(table: String, op: String, key: String, before: String, after: String)

/** The live pair of firehose: one writer query folding frames
  * offered in-process into the group with `GroupCommitStream.start`, and one
  * `graft-group-cdf` subscriber delivering the group's changes to the
  * harness. Frames enter through a memory stream, one offer per call.
  */
final class Live(ctx: Ctx, root: String) {
  private val spark = ctx.spark
  private val mem = MemoryStream[Array[Byte]](spark, ctx.cores)(Encoders.BINARY)

  /** Offers in order: (first txn, txn after the last, offer time). */
  val offers = mutable.ArrayBuffer.empty[(Int, Int, Long)]
  /** Subscriber batch id → (delivery time, rows). */
  val deliveries = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Array[FeedRow])]()

  var sub: StreamingQuery = _
  var writer: StreamingQuery = _

  def start(): Unit = {
    sub = spark.readStream.format("graft-group-cdf").load(root).writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val rows = ctx.span("feed.deliver", id)(df.collect())
        deliveries.put(id, (Clock.now(), rows.map(r =>
          FeedRow(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))))
        ()
      }
      .option("checkpointLocation", ctx.dir("subscriber_ckpt"))
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    // the feed starts at the root current when its source is created: wait
    // for its first (empty) batch so no commit can slip in before it
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (sub.lastProgress == null && sub.isActive && System.nanoTime() < deadline)
      Thread.sleep(5)
    writer = GroupCommitStream.start(
      Pipeline.changelog(mem.toDF(), ctx.counters), root, Pipeline.members,
      Pipeline.OrderCols, Bench.NumBuckets,
      checkpointLocation = Some(ctx.dir("writer_ckpt")))
  }

  def offer(from: Int, until: Int, frames: Seq[Array[Byte]]): Unit = {
    offers.synchronized { offers += ((from, until, Clock.now())) }
    mem.addData(frames)
  }

  def alive: Boolean = sub.isActive && writer.isActive

  def failure: Option[String] =
    Seq(Option(sub), Option(writer)).flatten.flatMap(_.exception).headOption.map(_.toString)

  private def offsetOf(json: String): Long =
    if (json == null) -1L
    else if (json.trim.startsWith("{"))
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("lastBatchId").asLong()
    else json.trim.toLong

  /** Last group batch id the subscriber has delivered. */
  def visible: Long = Option(sub.lastProgress).map(p => offsetOf(p.sources(0).endOffset)).getOrElse(-1L)

  /** Writer batch that folded offer `i`, once it has run. */
  def batchOfOffer(i: Int): Option[Long] =
    writerBatches.find { case (_, from, to) => i > from && i <= to }.map(_._1)

  /** Wait until offer `i` is visible to the subscriber. */
  def awaitVisible(i: Int, deadlineNanos: Long): Boolean = {
    var done = false
    while (!done && alive && System.nanoTime() < deadlineNanos) {
      done = batchOfOffer(i).exists(b => visible >= b)
      if (!done) Thread.sleep(1)
    }
    done
  }

  def stop(): Unit = {
    Seq(Option(sub), Option(writer)).flatten.foreach(q => try q.stop() catch { case _: Exception => })
  }

  def writerProgress: Seq[StreamingQueryProgress] =
    writer.recentProgress.toSeq.filter(p => p.numInputRows > 0)

  /** (batch id, offers after, last offer) of each writer batch with input. */
  def writerBatches: Seq[(Long, Long, Long)] =
    writerProgress.map(p => (p.batchId, offsetOf(p.sources(0).startOffset),
      offsetOf(p.sources(0).endOffset)))

  /** Delivered subscriber batches: (batch id, group batch delivered up to, time). */
  def subBatches: Seq[(Long, Long, Long)] =
    sub.recentProgress.toSeq.flatMap { p =>
      Option(deliveries.get(p.batchId)).map(d => (p.batchId, offsetOf(p.sources(0).endOffset), d._1))
    }.distinct.sortBy(_._1)

  def subProgress: Seq[StreamingQueryProgress] =
    sub.recentProgress.toSeq.filter(p => deliveries.containsKey(p.batchId))

  /** Time each writer batch became visible to the subscriber. */
  def visibleAt: Map[Long, Long] = {
    val subs = subBatches
    writerBatches.flatMap { case (b, _, _) =>
      subs.find(_._2 >= b).map(s => b -> s._3)
    }.toMap
  }

  /** Subscriber rows in delivery order. */
  def delivered: Seq[FeedRow] =
    deliveries.asScala.toSeq.sortBy(_._1).flatMap(_._2._2.toSeq)

  /** Apply the delivered changes to a replica that started at set-up. */
  def replay(replica: Map[String, mutable.LongMap[Row]]): Unit =
    delivered.foreach { r =>
      val id = Pipeline.keyOfJson(r.key)
      if (r.op == graft.cdc.Op.Delete) replica(r.table).remove(id)
      else replica(r.table)(id) = Pipeline.rowOfJson(r.key, r.after)
    }
}
