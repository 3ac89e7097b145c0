package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.cdc.{MaterializedTable, Op, TableGroup}

/** `spark.readStream.format("graft-group-cdf").load(rootDir)` — the
  * TABLE GROUP's change feed: cross-table-CONSISTENT change batches at
  * root-commit granularity. This surfaces the reference's transaction
  * bracketing (kafka/bottledwater.c:678-715: a transaction's rows span
  * topics, consumers must observe them advance together) to streaming
  * subscribers: every micro-batch diffs ROOT-PINNED snapshots, so a
  * subscriber can never observe table A at transaction N while table B is
  * still at N−1 — the exact anomaly [[graft.cdc.TableGroup]]'s root pin
  * exists to prevent, now preserved through the feed.
  *
  * Offsets ARE root manifests (lastBatchId + {table → pinned version},
  * canonical JSON). Each batch emits, per member, the snapshot-diff
  * between its start-pinned and end-pinned versions
  * ([[MaterializedTable.changeFeed]]) — net change per key across the
  * window, the same self-healing converged-replica contract as
  * `graft-cdf`, here for ALL members in one consistent stream. A member
  * ABSENT at the start offset (joined the group mid-stream) bootstraps as
  * its full end-pinned snapshot, op=insert — the converged-replica answer
  * for a table the subscriber has never seen.
  *
  * Schema is the heterogeneous-member envelope (members need not share
  * payload columns): `table, op, key, before, after` — key/before/after
  * as JSON objects over the member's own columns (insert ⇒ before null,
  * delete ⇒ after null), the reference's wire-envelope shape
  * (schema-qualified table + union-tagged old/new tuples) as columns.
  *
  * No backfill: the feed starts at the root commit current when the query
  * starts. Retention: root-pinned versions must stay materialized between
  * micro-batches — the writer already requires retainVersions ≥ 2; size it
  * to cover expected subscriber lag (TableGroup.vacuum refuses to prune a
  * pinned snapshot either way).
  *
  * Scale: a batch costs one bucketed full-outer join per CHANGED member
  * (O(divergence) output) plus O(tables) root JSON reads; members whose
  * pinned version did not move contribute nothing and are never read.
  */
class GraftGroupChangeFeedSource extends StreamSourceProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-group-cdf"

  private def dirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-group-cdf needs a path: " +
        "spark.readStream.format(\"graft-group-cdf\").load(rootDir)"))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), GraftGroupChangeFeedSource.envelopeSchema)

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftGroupCdfSource(ctx, dirOf(parameters), metadataPath)
}

object GraftGroupChangeFeedSource {
  val envelopeSchema: StructType = StructType(Seq(
    StructField("table", StringType), StructField("op", StringType),
    StructField("key", StringType), StructField("before", StringType),
    StructField("after", StringType)))
}

class GraftGroupCdfSource(ctx: SQLContext, rootDir: String,
    metadataPath: String = "") extends Source {
  private val spark = ctx.sparkSession

  override val schema: StructType = GraftGroupChangeFeedSource.envelopeSchema

  /** The root as it stands. The root is replaced atomically, so once a
    * group has committed a poll always finds one; there is nothing to
    * retry.
    */
  private def currentRoot: TableGroup.GroupManifest =
    TableGroup.readRoot(spark, rootDir).getOrElse(
      throw new IllegalArgumentException(s"no group commit at $rootDir"))

  /** No backfill: the feed begins at the root commit current at query
    * start (same stance as graft-cdf — restarted instances re-derive from
    * the CHECKPOINTED offset, see getOffset's doc there). Persisted under
    * the stream's metadata dir so a restarted instance RE-RUNNING batch 0
    * reproduces the original empty start — a re-derived "now" start would
    * read as an offset regression against batch 0's logged end offset.
    */
  private val startRoot: TableGroup.GroupManifest =
    TableGroup.GroupManifest.parse(
      StartOffsetLog.resolve(spark, metadataPath, currentRoot.json))

  private def manifestOf(o: Offset): TableGroup.GroupManifest =
    TableGroup.GroupManifest.parse(o.json)

  override def getOffset: Option[Offset] =
    Some(SerializedOffset(currentRoot.json))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(manifestOf).getOrElse(startRoot)
    val to = manifestOf(end)
    // A member present at the window start but absent from its end root
    // means the group shrank mid-feed (member dropped / root replaced) —
    // the same broken-feed class as a rolled-back offset, and silently
    // dropping the member from the diff would hide it with no deletes.
    val vanished = from.tables.keySet -- to.tables.keySet
    if (vanished.nonEmpty) {
      throw new IllegalStateException(
        s"graft-group-cdf: member(s) ${vanished.toSeq.sorted.mkString(", ")} " +
          "present in the batch-start root but absent from its end root — " +
          "group membership shrank mid-feed (dropped member or replaced root)")
    }
    // per-member key layouts resolve lazily (a member can join mid-stream)
    val frames = to.tables.toSeq.sortBy(_._1).flatMap { case (t, toV) =>
      val dir = s"$rootDir/$t"
      val keys = MaterializedTable.keyLayout(spark, dir)._1
      from.tables.get(t) match {
        case Some(fromV) if fromV == toV => None // member did not move
        case Some(fromV) if fromV > toV =>
          // an offset can only regress if the root was rolled back or the
          // query was repointed at a different group — a broken feed, and
          // silently emitting nothing would hide it (changeFeed itself
          // requires fromV < toV for the same reason)
          throw new IllegalStateException(
            s"graft-group-cdf: member '$t' offset regressed ($fromV -> $toV); " +
              "the group root moved backwards — rolled-back root or wrong group dir")
        case Some(fromV) =>
          Some(envelope(t, keys,
            MaterializedTable.changeFeed(spark, dir, fromV, toV, keys)))
        case None => // joined the group inside this window: full bootstrap
          val snap = MaterializedTable.readVersion(spark, dir, toV)
          val payload = snap.columns.filterNot(keys.contains).toSeq
          Some(envelope(t, keys, snap.select(
            keys.map(col) ++ Seq(lit(Op.Insert).as("op")) ++
              payload.map(c => lit(null).cast(snap.schema(c).dataType)
                .as(s"before_$c")) ++
              payload.map(c => col(c).as(s"after_$c")): _*)))
      }
    }
    val batch = frames.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    org.apache.spark.sql.GraftShims.asStreamingDataFrame(
      batch.select(schema.fieldNames.toIndexedSeq.map(col): _*))
  }

  /** changeFeed's wide (before_c/after_c) shape → the JSON envelope. Field
    * order inside the JSON objects is the member's own column order —
    * stable per schema, so downstream hashing is deterministic.
    */
  private def envelope(table: String, keys: Seq[String],
      feed: DataFrame): DataFrame = {
    val payload = feed.columns.filter(_.startsWith("before_"))
      .map(_.stripPrefix("before_")).toSeq
    feed.select(
      lit(table).as("table"),
      col("op"),
      to_json(struct(keys.map(col): _*)).as("key"),
      when(col("op") === Op.Insert, lit(null).cast("string"))
        .otherwise(to_json(struct(
          payload.map(c => col(s"before_$c").as(c)): _*))).as("before"),
      when(col("op") === Op.Delete, lit(null).cast("string"))
        .otherwise(to_json(struct(
          payload.map(c => col(s"after_$c").as(c)): _*))).as("after"))
  }

  override def stop(): Unit = ()
}
