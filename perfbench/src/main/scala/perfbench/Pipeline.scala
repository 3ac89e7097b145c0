package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.{AvroFrame, CdcEvent, ErrorPolicy, Op, TableGroup, UpdateSplit}

/** Task-side counters of the decode, split and guard steps. They exist only
  * in the traced run; the end-to-end run passes none.
  */
final class StepCounters(@transient private val spark: SparkSession)
    extends Serializable {
  private def acc(n: String) = spark.sparkContext.longAccumulator(s"perfbench.$n")
  val frames = acc("decode.frames")
  val events = acc("decode.events")
  val bytes = acc("decode.bytes")
  val decodeNanos = acc("decode.nanos")
  val splitOut = acc("split.rows_out")
  val guardOut = acc("guard.rows_out")

  def reset(): Unit = Seq(frames, events, bytes, decodeNanos, splitOut, guardOut).foreach(_.reset())
}

/** The harness side of the CDC path: wire frames → `AvroFrame` decode →
  * `UpdateSplit` → `ErrorPolicy` (log: drop malformed payloads) → one
  * changelog row per change, routed to the four member tables.
  */
object Pipeline {
  val KeyCols = Seq("id")
  val OrderCols = Seq("lsn", "seq")
  val StatsCols = Seq("zone", "v")

  val RowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("ref", LongType), StructField("zone", IntegerType),
    StructField("tag", StringType), StructField("note", StringType)))

  private val relids: Map[Long, String] =
    AvroFrame.validateRelids(Gen.Tables).map(_.swap)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Key of an update's old image; a differing key marks a key change. */
  def oldKeyOf(e: CdcEvent): String =
    if (e.before == null) null
    else Gen.keyJson(mapper.readTree(e.before).get("id").asLong())

  /** `frames` holds one Avro frame per row in a binary column `value`. */
  def changelog(frames: DataFrame, counters: Option[StepCounters]): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    val tableOf = relids
    val decoded: Dataset[CdcEvent] = counters match {
      case None =>
        frames.select("value").as[Array[Byte]].flatMap(b => AvroFrame.decodeFrame(b, tableOf)._3)
      case Some(c) =>
        frames.select("value").as[Array[Byte]].flatMap { b =>
          val t0 = System.nanoTime()
          val ev = AvroFrame.decodeFrame(b, tableOf)._3
          c.decodeNanos.add(System.nanoTime() - t0)
          c.frames.add(1); c.events.add(ev.size.toLong); c.bytes.add(b.length.toLong)
          ev
        }
    }
    val split0 = UpdateSplit(decoded, oldKeyOf).toDF()
    val split = counters.fold(split0)(c => split0.filter(tally(c.splitOut)))
    val parsed = split.withColumn("_row", from_json(col("after"), RowSchema))
    val bad = col("op") =!= Op.Delete && col("_row.v").isNull
    val guarded0 = ErrorPolicy.guard(parsed, bad, ErrorPolicy.Log,
      "malformed row payload", "after")
    val guarded = counters.fold(guarded0)(c => guarded0.filter(tally(c.guardOut)))
    guarded.select(col("table"), col("op"),
      get_json_object(col("key"), "$.id").cast(LongType).as("id"),
      col("_row.v").as("v"), col("_row.ref").as("ref"),
      col("_row.zone").as("zone"), col("_row.tag").as("tag"),
      col("_row.note").as("note"),
      col("lsn"), col("seq"))
  }

  /** A filter that keeps every row and counts it. */
  private def tally(a: org.apache.spark.util.LongAccumulator) =
    udf(() => { a.add(1); true }).asNondeterministic()()

  def members(batch: DataFrame): Seq[TableGroup.TableBatch] =
    Gen.Tables.map { t =>
      TableGroup.TableBatch(t,
        batch.filter(col("table") === t).drop("table"), KeyCols)
    }

  /** Rows of a member read back as generator rows, by key. */
  def rows(df: DataFrame): Map[Long, Row] =
    rowsOf(df.select(RowCols.map(col): _*).collect())

  val RowCols: Seq[String] = RowSchema.fieldNames.toSeq

  /** Collected rows in `RowCols` order, by key. */
  def rowsOf(rs: Array[org.apache.spark.sql.Row]): Map[Long, Row] =
    rs.iterator.map { r =>
      r.getLong(0) -> Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getString(4), r.getString(5))
    }.toMap

  /** A change-feed row (key JSON plus the image over the other columns). */
  def rowOfJson(key: String, image: String): Row = {
    val n = mapper.readTree(image)
    Row(mapper.readTree(key).get("id").asLong(), n.get("v").asLong(),
      n.get("ref").asLong(), n.get("zone").asInt(), n.get("tag").asText(),
      n.get("note").asText())
  }

  def keyOfJson(key: String): Long = mapper.readTree(key).get("id").asLong()
}
