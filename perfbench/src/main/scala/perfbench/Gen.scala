package perfbench

import graft.cdc.{AvroFrame, CdcEvent, Op}

/** One member-table row, as the generator writes it and the oracle keeps it. */
final case class Row(id: Long, v: Long, ref: Long, zone: Int, tag: String, note: String) {
  def json: String =
    s"""{"id":$id,"v":$v,"ref":$ref,"zone":$zone,"tag":"$tag","note":"$note"}"""
}

/** One generated change in structured form — what the oracle consumes.
  * `row` is the new image (null for a delete); `oldKey` differs from `key`
  * on a key-changing update; `poison` marks a malformed payload on the wire.
  */
final case class Change(table: String, op: String, key: Long, oldKey: Long,
    row: Row, poison: Boolean)

/** One committed transaction: the wire frame and the same changes in
  * structured form.
  */
final case class Txn(index: Int, lsn: Long, changes: Vector[Change],
    frame: Array[Byte]) {
  def events: Int = changes.size
}

/** Input shape of a workload's generated changes. */
final case class Shape(
    keySpace: Int,        // distinct keys per table
    zipf: Double,         // key skew exponent; 0 = uniform
    fill: Double,         // share of the key space live after set-up
    deleteShare: Double,  // of changes to a live key
    keyChangeShare: Double,
    poisonShare: Double,
    minEvents: Int,
    maxEvents: Int)

/** Seeded change generator over the four member tables. Everything it
  * produces — set-up rows, transactions, wire frames — is a function of the
  * seed alone.
  */
final class Gen(seed: Long, shape: Shape, numBuckets: Int) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)
  private val live = Array.fill(Tables.size)(scala.collection.mutable.LongMap.empty[Row])
  private var nextLsn = 16L
  private var nextIndex = 0
  private val relids: Map[String, Long] = AvroFrame.validateRelids(Tables)

  private val cdf: Array[Double] =
    if (shape.zipf <= 0) null
    else {
      val w = Array.tabulate(shape.keySpace)(r => 1.0 / math.pow(r + 1.0, shape.zipf))
      var acc = 0.0
      val c = new Array[Double](w.length)
      for (i <- w.indices) { acc += w(i); c(i) = acc }
      for (i <- c.indices) c(i) /= acc
      c
    }

  /** rank → key: a fixed permutation, so hot ranks spread over buckets. */
  private def keyOfRank(rank: Int): Long =
    ((rank.toLong * 2654435761L + 7919L) % shape.keySpace + shape.keySpace) % shape.keySpace

  private def drawKey(): Long =
    if (cdf == null) rnd.nextInt(shape.keySpace).toLong
    else {
      val u = rnd.nextDouble()
      var lo = 0; var hi = cdf.length - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      keyOfRank(lo)
    }

  private def text(n: Int): String = {
    val cs = new Array[Char](n)
    for (i <- cs.indices) cs(i) = ('a' + rnd.nextInt(26)).toChar
    new String(cs)
  }

  /** A row of about 230 bytes as JSON: a short tag and a longer note. */
  private def newRow(id: Long): Row =
    Row(id, 1L + rnd.nextLong(1000000000L), rnd.nextInt(shape.keySpace).toLong,
      zoneOf(id, numBuckets), text(8), text(80 + rnd.nextInt(160)))

  /** Set-up: insert `fill` of every table's key space, as transactions of at
    * most `perTxn` inserts.
    */
  def populate(perTxn: Int): Vector[Txn] = {
    val changes = Vector.newBuilder[Change]
    for (t <- Tables.indices; id <- 0L until shape.keySpace.toLong
         if rnd.nextDouble() < shape.fill) {
      val r = newRow(id)
      live(t)(id) = r
      changes += Change(Tables(t), Op.Insert, id, id, r, poison = false)
    }
    changes.result().grouped(perTxn).map(txn).toVector
  }

  /** One transaction inserting a new row per given (table, key). */
  def inserts(keys: Seq[(String, Long)]): Txn =
    txn(keys.map { case (t, id) =>
      val r = newRow(id)
      live(Tables.indexOf(t))(id) = r
      Change(t, Op.Insert, id, id, r, poison = false)
    }.toVector)

  /** The next workload transaction: `minEvents`–`maxEvents` changes. */
  def next(): Txn = {
    val n = shape.minEvents + rnd.nextInt(shape.maxEvents - shape.minEvents + 1)
    txn(Vector.fill(n)(change()))
  }

  private def change(): Change = {
    val t = rnd.nextInt(Tables.size)
    val table = Tables(t)
    val id = drawKey()
    val state = live(t)
    if (rnd.nextDouble() < shape.poisonShare) {
      // malformed payload on an insert or update; the error policy drops it,
      // so it never changes state
      val op = if (state.contains(id)) Op.Update else Op.Insert
      Change(table, op, id, id, null, poison = true)
    } else state.get(id) match {
      case None =>
        val r = newRow(id); state(id) = r
        Change(table, Op.Insert, id, id, r, poison = false)
      case Some(_) =>
        val u = rnd.nextDouble()
        if (u < shape.deleteShare) {
          state.remove(id)
          Change(table, Op.Delete, id, id, null, poison = false)
        } else if (u < shape.deleteShare + shape.keyChangeShare) {
          val to = rnd.nextInt(shape.keySpace).toLong
          if (state.contains(to)) { // target taken: a plain update instead
            val r = newRow(id); state(id) = r
            Change(table, Op.Update, id, id, r, poison = false)
          } else {
            state.remove(id)
            val r = newRow(to); state(to) = r
            Change(table, Op.Update, to, id, r, poison = false)
          }
        } else {
          val r = newRow(id); state(id) = r
          Change(table, Op.Update, id, id, r, poison = false)
        }
    }
  }

  /** Old images ride on updates and deletes (replica identity full); the
    * generator keeps them only to put them on the wire.
    */
  private val lastImage = Array.fill(Tables.size)(scala.collection.mutable.LongMap.empty[String])

  private def txn(changes: Vector[Change]): Txn = {
    val lsn = nextLsn
    nextLsn += 16
    val events = changes.map { c =>
      val t = Tables.indexOf(c.table)
      val images = lastImage(t)
      val before = if (c.op == Op.Insert) null else images.getOrElse(c.oldKey, null)
      val after = if (c.poison) PoisonPayload else if (c.row == null) null else c.row.json
      if (!c.poison) {
        if (c.oldKey != c.key || c.op == Op.Delete) images.remove(c.oldKey)
        if (c.row != null) images(c.key) = after
      }
      CdcEvent(c.op, c.table, lsn, lsn, 0L, keyJson(c.key), before, after)
    }
    val frame = AvroFrame.encodeTxn(lsn, lsn, events, relids)
    val out = Txn(nextIndex, lsn, changes, frame)
    nextIndex += 1
    out
  }
}

object Gen {
  val Tables: Vector[String] = Vector("users", "orders", "items", "payments")

  /** A truncated row image: not parseable as the row schema. */
  val PoisonPayload = """{"id":"""

  def keyJson(id: Long): String = s"""{"id":$id}"""

  /** The bucket the engine's layout assigns to `id` (Spark's murmur3 hash
    * with its default seed, as `functions.hash` computes it). `zone` carries
    * it, so a zone range is a column range that stats pruning can use.
    */
  def zoneOf(id: Long, numBuckets: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
    ((h % numBuckets) + numBuckets) % numBuckets
  }

  /** Input properties of a workload's generated changes, one line. */
  def describe(setup: Seq[Txn], work: Seq[Txn]): String = {
    val cs = work.flatMap(_.changes)
    val n = math.max(cs.size, 1).toDouble
    def share(p: Change => Boolean) = f"${cs.count(p) / n}%.4f"
    val keys = cs.map(c => (c.table, c.key)).distinct.size
    s"set-up rows ${setup.map(_.events).sum} in ${setup.size} txns; work events ${cs.size} " +
      s"in ${work.size} txns (mean ${f"${cs.size / math.max(work.size, 1).toDouble}%.2f"}) " +
      s"over ${Tables.size} tables, distinct keys ${keys}; insert ${share(_.op == Op.Insert)} " +
      s"update ${share(_.op == Op.Update)} delete ${share(_.op == Op.Delete)} " +
      s"key-change ${share(c => c.oldKey != c.key)} poison ${share(_.poison)}; " +
      s"wire bytes ${work.map(_.frame.length.toLong).sum}"
  }

  /** SHA-256 over the frames in order, hex. */
  def digest(frames: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    frames.foreach(md.update)
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
