package perfbench

import graft.cdc.Op

/** Plain-Scala reference compaction of the generated changes, independent of
  * the engine: per (table, key) the change with the newest (lsn, seq) wins
  * and a winning tombstone drops the key; a key-changing update is a delete
  * of the old key plus an insert of the new one; poison changes are excluded
  * and counted.
  */
final class Oracle {
  private val newest = scala.collection.mutable.HashMap.empty[(String, Long), (Long, Long)]
  private val live = Gen.Tables.map(_ -> scala.collection.mutable.LongMap.empty[Row]).toMap
  /** (row count, sum of v) per (table, zone) of the live rows. */
  private val zoneAgg = scala.collection.mutable.HashMap.empty[(String, Int), (Long, Long)]
  var poison = 0L
  var events = 0L

  def apply(t: Txn): Unit = t.changes.iterator.zipWithIndex.foreach { case (c, i) =>
    events += 1
    if (c.poison) poison += 1
    else if (c.op == Op.Update && c.oldKey != c.key) {
      put(c.table, c.oldKey, t.lsn, 2L * i, null)
      put(c.table, c.key, t.lsn, 2L * i + 1, c.row)
    } else put(c.table, c.key, t.lsn, 2L * i, if (c.op == Op.Delete) null else c.row)
  }

  private def put(table: String, key: Long, lsn: Long, seq: Long, row: Row): Unit = {
    val wins = newest.get((table, key)).forall { case (l, s) => lsn > l || (lsn == l && seq > s) }
    if (wins) {
      newest((table, key)) = (lsn, seq)
      val rows = live(table)
      rows.get(key).foreach(old => addZone(table, old, -1))
      if (row == null) rows.remove(key)
      else { rows(key) = row; addZone(table, row, 1) }
    }
  }

  private def addZone(table: String, r: Row, sign: Int): Unit = {
    val (n, s) = zoneAgg.getOrElse((table, r.zone), (0L, 0L))
    zoneAgg((table, r.zone)) = (n + sign, s + sign * r.v)
  }

  /** Live rows of one table, by key. */
  def state(table: String): Map[Long, Row] = live(table).toMap

  def lookup(table: String, key: Long): Option[Row] = live(table).get(key)

  def rows(table: String): Iterator[Row] = live(table).valuesIterator

  /** (row count, sum of v) of one table's rows in `zone`. */
  def zone(table: String, zone: Int): (Long, Long) = zoneAgg.getOrElse((table, zone), (0L, 0L))

  /** Alter one expected row: the self-test that a mismatch fails the run. */
  def plantMismatch(): Unit = {
    val t = Gen.Tables.head
    live(t).headOption.foreach { case (k, r) => live(t)(k) = r.copy(v = r.v + 1) }
  }
}

object Oracle {
  /** First difference between expected and actual rows, if any. */
  def diff(what: String, expected: Map[Long, Row], actual: Map[Long, Row]): Option[String] =
    if (expected == actual) None
    else {
      val missing = expected.keySet -- actual.keySet
      val extra = actual.keySet -- expected.keySet
      val wrong = (expected.keySet & actual.keySet).filter(k => expected(k) != actual(k))
      Some(s"$what: ${expected.size} expected vs ${actual.size} rows; " +
        s"missing ${missing.size} (e.g. ${missing.headOption.map(expected)}), " +
        s"extra ${extra.size} (e.g. ${extra.headOption.map(actual)}), " +
        s"wrong ${wrong.size} (e.g. ${wrong.headOption.map(k => (expected(k), actual(k)))})")
    }
}
