package graft.cdc

import graft.SparkTestSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaterializedTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ev(op: String, key: String, lsn: Long, after: String): CdcEvent =
    CdcEvent(op, "t", lsn, 0, 0, key, null, after)

  test("incremental merge equals full compaction; tombstones purge state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mat").toString + "/state"

    val batch1 = Seq(
      ev("insert", "a", 1, "A1"), ev("insert", "b", 2, "B1"),
      ev("insert", "c", 3, "C1"))
    val batch2 = Seq(
      ev("update", "a", 4, "A2"), ev("delete", "b", 5, null),
      ev("insert", "d", 6, "D1"))

    MaterializedTable.merge(spark, dir, batch1.toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    val n2 = MaterializedTable.merge(spark, dir, batch2.toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    assert(n2 <= 4) // only touched buckets rewritten

    val got = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toMap
    val full = LatestState.batch((batch1 ++ batch2).toDF(), Seq("key"), Seq("lsn", "seq"))
      .select("key", "after").as[(String, String)].collect().toMap
    assert(got == full)
    assert(got == Map("a" -> "A2", "c" -> "C1", "d" -> "D1")) // b tombstoned
  }

  /** Every live bucket dir across all version dirs: name → file set. */
  private def bucketDirs(dir: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(dir)
    val vs = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
    vs.flatMap { v =>
      v.listFiles().filter(_.getName.startsWith("_bucket=")).map { b =>
        s"${v.getName}/${b.getName}" ->
          b.listFiles().map(x => (x.getName, x.lastModified())).toSet
      }
    }.toMap
  }

  test("a bucket whose keys are all deleted is physically purged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mat2").toString + "/state"
    // single bucket: every key collides → deleting both empties the bucket
    MaterializedTable.merge(spark, dir,
      Seq(ev("insert", "x", 1, "X"), ev("insert", "y", 2, "Y")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 1)
    MaterializedTable.merge(spark, dir,
      Seq(ev("delete", "x", 3, null), ev("delete", "y", 4, null)).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 1)
    assert(MaterializedTable.read(spark, dir).count() == 0)
    assert(bucketDirs(dir).isEmpty,
      "stale bucket files must not survive an all-tombstone merge")
  }

  test("schema evolution: new column widens state (old rows null), dropped column keeps history") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mat4").toString + "/state"
    val b1 = Seq(("insert", "k1", 1L, 0L, "A1"), ("insert", "k2", 2L, 0L, "A2"))
      .toDF("op", "key", "lsn", "seq", "a")
    MaterializedTable.merge(spark, dir, b1, Seq("key"), Seq("lsn", "seq"), numBuckets = 4)

    // mid-changelog ALTER TABLE ADD COLUMN: batch 2 carries NEW column b and
    // does not touch k1 — its bucket keeps the old parquet schema on disk
    val b2 = Seq(("update", "k2", 3L, 0L, "A2b", "B2"), ("insert", "k3", 4L, 0L, "A3", "B3"))
      .toDF("op", "key", "lsn", "seq", "a", "b")
    MaterializedTable.merge(spark, dir, b2, Seq("key"), Seq("lsn", "seq"), numBuckets = 4)

    val got = MaterializedTable.read(spark, dir)
    assert(got.columns.toSet == Set("op", "key", "lsn", "seq", "a", "b"),
      "merged state must carry the union schema")
    val m = got.select("key", "a", "b").as[(String, Option[String], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m("k1") == ((Some("A1"), None)), "pre-change row: new column null-backfilled")
    assert(m("k2") == ((Some("A2b"), Some("B2"))))
    assert(m("k3") == ((Some("A3"), Some("B3"))))

    // ALTER TABLE DROP COLUMN a: batch 3 no longer carries it; rows that
    // still hold values keep them, the new winner leaves it null
    val b3 = Seq(("update", "k3", 5L, 0L, "B3c")).toDF("op", "key", "lsn", "seq", "b")
    MaterializedTable.merge(spark, dir, b3, Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    val m3 = MaterializedTable.read(spark, dir)
      .select("key", "a", "b").as[(String, Option[String], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m3("k1") == ((Some("A1"), None)), "dropped column keeps history")
    assert(m3("k2") == ((Some("A2b"), Some("B2"))))
    assert(m3("k3") == ((None, Some("B3c"))), "post-drop winner carries null")
  }

  test("a batch missing a CONTROL column fails instead of null-backfilling") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mat5").toString + "/state"
    MaterializedTable.merge(spark, dir,
      Seq(("insert", "k1", 1L, 0L, "A1")).toDF("op", "key", "lsn", "seq", "a"),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    // schema evolution must never absorb a missing op/order column: a null op
    // on a winning row would silently tombstone its key
    val noOp = Seq(("k1", 2L, 0L, "A2")).toDF("key", "lsn", "seq", "a")
    val e = intercept[IllegalArgumentException] {
      MaterializedTable.merge(spark, dir, noOp, Seq("key"), Seq("lsn", "seq"),
        numBuckets = 4)
    }
    assert(e.getMessage.contains("control column"))
  }

  test("untouched buckets are not rewritten (incremental IO)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mat3").toString + "/state"
    MaterializedTable.merge(spark, dir,
      (0 until 64).map(i => ev("insert", s"k$i", i, s"v$i")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 16)
    // untouched buckets keep their EXACT files (same version dir, same
    // mtimes): versioned writes never rewrite a live file in place
    def byBucket() = bucketDirs(dir).map { case (k, v) =>
      k.split('/')(1) -> (k, v)
    }
    val before = byBucket()
    // touch exactly one key
    val n = MaterializedTable.merge(spark, dir,
      Seq(ev("update", "k0", 1000, "v0b")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 16)
    assert(n == 1)
    val after = byBucket()
    val changed = before.keys.filter(k => before(k) != after.getOrElse(k, null))
    assert(changed.size == 1, s"exactly one bucket should change, got $changed")
  }

  test("compact bin-packs oversized buckets to one file and leaves the rest untouched") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mat_c").toString + "/state"
    // fragmented state as a LARGE merge leaves it — every write task carries
    // rows of every bucket, so each bucket dir holds one file per task (the
    // tiny in-test merge would be AQE-coalesced to one task, so lay the same
    // layout down directly; bucket assignment matches merge's bucketCol)
    val frag = (0 until 512).map(i => ev("insert", s"k$i", i, s"v$i")).toDF()
      .withColumn("_bucket", pmod(hash(col("key")), lit(2)))
    frag.repartition(8)
      .write.partitionBy("_bucket").parquet(s"$dir/v1")
    MaterializedTable.writeManifest(spark, dir, MaterializedTable.Manifest(
      1L, -1L, frag.schema.json, Map(0 -> 1L, 1 -> 1L)))
    def files(b: Int) = bucketDirs(dir).collect {
      case (k, v) if k.endsWith(s"_bucket=$b") => v
    }.flatten.filter(_._1.endsWith(".parquet")).toSet
    val before0 = files(0)
    val before1 = files(1)
    assert(before0.size > 3 && before1.size > 3,
      s"fixture should start fragmented, got ${before0.size}/${before1.size} files")
    val stateBefore = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toSet

    // threshold above the current count: nothing to do, nothing touched
    assert(MaterializedTable.compact(spark, dir, maxFilesPerBucket = 64) == 0)
    assert(files(0) == before0 && files(1) == before1)

    Thread.sleep(1100) // mtime granularity
    assert(MaterializedTable.compact(spark, dir) == 2)
    assert(files(0).size == 1 && files(1).size == 1,
      "each oversized bucket must compact to exactly one file")
    val stateAfter = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toSet
    assert(stateAfter == stateBefore, "compaction must not change the data")

    // already-compact buckets are not rewritten on a second pass
    val compacted = (files(0), files(1))
    assert(MaterializedTable.compact(spark, dir) == 0)
    assert((files(0), files(1)) == compacted)

    // and a merge after compaction still works
    MaterializedTable.merge(spark, dir,
      Seq(ev("update", "k0", 9999, "v0b")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 2)
    val m = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toMap
    assert(m("k0") == "v0b" && m.size == 512)
  }

  test("all-tombstone first batch: state reads as EMPTY, not schema error") {
    import spark.implicits._
    // regression (found by the incremental-merge ScalaCheck property): a
    // first batch whose every key ends deleted writes ZERO parquet files —
    // a partitioned empty write emits nothing — and read() used to die with
    // UNABLE_TO_INFER_SCHEMA; the schema sidecar reconstructs the relation
    val dir = java.nio.file.Files.createTempDirectory("mt_tomb").toString + "/state"
    MaterializedTable.merge(spark, dir,
      Seq(ev("delete", "k0", 10, null)).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    val empty = MaterializedTable.read(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.contains("key") && empty.columns.contains("after"))
    // the state dir stays fully usable: live rows merge and read back
    MaterializedTable.merge(spark, dir,
      Seq(ev("insert", "k1", 11, "v1")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    val m = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toMap
    assert(m == Map("k1" -> "v1"))
    // ...and deleting the last key returns it to readable-empty
    MaterializedTable.merge(spark, dir,
      Seq(ev("delete", "k1", 12, null)).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    assert(MaterializedTable.read(spark, dir).count() == 0)
  }

  test("crash between bucket write and manifest swap: reader sees the OLD snapshot; retry converges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_crash").toString + "/state"
    val batch1 = Seq(ev("insert", "a", 1, "A1"), ev("insert", "b", 2, "B1"))
    val batch2 = Seq(ev("update", "a", 3, "A2"), ev("insert", "c", 4, "C1"))
    MaterializedTable.merge(spark, dir, batch1.toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    def state() = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toMap
    val snap1 = state()
    assert(snap1 == Map("a" -> "A1", "b" -> "B1"))

    // simulate the crash point: the next merge's output version dir (v2)
    // half-landed — bucket files written, manifest swap never happened.
    // Planted by hand because in a real crash neither the swap nor the
    // post-commit GC ran (the committed v1 files are all still live).
    batch2.toDF()
      .withColumn("_bucket", pmod(hash(col("key")), lit(4)))
      .write.partitionBy("_bucket").parquet(s"$dir/v2")

    // a reader at the crash point resolves the committed snapshot, not the
    // half-landed files
    assert(state() == snap1, "uncommitted version files must be invisible")

    // the retry deletes the stale attempt's version dir and converges
    MaterializedTable.merge(spark, dir, batch2.toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    assert(state() == Map("a" -> "A2", "b" -> "B1", "c" -> "C1"))
    // and the whole history replayed from scratch agrees (no double rows)
    val full = LatestState.batch((batch1 ++ batch2).toDF(),
      Seq("key"), Seq("lsn", "seq"))
      .select("key", "after").as[(String, String)].collect().toMap
    assert(state() == full)
  }

  test("batch-id watermark rides in the manifest: a retried id is a no-op") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_wm").toString + "/state"
    MaterializedTable.merge(spark, dir, Seq(ev("insert", "a", 1, "A1")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4, batchId = Some(0L))
    // same id retried — even with DIFFERENT (conflicting) content, nothing moves
    val n = MaterializedTable.merge(spark, dir,
      Seq(ev("insert", "zz", 99, "SHOULD_NOT_LAND")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4, batchId = Some(0L))
    assert(n == 0)
    val got = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "A1"))
    // the next id folds normally
    MaterializedTable.merge(spark, dir, Seq(ev("insert", "b", 2, "B1")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4, batchId = Some(1L))
    assert(MaterializedTable.read(spark, dir).count() == 2)
  }

  test("vacuum removes crashed-attempt garbage, never live files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_vac").toString + "/state"
    MaterializedTable.merge(spark, dir, Seq(ev("insert", "a", 1, "A1")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    // plant a crashed partial attempt: an unreferenced version dir
    Seq(ev("insert", "junk", 9, "J")).toDF()
      .withColumn("_bucket", lit(0))
      .write.partitionBy("_bucket").parquet(s"$dir/v99")
    // age it past vacuum's in-flight guard: a FRESH above-head version dir
    // may be a live writer's staged commit (OCC claim→publish window), so
    // vacuum spares it for an hour — an hour-old one is this crash scenario
    new java.io.File(s"$dir/v99").setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    assert(MaterializedTable.vacuum(spark, dir) >= 1)
    assert(!new java.io.File(s"$dir/v99").exists(), "garbage version removed")
    val got = MaterializedTable.read(spark, dir)
      .select("key", "after").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "A1"), "live snapshot untouched by vacuum")
    assert(MaterializedTable.vacuum(spark, dir) == 0, "second vacuum is a no-op")
  }

  test("restore: metadata-only rollback; later merges continue on top") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialized.retainVersions", "4")
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_restore").toString + "/state"
    val b1 = Seq(ev("insert", "a", 1, "A1"))
    val b2 = Seq(ev("update", "a", 2, "A2"), ev("insert", "b", 3, "B1"))
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      MaterializedTable.merge(s2, dir, b.toDF(), Seq("key"), Seq("lsn", "seq"),
        numBuckets = 1, batchId = Some(i.toLong))
    }
    def state() = MaterializedTable.read(s2, dir)
      .select("key", "after").as[(String, String)].collect().toMap
    val rv = MaterializedTable.restore(s2, dir, 1L)
    assert(rv == 3L)
    assert(state() == Map("a" -> "A1"), "rolled back to v1's content")
    assert(MaterializedTable.listVersions(s2, dir).contains(rv))
    // the restore commit is itself a travel point; the pre-restore state
    // remains reachable
    assert(MaterializedTable.readVersion(s2, dir, 2L)
      .select("key", "after").as[(String, String)].collect().toMap ==
      Map("a" -> "A2", "b" -> "B1"))
    // a later merge with a FRESH id continues from the restored state
    MaterializedTable.merge(s2, dir, Seq(ev("insert", "c", 9, "C1")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 1, batchId = Some(2L))
    assert(state() == Map("a" -> "A1", "c" -> "C1"))
    // a stale-id retry stays a no-op across the rollback (watermark kept)
    assert(MaterializedTable.merge(s2, dir,
      Seq(ev("insert", "x", 99, "X")).toDF(), Seq("key"), Seq("lsn", "seq"),
      numBuckets = 1, batchId = Some(1L)) == 0)
  }

  test("time travel across schema evolution: each version reads with ITS schema") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialized.retainVersions", "4")
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_ttevo").toString + "/state"
    val b1 = Seq(("insert", "k1", 1L, 0L, "A1")).toDF("op", "key", "lsn", "seq", "a")
    // batch 2 ADDS column b (sink-side widening)
    val b2 = Seq(("insert", "k2", 2L, 0L, "A2", "B2"))
      .toDF("op", "key", "lsn", "seq", "a", "b")
    MaterializedTable.merge(s2, dir, b1, Seq("key"), Seq("lsn", "seq"),
      numBuckets = 1, batchId = Some(0L))
    MaterializedTable.merge(s2, dir, b2, Seq("key"), Seq("lsn", "seq"),
      numBuckets = 1, batchId = Some(1L))
    // v1 predates the widening: its snapshot has NO column b
    val v1 = MaterializedTable.readVersion(s2, dir, 1L)
    assert(!v1.columns.contains("b"))
    assert(v1.select("key", "a").as[(String, String)].collect().toSet ==
      Set(("k1", "A1")))
    // v2 carries the widened schema with the old row null-backfilled
    val v2 = MaterializedTable.readVersion(s2, dir, 2L)
    assert(v2.select("key", "a", "b").as[(String, String, Option[String])]
      .collect().toSet ==
      Set(("k1", "A1", None), ("k2", "A2", Some("B2"))))
    // changeFeed across the widening: the new column participates — the
    // payload is the UNION of both snapshots' columns (an intersection
    // would silently drop b from the feed), before side null-backfilled
    val feed = MaterializedTable.changeFeed(s2, dir, 1L, 2L, Seq("key"))
    assert(feed.columns.contains("before_b") && feed.columns.contains("after_b"))
    assert(feed.select("key", "op", "before_b", "after_b")
      .as[(String, String, Option[String], Option[String])].collect().toSet ==
      Set(("k2", "insert", None, Some("B2"))))
  }

  test("incompatible payload type change is REJECTED; the committed table stays intact") {
    val s2 = spark.newSession()
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_badevo").toString + "/state"
    val b1 = Seq(("insert", "k1", 1L, 0L, 1.5))
      .toDF("op", "key", "lsn", "seq", "v")
    MaterializedTable.merge(s2, dir, b1, Seq("key"), Seq("lsn", "seq"),
      numBuckets = 1, batchId = Some(0L))
    // same payload name, irreconcilable type (double vs array<double>):
    // union resolution must throw BEFORE anything is written
    val b2 = Seq(("insert", "k2", 2L, 0L, Seq(1.0, 2.0)))
      .toDF("op", "key", "lsn", "seq", "v")
    intercept[org.apache.spark.sql.AnalysisException] {
      MaterializedTable.merge(s2, dir, b2, Seq("key"), Seq("lsn", "seq"),
        numBuckets = 1, batchId = Some(1L))
    }
    val m = MaterializedTable.readManifest(s2, dir).get
    assert(m.version == 1L && m.lastBatchId == 0L,
      "a rejected evolution must not advance the manifest")
    assert(MaterializedTable.read(s2, dir)
      .select("key", "v").as[(String, Double)].collect().toSeq ==
      Seq(("k1", 1.5)))
  }

  test("time travel: readVersion reconstructs retained snapshots; vacuum honors the horizon") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialized.retainVersions", "2")
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_tt").toString + "/state"
    val b1 = Seq(ev("insert", "a", 1, "A1"), ev("insert", "b", 2, "B1"))
    val b2 = Seq(ev("update", "a", 3, "A2"), ev("delete", "b", 4, null))
    val b3 = Seq(ev("insert", "c", 5, "C1"))
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      MaterializedTable.merge(s2, dir, b.toDF(), Seq("key"), Seq("lsn", "seq"),
        numBuckets = 1, batchId = Some(i.toLong))
    }
    def stateAt(v: Long) = MaterializedTable.readVersion(s2, dir, v)
      .select("key", "after").as[(String, String)].collect().toMap
    def replay(bs: Seq[CdcEvent]*) =
      LatestState.batch(bs.flatten.toDF(), Seq("key"), Seq("lsn", "seq"))
        .select("key", "after").as[(String, String)].collect().toMap
    assert(MaterializedTable.listVersions(s2, dir) == Seq(1L, 2L, 3L))
    assert(stateAt(1) == replay(b1))
    assert(stateAt(2) == replay(b1, b2))         // delete visible at v2
    assert(stateAt(3) == replay(b1, b2, b3))     // current via its record
    // uncommitted versions are refused outright
    intercept[IllegalArgumentException] {
      MaterializedTable.readVersion(s2, dir, 99)
    }
    // change feed between versions: op-typed diff, O(divergence) output
    // (column names: the stored payload col is 'after', so the feed emits
    // before_after / after_after)
    def feed(f: Long, t: Long) =
      MaterializedTable.changeFeed(s2, dir, f, t, Seq("key"))
        .select("key", "op", "before_after", "after_after")
        .as[(String, String, Option[String], Option[String])].collect().toSet
    assert(feed(1, 2) == Set(
      ("a", "update", Some("A1"), Some("A2")),
      ("b", "delete", Some("B1"), None)))
    assert(feed(2, 3) == Set(("c", "insert", None, Some("C1"))),
      "unchanged keys stay out of the feed")
    assert(feed(1, 3) == Set(
      ("a", "update", Some("A1"), Some("A2")),
      ("b", "delete", Some("B1"), None),
      ("c", "insert", None, Some("C1"))))
    intercept[IllegalArgumentException] {
      MaterializedTable.changeFeed(s2, dir, 3, 3, Seq("key"))
    }
    // vacuum at retain=2: horizon = 1 — v1's snapshot falls away, v2/v3 stay
    MaterializedTable.vacuum(s2, dir)
    assert(MaterializedTable.listVersions(s2, dir) == Seq(2L, 3L))
    assert(stateAt(2) == replay(b1, b2), "retained snapshot survives vacuum")
    intercept[IllegalStateException] {
      MaterializedTable.readVersion(s2, dir, 1)
    }

    // default retain=0 (the shared session): eager post-commit GC — an old
    // version's files are gone immediately and readVersion fails LOUDLY
    val dir0 = java.nio.file.Files.createTempDirectory("mt_tt0").toString + "/state"
    MaterializedTable.merge(spark, dir0,
      spark.createDataFrame(b1), Seq("key"), Seq("lsn", "seq"), numBuckets = 1)
    MaterializedTable.merge(spark, dir0,
      spark.createDataFrame(b2), Seq("key"), Seq("lsn", "seq"), numBuckets = 1)
    intercept[IllegalStateException] {
      MaterializedTable.readVersion(spark, dir0, 1)
    }
  }

  test("filesPerBucket resolves through the manifest; compaction drives it to one file per bucket") {
    import spark.implicits._
    val s2 = spark.newSession()
    // keep the write multi-file: no AQE partition coalescing, and the
    // legacy undistributed write (the default hash distribution emits one
    // file per bucket, which is pinned separately below)
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.graft.materialized.writeDistribution", "none")
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("mt_fpb").toString + "/t"
    val rows = (1 to 64).map(i => ev("insert", s"k$i", i.toLong, s"v$i"))
    MaterializedTable.merge(s2, dir,
      rows.toDF().repartition(8, col("key")),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 2)
    val before = MaterializedTable.filesPerBucket(s2, dir)
    assert(before.keySet == Set(0, 1), s"live buckets via the manifest: $before")
    assert(before.values.sum >= 2, s"multi-file before compaction: $before")
    assert(before.values.max > 1, s"an oversized bucket exists: $before")
    MaterializedTable.compact(s2, dir, maxFilesPerBucket = 1)
    val after = MaterializedTable.filesPerBucket(s2, dir)
    assert(after == Map(0 -> 1, 1 -> 1), s"one file per bucket after OPTIMIZE: $after")
    // content survived the move
    assert(MaterializedTable.read(s2, dir).count() == 64)
  }

  test("default hash write distribution: a merge emits ONE file per touched bucket") {
    import spark.implicits._
    val s2 = spark.newSession()
    // even with coalescing off and a deliberately scattered input, the
    // hash distribution clusters each bucket into one writer task
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("mt_hash").toString + "/t"
    val rows = (1 to 64).map(i => ev("insert", s"k$i", i.toLong, s"v$i"))
    MaterializedTable.merge(s2, dir,
      rows.toDF().repartition(8, col("key")),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 2)
    val fpb = MaterializedTable.filesPerBucket(s2, dir)
    assert(fpb == Map(0 -> 1, 1 -> 1),
      s"hash write distribution should emit one file per bucket: $fpb")
    assert(MaterializedTable.read(s2, dir).count() == 64)
    // hash and none are the only write distributions
    s2.conf.set("spark.graft.materialized.writeDistribution", "rebalance")
    intercept[IllegalArgumentException] {
      MaterializedTable.merge(s2, dir, rows.take(1).toDF(),
        Seq("key"), Seq("lsn", "seq"), numBuckets = 2)
    }
  }

  test("merge, compact and rebucket commit through committer v2 without a _SUCCESS marker") {
    import spark.implicits._
    val s2 = spark.newSession()
    // a multi-file merge, so compact has an oversized bucket to rewrite
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.graft.materialized.writeDistribution", "none")
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("mt_success").toString + "/t"
    val rows = (1 to 64).map(i => ev("insert", s"k$i", i.toLong, s"v$i"))
    MaterializedTable.merge(s2, dir, rows.toDF().repartition(8, col("key")),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 2)
    assert(MaterializedTable.compact(s2, dir, maxFilesPerBucket = 1) > 0)
    MaterializedTable.rebucket(s2, dir, 4)
    assert(MaterializedTable.read(s2, dir).count() == 64)
    val markers = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString == "_SUCCESS").count()
    assert(markers == 0L, "no write may leave a _SUCCESS marker")
  }

  test("rebucket's write fills the cache its stats pass reads: no materialization job") {
    val s2 = spark.newSession()
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_rebucket").toString + "/t"
    MaterializedTable.merge(s2, dir,
      (1 to 32).map(i => ev("insert", s"k$i", i, s"v$i")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4, statsCols = Seq("lsn"))
    def state = MaterializedTable.read(s2, dir).select("key", "after")
      .as[(String, String)].collect().toSet
    val before = state

    val sc = s2.sparkContext
    val marker = "mt-rebucket-jobs"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.marker") == marker)
          sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.marker", marker)
      try MaterializedTable.rebucket(s2, dir, 8, statsCols = Seq("lsn"))
      finally sc.setLocalProperty("graft.test.marker", null)
      GraftShims.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    // the write, then the stats pass's grouped aggregation (two jobs under
    // AQE); an eager localCheckpoint used to add a fourth, before the write
    assert(sites.size == 3, s"rebucket ran ${sites.size} jobs: $sites")

    val m = MaterializedTable.readManifest(s2, dir).get
    assert(m.numBuckets == 8)
    assert(m.stats.values.map(_.rows).sum == 32L, s"stats cover every row: ${m.stats}")
    assert(state == before && before.size == 32)
  }

  /** Each key's bucket under `numBuckets` (the layout's own hash), in one job. */
  private def bucketsOf(s: SparkSession, keys: Seq[String],
      numBuckets: Int): Map[String, Int] = {
    import s.implicits._
    keys.toDF("key").select(col("key"), pmod(hash(col("key")), lit(numBuckets)))
      .as[(String, Int)].collect().toMap
  }

  test("a merge touching only pre-evolution buckets keeps every column in the manifest") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialized.retainVersions", "8")
    // the undistributed, uncoalesced write leaves k1's bucket in several
    // files after merge 3, so compact below rewrites a strict subset
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.graft.materialized.writeDistribution", "none")
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_wide").toString + "/t"
    val bucket = bucketsOf(s2, (1 to 400).map(i => s"k$i"), 4)
    val k2 = (2 to 400).map(i => s"k$i").find(bucket(_) != bucket("k1")).get
    val mates = (2 to 400).map(i => s"k$i").filter(bucket(_) == bucket("k1")).take(8)
    val cols = Seq("op", "key", "lsn", "seq", "a")
    def merge(df: DataFrame): Unit =
      MaterializedTable.merge(s2, dir, df, Seq("key"), Seq("lsn", "seq"),
        numBuckets = 4, statsCols = Seq("a", "b"))
    merge(Seq(("insert", "k1", 1L, 0L, "A1")).toDF(cols: _*))
    // a new column b, in a bucket other than k1's
    merge(Seq(("insert", k2, 2L, 0L, "A2", "B2")).toDF(cols :+ "b": _*))
    // k1's bucket again, from a batch without b
    merge((("update", "k1", 3L, 0L, "A1b") +:
      mates.map(k => ("insert", k, 3L, 0L, s"A_$k"))).toDF(cols: _*))

    val all = Set("op", "key", "lsn", "seq", "a", "b")
    val expected: Map[String, (Option[String], Option[String])] =
      Map("k1" -> ((Some("A1b"), None)), k2 -> ((Some("A2"), Some("B2")))) ++
        mates.map(k => k -> ((Some(s"A_$k"), None)))
    def rows(df: DataFrame) = df.select("key", "a", "b")
      .as[(String, Option[String], Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    def agree(label: String): Unit = {
      def same(face: String, df: DataFrame,
          want: Map[String, (Option[String], Option[String])]): Unit = {
        assert(df.columns.toSet == all, s"$label: $face columns")
        assert(rows(df) == want, s"$label: $face rows")
      }
      same("read", MaterializedTable.read(s2, dir), expected)
      for (k <- Seq("k1", k2))
        same(s"lookup($k)", MaterializedTable.lookup(s2, dir, Seq(k)),
          expected.filter(_._1 == k))
      same("readPruned", MaterializedTable.readPruned(s2, dir,
        col("key").isin("k1", k2)), expected.filter(e => Set("k1", k2)(e._1)))
      val v = MaterializedTable.readManifest(s2, dir).get.version
      same("readVersion", MaterializedTable.readVersion(s2, dir, v), expected)
      val feed = MaterializedTable.changeFeed(s2, dir, 2L, v, Seq("key"))
      assert(feed.columns.toSet == Set("key", "op") ++ (all - "key")
        .flatMap(c => Seq(s"before_$c", s"after_$c")), s"$label: feed columns")
      assert(feed.select("key", "op", "before_a", "after_a", "before_b", "after_b")
        .as[(String, String, Option[String], Option[String], Option[String],
          Option[String])].collect().toSet ==
        (mates.map(k => (k, "insert", None, Some(s"A_$k"), None, None)) :+
          (("k1", "update", Some("A1"), Some("A1b"), None, None))).toSet,
        s"$label: feed rows")
      val (_, schema) = MaterializedTable.keyLayout(s2, dir)
      assert(schema.fieldNames.toSet - "_bucket" == all, s"$label: keyLayout")
      val summary = MaterializedTable.statsSummary(s2, dir).head()
      assert(summary.schema.fieldNames.toSet == Set("rows") ++
        Seq("a", "b").flatMap(c => Seq(s"min_$c", s"max_$c", s"nulls_$c")),
        s"$label: statsSummary columns")
      assert(summary.getAs[Long]("rows") == expected.size)
      assert(summary.getAs[String]("min_b") == "B2" &&
        summary.getAs[String]("max_b") == "B2" &&
        summary.getAs[Long]("nulls_b") == expected.size - 1,
        s"$label: statsSummary b")
    }

    agree("after merge 3")
    assert(MaterializedTable.filesPerBucket(s2, dir)(bucket("k1")) > 1,
      "fixture: k1's bucket holds several files")
    assert(MaterializedTable.compact(s2, dir, maxFilesPerBucket = 1) == 1,
      "compact rewrites k1's bucket only")
    agree("after compact")
    MaterializedTable.restore(s2, dir, 3L)
    agree("after restore")
  }

  test("building a read runs no Spark job; collecting a lookup runs one") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialized.retainVersions", "4")
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_jobs").toString + "/t"
    MaterializedTable.merge(s2, dir,
      (1 to 16).map(i => ev("insert", s"k$i", i, s"v$i")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    MaterializedTable.merge(s2, dir, Seq(ev("update", "k1", 100, "v1b")).toDF(),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4)
    val live = MaterializedTable.readManifest(s2, dir).get.buckets
    assert(live.values.toSet.size >= 2, s"buckets span two version dirs: $live")

    val sc = s2.sparkContext
    val marker = "mt-read-jobs"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("graft.test.marker") == marker)
          started.incrementAndGet()
    }
    def jobsOf(f: => Unit): Int = {
      started.set(0)
      sc.setLocalProperty("graft.test.marker", marker)
      try f finally sc.setLocalProperty("graft.test.marker", null)
      GraftShims.drainListenerBus(sc)
      started.get
    }
    sc.addSparkListener(listener)
    try {
      val built = Map[String, () => DataFrame](
        "lookup" -> (() => MaterializedTable.lookup(s2, dir, Seq("k1"))),
        "readPruned" -> (() =>
          MaterializedTable.readPruned(s2, dir, col("key") === "k2")),
        "read" -> (() => MaterializedTable.read(s2, dir)),
        "readVersion" -> (() => MaterializedTable.readVersion(s2, dir, 1L)),
        "changeFeed" -> (() =>
          MaterializedTable.changeFeed(s2, dir, 1L, 2L, Seq("key"))))
        .map { case (face, build) => face -> jobsOf(build()) }
      assert(built.values.forall(_ == 0), s"jobs run while building: $built")
      var got: Array[org.apache.spark.sql.Row] = null
      val collected = jobsOf {
        got = MaterializedTable.lookup(s2, dir, Seq("k1")).collect() }
      assert(collected == 1, "a lookup's collect is its only job")
      assert(got.map(_.getAs[String]("after")).toSeq == Seq("v1b"))
    } finally sc.removeSparkListener(listener)
  }

  test("type widening across versions: old int files read exactly under the manifest's long") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialized.retainVersions", "4")
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_widen").toString + "/t"
    val bucket = bucketsOf(s2, (1 to 100).map(i => s"k$i"), 4)
    val k2 = (2 to 100).map(i => s"k$i").find(bucket(_) != bucket("k1")).get
    val cols = Seq("op", "key", "lsn", "seq", "v")
    MaterializedTable.merge(s2, dir, Seq(("insert", "k1", 1L, 0L, 7)).toDF(cols: _*),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4, statsCols = Seq("v"))
    val big = 5000000000L
    MaterializedTable.merge(s2, dir, Seq(("insert", k2, 2L, 0L, big)).toDF(cols: _*),
      Seq("key"), Seq("lsn", "seq"), numBuckets = 4, statsCols = Seq("v"))
    val m = MaterializedTable.readManifest(s2, dir).get
    assert(m.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(m.buckets(bucket("k1")) == 1L, "k1's bucket keeps its v1 int files")

    def values(df: DataFrame): Map[String, Long] = {
      assert(df.schema("v").dataType == org.apache.spark.sql.types.LongType)
      df.select("key", "v").as[(String, Long)].collect().toMap
    }
    assert(values(MaterializedTable.read(s2, dir)) == Map("k1" -> 7L, k2 -> big))
    assert(values(MaterializedTable.lookup(s2, dir, Seq("k1"))) == Map("k1" -> 7L))
    assert(values(MaterializedTable.readVersion(s2, dir, 2L)) ==
      Map("k1" -> 7L, k2 -> big))
    // a long bound past the int range is not truncated against the int file
    assert(values(MaterializedTable.readPruned(s2, dir, col("v") > 4000000000L)) ==
      Map(k2 -> big))
    assert(values(MaterializedTable.readPruned(s2, dir, col("v") < 4000000000L)) ==
      Map("k1" -> 7L))
  }

  test("a widening the parquet reader cannot do (long to double) rewrites the old buckets") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.materialized.retainVersions", "4")
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_ltod").toString + "/t"
    val bucket = bucketsOf(s2, (1 to 100).map(i => s"k$i"), 4)
    val k2 = (2 to 100).map(i => s"k$i").find(bucket(_) != bucket("k1")).get
    val cols = Seq("op", "key", "lsn", "seq", "v")
    def merge(df: DataFrame): Unit =
      MaterializedTable.merge(s2, dir, df, Seq("key"), Seq("lsn", "seq"),
        numBuckets = 4, statsCols = Seq("v"))
    merge(Seq(("insert", "k1", 1L, 0L, 7L)).toDF(cols: _*))
    merge(Seq(("insert", k2, 2L, 0L, 2.5)).toDF(cols: _*))
    val m = MaterializedTable.readManifest(s2, dir).get
    assert(m.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(m.buckets(bucket("k1")) == 2L,
      "k1's bucket is rewritten: its v1 files hold v as INT64")

    def values(df: DataFrame): Map[String, Double] = {
      assert(df.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
      df.select("key", "v").as[(String, Double)].collect().toMap
    }
    val both = Map("k1" -> 7.0, k2 -> 2.5)
    assert(values(MaterializedTable.read(s2, dir)) == both)
    assert(values(MaterializedTable.lookup(s2, dir, Seq("k1"))) == Map("k1" -> 7.0))
    assert(values(MaterializedTable.readVersion(s2, dir, 2L)) == both)
    assert(values(MaterializedTable.readPruned(s2, dir, col("v") > 5.0)) ==
      Map("k1" -> 7.0))
    val feed = MaterializedTable.changeFeed(s2, dir, 1L, 2L, Seq("key"))
    assert(feed.select("key", "op", "after_v").as[(String, String, Double)]
      .collect().toSet == Set((k2, "insert", 2.5)))
    // the next merge into k1's bucket reads it under the widened type
    merge(Seq(("update", "k1", 3L, 0L, 8.5)).toDF(cols: _*))
    assert(values(MaterializedTable.read(s2, dir)) == Map("k1" -> 8.5, k2 -> 2.5))
  }

  test("every widening the parquet reader performs keeps the old buckets' files") {
    val s2 = spark.newSession()
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("mt_widens").toString + "/t"
    val bucket = bucketsOf(s2, (1 to 100).map(i => s"k$i"), 4)
    val k2 = (2 to 100).map(i => s"k$i").find(bucket(_) != bucket("k1")).get
    def merge(df: DataFrame): Unit =
      MaterializedTable.merge(s2, dir, df, Seq("key"), Seq("lsn", "seq"),
        numBuckets = 4)
    val big = 5000000000L
    // v1: i int, f float, s struct<x int>, xs array<int>
    merge(Seq(("insert", "k1", 1L, 0L, 3, 1.5f, 7))
      .toDF("op", "key", "lsn", "seq", "i", "f", "x")
      .select(col("op"), col("key"), col("lsn"), col("seq"), col("i"), col("f"),
        struct(col("x")).as("s"), array(col("x")).as("xs")))
    // v2, another bucket: i double, f double, s struct<x long, y string>,
    // xs array<long>
    merge(Seq(("insert", k2, 2L, 0L, 0.25, 2.5, big, "y2"))
      .toDF("op", "key", "lsn", "seq", "i", "f", "x", "y")
      .select(col("op"), col("key"), col("lsn"), col("seq"), col("i"), col("f"),
        struct(col("x"), col("y")).as("s"), array(col("x")).as("xs")))
    val m = MaterializedTable.readManifest(s2, dir).get
    assert(m.buckets(bucket("k1")) == 1L, "k1's bucket keeps its v1 files")
    def values(df: DataFrame) = df.select("key", "i", "f", "s.x", "s.y", "xs")
      .as[(String, Double, Double, Long, Option[String], Seq[Long])].collect().toSet
    val old = ("k1", 3.0, 1.5, 7L, None, Seq(7L))
    // the row-based reader takes over where the vectorized one does not apply
    for (vectorized <- Seq("true", "false")) {
      s2.conf.set("spark.sql.parquet.enableVectorizedReader", vectorized)
      assert(values(MaterializedTable.read(s2, dir)) ==
        Set(old, (k2, 0.25, 2.5, big, Some("y2"), Seq(big))), s"vectorized=$vectorized")
      assert(values(MaterializedTable.lookup(s2, dir, Seq("k1"))) == Set(old),
        s"vectorized=$vectorized")
    }
  }
}
