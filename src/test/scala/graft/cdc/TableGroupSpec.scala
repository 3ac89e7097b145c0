package graft.cdc

import graft.SparkTestSession
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Atomic multi-table commit (TableGroup): cross-table snapshot isolation,
  * crash-retry convergence, whole-group replay no-ops.
  */
class TableGroupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_grp").toString + "/g"

  private def withRetain[A](n: Int)(f: => A): A = {
    spark.conf.set("spark.graft.materialized.retainVersions", n.toString)
    try f finally spark.conf.unset("spark.graft.materialized.retainVersions")
  }

  import spark.implicits._

  private def users(rows: (String, String, Long, Long)*): DataFrame =
    rows.toSeq.toDF("op", "key", "lsn", "v") // v = payload
      .withColumn("seq", org.apache.spark.sql.functions.lit(0L))

  private def batches(u: DataFrame, t: DataFrame) = Seq(
    TableGroup.TableBatch("by_user", u, Seq("key")),
    TableGroup.TableBatch("by_type", t, Seq("key", "typ")))

  private def types(rows: (String, String, String, Long)*): DataFrame =
    rows.toSeq.toDF("op", "key", "typ", "lsn")
      .withColumn("seq", org.apache.spark.sql.functions.lit(0L))

  private def snap(root: String, t: String): Set[Seq[Any]] =
    TableGroup.read(spark, root, t).collect().map(_.toSeq.toSet.toSeq).toSet

  test("group reads serve the committed snapshot; crash window invisible; retry converges") {
    withRetain(4) {
      val root = tmp()
      val ord = Seq("lsn", "seq")
      // batch 1
      TableGroup.commit(spark, root,
        batches(users(("insert", "a", 1L, 10L), ("insert", "b", 2L, 20L)),
          types(("insert", "a", "x", 1L), ("insert", "b", "y", 2L))),
        ord, batchId = 1L, numBuckets = 4)
      val u1 = snap(root, "by_user"); val t1 = snap(root, "by_type")
      assert(TableGroup.tables(spark, root) == Seq("by_type", "by_user"))

      // CRASH: member by_user lands batch 2 directly; root never swaps
      MaterializedTable.merge(spark, s"$root/by_user",
        users(("update", "a", 3L, 111L)), Seq("key"), ord, numBuckets = 4,
        batchId = Some(2L))
      assert(snap(root, "by_user") == u1,
        "group read must stay on the committed snapshot through the crash window")
      assert(snap(root, "by_type") == t1)
      // member's own face HAS advanced — the group face hides it
      assert(MaterializedTable.read(spark, s"$root/by_user")
        .filter($"key" === "a").select("v").as[Long].head() == 111L)

      // retry of the full group batch 2: by_user's merge is a guarded
      // no-op, by_type lands, root swaps — convergence, no double fold
      val folded = TableGroup.commit(spark, root,
        batches(users(("update", "a", 3L, 111L)),
          types(("insert", "a", "z", 3L))),
        ord, batchId = 2L, numBuckets = 4)
      assert(folded == 1, s"only by_type should fold on retry, folded=$folded")
      assert(TableGroup.read(spark, root, "by_user")
        .filter($"key" === "a").select("v").as[Long].head() == 111L)
      assert(TableGroup.read(spark, root, "by_type").count() == 3)
    }
  }

  test("whole-group replay with poisoned content is a no-op") {
    withRetain(4) {
      val root = tmp()
      val ord = Seq("lsn", "seq")
      TableGroup.commit(spark, root,
        batches(users(("insert", "a", 1L, 10L)),
          types(("insert", "a", "x", 1L))), ord, batchId = 1L, numBuckets = 2)
      val u1 = snap(root, "by_user"); val t1 = snap(root, "by_type")
      val n = TableGroup.commit(spark, root,
        batches(users(("update", "a", 1L, -999L)),
          types(("insert", "a", "POISON", 1L))), ord, batchId = 1L,
        numBuckets = 2)
      assert(n == 0)
      assert(snap(root, "by_user") == u1 && snap(root, "by_type") == t1)
    }
  }

  test("a transaction need not touch every member; untouched tables keep their pin") {
    withRetain(4) {
      val root = tmp()
      val ord = Seq("lsn", "seq")
      TableGroup.commit(spark, root,
        batches(users(("insert", "a", 1L, 10L)),
          types(("insert", "a", "x", 1L))), ord, batchId = 1L, numBuckets = 2)
      val t1 = snap(root, "by_type")
      TableGroup.commit(spark, root,
        Seq(TableGroup.TableBatch("by_user",
          users(("update", "a", 2L, 20L)), Seq("key"))),
        ord, batchId = 2L, numBuckets = 2)
      assert(snap(root, "by_type") == t1, "untouched member must stay pinned")
      assert(TableGroup.read(spark, root, "by_user")
        .select("v").as[Long].head() == 20L)
    }
  }

  test("group vacuum prunes garbage but refuses to prune a root-pinned snapshot") {
    withRetain(4) {
      val root = tmp()
      val ord = Seq("lsn", "seq")
      TableGroup.commit(spark, root,
        batches(users(("insert", "a", 1L, 10L)), types(("insert", "a", "x", 1L))),
        ord, batchId = 1L, numBuckets = 2)
      // crash lag: member ahead of the root pin
      MaterializedTable.merge(spark, s"$root/by_user",
        users(("update", "a", 2L, 20L)), Seq("key"), ord, numBuckets = 2,
        batchId = Some(2L))
      val u1 = snap(root, "by_user")
      TableGroup.vacuum(spark, root) // retention 4 covers the 1-commit lag
      assert(snap(root, "by_user") == u1, "pinned snapshot must survive vacuum")
      // a too-tight retention would prune the pin → refusal, nothing touched
      spark.conf.set("spark.graft.materialized.retainVersions", "0")
      val e = intercept[IllegalArgumentException] {
        TableGroup.vacuum(spark, root)
      }
      assert(e.getMessage.contains("root-pinned"))
      spark.conf.set("spark.graft.materialized.retainVersions", "4")
      assert(snap(root, "by_user") == u1)
    }
  }

  test("retention guard and non-member reads fail loudly") {
    val root = tmp()
    val e = intercept[IllegalArgumentException] {
      TableGroup.commit(spark, root,
        batches(users(("insert", "a", 1L, 1L)), types(("insert", "a", "x", 1L))),
        Seq("lsn", "seq"), batchId = 1L)
    }
    assert(e.getMessage.contains("retainVersions"))
    withRetain(4) {
      TableGroup.commit(spark, root,
        batches(users(("insert", "a", 1L, 1L)), types(("insert", "a", "x", 1L))),
        Seq("lsn", "seq"), batchId = 1L, numBuckets = 2)
      val e2 = intercept[IllegalArgumentException] {
        TableGroup.read(spark, root, "nope")
      }
      assert(e2.getMessage.contains("not a member"))
    }
  }

  test("an interrupted group commit leaves no job running; a retry converges") {
    withRetain(4) {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
      import org.apache.spark.sql.functions.{col, udf}
      val sc = spark.sparkContext
      val root = tmp()
      val ord = Seq("lsn", "seq")
      val slow = udf { (x: Long) => Thread.sleep(200L); x }
      def members(delayed: Boolean) = {
        val u = users((1 to 20).map(i => ("insert", s"k$i", i.toLong, i * 10L)): _*)
        val t = types((1 to 20).map(i => ("insert", s"k$i", s"t${i % 3}", i.toLong)): _*)
        if (!delayed) batches(u, t)
        else batches(u.withColumn("lsn", slow(col("lsn"))),
          t.withColumn("lsn", slow(col("lsn"))))
      }
      val starts = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == "tg-interrupt"))
            starts.incrementAndGet()
      }
      val thrown = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        sc.setJobGroup("tg-interrupt", "interrupted group commit",
          interruptOnCancel = true)
        try TableGroup.commit(spark, root, members(delayed = true), ord,
          batchId = 1L, numBuckets = 4)
        catch { case e: Throwable => thrown.set(e) }
        ()
      })
      sc.addSparkListener(listener)
      try {
        writer.start()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (starts.get == 0 && System.nanoTime() < deadline) Thread.sleep(5L)
        assert(starts.get > 0, "the member merges never started")
        writer.interrupt()
        writer.join(60000L)
        assert(!writer.isAlive && thrown.get.isInstanceOf[InterruptedException],
          s"the commit should rethrow the interrupt: ${thrown.get}")
        ListenerBusDrain(sc)
        assert(sc.statusTracker.getActiveJobIds().isEmpty,
          "no merge job outlives the interrupted commit")
        val seen = starts.get
        Thread.sleep(1000L)
        ListenerBusDrain(sc)
        assert(starts.get == seen, "no merge job starts after the commit threw")
      } finally sc.removeSparkListener(listener)
      assert(TableGroup.readRoot(spark, root).isEmpty, "the root never swapped")
      TableGroup.commit(spark, root, members(delayed = false), ord,
        batchId = 1L, numBuckets = 4)
      assert(snap(root, "by_user").size == 20 && snap(root, "by_type").size == 20)
    }
  }

  test("race soak: concurrent root polling across 100+ rapid commits — no checksum escapes, offsets monotonic") {
    // The root is replaced by one atomic rename (MetaFile), so a reader
    // racing a swap sees the old root or the new one: never a gap, never
    // a checksum error. This pins that under stress: readers hammer the
    // root from multiple threads through M rapid commits; any exception or
    // None after the first commit fails the thread, and every thread's
    // observed (lastBatchId, member versions) sequence must be
    // non-decreasing and reach the final commit.
    withRetain(2) {
      val root = tmp()
      def one(id: Long): Unit = {
        TableGroup.commit(spark, root, Seq(TableGroup.TableBatch("t",
            users(("insert", s"k${id % 7}", id, id)), Seq("key"))),
          Seq("lsn", "seq"), batchId = id, numBuckets = 1)
        ()
      }
      one(1L)
      val src = new graft.sources.GraftGroupCdfSource(spark.sqlContext, root)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val polls = new java.util.concurrent.atomic.AtomicLong(0L)
      val maxSeen = new java.util.concurrent.atomic.AtomicLong(-1L)
      val finals = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val batchIdRe = """"lastBatchId":(-?\d+)""".r
      def reader(viaSource: Boolean): Thread = new Thread(() => {
        try {
          var lastB = -1L
          var lastV = -1L
          while (!stop.get()) {
            val (b, v) =
              if (viaSource) {
                val json = src.getOffset.get.json
                (batchIdRe.findFirstMatchIn(json).get.group(1).toLong,
                  """"t":(\d+)""".r.findFirstMatchIn(json)
                    .map(_.group(1).toLong).getOrElse(-1L))
              } else {
                val g = TableGroup.readRoot(spark, root).getOrElse(
                  fail("raw readRoot returned None after the first commit"))
                (g.lastBatchId, g.tables.getOrElse("t", -1L))
              }
            assert(b >= lastB, s"lastBatchId regressed: $lastB -> $b")
            assert(v >= lastV, s"member version regressed: $lastV -> $v")
            lastB = b; lastV = v
            maxSeen.getAndUpdate(m => math.max(m, b))
            polls.incrementAndGet()
          }
          finals.add(lastB)
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
      val readers = Seq(reader(false), reader(false), reader(false),
        reader(false), reader(true), reader(true))
      readers.foreach(_.start())
      val cycles = 110L
      (2L to cycles).foreach(one)
      // poll until some reader has actually observed the final commit (a
      // fixed sleep is flaky on a loaded machine — all six readers could be
      // mid-retry/descheduled), bounded by the same 10 s deadline
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (maxSeen.get() < cycles && failure.get() == null &&
          System.nanoTime() < deadline) Thread.sleep(20L)
      stop.set(true)
      readers.foreach(_.join(math.max(1L,
        (deadline - System.nanoTime()) / 1000000)))
      assert(failure.get() == null,
        s"reader thread failed: ${Option(failure.get()).map(_.toString)}")
      assert(polls.get() > 500L, s"readers barely ran: ${polls.get()} polls")
      assert(TableGroup.readRoot(spark, root).get.lastBatchId == cycles)
      // every reader got at least past the first commit; most reach the tail
      val fin = finals.toArray(Array.empty[java.lang.Long]).map(_.longValue)
      assert(fin.length == readers.length)
      assert(fin.forall(_ >= 1L) && fin.max == cycles,
        s"final observations: ${fin.mkString(",")}")
    }
  }
}
