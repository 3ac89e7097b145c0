package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RangeJoinRewrite must be invisible in results and decisive in plans:
  * identical rows with the rule on or off, nested-loop join gone when on.
  */
class RangeJoinRewriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withRule[A](binWidth: Double)(body: => A): A = {
    if (!spark.experimental.extraOptimizations.contains(RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RangeJoinRewrite
    spark.conf.set("spark.graft.rangeJoin.enabled", "true")
    spark.conf.set("spark.graft.rangeJoin.binWidth", binWidth.toString)
    try body
    finally spark.conf.set("spark.graft.rangeJoin.enabled", "false")
  }

  // multiset, not set: a pair emitted once per SHARED bin (the bug the
  // canonical-bin attribution exists to prevent) must fail the compare
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def optimizedStr(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  private def executedStr(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  // the binned branch must plan as a real equi-join on the bin key; the
  // residual branch legitimately keeps a (usually empty) nested loop
  private def hasBinnedJoin(df: DataFrame): Boolean = {
    val s = executedStr(df)
    s.contains("HashJoin") || s.contains("SortMergeJoin")
  }

  private val points = Seq(1.0, 5.0, 10.0, 17.5, 42.0, 99.0, 100.0, -3.0)
    .zipWithIndex.map { case (p, i) => (i.toLong, p) }
  private val intervals = Seq(
    (100L, 0.0, 10.0), (101L, 10.0, 20.0), (102L, 40.0, 50.0),
    (103L, 90.0, 100.0), (104L, -5.0, -1.0), (105L, 17.5, 17.5))

  private def pointsDf = points.toDF("pid", "p")
  private def intervalsDf = intervals.toDF("iid", "lo", "hi")

  test("BETWEEN theta join: same rows as rule-off, nested loop eliminated") {
    pointsDf.createOrReplaceTempView("rjr_points")
    intervalsDf.createOrReplaceTempView("rjr_intervals")
    val sql = """SELECT pid, iid FROM rjr_points JOIN rjr_intervals
                |ON p BETWEEN lo AND hi""".stripMargin
    spark.conf.set("spark.graft.rangeJoin.enabled", "false")
    val off = spark.sql(sql)
    assert(executedStr(off).contains("NestedLoop"),
      "control: Spark should nested-loop a pure BETWEEN join")
    val expected = rows(off)
    withRule(8.0) {
      val on = spark.sql(sql)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(hasBinnedJoin(on))
      assert(rows(on) == expected)
      assert(expected.nonEmpty)
    }
  }

  test("orientation: intervals on the left, strict bounds, theta spelled out") {
    val naive = intervalsDf.join(pointsDf, $"p" > $"lo" && $"p" < $"hi")
    val expected = rows(naive)
    withRule(8.0) {
      val on = intervalsDf.join(pointsDf, $"p" > $"lo" && $"p" < $"hi")
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(hasBinnedJoin(on))
      assert(rows(on) == expected)
      // strict bounds: the zero-width interval (17.5, 17.5) must NOT match
      assert(!expected.exists(_.contains("105")))
    }
  }

  test("equi-key present: rule stands down (hash join already possible)") {
    withRule(8.0) {
      val l = points.map { case (id, p) => (id, p, id % 2) }.toDF("pid", "p", "k")
      val r = intervals.map { case (id, lo, hi) => (id, lo, hi, id % 2) }
        .toDF("iid", "lo", "hi", "k")
      val joined = l.join(r, l("k") === r("k") && $"p".between($"lo", $"hi"))
      assert(!optimizedStr(joined).contains("_graft_bin"))
      assert(!executedStr(joined).contains("NestedLoop"))
    }
  }

  test("inverted and null intervals take the residual branch, not the explode") {
    // lo=1e9 > hi=0: naively explodes a descending 1e9/w-bin sequence;
    // the binnable filter must route these around the Generate
    val bad: Seq[(Long, Option[Double], Option[Double])] = Seq(
      (200L, Some(1.0e9), Some(0.0)), (201L, None, Some(5.0)),
      (202L, Some(3.0), None))
    val r = (intervals.map { case (a, b, c) => (a, Option(b), Option(c)) } ++ bad)
      .toDF("iid", "lo", "hi")
    val expected = rows(
      pointsDf.join(r, $"p" >= $"lo" && $"p" <= $"hi"))
    withRule(8.0) {
      val on = pointsDf.join(r, $"p" >= $"lo" && $"p" <= $"hi")
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(rows(on) == expected)
      assert(!expected.exists(s => s.contains("200") || s.contains("201") ||
        s.contains("202")))
    }
  }

  test("NaN bound: matches under Spark's NaN-greatest semantics, rule on or off") {
    // hi = NaN: `p <= NaN` is TRUE for every p (NaN sorts greatest) — the
    // row must reach the residual branch, not bin as floor(NaN)=0
    val r = Seq((100L, 1.0, Double.NaN), (101L, 0.0, 10.0))
      .toDF("iid", "lo", "hi")
    val p = Seq((1L, 2000.0), (2L, 5.0)).toDF("pid", "p")
    val cond = $"p" >= $"lo" && $"p" <= $"hi"
    val expected = rows(p.join(r, cond))
    assert(expected.size == 3, "control: NaN interval matches both points")
    withRule(8.0) {
      val on = p.join(r, cond)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(rows(on) == expected)
    }
  }

  test("infinite and giant intervals cannot explode: residual branch, same rows") {
    // +Infinity upper bound (open-ended interval) and a finite interval
    // wider than maxBins*w — both previously fatal or unbounded
    val r = Seq((100L, 1.0, Double.PositiveInfinity),
      (101L, Double.NegativeInfinity, 50.0), (102L, 0.0, 1.0e9),
      (103L, 0.0, 10.0)).toDF("iid", "lo", "hi")
    val cond = $"p" >= $"lo" && $"p" <= $"hi"
    val expected = rows(pointsDf.join(r, cond))
    withRule(8.0) {
      val on = pointsDf.join(r, cond)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(rows(on) == expected)
    }
  }

  test("mixed numeric types across conjuncts resolve (explicit double casts)") {
    // conjunct 1 coerces to DOUBLE, conjunct 2 stays INT: Least/Greatest
    // over raw matched expressions would be unresolved
    val a = Seq((1L, 0.5, 10), (2L, 20.5, 30)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((9L, 5, 25.5), (8L, 40, 50.5)).toDF("b_id", "b_lo", "b_hi")
    val cond = $"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi"
    val expected = rows(a.join(b, cond))
    assert(expected.nonEmpty)
    withRule(8.0) {
      val on = a.join(b, cond)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(rows(on) == expected)
    }
  }

  test("id-dedup conjunct is not mistaken for an interval bound") {
    // the realistic self-join: ON a_id < b_id AND overlap — greedy pairing
    // would bin the id-to-value gap (~1e9/w bins per row)
    val a = Seq((1000000001L, 0.0, 10.0), (1000000002L, 5.0, 15.0))
      .toDF("a_id", "a_lo", "a_hi")
    val b = Seq((1000000003L, 8.0, 20.0), (1000000004L, 100.0, 110.0))
      .toDF("b_id", "b_lo", "b_hi")
    val cond = $"a_id" < $"b_id" && $"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi"
    val expected = rows(a.join(b, cond))
    assert(expected.size == 2)
    withRule(8.0) {
      val on = a.join(b, cond)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(rows(on) == expected)
      // the non-strict bound pair won: assert the plan DIRECTLY — every bin
      // explosion's Sequence must be built from the value columns (lo/hi),
      // never the id columns (a mispairing would still be correct via the
      // residual branch, but would bin the ~1e9-wide id-to-value gap)
      import org.apache.spark.sql.catalyst.expressions.Sequence
      val seqs = on.queryExecution.optimizedPlan.collect {
        case p => p.expressions.flatMap(_.collect { case s: Sequence => s })
      }.flatten
      assert(seqs.nonEmpty, "rewrite must produce bin Sequence expressions")
      for (s <- seqs) {
        val refs = s.references.map(_.name).toSet
        assert(refs.subsetOf(Set("a_lo", "a_hi", "b_lo", "b_hi")),
          s"bin sequence must reference value columns only, got $refs")
      }
    }
  }

  test("randomized equivalence across bin widths (incl. exact boundaries)") {
    val rnd = new scala.util.Random(20260812)
    val ps = (0 until 300).map(i =>
      (i.toLong, math.floor(rnd.nextDouble() * 200 - 100))) // integral: forces ties
    val ivs = (0 until 120).map { i =>
      val lo = math.floor(rnd.nextDouble() * 200 - 100)
      (1000L + i, lo, lo + math.floor(rnd.nextDouble() * 30))
    }
    val pdf = ps.toDF("pid", "p")
    val idf = ivs.toDF("iid", "lo", "hi")
    val expected = rows(pdf.join(idf, $"p" >= $"lo" && $"p" <= $"hi"))
    for (w <- Seq(1.0, 7.0, 64.0, 1000.0)) withRule(w) {
      val on = pdf.join(idf, $"p" >= $"lo" && $"p" <= $"hi")
      assert(optimizedStr(on).contains("_graft_bin"), s"w=$w")
      assert(rows(on) == expected, s"w=$w")
    }
  }

  test("overlap shape: rewrite ≡ naive multiset, incl. multi-bin pairs") {
    val rnd = new scala.util.Random(4512)
    // wide intervals so many pairs share SEVERAL bins at w=4: the
    // canonical-bin attribution is what keeps the multiset equal
    val a = (0 until 150).map { i =>
      val lo = math.floor(rnd.nextDouble() * 100)
      (i.toLong, lo, lo + math.floor(rnd.nextDouble() * 25))
    }.toDF("a_id", "a_lo", "a_hi")
    val b = (0 until 150).map { i =>
      val lo = math.floor(rnd.nextDouble() * 100)
      (500L + i, lo, lo + math.floor(rnd.nextDouble() * 25))
    }.toDF("b_id", "b_lo", "b_hi")
    val cond = $"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi"
    val expected = rows(a.join(b, cond))
    for (w <- Seq(4.0, 16.0, 512.0)) withRule(w) {
      val on = a.join(b, cond)
      assert(optimizedStr(on).contains("_graft_bin"), s"w=$w")
      assert(hasBinnedJoin(on), s"w=$w")
      assert(rows(on) == expected, s"w=$w")
    }
  }

  test("overlap shape: inverted intervals still match (raw theta semantics)") {
    // an inverted 'interval' can satisfy the raw predicates — the rewrite
    // must keep it (normalized explosion), not filter it away
    val a = Seq((1L, 10.0, 0.0), (2L, 0.0, 10.0)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((9L, -5.0, 50.0)).toDF("b_id", "b_lo", "b_hi")
    val cond = $"a_lo" <= $"b_hi" && $"b_lo" <= $"a_hi"
    val expected = rows(a.join(b, cond))
    assert(expected.size == 2, "inverted row must qualify under raw semantics")
    withRule(8.0) {
      val on = a.join(b, cond)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(rows(on) == expected)
    }
  }

  test("overlap shape: strict bounds and mixed comparison spellings") {
    val a = Seq((1L, 0.0, 10.0), (2L, 20.0, 30.0)).toDF("a_id", "a_lo", "a_hi")
    val b = Seq((9L, 10.0, 20.0), (8L, 5.0, 9.0)).toDF("b_id", "b_lo", "b_hi")
    // touching ends excluded by strictness; spelled with > instead of <
    val cond = $"b_hi" > $"a_lo" && $"a_hi" > $"b_lo"
    val expected = rows(a.join(b, cond))
    withRule(8.0) {
      val on = a.join(b, cond)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(rows(on) == expected)
    }
  }

  test("overlap shape: q46-shaped self-join CTE SQL fires the rewrite") {
    (1 to 300).map(i => (i.toLong, (i % 50).toDouble)).toDF("k", "t")
      .createOrReplaceTempView("rjr_o")
    val sql =
      """WITH o AS (SELECT k, t AS lo, t + 14 AS hi FROM rjr_o),
        |a AS (SELECT k AS a_key, lo AS a_lo, hi AS a_hi FROM o WHERE k % 3 = 0),
        |b AS (SELECT k AS b_key, lo AS b_lo, hi AS b_hi FROM o WHERE k % 5 = 0)
        |SELECT a_key, b_key FROM a JOIN b
        |ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin
    withRule(16.0) {
      val on = spark.sql(sql)
      assert(optimizedStr(on).contains("_graft_bin"))
      assert(hasBinnedJoin(on))
      val expected = rows(on)
      spark.conf.set("spark.graft.rangeJoin.enabled", "false")
      val off = spark.sql(sql)
      assert(!optimizedStr(off).contains("_graft_bin"))
      assert(rows(off) == expected)
    }
  }

  test("conf guards: disabled flag and degenerate widths stand the rule down") {
    val cond = $"p" >= $"lo" && $"p" <= $"hi"
    withRule(8.0) {
      for ((k, v) <- Seq("spark.graft.rangeJoin.enabled" -> "false",
          "spark.graft.rangeJoin.binWidth" -> "0",
          "spark.graft.rangeJoin.binWidth" -> "-4",
          "spark.graft.rangeJoin.maxBins" -> "0")) {
        spark.conf.set("spark.graft.rangeJoin.enabled", "true")
        spark.conf.set("spark.graft.rangeJoin.binWidth", "8.0")
        spark.conf.set("spark.graft.rangeJoin.maxBins", "4096")
        spark.conf.set(k, v)
        val df = pointsDf.join(intervalsDf, cond)
        assert(!optimizedStr(df).contains("_graft"), s"$k=$v must disable")
      }
      spark.conf.set("spark.graft.rangeJoin.binWidth", "8.0")
      spark.conf.set("spark.graft.rangeJoin.maxBins", "4096")
    }
  }

  test("property: gate shapes over the REAL tables (date arithmetic), on ≡ off") {
    // the one failure mode the synthetic frames can't reach: a type-coercion
    // path unique to the gate tables' DATE arithmetic (datediff → BIGINT on
    // orders, DECIMAL l_quantity vs double VALUES bounds on lineitem).
    // Randomized over the q45/q46 SQL shapes; each trial must BOTH fire the
    // rewrite and match the rule-off multiset.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val sf = "/root/testdata/sf0.001"
    graft.Tables.orders(spark, sf).createOrReplaceTempView("rjrp_orders")
    graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .createOrReplaceTempView("rjrp_lineitem")

    def overlapSql(modA: Int, modB: Int, span: Int): String =
      s"""WITH o AS (SELECT o_orderkey,
         |    CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) AS lo,
         |    CAST(datediff(o_orderdate, DATE '1970-01-01') AS BIGINT) + $span AS hi
         |  FROM rjrp_orders),
         |a AS (SELECT o_orderkey AS a_key, lo AS a_lo, hi AS a_hi FROM o
         |  WHERE o_orderkey % $modA = 0),
         |b AS (SELECT o_orderkey AS b_key, lo AS b_lo, hi AS b_hi FROM o
         |  WHERE o_orderkey % $modB = 0)
         |SELECT a_key, b_key FROM a JOIN b
         |ON a_lo <= b_hi AND b_lo <= a_hi""".stripMargin

    def betweenSql(bands: Seq[(Int, Double, Double)]): String = {
      val values = bands.map { case (id, lo, hi) => s"($id, $lo, $hi)" }.mkString(", ")
      s"""SELECT l_orderkey, band_id FROM rjrp_lineitem
         |JOIN (VALUES $values) AS b(band_id, lo, hi)
         |  ON l_quantity BETWEEN lo AND hi""".stripMargin
    }

    def onEqOff(sql: String, w: Double): Boolean = {
      spark.conf.set("spark.graft.rangeJoin.enabled", "false")
      val off = rows(spark.sql(sql))
      withRule(w) {
        val on = spark.sql(sql)
        optimizedStr(on).contains("_graft_bin") && rows(on) == off
      }
    }

    val overlapGen = for {
      modA <- Gen.oneOf(53, 89, 127)
      modB <- Gen.oneOf(61, 97, 131)
      span <- Gen.chooseNum(0, 30)
      w <- Gen.oneOf(1.0, 8.0, 16.0, 1024.0)
    } yield (modA, modB, span, w)
    val bandGen = for {
      n <- Gen.chooseNum(1, 4)
      los <- Gen.listOfN(n, Gen.chooseNum(0.0, 45.0))
      lens <- Gen.listOfN(n, Gen.chooseNum(0.0, 15.0))
      w <- Gen.oneOf(2.0, 8.0, 64.0)
    } yield (los.zip(lens).zipWithIndex.map { case ((lo, len), i) =>
      (i + 1, math.floor(lo), math.floor(lo) + math.floor(len)) }, w)

    val prop = Prop.forAll(overlapGen) { case (a, b, span, w) =>
      onEqOff(overlapSql(a, b, span), w)
    } && Prop.forAll(bandGen) { case (bands, w) =>
      onEqOff(betweenSql(bands), w)
    }
    val r = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(r.passed, s"gate-shape property: ${r.status}")
  }

  test("extension-built session rewrites pure SQL without any API call") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-rjr-ext")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.rangeJoin.binWidth", "8")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      points.toDF("pid", "p").createOrReplaceTempView("rjr_p2")
      intervals.toDF("iid", "lo", "hi").createOrReplaceTempView("rjr_i2")
      val q = s.sql(
        "SELECT pid, iid FROM rjr_p2 JOIN rjr_i2 ON p >= lo AND p <= hi")
      assert(q.queryExecution.optimizedPlan.toString.contains("_graft_bin"))
      assert(q.queryExecution.executedPlan.toString.contains("HashJoin") ||
        q.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
      assert(q.count() > 0)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
    }
  }

  test("extension-built session: the same optimized plan at 10 and 100 optimizer iterations") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-rjr-fixed-point")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.rangeJoin.binWidth", "8")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      points.toDF("pid", "p").createOrReplaceTempView("rjr_p3")
      intervals.toDF("iid", "lo", "hi").createOrReplaceTempView("rjr_i3")
      def optimizedAt(cap: Int): (String, Long) = {
        s.conf.set("spark.sql.optimizer.maxIterations", cap.toString)
        val q = s.sql(
          "SELECT pid, iid FROM rjr_p3 JOIN rjr_i3 ON p >= lo AND p <= hi")
        val t0 = System.nanoTime()
        val plan = q.queryExecution.optimizedPlan.toString
        (plan.replaceAll("#\\d+", ""), (System.nanoTime() - t0) / 1000000L)
      }
      val (at10, _) = optimizedAt(10)
      val (at100, ms) = optimizedAt(100)
      assert(at10.contains("_graft_bin"), at10)
      assert(at100 == at10, s"at 10:\n$at10\nat 100:\n$at100")
      assert(ms < 5000, s"optimizing at 100 iterations took $ms ms")
    } finally {
      s.conf.unset("spark.sql.optimizer.maxIterations")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
    }
  }
}
