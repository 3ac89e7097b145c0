package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared-surface query: a Spark implementation plus (when
  * SQL-expressible) an equivalent ANSI SQL oracle the driver runs in DuckDB
  * over the same parquet tables. `oracle=None` → driver does a rows-only check.
  */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Qutil {
  /** Order-independent exact sum of a double expression.
    *
    * A plain double SUM is order-dependent, and Spark/DuckDB will not
    * aggregate rows in the same order — so hash-comparing double sums is
    * flaky. Casting each row to DECIMAL first makes the sum exact (hence
    * order-independent); a final cast back to DOUBLE is a single
    * deterministic conversion both engines perform identically. Per-row
    * double→decimal rounding is also engine-agnostic: a binary double can
    * never land exactly on a decimal .5 rounding boundary (5·10^-k is not a
    * binary fraction), so round-half-up vs round-half-even never disagree.
    *
    * SQL twin: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE).
    */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact mean: exact decimal sum → double, divided by exact count.
    * SQL twin: CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE) / COUNT(*).
    */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(lit(1))

  /** Exact decimal views of money-ish (2-decimal) doubles. Products of
    * decimal-cast inputs stay exact through multiply+sum, unlike casting a
    * double *product* to decimal, where Spark (exact BigDecimal conversion)
    * and DuckDB (scale-by-10^s-then-round on the double) can disagree by one
    * ulp of the target scale.
    */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))
  def rate(c: Column): Column  = c.cast(DecimalType(4, 2))

  /** Multiset equality in ONE Spark job / one shuffle: tag each side ±1,
    * union, group by every column, and look for a non-zero net count.
    * Equivalent to the two-directional `a.exceptAll(b).isEmpty &&
    * b.exceptAll(a).isEmpty` the protocol drills used to run as two
    * sequential jobs, each itself a shuffle-heavy set op (grouping and
    * exceptAll share Spark's key normalization for NaN/-0.0 and treat
    * nulls as equal, so the verdicts agree on every type the drills
    * compare). The grouped sum is O(distinct rows); `isEmpty` stops at the
    * first offending row.
    */
  def multisetEq(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean = {
    require(a.columns.sameElements(b.columns),
      s"multisetEq column mismatch: ${a.columns.mkString(",")} vs " +
        b.columns.mkString(","))
    val cols = a.columns.toIndexedSeq.map(col)
    // tag/count names no input column can shadow (Spark resolves names
    // case-insensitively, so compare that way)
    def fresh(base: String) = Iterator.iterate(base)(_ + "_")
      .find(n => !a.columns.exists(_.equalsIgnoreCase(n))).get
    val tag = fresh("_ms")
    val net = fresh("_net")
    a.withColumn(tag, lit(1L))
      .unionByName(b.withColumn(tag, lit(-1L)))
      .groupBy(cols: _*).agg(sum(col(tag)).as(net))
      .filter(col(net) =!= 0L)
      .isEmpty
  }
}
