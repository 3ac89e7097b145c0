package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, NumericType}

/** Catalyst optimizer rule: rewrite range-shaped theta joins into the
  * binned equi-joins of [[graft.operators.RangeJoin]] — automatically, for
  * plain-SQL users. Two shapes are recognized, tried in order:
  *
  *  1. point-in-interval — `L JOIN R ON p BETWEEN lo AND hi`
  *     (≙ [[graft.operators.RangeJoin.pointInInterval]])
  *  2. interval overlap — `… ON loL <= hiR AND loR <= hiL`
  *     (≙ [[graft.operators.RangeJoin.intervalOverlap]]); each qualifying
  *     pair is attributed to the bin of the overlap region's start
  *     `greatest(loL, loR)`, so exactly-once needs no distinct
  *
  * Spark plans both (with no equi-key) as a broadcast-nested-loop join:
  * O(|L|·|R|) comparisons, the classic scale killer. This rule detects the
  * bound structure — numeric cross-side comparisons forming the shape, and
  * NO usable equi-join predicate — and rewrites the logical plan to
  * (illustrated for shape 1):
  *
  * {{{
  *   point side:    + _graft_bin  = floor(p / w)
  *   interval side: + _graft_bin  = explode(sequence(floor(lo/w), floor(hi/w)))
  *                    restricted to BINNABLE rows (see below)
  *   join:          ON binL = binR AND <original condition, verbatim>
  *   UNION ALL      non-binnable interval rows × points, original condition
  *                    (the residual nested loop — empty for sane data)
  *   project:       back to the original join output
  * }}}
  *
  * A row is BINNABLE when its bounds are non-null and its bin span is a
  * small ascending finite range: `lo <= hi`, `hi/w - lo/w <= maxBins`, and
  * both `|bound/w| <= 9e18` (inside Long's bin space). NOTE the ordering
  * check alone does NOT reject NaN: under Spark's NaN-sorts-greatest
  * semantics `lo <= NaN` is TRUE. What rejects pathological rows is the
  * span and magnitude checks, where NaN/±Infinity appear on the LEFT of
  * `<=` (`NaN <= maxBins` and `Inf <= 9e18` are both false) — so
  * NaN/open-ended/giant intervals can neither explode a pathological
  * sequence (the review repro: `sequence(bin(1), bin(NaN))`, or
  * COLLECTION_SIZE_LIMIT_EXCEEDED on `hi = +Infinity`) nor be silently
  * dropped: they fall through to the residual branch, which applies the
  * ORIGINAL predicates under Spark's own comparison semantics (where
  * `x <= NaN` is true: NaN sorts greatest). Results are therefore
  * bit-identical to the nested-loop plan on EVERY input, and the rewrite
  * never worse than it: the residual branch carries only the rows the
  * binned branch provably excludes.
  *
  * One hash shuffle on the bin id instead of a nested loop; the original
  * predicates run unchanged inside the bin, so the binned branch is exact
  * (each qualifying pair meets exactly once — in the point's single bin,
  * which the interval's explosion necessarily covers: double division by a
  * positive width and floor are monotone, so lo ≤ p ≤ hi ⇒ bin(lo) ≤
  * bin(p) ≤ bin(hi); strict bounds are a subset). Every comparison and
  * Least/Greatest the rule constructs operates on explicit double casts:
  * the matched expressions come from two INDEPENDENTLY type-coerced
  * conjuncts and may have different numeric types.
  *
  * Termination under fixed-point batches: the binned join carries a bin
  * equality (an equi-key, which stands the rule down), and the residual
  * join's interval side carries a generated `_graft_nobin` marker column
  * referenced by its condition — a generator output, so neither constant
  * folding nor foldable propagation can erase it; the matcher refuses any
  * join whose condition or child subtrees carry `_graft`-prefixed
  * attributes (subtree scent stops at a clean Project, so OUTER queries
  * over a rewritten join are still eligible for their own rewrite).
  *
  * Configuration (runtime conf, read at optimization time):
  *  - `spark.graft.rangeJoin.enabled`  (default true)
  *  - `spark.graft.rangeJoin.binWidth` (default 1024.0) — choose near the
  *    typical interval length: smaller multiplies interval duplication,
  *    larger multiplies within-bin comparisons.
  *  - `spark.graft.rangeJoin.maxBins`  (default 4096) — per-row explosion
  *    cap; wider intervals take the residual branch instead.
  *
  * Registered by [[graft.GraftExtensions]] (`injectPreCBORule`, a Once
  * batch after operator optimization) for extension-built sessions, or
  * appended to `spark.experimental.extraOptimizations` on any live session.
  * Both run it after the push-down and pruning rules. Injected into the
  * operator-optimization batch beside them, it never reached a fixed
  * point: optimizing one range join took 0.4 s at
  * `spark.sql.optimizer.maxIterations` 10 and 15 s at 60.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val binName = "_graft_bin"
  private val markerName = "_graft_nobin"
  private val prefix = "_graft"

  private def enabled: Boolean =
    conf.getConfString("spark.graft.rangeJoin.enabled", "true").toBoolean

  private def binWidth: Double =
    conf.getConfString("spark.graft.rangeJoin.binWidth", "1024.0").toDouble

  private def maxBins: Double =
    conf.getConfString("spark.graft.rangeJoin.maxBins", "4096").toDouble

  private def dbl(x: Expression): Expression = Cast(x, DoubleType)

  /** floor(x / w) as a LONG — identical arithmetic on both sides, so equal
    * inputs always land in equal bins.
    */
  private def binOf(x: Expression, w: Double): Expression =
    Cast(Floor(Divide(dbl(x), Literal(w))), LongType)

  private def isNumeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType]

  /** A conjunct that already equi-joins the two sides (hash-joinable as-is;
    * also true of this rule's own binned output, which terminates the fixed
    * point).
    */
  private def isEquiPair(e: Expression, l: LogicalPlan, r: LogicalPlan): Boolean =
    e match {
      case EqualTo(a, b) =>
        (canEvaluate(a, l) && canEvaluate(b, r)) ||
          (canEvaluate(a, r) && canEvaluate(b, l))
      case EqualNullSafe(a, b) =>
        (canEvaluate(a, l) && canEvaluate(b, r)) ||
          (canEvaluate(a, r) && canEvaluate(b, l))
      case _ => false
    }

  /** Does this subtree smell of a previous rewrite? The residual branch's
    * marker (or, after predicate pushdown, a Filter referencing it) keeps
    * the scent alive; a Project that neither outputs nor references a
    * `_graft` attribute is the cap this rule itself places over finished
    * rewrites, so the search stops there and outer queries stay eligible.
    */
  private def tainted(p: LogicalPlan): Boolean = {
    val here = p.output.exists(_.name.startsWith(prefix)) ||
      p.expressions.exists(_.references.exists(_.name.startsWith(prefix)))
    if (here) true
    else p match {
      case _: Project => false
      case _ => p.children.exists(tainted)
    }
  }

  /** Binnable-row predicate for a `[lo, hi]` bound pair: non-null, in
    * ascending order, bin span within maxBins, endpoints inside Long's bin
    * space. The ordering check does NOT reject NaN (`lo <= NaN` is TRUE —
    * NaN sorts greatest in Spark); rejection comes from the span and
    * magnitude checks, where NaN/±Infinity sit on the LEFT of `<=` and so
    * compare false. Pathological rows are routed to the residual branch,
    * never dropped.
    */
  private def binnable(lo: Expression, hi: Expression, w: Double): Expression = {
    val nine18 = Literal(9.0e18)
    Seq(
      IsNotNull(lo), IsNotNull(hi),
      LessThanOrEqual(dbl(lo), dbl(hi)),
      LessThanOrEqual(Subtract(Divide(dbl(hi), Literal(w)),
        Divide(dbl(lo), Literal(w))), Literal(maxBins)),
      LessThanOrEqual(Abs(Divide(dbl(lo), Literal(w))), nine18),
      LessThanOrEqual(Abs(Divide(dbl(hi), Literal(w))), nine18)
    ).reduce[Expression](And(_, _))
  }

  /** Explode binnable rows of one side to the bins `[seqLo, seqHi]` covers. */
  private def explodeBins(side: LogicalPlan, sane: Expression,
      seqLo: Expression, seqHi: Expression, w: Double)
      : (LogicalPlan, Attribute) = {
    // Sequence is TimeZoneAwareExpression: resolution REQUIRES a zone id
    // even for a purely numeric sequence
    val seq = Sequence(binOf(seqLo, w), binOf(seqHi, w), None,
      Some(conf.sessionLocalTimeZone))
    val bin = AttributeReference(binName + "_i", LongType, nullable = false)()
    (Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(bin),
      child = Filter(sane, side)), bin)
  }

  /** The residual nested-loop join over the rows `sane` excludes, marked so
    * the rule never re-fires on it. The marker is a GENERATOR output — an
    * attribute no folding rule can inline — always true, referenced by the
    * join condition so column pruning keeps it.
    */
  private def residualJoin(j: Join, sane: Expression, intervalLeft: Boolean,
      conjuncts: Seq[Expression]): LogicalPlan = {
    val marker =
      AttributeReference(markerName, BooleanType, nullable = false)()
    def marked(side: LogicalPlan): LogicalPlan =
      Generate(Explode(CreateArray(Seq(Literal(true)))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(marker), child = Filter(Not(sane), side))
    val cond = (conjuncts :+ (marker: Expression)).reduce[Expression](And(_, _))
    if (intervalLeft) Join(marked(j.left), j.right, Inner, Some(cond), j.hint)
    else Join(j.left, marked(j.right), Inner, Some(cond), j.hint)
  }

  /** Normalize a comparison into bound views: (bounded expr, bound,
    * isLower, isStrict). `a >= b` bounds a below AND bounds b above;
    * strictness does not affect correctness (the original predicate is
    * re-applied verbatim in-bin; bins only need to be a superset) but
    * steers candidate choice away from `id1 < id2` dedup conjuncts.
    */
  private def boundViews(e: Expression)
      : Seq[(Expression, Expression, Boolean, Boolean)] =
    e match {
      case GreaterThanOrEqual(a, b) => Seq((a, b, true, false), (b, a, false, false))
      case GreaterThan(a, b)        => Seq((a, b, true, true), (b, a, false, true))
      case LessThanOrEqual(a, b)    => Seq((a, b, false, false), (b, a, true, false))
      case LessThan(a, b)           => Seq((a, b, false, true), (b, a, true, true))
      case _                        => Nil
    }

  /** Find (point, lo, hi, pointSideIsLeft): a lower and an upper bound on
    * the same expression, point evaluable on one side, both bounds on the
    * other, all numeric. Non-strict pairs are preferred: a BETWEEN is a
    * better bet than a pair involving a `<` dedup conjunct.
    */
  private def findPattern(conjuncts: Seq[Expression], l: LogicalPlan,
      r: LogicalPlan): Option[(Expression, Expression, Expression, Boolean)] = {
    val views = conjuncts.flatMap(boundViews)
    val lowers = views.filter(_._3)
    val uppers = views.filterNot(_._3)
    val candidates = for {
      (p1, lo, _, s1) <- lowers
      (p2, hi, _, s2) <- uppers
      if p1.semanticEquals(p2) && isNumeric(p1) && isNumeric(lo) && isNumeric(hi)
      // a genuine range JOIN, not a pushable filter: the point must be a
      // column expression and at least one bound must be too (a literal
      // pair `p BETWEEN 5 AND 10` belongs to predicate pushdown, not here)
      if p1.references.nonEmpty && (lo.references.nonEmpty || hi.references.nonEmpty)
      pointLeft <- (if (canEvaluate(p1, l) && canEvaluate(lo, r) &&
          canEvaluate(hi, r)) Some(true)
        else if (canEvaluate(p1, r) && canEvaluate(lo, l) &&
          canEvaluate(hi, l)) Some(false)
        else None)
    } yield (p1, lo, hi, pointLeft, (if (s1) 1 else 0) + (if (s2) 1 else 0))
    candidates.sortBy(_._5).headOption.map {
      case (p, lo, hi, pl, _) => (p, lo, hi, pl)
    }
  }

  private def rewritePoint(j: Join, conjuncts: Seq[Expression])
      : Option[LogicalPlan] = {
    val (left, right) = (j.left, j.right)
    findPattern(conjuncts, left, right).map { case (p, lo, hi, pointLeft) =>
      val w = binWidth
      val (pointSide, intervalSide) = if (pointLeft) (left, right) else (right, left)
      val pointBin = Alias(binOf(p, w), binName + "_p")()
      val pointPlan = Project(pointSide.output :+ pointBin, pointSide)
      val sane = binnable(lo, hi, w)
      val (intervalPlan, intervalBin) =
        explodeBins(intervalSide, sane, lo, hi, w)
      val newCond = conjuncts.foldLeft[Expression](
        EqualTo(pointBin.toAttribute, intervalBin))(And(_, _))
      val binned =
        if (pointLeft) Join(pointPlan, intervalPlan, Inner, Some(newCond), j.hint)
        else Join(intervalPlan, pointPlan, Inner, Some(newCond), j.hint)
      val residual = residualJoin(j, sane, intervalLeft = !pointLeft, conjuncts)
      Union(Seq(Project(j.output, binned), Project(j.output, residual)))
    }
  }

  /** Two-sided interval overlap: `loL ≤ hiR AND loR ≤ hiL` (any mix of
    * strict/non-strict) with each comparison crossing the join — i.e. one
    * `L-expr ≤ R-expr` and one `R-expr ≤ L-expr` conjunct. Both sides'
    * binnable rows explode to their covered bins and each qualifying pair
    * is attributed to ONE canonical bin — that of the overlap region's
    * start `greatest(loL, loR)`, which both explosions necessarily produce
    * (mirrors [[graft.operators.RangeJoin.intervalOverlap]]). Rows either
    * side cannot bin — including INVERTED intervals, which under raw theta
    * semantics can still qualify — take residual branches:
    * `¬saneL × R` and `saneL × ¬saneR` partition the excluded pair space
    * exactly once. Inverted-but-narrow rows stay binnable via the
    * least/greatest-normalized explosion range.
    */
  private def rewriteOverlap(j: Join, conjuncts: Seq[Expression])
      : Option[LogicalPlan] = {
    val (left, right) = (j.left, j.right)
    // normalize every comparison to (small ≤ big, strict); keep cross-side
    val leqs = conjuncts.flatMap {
      case LessThanOrEqual(a, b)    => Seq((a, b, false))
      case LessThan(a, b)           => Seq((a, b, true))
      case GreaterThanOrEqual(a, b) => Seq((b, a, false))
      case GreaterThan(a, b)        => Seq((b, a, true))
      case _ => Nil
    }.filter { case (a, b, _) =>
      // genuinely cross-side: both ends are column expressions (literals
      // are "evaluable" anywhere and would fake a cross comparison)
      isNumeric(a) && isNumeric(b) &&
        a.references.nonEmpty && b.references.nonEmpty
    }
    val lrs = leqs.filter { case (a, b, _) =>
      canEvaluate(a, left) && canEvaluate(b, right) }
    val rls = leqs.filter { case (a, b, _) =>
      canEvaluate(a, right) && canEvaluate(b, left) }
    // prefer non-strict pairs: `a_id < b_id` dedup conjuncts are strict,
    // real interval bounds are usually BETWEEN-ish ≤ — a mispick stays
    // correct (maxBins routes the blown-up rows to the residual branch)
    // but pairs the explosion with the wrong columns
    val candidates = (for { lr <- lrs; rl <- rls } yield (lr, rl))
      .sortBy { case ((_, _, s1), (_, _, s2)) =>
        (if (s1) 1 else 0) + (if (s2) 1 else 0) }
    candidates.headOption.map { case ((loL, hiR, _), (loR, hiL, _)) =>
      val w = binWidth
      val saneL = binnable(Least(Seq(dbl(loL), dbl(hiL))),
        Greatest(Seq(dbl(loL), dbl(hiL))), w)
      val saneR = binnable(Least(Seq(dbl(loR), dbl(hiR))),
        Greatest(Seq(dbl(loR), dbl(hiR))), w)
      val (leftPlan, leftBin) = explodeBins(left, saneL,
        Least(Seq(dbl(loL), dbl(hiL))), Greatest(Seq(dbl(loL), dbl(hiL))), w)
      val (rightPlan, rightBin) = explodeBins(right, saneR,
        Least(Seq(dbl(loR), dbl(hiR))), Greatest(Seq(dbl(loR), dbl(hiR))), w)
      val canonical =
        EqualTo(leftBin, binOf(Greatest(Seq(dbl(loL), dbl(loR))), w))
      val newCond = (conjuncts :+ canonical).foldLeft[Expression](
        EqualTo(leftBin, rightBin))(And(_, _))
      val binned = Join(leftPlan, rightPlan, Inner, Some(newCond), j.hint)
      // residual branches partition the non-binnable pair space:
      // (¬saneL × R) ∪ (saneL-side kept whole × ¬saneR) — the second
      // branch's left rows re-check nothing (sane rows pair with the
      // other side's residue exactly there and nowhere else)
      val resL = residualJoin(j, saneL, intervalLeft = true, conjuncts)
      val resR = {
        val marker =
          AttributeReference(markerName, BooleanType, nullable = false)()
        val markedR = Generate(Explode(CreateArray(Seq(Literal(true)))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(marker), child = Filter(Not(saneR), right))
        val cond = (conjuncts ++ Seq(saneL, marker: Expression))
          .reduce[Expression](And(_, _))
        Join(left, markedR, Inner, Some(cond), j.hint)
      }
      Union(Seq(Project(j.output, binned), Project(j.output, resL),
        Project(j.output, resR)))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    if (!(binWidth > 0) || !(maxBins > 0)) return plan
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _) if j.resolved =>
        val conjuncts = splitConjunctivePredicates(cond)
        val stop =
          conjuncts.exists(_.references.exists(_.name.startsWith(prefix))) ||
            conjuncts.exists(isEquiPair(_, left, right)) ||
            tainted(left) || tainted(right)
        if (stop) j
        else rewritePoint(j, conjuncts)
          .orElse(rewriteOverlap(j, conjuncts))
          .getOrElse(j)
    }
  }
}
