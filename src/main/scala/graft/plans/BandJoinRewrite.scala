package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite theta *band* joins into banded equi-joins
  * (SURVEY §4 "range/band self-join" — the reference's merge-candidate and
  * graph-pair queries, assets/recent_history.py:384-411/469-490, arrive as
  * exactly this shape when written in SQL).
  *
  * A join whose condition bounds `rightVal − leftVal` within `[lo, hi]`
  * (finite literals) is otherwise planned as BroadcastNestedLoopJoin /
  * CartesianProduct when no equi-conjunct exists — O(|L|·|R|) work and a
  * broadcast-memory hazard. This rule:
  *
  *  1. extracts band bounds from comparison conjuncts in any of the forms
  *     `(r−l) ⋈ lit`, `lit ⋈ (r−l)`, `r ⋈ l ± lit`, `l ⋈ r ± lit`
  *     (⋈ ∈ {<, ≤, >, ≥}; strict bounds use the same bucket superset);
  *  2. buckets the right side by `floor(rv/W)` (W = hi−lo) and explodes
  *     the left side into the ≤2 buckets `floor((lv+lo)/W)`,
  *     `floor((lv+hi)/W)` its band can reach;
  *  3. joins on bucket equality (plus any pre-existing equi-keys) with the
  *     ORIGINAL condition kept as residual — bucket matching is a pure
  *     superset filter, semantics are untouched.
  *
  * It also fires when equi-keys exist (e.g. `user_id`): the bucket refines
  * the hash key, splitting a hot key's O(n²) per-key pair space across
  * band-width time slices — the band-join scale story at 100 TB. The
  * recent path's merge candidates (`operators.SessionOps.candidatePairs`)
  * are stated as such a join and bucketed here; this rule is the engine's
  * only band bucketing.
  *
  * Bucket arithmetic must be EXACT on the matching side (a residual can
  * remove bucket false positives but can never recover a pair whose
  * computed bucket drifted out of the left side's two exploded buckets).
  * Int-or-narrower inputs use double arithmetic (|v| ≤ 2^31 < 2^53 —
  * always exact); Long inputs use decimal arithmetic (exact across the
  * full Long range; quotient rounding at DECIMAL128 precision is < the
  * 1/width gap to any floor boundary since width < 1e15); fractional
  * inputs (float/double/decimal), whose magnitude can exceed 2^53 where
  * bucket rounding could silently drop matches, are left unrewritten.
  *
  * Registered via `GraftExtensions` (`injectOptimizerRule`).
  */
object BandJoinRewrite extends Rule[LogicalPlan] {

  private val BucketName = "__graft_band_bucket"

  private final case class Bound(lv: Expression, rv: Expression,
      lo: Option[Double], hi: Option[Double])

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if j.resolved && !alreadyBucketed(cond) && !broadcastSmall(j) =>
      findBand(cond, left, right) match {
        case Some((lv, rv, lo, hi)) =>
          rewrite(left, right, cond, hint, lv, rv, lo, hi)
        case None => j
      }
  }

  /** Stats-aware gate: when either side fits under the broadcast threshold,
    * Spark's broadcast nested loop is already a fine plan for a band join —
    * bucketing would add an explode and a shuffle to beat a plan that isn't
    * the O(|L|·|R|)-across-the-cluster hazard this rule exists for. Sizes
    * are the optimizer's logical estimates, the same ones join selection
    * itself uses; threshold ≤ 0 (auto-broadcast disabled) never skips. */
  private def broadcastSmall(j: Join): Boolean = {
    val t = conf.autoBroadcastJoinThreshold
    t > 0 && (j.left.stats.sizeInBytes <= t || j.right.stats.sizeInBytes <= t)
  }

  /** Skip joins this rule already bucketed (the kept band predicate would
    * otherwise trigger a redundant second bucketing). */
  private def alreadyBucketed(cond: Expression): Boolean =
    cond.exists {
      case a: Attribute => a.name.startsWith(BucketName)
      case _ => false
    }

  private def numericLit(e: Expression): Option[Double] = e match {
    case Literal(v, _: NumericType) if v != null => v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case d: Decimal => Some(d.toDouble)
      case _ => None
    }
    case _ => None
  }

  /** Decompose `x` as (base, offset): Add/Subtract with a literal term. */
  private def baseOffset(x: Expression): (Expression, Double) = x match {
    case Add(a, b, _) => numericLit(b).map(v => (a, v))
      .orElse(numericLit(a).map(v => (b, v))).getOrElse((x, 0.0))
    case Subtract(a, b, _) => numericLit(b).map(v => (a, -v)).getOrElse((x, 0.0))
    case _ => (x, 0.0)
  }

  /** Interpret one comparison conjunct as a bound on (rv − lv). */
  private def asBound(e: Expression, leftOut: AttributeSet,
      rightOut: AttributeSet): Option[Bound] = {
    def fromLeft(x: Expression) =
      x.references.nonEmpty && x.references.subsetOf(leftOut) && x.deterministic &&
        x.dataType.isInstanceOf[NumericType]
    def fromRight(x: Expression) =
      x.references.nonEmpty && x.references.subsetOf(rightOut) && x.deterministic &&
        x.dataType.isInstanceOf[NumericType]

    /** x interpreted as (lv, rv, sign): sign=+1 → x ≡ rv−lv, −1 → lv−rv. */
    def diffOf(x: Expression): Option[(Expression, Expression, Int)] = x match {
      case Subtract(a, b, _) if fromRight(a) && fromLeft(b) => Some((b, a, 1))
      case Subtract(a, b, _) if fromLeft(a) && fromRight(b) => Some((a, b, -1))
      case _ => None
    }

    /** Bound on (rv − lv): value `v`, `upper`? */
    def mk(lv: Expression, rv: Expression, v: Double, upper: Boolean): Bound =
      Bound(lv, rv, lo = if (upper) None else Some(v), hi = if (upper) Some(v) else None)

    val (cmpL, cmpR, upperIfLeftSmaller) = e match {
      case LessThan(a, b) => (a, b, true)
      case LessThanOrEqual(a, b) => (a, b, true)
      case GreaterThan(a, b) => (a, b, false)
      case GreaterThanOrEqual(a, b) => (a, b, false)
      case _ => return None
    }
    // canonical orientation: small ⋈ big with ⋈ = "<=" (strictness folded
    // into the superset bucket — residual keeps exact semantics)
    val (small, big) = if (upperIfLeftSmaller) (cmpL, cmpR) else (cmpR, cmpL)

    // form 1: (r−l) <= lit  /  (l−r) <= lit
    (diffOf(small), numericLit(big)) match {
      case (Some((lv, rv, 1)), Some(v)) => return Some(mk(lv, rv, v, upper = true))
      case (Some((lv, rv, -1)), Some(v)) => return Some(mk(lv, rv, -v, upper = false))
      case _ =>
    }
    // form 2: lit <= (r−l)  /  lit <= (l−r)
    (numericLit(small), diffOf(big)) match {
      case (Some(v), Some((lv, rv, 1))) => return Some(mk(lv, rv, v, upper = false))
      case (Some(v), Some((lv, rv, -1))) => return Some(mk(lv, rv, -v, upper = true))
      case _ =>
    }
    // form 3: (r + offR) <= (l + offL)  /  (l + offL) <= (r + offR)
    val (bSmall, offSmall) = baseOffset(small)
    val (bBig, offBig) = baseOffset(big)
    if (fromRight(bSmall) && fromLeft(bBig))
      // rv + offSmall <= lv + offBig  →  rv − lv <= offBig − offSmall
      Some(mk(bBig, bSmall, offBig - offSmall, upper = true))
    else if (fromLeft(bSmall) && fromRight(bBig))
      // lv + offSmall <= rv + offBig  →  rv − lv >= offSmall − offBig
      Some(mk(bSmall, bBig, offSmall - offBig, upper = false))
    else None
  }

  /** Find one (lv, rv) pair with BOTH bounds among the conjuncts. */
  private def findBand(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Double, Double)] = {
    val bounds = splitConjuncts(cond).flatMap(asBound(_, left.outputSet, right.outputSet))
    val grouped = bounds.foldLeft(Seq.empty[Bound]) { (acc, b) =>
      acc.indexWhere(x => x.lv.semanticEquals(b.lv) && x.rv.semanticEquals(b.rv)) match {
        case -1 => acc :+ b
        case i =>
          val x = acc(i)
          acc.updated(i, x.copy(
            lo = (x.lo.toSeq ++ b.lo.toSeq).reduceOption((p, q) => math.max(p, q)),
            hi = (x.hi.toSeq ++ b.hi.toSeq).reduceOption((p, q) => math.min(p, q))))
      }
    }
    grouped.collectFirst {
      case Bound(lv, rv, Some(lo), Some(hi))
          if hi >= lo && (hi - lo) < 1e15 && exactBucketsPossible(lv, rv, lo, hi) =>
        (lv, rv, lo, hi)
    }
  }

  /** True iff bucket arithmetic can be made exact for these operand types
    * (see class doc): Int-or-narrower → double path; Long → decimal path
    * with whole-number bounds of magnitude < 1e15; fractional → never. */
  private def exactBucketsPossible(lv: Expression, rv: Expression,
      lo: Double, hi: Double): Boolean = {
    def intOrNarrower(t: DataType) = t match {
      case ByteType | ShortType | IntegerType => true
      case _ => false
    }
    def integral(t: DataType) = intOrNarrower(t) || t == LongType
    if (intOrNarrower(lv.dataType) && intOrNarrower(rv.dataType)) true
    else if (integral(lv.dataType) && integral(rv.dataType))
      lo == math.floor(lo) && hi == math.floor(hi) &&
        math.abs(lo) < 1e15 && math.abs(hi) < 1e15
    else false
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def rewrite(left: LogicalPlan, right: LogicalPlan,
      cond: Expression, hint: JoinHint,
      lv: Expression, rv: Expression, lo: Double, hi: Double): LogicalPlan = {
    val width = math.max(hi - lo, 1.0)

    val useDecimal = lv.dataType == LongType || rv.dataType == LongType

    // Exact Long path: value cast to decimal(19,0) (any Long fits), shift
    // added in decimal(20,0) (exact), divided by a whole-number width —
    // DECIMAL128 quotient rounding (≤5e-16 absolute at Long magnitudes) is
    // strictly smaller than the 1/width ≥ 1e-15 distance from any exact
    // quotient k/width to the next integer, so Floor never misclassifies.
    def bucketOf(value: Expression, shift: Double): Expression =
      if (useDecimal)
        Floor(Divide(
          Add(Cast(value, DecimalType(19, 0)),
            Literal(Decimal(shift.toLong), DecimalType(16, 0))),
          Literal(Decimal(width.toLong), DecimalType(16, 0))))
      else
        Floor(Divide(
          Add(Cast(value, DoubleType), Literal(shift, DoubleType)),
          Literal(width, DoubleType)))

    val bucketType = bucketOf(lv, lo).dataType

    // left: explode into the ≤2 reachable buckets (the band spans exactly
    // one width, so the two endpoint buckets cover every intermediate)
    val lBucketAttr = AttributeReference(BucketName + "_l", bucketType)()
    val lArray = ArrayDistinct(CreateArray(Seq(bucketOf(lv, lo), bucketOf(lv, hi))))
    val genLeft = Generate(Explode(lArray), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(lBucketAttr), child = left)

    // right: single bucket projection
    val rBucketAttr = AttributeReference(BucketName + "_r", bucketType)()
    val projRight = Project(
      right.output :+ Alias(bucketOf(rv, 0.0), rBucketAttr.name)(rBucketAttr.exprId),
      right)

    val newJoin = Join(genLeft, projRight, Inner,
      Some(And(EqualTo(lBucketAttr, rBucketAttr), cond)), hint)
    Project((left.output ++ right.output).map(a => a: NamedExpression), newJoin)
  }
}
