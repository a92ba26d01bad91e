package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DateType, IntegerType, LongType}

/** Optimizer rule: rewrite a keyless point-in-interval join into an
  * equi-join against bucket-exploded intervals (SURVEY.md §2.3 J4 at scale).
  *
  * `points JOIN intervals ON p >= s AND p <= e` has no equi key, so Spark
  * plans a broadcast nested-loop join — O(|P|·|I|) at 100 TB. With a bucket
  * width k, containment implies `floor(p/k) ∈ [floor(s/k), floor(e/k)]`, so
  * exploding each interval into the buckets it covers (a `Generate` of
  * `sequence(floor(s/k), floor(e/k))`) turns the join into a hash-
  * partitionable equi-join on the bucket, with the original containment kept
  * as residual. Cost: one interval row per covered bucket — pick k at or
  * above the typical interval length (≈1-2 rows per interval) via
  * `spark.graft.intervalJoin.bucketWidth` (same unit as the operands;
  * 0 = rule off, the default).
  *
  * Guards: no existing cross-side equality (then Spark already hash-joins);
  * both bound columns on one side, the point on the other, all integral
  * (DATE columns count as integral — they bucket on their epoch-day number,
  * so the width unit for date intervals is days);
  * join types where the exploded side is the non-preserved side (inner with
  * the point on either side; left semi/anti/outer with the point on the
  * left). Null bounds generate zero buckets, which matches the original
  * null-comparison semantics for every supported join type.
  */
object IntervalBucketJoin extends Rule[LogicalPlan] with PredicateHelper {

  val WidthKey = "spark.graft.intervalJoin.bucketWidth"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = conf.getConfString(WidthKey, "0").toLong
    if (width <= 0) plan
    else plan.transform {
      case j @ Join(_, _, jt, Some(cond), _) if noCrossEquality(j, cond) =>
        extract(cond, j) match {
          case Some((p, s, e, pointOnLeft))
              if pointOnLeft || jt == Inner =>
            rewrite(j, p, s, e, width, pointOnLeft)
          case _ => j
        }
    }
  }

  private def supported(jt: JoinType): Boolean = jt match {
    case Inner | LeftSemi | LeftAnti | LeftOuter => true
    case _ => false
  }

  private def sameSide(ex: Expression, side: LogicalPlan): Boolean =
    ex.references.nonEmpty && ex.references.subsetOf(side.outputSet)

  private def noCrossEquality(j: Join, cond: Expression): Boolean =
    supported(j.joinType) && !splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        (sameSide(a, j.left) && sameSide(b, j.right)) ||
          (sameSide(a, j.right) && sameSide(b, j.left))
      case _ => false
    }

  // DateType is integral for bucketing purposes: unix_date days, width in days
  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType || e.dataType == DateType

  /** Find conjuncts bounding one side's point between the other side's
    * start and end: returns (point, start, end, pointOnLeft). */
  private def extract(cond: Expression, j: Join)
      : Option[(Expression, Expression, Expression, Boolean)] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // (point, bound) pairs with point and bound on opposite sides.
    def cross(p: Expression, b: Expression): Boolean =
      integral(p) && integral(b) &&
        ((sameSide(p, j.left) && sameSide(b, j.right)) ||
         (sameSide(p, j.right) && sameSide(b, j.left)))
    val lowers = conjuncts.collect {
      case GreaterThanOrEqual(p, s) if cross(p, s) => (p, s)
      case GreaterThan(p, s) if cross(p, s) => (p, s)
      case LessThanOrEqual(s, p) if cross(p, s) => (p, s)
      case LessThan(s, p) if cross(p, s) => (p, s)
    }
    val uppers = conjuncts.collect {
      case LessThanOrEqual(p, e) if cross(p, e) => (p, e)
      case LessThan(p, e) if cross(p, e) => (p, e)
      case GreaterThanOrEqual(e, p) if cross(p, e) => (p, e)
      case GreaterThan(e, p) if cross(p, e) => (p, e)
    }
    (for {
      (p1, s) <- lowers
      (p2, e) <- uppers
      if p1.semanticEquals(p2)
    } yield (p1, s, e, sameSide(p1, j.left))).headOption
  }

  /** Mathematical floor division for integral x (k > 0); dates divide on
    * their epoch-day number. */
  private def floorDiv(x: Expression, k: Long): Expression = {
    val xl = x.dataType match {
      case DateType => Cast(UnixDate(x), LongType)
      case _        => Cast(x, LongType)
    }
    val kLit = Literal(k)
    val q = IntegralDivide(xl, kLit)
    val adjust = If(
      And(Not(EqualTo(Remainder(xl, kLit), Literal(0L))), LessThan(xl, Literal(0L))),
      Literal(1L), Literal(0L))
    Subtract(q, adjust)
  }

  private def rewrite(j: Join, p: Expression, s: Expression, e: Expression,
      width: Long, pointOnLeft: Boolean): LogicalPlan = {
    val bkt = AttributeReference("__iv_bkt", LongType, nullable = false)()
    // Sequence is TimeZoneAwareExpression: without an explicit zone it stays
    // unresolved and the optimizer rejects the rewritten plan.
    val lo = floorDiv(s, width)
    val hi = floorDiv(e, width)
    val rawSeq = Sequence(lo, hi, Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
    // Sequence(lo, hi, 1) throws when hi < lo, but the naive range join this
    // rule replaces simply matches nothing for an inverted interval (e < s).
    // Explode such rows into zero buckets instead so enabling the rule never
    // turns a malformed row into a whole-query failure.
    val seq = If(LessThanOrEqual(lo, hi), rawSeq,
      Literal.create(Array.empty[Long], ArrayType(LongType, containsNull = false)))
    val intervalSide = if (pointOnLeft) j.right else j.left
    val exploded = Generate(Explode(seq), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(bkt), child = intervalSide)
    val bucketEq = EqualTo(floorDiv(p, width), bkt)
    val newCond = And(bucketEq, j.condition.get)
    val newJoin =
      if (pointOnLeft) Join(j.left, exploded, j.joinType, Some(newCond), j.hint)
      else Join(exploded, j.right, j.joinType, Some(newCond), j.hint)
    Project(j.output, newJoin)
  }
}
