package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite a naive time-proximity join into bucketed
  * equi-joins (SURVEY.md §4.2 "custom Rule demo").
  *
  * An inner join whose only cross-side predicate is `abs(l - r) <= k` (plus
  * optional residuals) has no equi key, so Spark plans a broadcast
  * nested-loop join — O(|L|·|R|) comparisons, a non-starter at 100 TB. But
  * `|l - r| <= k` implies `floor(l/k) - floor(r/k) ∈ {-1, 0, 1}`, so the join
  * is exactly the union of three equi-joins on tolerance-sized buckets, each
  * hash-partitionable. The three bucket-delta branches are disjoint, so the
  * union needs no dedup. This is `TimeJoins.proximityPairs`' manual blocking,
  * promoted into the optimizer so ANY naive abs-diff join gets it for free.
  *
  * Guards: inner join; both abs-diff operands integral, each bound to one
  * side; no existing cross-side equality conjunct (if one exists, Spark
  * already has a hash key and the residual is fine as-is).
  */
object BucketedProximityJoin extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) if eligible(j, cond) =>
      extractProximity(cond, j) match {
        case Some((lExpr, rExpr, k)) if k > 0 => rewrite(j, lExpr, rExpr, k)
        case _ => j
      }
  }

  private def sameSide(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  /** Skip joins that already carry a cross-side equality (hash-joinable). */
  private def eligible(j: Join, cond: Expression): Boolean =
    !splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) =>
        (sameSide(a, j.left) && sameSide(b, j.right)) ||
          (sameSide(a, j.right) && sameSide(b, j.left))
      case _ => false
    }

  /** Find one `abs(l - r) <= k` conjunct with integral sides split across the
    * join's children. Returns (leftExpr, rightExpr, k). */
  private def extractProximity(cond: Expression, j: Join): Option[(Expression, Expression, Long)] =
    splitConjunctivePredicates(cond).collectFirst {
      case LessThanOrEqual(Abs(Subtract(a, b, _), _), Literal(k, LongType | IntegerType))
          if integral(a) && integral(b) &&
            ((sameSide(a, j.left) && sameSide(b, j.right)) ||
             (sameSide(a, j.right) && sameSide(b, j.left))) =>
        if (sameSide(a, j.left)) (a, b, toLong(k)) else (b, a, toLong(k))
    }

  private def integral(e: Expression): Boolean =
    e.dataType == LongType || e.dataType == IntegerType

  private def toLong(v: Any): Long = v match {
    case i: Int => i.toLong
    case l: Long => l
    case _ => 0L
  }

  /** Mathematical floor division x/k for integral x (k > 0) built from
    * truncating primitives: `x div k - (x % k != 0 && x < 0 ? 1 : 0)`. */
  private def floorDiv(x: Expression, k: Long): Expression = {
    val xl = Cast(x, LongType)
    val kLit = Literal(k)
    val q = IntegralDivide(xl, kLit)
    val adjust = If(
      And(Not(EqualTo(Remainder(xl, kLit), Literal(0L))), LessThan(xl, Literal(0L))),
      Literal(1L), Literal(0L))
    Subtract(q, adjust)
  }

  private def rewrite(j: Join, lExpr: Expression, rExpr: Expression, k: Long): LogicalPlan = {
    val lBkt = Alias(floorDiv(lExpr, k), "__prox_bl")()
    val rBkt = Alias(floorDiv(rExpr, k), "__prox_br")()
    val newLeft = Project(j.left.output :+ lBkt, j.left)
    val newRight = Project(j.right.output :+ rBkt, j.right)
    val branches = Seq(-1L, 0L, 1L).map { delta =>
      val bucketEq = EqualTo(lBkt.toAttribute, Add(rBkt.toAttribute, Literal(delta)))
      Join(newLeft, newRight, Inner, Some(And(bucketEq, j.condition.get)), j.hint)
    }
    // Branches are disjoint in bucket delta — plain union, then restore the
    // original output (dropping the bucket columns).
    Project(j.output, Union(branches))
  }
}
