package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType}

/** Catalyst optimizer rule (SURVEY.md §4 optional custom work): rewrite
  * intersection-emptiness tests into `arrays_overlap`.
  *
  *   size(array_intersect(a, b)) > 0    =>  arrays_overlap(a, b)
  *   size(array_intersect(a, b)) = 0    =>  NOT arrays_overlap(a, b)
  *   size(array_intersect(a, b)) >= 1   =>  arrays_overlap(a, b)
  *
  * `array_intersect` materializes the full intersection (hash set of one
  * side + probe of the other, building an output array); `arrays_overlap`
  * stops at the first hit and allocates nothing — on wide shingle arrays
  * in near-dup candidate filters this is the difference between O(|a|+|b|)
  * with allocation and early-exit probing.
  *
  * The rewrite fires only where the equivalence is EXACT:
  *   - `Size` must carry `legacySizeOfNull = false` (legacy mode maps
  *     size(null) to -1, turning e.g. `size(...) <= 0` TRUE into a NULL
  *     after the rewrite);
  *   - both array inputs must have `containsNull = false` element types.
  *     With null elements, `arrays_overlap` returns NULL whenever no
  *     non-null element matches but a null is present, while
  *     `array_intersect` treats null as a joinable value — the two sides
  *     disagree on both the positive and the negated comparisons.
  * Under those guards each expression is null iff an input array is null,
  * and true/false coincide, so all six comparison shapes are safe.
  */
object RewriteIntersectOverlap extends Rule[LogicalPlan] {

  private def nullFreeElements(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => !containsNull
    case _ => false
  }

  private object IntersectSize {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Size(ArrayIntersect(a, b), legacySizeOfNull)
          if !legacySizeOfNull && nullFreeElements(a) && nullFreeElements(b) =>
        Some((a, b))
      case _ => None
    }
  }

  private def lit0(e: Expression): Boolean = e match {
    case Literal(0, IntegerType) => true
    case _ => false
  }
  private def lit1(e: Expression): Boolean = e match {
    case Literal(1, IntegerType) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case GreaterThan(IntersectSize(a, b), z) if lit0(z)         => ArraysOverlap(a, b)
    case GreaterThanOrEqual(IntersectSize(a, b), o) if lit1(o)  => ArraysOverlap(a, b)
    case LessThan(z, IntersectSize(a, b)) if lit0(z)            => ArraysOverlap(a, b)
    case EqualTo(IntersectSize(a, b), z) if lit0(z)             => Not(ArraysOverlap(a, b))
    case EqualTo(z, IntersectSize(a, b)) if lit0(z)             => Not(ArraysOverlap(a, b))
    case LessThanOrEqual(IntersectSize(a, b), z) if lit0(z)     => Not(ArraysOverlap(a, b))
  }
}

/** Session-extension entry point:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Covers three extension tiers: optimizer rule, planner strategy, and
  * SQL function injection (the declarative form of
  * `GraftFunctions.registerAll` — extension-built sessions get the
  * custom expressions in pure SQL with no imperative registration call).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import graft.functions.{IsSimilarRgb, LongArrayDot}

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteIntersectOverlap)
    e.injectOptimizerRule(_ => RewriteMapPivot)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => IvfPqServeStrategy)
    e.injectFunction((FunctionIdentifier("is_similar_rgb"),
      new ExpressionInfo(classOf[IsSimilarRgb].getName, "is_similar_rgb"),
      (exprs: Seq[Expression]) => IsSimilarRgb(exprs(0), exprs(1), exprs(2))))
    e.injectFunction((FunctionIdentifier("ldot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "ldot"),
      (exprs: Seq[Expression]) => LongArrayDot(exprs(0), exprs(1))))
  }
}
