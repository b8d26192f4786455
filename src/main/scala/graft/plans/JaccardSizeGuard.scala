package graft.plans

import graft.functions.JaccardSorted
import org.apache.spark.sql.catalyst.expressions.{Add, And, Cast, Expression,
  GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal,
  Multiply, Round, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: prefix a `jaccard_sorted(a, b) >= t` filter with the
  * classic set-similarity SIZE GUARDS — J(A,B) ≥ t implies |A| ≥ t·|B|
  * and |B| ≥ t·|A| (because |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥
  * max(|A|,|B|)). The guards are O(1) length reads; the Jaccard itself
  * is an O(|A|+|B|) two-pointer merge — under codegen's short-circuit
  * `&&`, candidate pairs whose cardinalities already rule out the
  * threshold never enter the merge loop. This is the verify-side
  * filter of every sketch family here (q42, q125's fallback, any
  * `exactJaccard` pipeline).
  *
  * Soundness margin: the guard compares `size + 0.5 ≥ t·size` (½ slack
  * on the integer side). In real arithmetic |A| ≥ t·|B| holds exactly,
  * but `t * size(b)` is one IEEE multiply whose rounding can land
  * marginally ABOVE the real product; the ½ slack (~10⁶ ulps at any
  * realistic magnitude) makes the guard strictly implied by the
  * original predicate — the rewrite can never drop a qualifying row —
  * at the cost of keeping pairs within half an element of the
  * boundary, which the exact predicate then rejects. A `round(j, d) ≥
  * t` wrapper (how declared queries publish the measure) is matched
  * too: rounding to d places moves the implied threshold by at most
  * 5·10^-(d+1), far inside the same slack. The rule fires only for a
  * positive literal threshold; t ≤ 0 guards nothing.
  *
  * Idempotent under the optimizer's fixpoint batches by construction:
  * the rewritten condition is an `And`, which the matcher does not
  * fire on, and CombineFilters keeps conjunctions together.
  *
  * Installed by [[graft.GraftExtensions.install]], as one of the
  * session's extra optimizations.
  * GraftExtensionsSpec pins: guards present in the optimized plan,
  * results identical with and without the rule, idempotence, and that
  * a size-contradicted pair short-circuits correctly. */
object JaccardSizeGuard extends Rule[LogicalPlan] {

  private def halfSlackGuard(big: Expression, small: Expression,
      t: Double): Expression =
    GreaterThanOrEqual(
      Add(Cast(Size(big), DoubleType), Literal(0.5, DoubleType)),
      Multiply(Literal(t, DoubleType), Cast(Size(small), DoubleType)))

  private def guards(j: JaccardSorted, t: Double): Expression =
    And(halfSlackGuard(j.left, j.right, t),
      halfSlackGuard(j.right, j.left, t))

  /** The measure side of a threshold comparison: bare `jaccard_sorted`
    * or the published `round(jaccard_sorted, d)` form. */
  private object Measure {
    def unapply(e: Expression): Option[JaccardSorted] = e match {
      case j: JaccardSorted => Some(j)
      case Round(j: JaccardSorted, Literal(_, _), _) => Some(j)
      case _ => None
    }
  }

  private def threshold(e: Expression): Option[(JaccardSorted, Double)] =
    e match {
      case GreaterThanOrEqual(Measure(j), Literal(t: Double, DoubleType))
          if t > 0 => Some((j, t))
      case GreaterThan(Measure(j), Literal(t: Double, DoubleType))
          if t > 0 => Some((j, t))
      case LessThanOrEqual(Literal(t: Double, DoubleType), Measure(j))
          if t > 0 => Some((j, t))
      case LessThan(Literal(t: Double, DoubleType), Measure(j))
          if t > 0 => Some((j, t))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      threshold(cond) match {
        case Some((j, t)) => Filter(And(guards(j, t), cond), child)
        case None => f
      }
  }
}
