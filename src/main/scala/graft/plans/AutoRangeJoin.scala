package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite a pure point-in-interval inner join —
  * `p JOIN i ON x >= s AND x <= e` — into the bin-expanded equi-join
  * of `operators/RangeJoin`, so users who write the naive BETWEEN form
  * still get a shuffleable plan instead of the BroadcastNestedLoopJoin
  * / cartesian product that is Catalyst's only native option for a
  * join with no equality conjunct.
  *
  * Scope (deliberately narrow — a rewrite must never fire where it
  * could be wrong or unprofitable):
  *   - INNER join whose condition is EXACTLY the two-sided containment
  *     (`>=` + `<=`, either conjunct order, point side either left or
  *     right) — if any equality conjunct exists, Catalyst already
  *     plans an equi-join and the rewrite would only add work;
  *   - point and both bounds are LongType (exact integer binning —
  *     the RangeJoin contract; timestamps arrive as `unix_micros`);
  *   - `binWidth` > 0 — the bin width is workload knowledge (≈ typical
  *     interval span), not something the optimizer can infer; 0 or less
  *     disables the rule.
  *
  * Equivalence argument (same as RangeJoin's): every point belongs to
  * exactly one bin, every qualifying interval covers that bin, the
  * original containment predicate is kept verbatim as a post-join
  * filter, and null/inverted bounds are pre-filtered exactly as the
  * null-rejecting original condition would. The rewritten join output
  * is projected back to the original output attributes, so downstream
  * operators are untouched. A session opts in by installing the rule in
  * its optimizer (the experimental `extraOptimizations` list).
  */
case class AutoRangeJoin(binWidth: Long) extends Rule[LogicalPlan] {

  private def floorDivBin(x: Expression, bw: Long): Expression = {
    val lit = Literal(bw, LongType)
    // exact floor for either sign: subtract the non-negative remainder,
    // then integral divide (numerator is an exact multiple)
    IntegralDivide(Subtract(x, Pmod(x, lit)), lit)
  }

  /** (point, start, end) if the condition is exactly two-sided
    * containment with point on one side and both bounds on the other. */
  private def containment(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[(Expression, Expression, Expression)] = {
    def lower(e: Expression): Option[(Expression, Expression)] = e match {
      case GreaterThanOrEqual(p, s) => Some((p, s)) // p >= s
      case LessThanOrEqual(s, p) => Some((p, s))    // s <= p
      case _ => None
    }
    def upper(e: Expression): Option[(Expression, Expression)] = e match {
      case LessThanOrEqual(p, c) => Some((p, c))    // p <= e
      case GreaterThanOrEqual(c, p) => Some((p, c)) // e >= p
      case _ => None
    }
    val conjuncts = cond match {
      case And(a, b) => Seq(a, b)
      case _ => return None
    }
    val pairs = for {
      (lo, hi) <- Seq((conjuncts(0), conjuncts(1)), (conjuncts(1), conjuncts(0)))
      (p1, s) <- lower(lo).toSeq
      (p2, e) <- upper(hi).toSeq
      if p1.semanticEquals(p2)
    } yield (p1, s, e)
    pairs.headOption.filter { case (p, s, e) =>
      def from(ex: Expression, side: LogicalPlan) =
        ex.references.nonEmpty && ex.references.subsetOf(side.outputSet)
      // The rewrite duplicates p/s/e into the bin key while keeping the
      // original predicate — a nondeterministic expression would be
      // evaluated twice with different values and silently drop or
      // duplicate rows, so (like Catalyst's own join rewrites) never
      // fire unless every copied expression is deterministic.
      Seq(p, s, e).forall(ex => ex.deterministic && ex.dataType == LongType) &&
        ((from(p, left) && from(s, right) && from(e, right)) ||
          (from(p, right) && from(s, left) && from(e, left)))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (binWidth <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        containment(cond, left, right) match {
          case None => j
          case Some((p, s, e)) =>
            // orient: points side carries p, intervals side carries s/e
            val pointsOnLeft = p.references.subsetOf(left.outputSet)
            val (points, intervals) = if (pointsOnLeft) (left, right) else (right, left)

            val pbin = Alias(floorDivBin(p, binWidth), "__pbin")()
            val newPoints = Project(points.output :+ pbin, points)

            val keep = And(And(IsNotNull(s), IsNotNull(e)), LessThanOrEqual(s, e))
            // Sequence is TimeZoneAware: an undefined zone id leaves the
            // expression unresolved and fails optimizer plan validation
            val seq = new Sequence(floorDivBin(s, binWidth), floorDivBin(e, binWidth),
              Some(Literal(1L, LongType)), Some(conf.sessionLocalTimeZone))
            val ibin = AttributeReference("__ibin", LongType, nullable = false)()
            val newIntervals = Generate(Explode(seq), Nil, outer = false,
              qualifier = None, generatorOutput = Seq(ibin),
              child = Filter(keep, intervals))

            val (nl, nr) =
              if (pointsOnLeft) (newPoints, newIntervals)
              else (newIntervals, newPoints)
            val rewritten = Join(nl, nr, Inner,
              Some(And(EqualTo(pbin.toAttribute, ibin), cond)), hint)
            Project(j.output, rewritten)
        }
    }
  }
}
