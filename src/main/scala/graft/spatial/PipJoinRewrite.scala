package graft.spatial

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Explode, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule (SURVEY.md §4.3.5): rewrites the NAIVE
  * spatial-join shape
  *
  * {{{ points.crossJoin(polys).filter(pip_contains(xs, ys, lon, lat)) }}}
  *
  * — an O(|points|·|polys|) nested-loop cross product — into the
  * cell-prefiltered equi-join [[SpatialJoin.pipJoin]] builds by hand:
  * the polygon side explodes to its covering cells at
  * cell resolution 6 (`PrefilterRes`), the point side encodes
  * its cell with pure codegen arithmetic, and the cross product becomes
  * `Join(..., _graft_cell = cell(lon, lat))` with the original exact
  * predicate kept as a post-filter. Output rows are IDENTICAL (the
  * cover is a superset of containment); only the plan changes.
  *
  * Fires only on a cross join with NO join condition, so the rewritten
  * plan (whose join carries the cell equality) can never re-match —
  * the rule is idempotent under the fixed-point batch. Registered via
  * [[graft.GraftExtensions]] or `spark.experimental.extraOptimizations`.
  */
object PipJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** The cell resolution of the prefilter's cover and point cells. */
  private val PrefilterRes = 6

  /** pip conjunct whose point side and ring side each live wholly on
    * one input — returns (pip, pointSide, polySide). */
  private def findPip(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Option[(PointInRingExpr, LogicalPlan, LogicalPlan)] =
    conjuncts.collectFirst {
      case p: PointInRingExpr
          if p.references.forall(_.resolved) &&
            (p.third.references ++ p.fourth.references).subsetOf(left.outputSet) &&
            (p.first.references ++ p.second.references).subsetOf(right.outputSet) =>
        (p, left, right)
      case p: PointInRingExpr
          if p.references.forall(_.resolved) &&
            (p.third.references ++ p.fourth.references).subsetOf(right.outputSet) &&
            (p.first.references ++ p.second.references).subsetOf(left.outputSet) =>
        (p, right, left)
    }

  /** an equi-conjunct joining the two sides already exists → Catalyst
    * has a hash-join key; the rewrite is unnecessary AND this guard
    * makes the rule idempotent (the rewritten join carries the cell
    * equality). */
  private def hasEquiKey(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
          (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
      case _ => false
    }

  private def rewrite(origOut: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      cond: Expression, pip: PointInRingExpr,
      ptSide: LogicalPlan, polySide: LogicalPlan,
      hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint): LogicalPlan = {
    // native catalyst expressions — a post-analysis rule cannot emit
    // Column-API arithmetic (it desugars to UnresolvedFunction nodes)
    val ptCell = CellAtExpr(pip.third, pip.fourth, PrefilterRes)
    val coverExpr = CoverCellsExpr(pip.first, pip.second, PrefilterRes)
    val cellAttr = AttributeReference("_graft_cell", LongType, nullable = true)()
    val gen = Generate(Explode(coverExpr), unrequiredChildIndex = Nil,
      outer = false, qualifier = None,
      generatorOutput = Seq(cellAttr), child = polySide)
    val join = Join(ptSide, gen, Inner, Some(EqualTo(ptCell, cellAttr)), hint)
    Project(origOut, Filter(cond, join))
  }

  /** The rewritten join is Join(ptSide, gen(polySide)); when findPip
    * matched with the point side on the ORIGINAL right, a user's
    * left/right join hints must swap with the sides or a broadcast hint
    * would attach to the wrong input. */
  private def alignHint(hint: org.apache.spark.sql.catalyst.plans.logical.JoinHint,
      origLeft: LogicalPlan, ptSide: LogicalPlan) =
    if (ptSide eq origLeft) hint
    else org.apache.spark.sql.catalyst.plans.logical.JoinHint(hint.rightHint, hint.leftHint)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // shape 1: filter still sitting above a condition-less cross join
    case f @ Filter(cond, Join(left, right, jt, None, hint))
        if (jt == Cross || jt == Inner) &&
          findPip(splitConjunctivePredicates(cond), left, right).isDefined =>
      val Some((pip, pt, poly)) =
        findPip(splitConjunctivePredicates(cond), left, right)
      rewrite(f.output, cond, pip, pt, poly, alignHint(hint, left, pt))
    // shape 2: the optimizer already pushed the predicate into the join
    case j @ Join(left, right, jt, Some(cond), hint)
        if (jt == Cross || jt == Inner) && {
          val cs = splitConjunctivePredicates(cond)
          !hasEquiKey(cs, left, right) && findPip(cs, left, right).isDefined
        } =>
      val Some((pip, pt, poly)) =
        findPip(splitConjunctivePredicates(cond), left, right)
      rewrite(j.output, cond, pip, pt, poly, alignHint(hint, left, pt))
  }
}
