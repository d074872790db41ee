package graft.spatial

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType}

/** Native codegen point-in-ring containment (boundary-inclusive
  * crossing number) — the hot refine predicate of the cell-prefiltered
  * spatial join (SURVEY.md §2.3 J12, §4.3.5).
  *
  * Why an Expression and not a UDF: the refine input is the candidate
  * join output (~30 candidate polygons per point on the synthetic
  * universe → 10^8 rows at bench scale, and the dominant row count of
  * the whole pipeline at 100 TB). A ScalaUDF materializes BOTH ring
  * arrays into fresh `ArraySeq` copies per candidate row; this
  * expression reads the columnar `ArrayData` in place — zero copies,
  * zero boxing — and stays inside whole-stage codegen, so the refine
  * fuses into the join stage's generated loop.
  */
case class PointInRingExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends QuaternaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "pip_contains"

  override def checkInputDataTypes(): TypeCheckResult = {
    def isDblArray(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val ok = isDblArray(first.dataType) && isDblArray(second.dataType) &&
      third.dataType == DoubleType && fourth.dataType == DoubleType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<double>, array<double>, double, double), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def nullSafeEval(xs: Any, ys: Any, px: Any, py: Any): Any =
    PointInRingExpr.contains(xs.asInstanceOf[ArrayData], ys.asInstanceOf[ArrayData],
      px.asInstanceOf[Double], py.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xs, ys, px, py) =>
      s"${ev.value} = graft.spatial.PointInRingExpr.contains($xs, $ys, $px, $py);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PointInRingExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object PointInRingExpr {

  /** Boundary-inclusive crossing-number over ArrayData, no allocation.
    * Exact-comparison on-segment test matches the oracle's inclusive
    * BETWEEN on axis-aligned edges. Called from generated code. (An
    * earlier JTS PreparedGeometry-per-task cache held millions of live
    * objects and made the refine heap-bound; the rings are small after
    * the cell prefilter, so an R-tree per polygon buys nothing.) */
  def contains(xs: ArrayData, ys: ArrayData, px: Double, py: Double): Boolean = {
    val n = xs.numElements()
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val xi = xs.getDouble(i); val yi = ys.getDouble(i)
      val xj = xs.getDouble(j); val yj = ys.getDouble(j)
      val cross = (px - xi) * (yj - yi) - (py - yi) * (xj - xi)
      if (cross == 0.0 &&
          px >= math.min(xi, xj) && px <= math.max(xi, xj) &&
          py >= math.min(yi, yj) && py <= math.max(yi, yj)) return true
      if ((yi > py) != (yj > py)) {
        val xCross = xi + (py - yi) * (xj - xi) / (yj - yi)
        if (px < xCross) inside = !inside
      }
      j = i; i += 1
    }
    inside
  }

  /** Column face. */
  def pipContains(xs: Column, ys: Column, px: Column, py: Column): Column =
    GraftSqlShim.column(PointInRingExpr(
      GraftSqlShim.expression(xs), GraftSqlShim.expression(ys),
      GraftSqlShim.expression(px), GraftSqlShim.expression(py)))
}
