package graft.spatial

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import graft.geo.CellIndex

/** Native cell-encode: `CellAtExpr(lon, lat, res)` — the optimizer-rule
  * counterpart of [[graft.geo.GeoFunctions.cellAt]]. Needed because a
  * `Rule[LogicalPlan]` runs after analysis: Column-API arithmetic
  * builds UnresolvedFunction nodes that would never be analyzed. Calls
  * the same [[CellIndex.cellAt]] scalar from generated code. */
case class CellAtExpr(left: Expression, right: Expression, res: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "cell_at"
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(lon: Any, lat: Any): Any =
    CellIndex.cellAt(lon.asInstanceOf[Double], lat.asInstanceOf[Double], res)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat) =>
      s"${ev.value} = graft.geo.CellIndex.cellAt($lon, $lat, $res);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CellAtExpr =
    copy(left = newLeft, right = newRight)
}

/** Native polygon cover: `CoverCellsExpr(xs, ys, res)` →
  * array<long> of covering cells (JTS-refined envelope scan,
  * [[CellIndex.coverGeometry]]). CodegenFallback: runs once per
  * POLYGON row (the small side), never in the per-candidate hot loop. */
case class CoverCellsExpr(left: Expression, right: Expression, res: Int)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cover_cells"

  @transient private lazy val gf = new GeometryFactory()

  override def nullSafeEval(xsAny: Any, ysAny: Any): Any = {
    val xs = xsAny.asInstanceOf[ArrayData]
    val ys = ysAny.asInstanceOf[ArrayData]
    val n = xs.numElements()
    // degenerate rings must not kill the task: empty → empty cover;
    // 1-2 vertices → cover of the point/segment instead of an (invalid)
    // JTS polygon.
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val coords = Array.tabulate(n)(i => new Coordinate(xs.getDouble(i), ys.getDouble(i)))
    val closed = if (coords.head == coords.last) coords else coords :+ coords.head
    val geom =
      if (closed.length >= 4) gf.createPolygon(closed)
      else if (n >= 2) gf.createLineString(coords)
      else gf.createPoint(coords(0))
    val cells = CellIndex.coverGeometry(geom, res)
    new GenericArrayData(cells.toArray)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CoverCellsExpr =
    copy(left = newLeft, right = newRight)
}

/** JTS polygon-overlay intersection AREA:
  * `IntersectionAreaExpr(xs1, ys1, xs2, ys2)` → double. The real
  * geometry-clipping path (overlay) a geospatial engine needs beyond
  * containment — proven against the closed-form rectangle oracle on
  * the synthetic universe (q128 shares q92's oracle). CodegenFallback:
  * runs only on bbox-prefiltered candidate PAIRS, never per point.
  * Degenerate rings (<3 distinct vertices) contribute zero area. */
case class IntersectionAreaExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "intersection_area"

  @transient private lazy val gf = new GeometryFactory()

  private def poly(xsAny: Any, ysAny: Any): org.locationtech.jts.geom.Geometry = {
    val xs = xsAny.asInstanceOf[ArrayData]
    val ys = ysAny.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n == 0) return gf.createPolygon()
    val coords = Array.tabulate(n)(i => new Coordinate(xs.getDouble(i), ys.getDouble(i)))
    val closed = if (coords.head == coords.last) coords else coords :+ coords.head
    if (closed.length >= 4) gf.createPolygon(closed)
    else if (n >= 2) gf.createLineString(coords)
    else gf.createPoint(coords(0))
  }

  override def nullSafeEval(xs1: Any, ys1: Any, xs2: Any, ys2: Any): Any =
    poly(xs1, ys1).intersection(poly(xs2, ys2)).getArea

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): IntersectionAreaExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}
