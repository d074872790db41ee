package graft.spatial

import graft.PropHelpers
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.catalyst.util.ArrayData
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

/** The engine's crossing-number containment (the `pip_contains`
  * kernel, [[PointInRingExpr.contains]]) must agree with JTS
  * `covers` (the reference's geometry authority, vendored spatialjoin /
  * osm2rdf GeometryHandler) on arbitrary simple polygons. Integer
  * vertex and probe coordinates keep every cross product exact in
  * doubles, so the two implementations must agree EXACTLY — including
  * on-boundary probes (covers semantics: boundary counts). */
class PointInRingPropSpec extends AnyFunSuite with PropHelpers {

  private val gf = new GeometryFactory()

  private def inRing(xs: Array[Double], ys: Array[Double], px: Double, py: Double): Boolean =
    PointInRingExpr.contains(ArrayData.toArrayData(xs), ArrayData.toArrayData(ys), px, py)

  private val polyGen: Gen[Array[Coordinate]] = for {
    n <- Gen.choose(4, 12)
    xs <- Gen.listOfN(n, Gen.choose(-50, 50))
    ys <- Gen.listOfN(n, Gen.choose(-50, 50))
  } yield {
    val pts = xs.zip(ys).map { case (x, y) => new Coordinate(x.toDouble, y.toDouble) }
    // convex hull guarantees a valid simple ring
    gf.createMultiPointFromCoords(pts.toArray).convexHull().getCoordinates
  }

  test("pointInRing == JTS covers on random convex polygons (incl. boundary)") {
    forAll(polyGen, Gen.choose(-60, 60), Gen.choose(-60, 60)) { (ring, px, py) =>
      if (ring.length >= 4) { // hull of collinear input degenerates
        val xs = ring.map(_.x)
        val ys = ring.map(_.y)
        val poly = gf.createPolygon(ring)
        val pt = gf.createPoint(new Coordinate(px.toDouble, py.toDouble))
        val got = inRing(xs, ys, px.toDouble, py.toDouble)
        val want = poly.covers(pt)
        assert(got === want, s"disagree at ($px,$py) on ${poly.toText}")
      }
    }
  }

  test("vertices and edge midpoints of even-coordinate polygons are covered") {
    forAll(polyGen, Gen.const(0)) { (ring, _) =>
      if (ring.length >= 4) {
        val xs = ring.map(_.x * 2) // doubling keeps midpoints integral
        val ys = ring.map(_.y * 2)
        xs.indices.dropRight(1).foreach { i =>
          assert(inRing(xs, ys, xs(i), ys(i)), s"vertex $i")
          val mx = (xs(i) + xs(i + 1)) / 2
          val my = (ys(i) + ys(i + 1)) / 2
          assert(inRing(xs, ys, mx, my), s"midpoint $i")
        }
      }
    }
  }
}
