package graft.operators

import graft.{PropHelpers, SparkTestBase}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property coverage for the newest operators beyond their DuckDB
  * oracles: interval-overlap join vs brute force (negative coordinates
  * included — floor-division bucketing must stay sound below zero),
  * and the JTS overlay area vs the rectangle closed form. */
class IntervalOverlapPropSpec extends SparkTestBase with PropHelpers {
  import spark.implicits._

  // each run is a full Spark job (join + collect), not a local eval —
  // a dozen seeded runs keep the suite fast while covering the space
  override val propRuns = 12

  private val iv: Gen[(Long, Double, Double)] = for {
    id <- Gen.choose(0L, 1000L)
    lo <- Gen.choose(-100.0, 100.0)
    w <- Gen.choose(0.0, 15.0)
  } yield (id, lo, lo + w)

  test("intervalOverlapJoin equals the brute-force overlap join") {
    val g = Gen.listOfN(60, iv)
    forAll(g, g) { (as, bs) =>
      val a = as.zipWithIndex.map { case ((_, lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("a_id", "alo", "ahi")
      val b = bs.zipWithIndex.map { case ((_, lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("b_id", "blo", "bhi")
      val got = RangeJoin.intervalOverlapJoin(a, "alo", "ahi", b, "blo", "bhi", 7.0)
        .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
      val expect = (for {
        ((_, alo, ahi), i) <- as.zipWithIndex
        ((_, blo, bhi), j) <- bs.zipWithIndex
        if alo <= bhi && blo <= ahi
      } yield (i.toLong, j.toLong)).sorted
      assert(got == expect, s"mismatch: got ${got.size} vs ${expect.size}")
    }
  }

  test("IntersectionAreaExpr matches the rectangle closed form") {
    val rect: Gen[(Double, Double, Double, Double)] = for {
      x <- Gen.choose(-50.0, 50.0); y <- Gen.choose(-50.0, 50.0)
      w <- Gen.choose(0.5, 20.0); h <- Gen.choose(0.5, 20.0)
    } yield (x, y, w, h)
    forAll(Gen.listOfN(25, rect), Gen.listOfN(25, rect)) { (as, bs) =>
      val rows = as.zip(bs).map { case ((x1, y1, w1, h1), (x2, y2, w2, h2)) =>
        (Seq(x1, x1 + w1, x1 + w1, x1), Seq(y1, y1, y1 + h1, y1 + h1),
          Seq(x2, x2 + w2, x2 + w2, x2), Seq(y2, y2, y2 + h2, y2 + h2),
          math.max(0.0, math.min(x1 + w1, x2 + w2) - math.max(x1, x2)) *
            math.max(0.0, math.min(y1 + h1, y2 + h2) - math.max(y1, y2)))
      }.toDF("xs1", "ys1", "xs2", "ys2", "expect")
      val area = org.apache.spark.sql.GraftSqlShim.column(
        graft.spatial.IntersectionAreaExpr(
          org.apache.spark.sql.GraftSqlShim.expression(col("xs1")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys1")),
          org.apache.spark.sql.GraftSqlShim.expression(col("xs2")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys2"))))
      val bad = rows.select(area.as("got"), col("expect"))
        .filter(abs(col("got") - col("expect")) > 1e-9).count()
      assert(bad == 0L, s"$bad rectangle pairs disagree with the closed form")
    }
  }
}
