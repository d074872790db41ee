package graft.spatial

import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import graft.SparkTestBase
import graft.geo.GeoFunctions

/** The salted partitioned cell join must emit exactly the rows of the
  * unsalted and the broadcast joins, with salting actually firing: the
  * hot-cell threshold is low enough that the histogram pre-pass salts
  * the dense cells. Rings are random concave stars, and points include
  * every ring vertex and edge midpoint, so on-edge hits (covers
  * semantics) cross the salted path too. Coordinates sit on a 1/64
  * grid (edge midpoints on 1/128): every cross product of the refine
  * is exact in doubles, and
  * some points fall on cell edges (res-8 cells are binary fractions of
  * a degree wide). */
class SaltedPipJoinSpec extends SparkTestBase {
  import spark.implicits._

  private val Res = 8
  private val Salt = 8
  private val Hot = 40L
  private val RingDicts = Seq("inline", "broadcast", "shuffle")

  private def grid(v: Double): Double = math.rint(v * 64) / 64

  /** Star ring around (cx, cy), closed, vertices in angular order. */
  private def star(rnd: Random, cx: Double, cy: Double, scale: Double): (Seq[Double], Seq[Double]) = {
    val n = 5 + rnd.nextInt(5)
    val vs = (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      val r = scale * (0.5 + 0.75 * rnd.nextDouble())
      (grid(cx + r * math.cos(a)), grid(cy + r * math.sin(a)))
    }
    val closed = vs :+ vs.head
    (closed.map(_._1), closed.map(_._2))
  }

  private val gf = new GeometryFactory()
  private def valid(xs: Seq[Double], ys: Seq[Double]): Boolean =
    gf.createPolygon(xs.zip(ys).map { case (x, y) => new Coordinate(x, y) }.toArray).isValid

  /** (rel_id, role, xs, ys): per relation one outer star, and for odd
    * ids a hole (the outer shrunk about its centre, so it lies inside)
    * plus, for every fifth id, a second outer elsewhere. */
  private lazy val rings: Seq[(Long, String, Seq[Double], Seq[Double])] = {
    val rnd = new Random(7)
    (1L to 40L).flatMap { id =>
      val cx = grid(1 + 6 * rnd.nextDouble()); val cy = grid(1 + 2 * rnd.nextDouble())
      val (xs, ys) = star(rnd, cx, cy, 1.0)
      val hole =
        if (id % 2 == 1) Seq((id, "inner", xs.map(x => grid(cx + (x - cx) / 2)),
          ys.map(y => grid(cy + (y - cy) / 2))))
        else Nil
      val second =
        if (id % 5 == 0) {
          val (xs2, ys2) = star(rnd, grid(1 + 6 * rnd.nextDouble()), grid(1 + 2 * rnd.nextDouble()), 0.6)
          Seq((id, "outer", xs2, ys2))
        } else Nil
      ((id, "outer", xs, ys) +: hole) ++ second
    }.filter { case (_, _, xs, ys) => valid(xs, ys) }
  }

  /** (way_id, xs, ys): the outer rings, as [[SpatialJoin.pipJoin]]'s layer. */
  private lazy val polys: Seq[(Long, Seq[Double], Seq[Double])] =
    rings.zipWithIndex.collect { case ((_, "outer", xs, ys), i) => (i.toLong, xs, ys) }

  private val Cluster = 1200
  private val Spread = 1500

  /** (doc_id, entity, lon, lat): a dense cluster inside one res-8 cell
    * (the hot cells), a uniform spread, then every ring vertex and edge
    * midpoint (doc_id >= Cluster + Spread). */
  private lazy val points: Seq[(Long, String, Double, Double)] = {
    val rnd = new Random(11)
    val cluster = Seq.fill(Cluster)((grid(4.3 + 0.6 * rnd.nextDouble()), grid(2.2 + 0.4 * rnd.nextDouble())))
    val spread = Seq.fill(Spread)((grid(8 * rnd.nextDouble()), grid(4 * rnd.nextDouble())))
    val onEdges = rings.flatMap { case (_, _, xs, ys) =>
      val vs = xs.zip(ys)
      vs ++ vs.zip(vs.tail).map { case ((x0, y0), (x1, y1)) => ((x0 + x1) / 2, (y0 + y1) / 2) }
    }
    (cluster ++ spread ++ onEdges).zipWithIndex.map { case ((x, y), i) => (i.toLong, s"e$i", x, y) }
  }

  // RDD-backed frames: a local relation would be folded on the driver
  private def pointsDf: DataFrame =
    spark.sparkContext.parallelize(points, 4).toDF("doc_id", "entity", "lon", "lat")
  private def ringsDf: DataFrame =
    spark.sparkContext.parallelize(rings, 4).toDF("rel_id", "role", "xs", "ys")
  private def polysDf: DataFrame =
    spark.sparkContext.parallelize(polys, 4).toDF("way_id", "xs", "ys")

  private def inRing(xs: Seq[Double], ys: Seq[Double], x: Double, y: Double): Boolean =
    SpatialJoin.pointInRing(xs.toArray, ys.toArray, x, y)

  /** The three joins as (points, mode, salt, ringDict) -> (doc_id, id). */
  private val joins: Seq[(String, (DataFrame, String, Int, String) => DataFrame)] = Seq(
    "pipJoin" -> ((pts, mode, salt, rd) => SpatialJoin.pipJoin(pts, polysDf, Res, mode = mode,
      salt = salt, hotThreshold = Hot, ringDict = rd).select(col("doc_id"), col("way_id"))),
    "pipJoinMulti" -> ((pts, mode, salt, rd) => SpatialJoin.pipJoinMulti(pts, ringsDf, Res,
      mode = mode, salt = salt, hotThreshold = Hot, ringDict = rd)
      .select(col("doc_id"), col("rel_id"))),
    "pipJoinMultiEvenOdd" -> ((pts, mode, salt, rd) => SpatialJoin.pipJoinMultiEvenOdd(pts,
      ringsDf, Res, mode = mode, salt = salt, hotThreshold = Hot, ringDict = rd)
      .select(col("doc_id"), col("rel_id"))))

  /** Brute-force rows of each join, from [[SpatialJoin.pointInRing]]. */
  private lazy val expected: Map[String, Seq[(Long, Long)]] = {
    val pip = for {
      (d, _, x, y) <- points
      (w, xs, ys) <- polys if inRing(xs, ys, x, y)
    } yield (d, w)
    val byRel = points.map { case (d, _, x, y) =>
      d -> rings.filter { case (_, _, xs, ys) => inRing(xs, ys, x, y) }.groupBy(_._1).toSeq
    }
    val multi = byRel.flatMap { case (d, m) => m.collect {
      case (rel, hits) if hits.exists(_._2 == "outer") && !hits.exists(_._2 == "inner") => (d, rel)
    } }
    val evenOdd = byRel.flatMap { case (d, m) => m.collect {
      case (rel, hits) if hits.size % 2 == 1 => (d, rel)
    } }
    Map("pipJoin" -> pip.sorted, "pipJoinMulti" -> multi.sorted,
      "pipJoinMultiEvenOdd" -> evenOdd.sorted)
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Long)].collect().toSeq.sorted

  test("the fixture salts: hot cells exist and hold hits, on-edge points hit") {
    val cellOf = pointsDf.select(col("doc_id"), GeoFunctions.cellAt(col("lon"), col("lat"), Res))
      .as[(Long, Long)].collect().toMap
    val hot = cellOf.values.groupBy(identity).collect {
      case (cell, n) if n.size > Hot => cell -> n.size.toLong
    }
    // the pre-pass's salt factor min(salt, ceil(cnt / threshold))
    assert(hot.values.exists(c => math.min(Salt.toLong, (c + Hot - 1) / Hot) >= 2),
      "histogram pre-pass would salt nothing")
    assert(expected("pipJoin").exists { case (d, _) => hot.contains(cellOf(d)) },
      "no hit falls in a hot cell")
    assert(expected("pipJoin").exists(_._1 >= Cluster + Spread), "no on-edge point hits")
    // holes take away hits the outer rings alone would give
    assert(expected("pipJoinMulti").nonEmpty)
    assert(expected("pipJoinMulti").size < expected("pipJoin").size)
  }

  for ((name, join) <- joins; rd <- RingDicts)
    test(s"$name, ringDict=$rd: salted == unsalted == broadcast == brute force") {
      val salted = rowsOf(join(pointsDf, "partitioned", Salt, rd))
      assert(salted === expected(name))
      assert(rowsOf(join(pointsDf, "partitioned", 1, rd)) === salted)
      assert(rowsOf(join(pointsDf, "broadcast", 1, rd)) === salted)
    }

  test("one action of the salted join evaluates each point row once") {
    // a deterministic identity on lon that counts the rows it sees: the
    // histogram, both of its broadcasts and the join's point side all
    // need lon, so a re-derived point side shows up as a multiple
    for ((name, join) <- joins) {
      val seen = spark.sparkContext.longAccumulator(s"$name points seen")
      val tap = udf((lon: Double) => { seen.add(1L); lon })
      val pts = pointsDf.withColumn("lon", tap(col("lon")))
      join(pts, "partitioned", Salt, "inline").write.format("noop").mode("overwrite").save()
      assert(seen.value === points.length.toLong,
        s"$name evaluated ${seen.value} point rows for ${points.length} points")
    }
  }
}
