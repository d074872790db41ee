package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.index.strtree.STRtree
import graft.geo.CellIndex

/** Output checks. Each returns None when the output is right and a
  * one-line reason otherwise; each refuses an empty output, so none can
  * pass vacuously. SelfTest feeds every one a corrupted output. */
object Checks {

  def samePass(ref: PassOut, got: PassOut): Option[String] =
    if (ref.hits <= 0) Some("reference pass has no hits")
    else if (got.hits != ref.hits) Some(s"hits ${got.hits} != reference ${ref.hits}")
    else if (got.tiles != ref.tiles) Some("tile histogram differs from the reference pass")
    else None

  /** Independent PIP reference: JTS `covers` (boundary counts as
    * inside) over an STR-tree of the rings. */
  def jtsPairs(points: Seq[(Long, String, Double, Double)],
      rings: Seq[(Long, Array[Double], Array[Double])]): Set[(Long, String, Long)] = {
    val gf = new GeometryFactory()
    val tree = new STRtree()
    rings.foreach { case (id, xs, ys) =>
      val poly = gf.createPolygon(xs.indices.map(i => new Coordinate(xs(i), ys(i))).toArray)
      tree.insert(poly.getEnvelopeInternal, (id, PreparedGeometryFactory.prepare(poly)))
    }
    points.flatMap { case (doc, ent, x, y) =>
      val p = gf.createPoint(new Coordinate(x, y))
      tree.query(p.getEnvelopeInternal).toArray.toSeq.collect {
        case (id: Long, g: org.locationtech.jts.geom.prep.PreparedGeometry) if g.covers(p) =>
          (doc, ent, id)
      }
    }.toSet
  }

  def samePairs(got: Set[(Long, String, Long)], want: Set[(Long, String, Long)]): Option[String] =
    if (want.isEmpty) Some("reference sample has no hits")
    else if (got != want)
      Some(s"sample hits differ: ${(got -- want).size} extra, ${(want -- got).size} missing " +
        s"of ${want.size}")
    else None

  /** Tile histogram of the reference hits, tiles by the scalar cell
    * encoder (the program's Column mirror is what is under test). */
  def referenceTiles(points: Seq[(Long, String, Double, Double)],
      pairs: Set[(Long, String, Long)], res: Int): Map[Long, Long] = {
    val at = points.map { case (d, e, x, y) => (d, e) -> (x, y) }.toMap
    pairs.toSeq.map { case (d, e, _) =>
      val (x, y) = at((d, e)); CellIndex.cellAt(x, y, res)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
  }

  def sameTiles(got: Map[Long, Long], want: Map[Long, Long]): Option[String] =
    if (want.size < 2) Some("reference tile histogram has fewer than 2 tiles")
    else if (got != want) Some(s"tile histogram differs on ${(got.keySet ++ want.keySet)
      .count(k => got.get(k) != want.get(k))} tiles")
    else None

  /** Order-free multiset fingerprint of a frame in one aggregation: row
    * count plus the sums of two independent row hashes (the 64-bit one
    * split into halves so the sums cannot overflow). */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val cols = df.columns.toSeq.map(col)
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32)),
      sum(hash(cols: _*).cast("long"))).head()
    (0 until 4).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  /** Two frames must hold the same non-empty multiset of rows. */
  def sameRows(what: String, got: DataFrame, want: DataFrame): Option[String] = {
    val (g, w) = (fingerprint(got), fingerprint(want.select(got.columns.toSeq.map(col): _*)))
    if (w.head == 0) Some(s"$what: reference is empty")
    else if (g != w) Some(s"$what: ${g.head} rows differ from the ${w.head} expected")
    else None
  }

  /** The candidate probe against the pass: pipJoin's plan must expose
    * its bbox passes and hits, the rows the refine kernel is timed on
    * must be those bbox passes, and the probe's hits the pass's. */
  def candidateCounts(bboxPass: Long, probeHits: Long, kernelRows: Long,
      passHits: Long): Option[String] =
    if (bboxPass <= 0 || probeHits <= 0) Some("pipJoin's plan exposed no bbox passes or hits")
    else if (kernelRows != bboxPass) Some(s"bbox-passing rows $kernelRows != pipJoin's $bboxPass")
    else if (probeHits != passHits) Some(s"probe hits $probeHits != pass hits $passHits")
    else None

  /** Read-probe check after a commit: every upserted node owns triples,
    * no deleted object owns any, and the probe saw rows at all. */
  def probe(rows: Map[String, Long], upsertedNodes: Seq[String],
      deleted: Seq[String]): Option[String] = {
    val missing = upsertedNodes.count(k => rows.getOrElse(k, 0L) == 0L)
    val stale = deleted.count(k => rows.getOrElse(k, 0L) > 0L)
    if (rows.values.sum == 0L) Some("read probe returned no triples")
    else if (missing > 0) Some(s"$missing upserted nodes have no triples")
    else if (stale > 0) Some(s"$stale deleted objects still have triples")
    else None
  }
}
