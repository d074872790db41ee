package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Z-order (Morton-curve) encoding for scan pruning — the lakehouse
  * answer to spatial locality at 100 TB. The reference walks its whole
  * endpoint per query (its src/sparql/SparqlWrapper.cpp runs every
  * SELECT against the full store); a Spark-native engine
  * instead PLACES the data so a bbox query never reads most of it.
  * This object holds the curve; the layout that uses it is
  * [[graft.tables.SnapshotTable.createZOrdered]] / `readBbox`:
  *
  *  - [[zValue]] interleaves the quantized lon/lat bits, so the stored
  *    table can be bucketed by the top z-prefix and sorted by z;
  *  - [[zIntervals]] decomposes a box into a bounded set of EXACT-cover
  *    z-intervals by quadtree recursion (the BIGMIN idea) — a single
  *    corner envelope [z(lo), z(hi)] degenerates to ~the full range
  *    when the box straddles the space's midlines, the decomposition
  *    does not;
  *  - the reader's trailing exact lon/lat predicate removes the curve's
  *    jumps, so the result is exact regardless of interval
  *    over-approximation.
  *
  * Same public pattern as Delta OPTIMIZE ZORDER BY + GeoMesa z-range
  * scans. All row-side arithmetic is codegen'd builtins (floor /
  * shiftleft / bitwise or) mirrored verbatim in the DuckDB oracle
  * ([[quantSql]], [[interleaveSql]]), like [[GeoFunctions]].
  */
object ZOrder {
  val LonLo = -180.0; val LonSpan = 360.0
  val LatLo = -90.0;  val LatSpan = 180.0

  private def quant(c: Column, lo: Double, span: Double, bits: Int): Column = {
    val n = 1L << bits
    least(greatest(floor((c - lo) / span * n.toDouble).cast("long"), lit(0L)),
      lit(n - 1))
  }

  /** Morton code of (lon, lat) at `bits` per axis, as a Column. */
  def zValue(lon: Column, lat: Column, bits: Int): Column = {
    val ix = quant(lon, LonLo, LonSpan, bits)
    val iy = quant(lat, LatLo, LatSpan, bits)
    (0 until bits).map { b =>
      shiftleft(shiftright(ix, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(iy, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** DuckDB mirror of the axis quantization (same op order). */
  def quantSql(c: String, lo: Double, span: Double, bits: Int): String = {
    val n = 1L << bits
    s"LEAST(GREATEST(CAST(FLOOR(($c - ($lo)) / $span * ${n.toDouble}) AS BIGINT), 0), ${n - 1})"
  }

  /** DuckDB mirror of the bit interleave over pre-quantized columns. */
  def interleaveSql(ix: String, iy: String, bits: Int): String =
    (0 until bits).map { b =>
      s"((($ix >> $b) & 1) << ${2 * b}) | ((($iy >> $b) & 1) << ${2 * b + 1})"
    }.mkString("(", ") | (", ")")

  private def quantScalar(c: Double, lo: Double, span: Double, bits: Int): Long = {
    val n = 1L << bits
    math.min(math.max(math.floor((c - lo) / span * n.toDouble).toLong, 0L), n - 1)
  }

  private def interleaveScalar(ix: Long, iy: Long, bits: Int): Long = {
    var z = 0L; var b = 0
    while (b < bits) {
      z |= ((ix >> b) & 1L) << (2 * b) | ((iy >> b) & 1L) << (2 * b + 1)
      b += 1
    }
    z
  }

  /** Driver-side scalar mirror of [[zValue]]. */
  def zOf(lon: Double, lat: Double, bits: Int): Long =
    interleaveScalar(quantScalar(lon, LonLo, LonSpan, bits),
      quantScalar(lat, LatLo, LatSpan, bits), bits)

  /** Decompose a bbox into <= `maxIntervals` z-intervals whose union
    * covers every z a box point can take (quadtree recursion to
    * `maxDepth`, partially-covered leaves emitted whole — sound
    * over-approximation; adjacent intervals merged, then the smallest
    * inter-interval gaps merged until the budget holds). */
  def zIntervals(minLon: Double, maxLon: Double, minLat: Double, maxLat: Double,
      bits: Int, maxIntervals: Int = 16, maxDepth: Int = 8): Seq[(Long, Long)] = {
    val qx0 = quantScalar(minLon, LonLo, LonSpan, bits)
    val qx1 = quantScalar(maxLon, LonLo, LonSpan, bits)
    val qy0 = quantScalar(minLat, LatLo, LatSpan, bits)
    val qy1 = quantScalar(maxLat, LatLo, LatSpan, bits)
    val acc = ArrayBuffer.empty[(Long, Long)]
    // depth-first in ascending z: children visited in Morton order
    def rec(x: Long, y: Long, depth: Int): Unit = {
      val s = bits - depth
      val cx0 = x << s; val cx1 = ((x + 1) << s) - 1
      val cy0 = y << s; val cy1 = ((y + 1) << s) - 1
      if (cx1 < qx0 || cx0 > qx1 || cy1 < qy0 || cy0 > qy1) return
      if ((cx0 >= qx0 && cx1 <= qx1 && cy0 >= qy0 && cy1 <= qy1) ||
          depth == maxDepth) {
        val zlo = interleaveScalar(x, y, bits - s) << (2 * s)
        val span = if (s >= 32) Long.MaxValue else (1L << (2 * s)) - 1
        acc += ((zlo, zlo + span))
      } else {
        rec(2 * x, 2 * y, depth + 1)
        rec(2 * x + 1, 2 * y, depth + 1)
        rec(2 * x, 2 * y + 1, depth + 1)
        rec(2 * x + 1, 2 * y + 1, depth + 1)
      }
    }
    rec(0L, 0L, 0)
    // merge touching neighbors (DFS emitted ascending zlo)
    val merged = ArrayBuffer.empty[(Long, Long)]
    acc.foreach { iv =>
      if (merged.nonEmpty && iv._1 <= merged.last._2 + 1)
        merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, iv._2))
      else merged += iv
    }
    // enforce the budget by closing the smallest gaps (over-approx, sound)
    while (merged.length > maxIntervals) {
      var best = 1; var bestGap = Long.MaxValue
      var i = 1
      while (i < merged.length) {
        val gap = merged(i)._1 - merged(i - 1)._2
        if (gap < bestGap) { bestGap = gap; best = i }
        i += 1
      }
      merged(best - 1) = (merged(best - 1)._1, merged(best)._2)
      merged.remove(best)
    }
    merged.toSeq
  }
}
