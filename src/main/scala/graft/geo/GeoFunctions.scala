package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level mirrors of [[CellIndex]] built purely from codegen'd
  * builtins (shiftleft / bitwise or / floor) — the hot-path cell encode
  * never leaves whole-stage codegen, and the same arithmetic is
  * expressible verbatim in the DuckDB oracle.
  */
object GeoFunctions {

  /** Exact Column mirror of [[CellIndex.cellAt]]. */
  def cellAt(lon: Column, lat: Column, res: Int): Column =
    lit(res.toLong << CellIndex.ResShift)
      .bitwiseOR(shiftleft(gridX(lon, res), CellIndex.XShift))
      .bitwiseOR(gridY(lat, res))

  /** Grid column of `lon` at `res`: floor((lon + 180) / 360 · width),
    * cast to long and clamped to [0, width(res) - 1] — the x of
    * [[CellIndex.cellAt]], so lon = 180 falls in the last column. */
  def gridX(lon: Column, res: Int): Column =
    clampToGrid(floor((lon + 180.0) / 360.0 * CellIndex.width(res)).cast("long"), res)

  /** Grid row of `lat` at `res` — the y of [[CellIndex.cellAt]]. */
  def gridY(lat: Column, res: Int): Column =
    clampToGrid(floor((lat + 90.0) / 180.0 * CellIndex.width(res)).cast("long"), res)

  private def clampToGrid(v: Column, res: Int): Column = {
    val n = CellIndex.width(res)
    when(v < 0, lit(0L)).when(v >= n, lit(n - 1)).otherwise(v)
  }

  /** DuckDB SQL mirror of [[cellAt]] for oracle queries. */
  def cellAtSql(lon: String, lat: String, res: Int): String = {
    val n = CellIndex.width(res)
    def clamp(v: String): String =
      s"LEAST(GREATEST($v, 0), ${n - 1})"
    val cx = clamp(s"CAST(FLOOR(($lon + 180.0) / 360.0 * $n) AS BIGINT)")
    val cy = clamp(s"CAST(FLOOR(($lat + 90.0) / 180.0 * $n) AS BIGINT)")
    s"((${res.toLong << CellIndex.ResShift}::BIGINT) | ($cx << ${CellIndex.XShift}) | $cy)"
  }

  /** Parent at a coarser resolution, as a Column (bit arithmetic only). */
  def parentAt(cell: Column, fromRes: Int, toRes: Int): Column = {
    require(toRes <= fromRes)
    val shift = fromRes - toRes
    val cx = shiftright(cell, CellIndex.XShift).bitwiseAND(lit(CellIndex.AxisMask))
    val cy = cell.bitwiseAND(lit(CellIndex.AxisMask))
    lit(toRes.toLong << CellIndex.ResShift)
      .bitwiseOR(shiftleft(shiftright(cx, shift), CellIndex.XShift))
      .bitwiseOR(shiftright(cy, shift))
  }

  /** kRing as an array Column (for explode-based ring expansion);
    * longitude wraps, latitude clamps — mirrors [[CellIndex.kRing]]. */
  def kRingArray(cell: Column, k: Int, res: Int): Column = {
    val n = CellIndex.width(res)
    val cx = shiftright(cell, CellIndex.XShift).bitwiseAND(lit(CellIndex.AxisMask))
    val cy = cell.bitwiseAND(lit(CellIndex.AxisMask))
    val cells = for (dy <- -k to k; dx <- -k to k) yield {
      val yy = cy + dy
      val xx = pmod(cx + dx, lit(n))
      when(yy >= 0 && yy < n,
        lit(res.toLong << CellIndex.ResShift)
          .bitwiseOR(shiftleft(xx, CellIndex.XShift)).bitwiseOR(yy))
    }
    filter(array(cells: _*), c => c.isNotNull)
  }
}
