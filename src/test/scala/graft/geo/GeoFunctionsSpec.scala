package graft.geo

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The Column mirrors must agree with [[CellIndex]] exactly — the
  * ring-kNN probe and the tile pyramid are only correct if the codegen
  * arithmetic and the Scala arithmetic are the same function. */
class GeoFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic sample biased toward the awkward spots: poles,
  // antimeridian, grid edges, and points on or past the edge that the
  // grid clamps into its first or last cell
  private val pts: Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(7)
    Seq((-180.0, -90.0), (179.999, 89.999), (0.0, 0.0), (-179.9, 89.9),
      (179.9, -89.9), (0.001, -0.001), (180.0, 90.0), (-180.0001, -90.0001),
      (540.0, 200.0)) ++
      Seq.fill(40)((rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90))
  }

  test("cellAt / parentAt / kRingArray mirror CellIndex bit-for-bit") {
    for (res <- Seq(3, 5, 8); k <- Seq(1, 3)) {
      val df = pts.toDF("lon", "lat")
        .select(col("lon"), col("lat"),
          GeoFunctions.cellAt(col("lon"), col("lat"), res).as("c"),
          GeoFunctions.gridX(col("lon"), res).as("gx"),
          GeoFunctions.gridY(col("lat"), res).as("gy"),
          GeoFunctions.parentAt(
            GeoFunctions.cellAt(col("lon"), col("lat"), res), res, res - 2).as("p"),
          GeoFunctions.kRingArray(
            GeoFunctions.cellAt(col("lon"), col("lat"), res), k, res).as("ring"))
      df.as[(Double, Double, Long, Long, Long, Long, Seq[Long])].collect().foreach {
        case (lon, lat, c, gx, gy, p, ring) =>
          val want = CellIndex.cellAt(lon, lat, res)
          assert(c === want, s"cellAt($lon,$lat,$res)")
          assert((gx, gy) === (CellIndex.x(want), CellIndex.y(want)), s"grid($lon,$lat,$res)")
          assert(p === CellIndex.parentAt(want, res - 2), s"parentAt($lon,$lat)")
          assert(ring.toSet === CellIndex.kRing(want, k).toSet,
            s"kRing($lon,$lat,res=$res,k=$k)")
      }
    }
  }
}
