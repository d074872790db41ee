package graft.geo

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Z-order encoding: parity (scalar == column), z-interval
  * decomposition soundness, and its advantage over the corner envelope
  * on a box straddling the space's midlines. The z layout's pruning
  * and exactness are pinned by SnapshotTableSpec (`readBbox`) and
  * SnapshotZMergeSpec (merge-on-read). */
class ZOrderSpec extends SparkTestBase {

  private val bits = 16

  // straddles (0, 0) — the single corner-envelope interval would
  // degenerate to ~3/4 of the z space here; the decomposition must not
  private val box = (-20.0, 16.0, -10.0, 12.5)

  test("scalar zOf == column zValue across random + corner coordinates") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val sample = Seq.fill(300)(
      (rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 180.0 - 90.0)) ++
      Seq((-180.0, -90.0), (180.0, 90.0), (0.0, 0.0), (179.99999, 89.99999))
    val rows = sample.toDF("lon", "lat")
      .withColumn("z", ZOrder.zValue(col("lon"), col("lat"), bits))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) == ZOrder.zOf(r.getDouble(0), r.getDouble(1), bits),
        s"(${r.getDouble(0)}, ${r.getDouble(1)})")
    }
  }

  test("zIntervals: bounded, ordered, disjoint, and sound for every box point") {
    val rnd = new scala.util.Random(13)
    (1 to 500).foreach { _ =>
      val a = rnd.nextDouble() * 360.0 - 180.0
      val b = rnd.nextDouble() * 360.0 - 180.0
      val c = rnd.nextDouble() * 180.0 - 90.0
      val d = rnd.nextDouble() * 180.0 - 90.0
      val (x0, x1) = (math.min(a, b), math.max(a, b))
      val (y0, y1) = (math.min(c, d), math.max(c, d))
      val ivs = ZOrder.zIntervals(x0, x1, y0, y1, bits)
      assert(ivs.nonEmpty && ivs.length <= 16)
      ivs.sliding(2).foreach {
        case Seq(p, q) => assert(p._2 < q._1, s"overlap/unordered: $p $q")
        case _ =>
      }
      (1 to 20).foreach { _ =>
        val px = x0 + rnd.nextDouble() * (x1 - x0)
        val py = y0 + rnd.nextDouble() * (y1 - y0)
        val z = ZOrder.zOf(px, py, bits)
        assert(ivs.exists(iv => z >= iv._1 && z <= iv._2),
          s"box=($x0,$y0)-($x1,$y1) p=($px,$py) z=$z not covered by $ivs")
      }
    }
  }

  test("decomposition beats the corner envelope on a midline-straddling box") {
    val ivs = ZOrder.zIntervals(box._1, box._2, box._3, box._4, bits)
    val covered = ivs.map(iv => iv._2 - iv._1 + 1).sum.toDouble
    val envelope = ZOrder.zOf(box._2, box._4, bits) - ZOrder.zOf(box._1, box._3, bits) + 1
    val total = math.pow(2.0, 2.0 * bits)
    assert(envelope.toDouble / total > 0.5, "test premise: envelope degenerates")
    assert(covered / total < 0.10,
      s"decomposition should cover <10% of z space, covered ${covered / total}")
  }
}
