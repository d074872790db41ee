package graftbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.synth.SynthUniverse

/** Seeded input generators. The program only ever receives the frames
  * (or parquet tables) built here; the seed fixes the page text, the
  * replica shifts, the ring radii and phases, the change stream's
  * actions and the batch boundaries. Sizes are fixed per workload, so
  * different seeds give different inputs of the same amount of work. */
object Inputs {
  private val filler = Seq("the", "data", "page", "city", "river", "road", "north",
    "south", "park", "street", "market", "station", "bridge", "hill", "lake", "tower",
    "school", "museum", "harbor", "square", "valley", "forest", "coast", "garden")

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Web pages (doc_id, text): 30 tokens each, a quarter of them
    * gazetteer words, so geo-entity extraction finds ~5 entities a page. */
  def documents(s: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = rng(seed, 1)
    val gaz = SynthUniverse.Gazetteer
    val rows = (1 to n).map { id =>
      val words = Seq.fill(30)(
        if (r.nextInt(4) == 0) gaz(r.nextInt(gaz.size)) else filler(r.nextInt(filler.size)))
      (id.toLong, words.mkString(" "))
    }
    s.createDataFrame(rows).toDF("doc_id", "text")
  }

  /** Per-replica (dx, dy) shifts: a fixed 16 × 8 grid of offsets (the
    * spread graft.Bench uses) plus a seeded jitter of up to ±0.6°, so
    * every seed moves each replica's points to new cells while keeping
    * the same density. */
  def replicaShifts(seed: Long, replicas: Int): (Array[Double], Array[Double]) = {
    val r = rng(seed, 2)
    val dx = Array.tabulate(replicas)(i => (i % 16 - 8) * 2.37 + (r.nextDouble() - 0.5) * 1.2)
    val dy = Array.tabulate(replicas)(i => (i / 16 % 8 - 4) * 1.93 + (r.nextDouble() - 0.5) * 1.2)
    (dx, dy)
  }

  /** orders(o_orderkey): the key table SynthUniverse derives the OSM
    * layers from (ways, corner nodes, relations). */
  def orders(s: SparkSession, n: Int): DataFrame =
    s.range(1, n + 1L).select(col("id").as("o_orderkey"))

  /** events(event_id, ts, user_id): the change stream SynthUniverse maps
    * to OsmChange ops. The seed sets user_id (hence each op's action and
    * version) and the timestamps' jitter. */
  def events(s: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = rng(seed, 3)
    val rows = (0 until n).map { i =>
      (i.toLong, new java.sql.Timestamp(1704067200000L + i * 60000L + r.nextInt(60000)),
        r.nextInt(1000).toLong)
    }
    s.createDataFrame(rows).toDF("event_id", "ts", "user_id")
  }

  /** Concave stars inscribed in each way's rectangle: 32–64 vertices
    * alternating between an outer radius (85–100% of the half-extent)
    * and an inner one (35–60% of it), with a seeded phase. The bbox
    * test passes for many points the ring rejects, and cells strictly
    * inside a star exist, so the refine does real work. */
  def starRings(s: SparkSession, seed: Long, ways: Seq[(Long, Double, Double, Double, Double)]): DataFrame = {
    val rows = ways.map { case (id, x0, y0, w, h) =>
      val r = rng(seed, 1000003L * id + 4)
      val k = 2 * (16 + r.nextInt(17))
      val a = 0.85 + 0.15 * r.nextDouble()
      val q = 0.35 + 0.25 * r.nextDouble()
      val phase = r.nextDouble() * 2 * math.Pi / k
      val cx = x0 + w / 2
      val cy = y0 + h / 2
      val pts = (0 until k).map { i =>
        val t = phase + 2 * math.Pi * i / k
        val rr = if (i % 2 == 0) a else a * q
        (cx + w / 2 * rr * math.cos(t), cy + h / 2 * rr * math.sin(t))
      }
      val ring = pts :+ pts.head
      (id, ring.map(_._1).toArray, ring.map(_._2).toArray)
    }
    s.createDataFrame(rows).toDF("way_id", "xs", "ys")
  }

  /** Consecutive event windows [lo, hi) of `target` events ±5%
    * (seeded), covering `[0, n)`. The jitter moves every boundary but
    * keeps the work per batch within a few percent across seeds. */
  def batchBounds(seed: Long, n: Int, target: Int): Seq[(Long, Long)] = {
    val r = rng(seed, 5)
    Iterator.iterate((0L, 0L)) { case (_, hi) =>
      (hi, math.min(n.toLong, hi + (target * (0.95 + 0.1 * r.nextDouble())).toLong))
    }.drop(1).takeWhile { case (lo, _) => lo < n }.toSeq
  }
}
