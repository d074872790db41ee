package graft.operators

import graft.{Bench, SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DriverGraph fast paths must be row-identical to the distributed
  * round loops they replace — toggled via spark.graft.graphDriverEdgeCap
  * (0 = force the distributed path) — and the gate must read a bounded
  * prefix of its input, never all of it. */
class GraphFastPathSpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.toVector: Seq[Any]).toSet

  test("bfs-family queries: driver fast path equals distributed rounds") {
    for (q <- Seq("q161_bfs_hops", "q264_scc_mutual", "q253_incremental_bfs",
        "q251_harmonic_centrality", "q274_temporal_reach",
        "q291_hyperball", "q119_cc_alternating_star", "q191_kcore", "q196_mis")) {
      val fast = rows(SparkEntry.queries(q)(spark, sfSmoke))
      Bench.clearState(spark)
      val dist = withCap(0L) { rows(SparkEntry.queries(q)(spark, sfSmoke)) }
      Bench.clearState(spark)
      assert(fast == dist, s"$q fast path diverged from the distributed loop")
      assert(fast.nonEmpty, s"$q returned no rows")
    }
  }

  test("IncrementalBfs.maintain fast path equals distributed on random rewires") {
    for (seed <- Seq(5L, 23L)) {
      val n = 300L
      val docs = spark.range(n).select(col("id").as("doc_id"))
      val baseLinks = docs.select(col("doc_id").as("src"),
        explode(array((1 to 3).map(k =>
          pmod(col("doc_id") * 31 + k * 7, lit(n))): _*)).as("dst"))
      val postDocs = docs.filter(pmod(col("doc_id") + seed, lit(13)) =!= 5)
      val postLinksAll = postDocs.select(col("doc_id").as("src"),
        explode(array((1 to 3).map(k =>
          when(pmod(col("doc_id") + seed, lit(7)) === 3,
            pmod(col("doc_id") * 37 + k * 11 + seed, lit(n)))
            .otherwise(pmod(col("doc_id") * 31 + k * 7, lit(n)))): _*)).as("dst"))
      val changedSrc = docs
        .filter(pmod(col("doc_id") + seed, lit(7)) === 3 ||
          pmod(col("doc_id") + seed, lit(13)) === 5)
        .select(col("doc_id").as("src"))
      val seeds = docs.filter(col("doc_id") % 50 === 0)
      // stored = exact base-graph BFS, computed through maintain's own
      // contract inputs (distributed bfs via an empty change batch
      // would be circular — use a driver reference instead)
      val baseEdges = baseLinks.collect().map(r => (r.getLong(0), r.getLong(1)))
      val storedRef = DriverGraph.bfs(
        seeds.collect().map(_.getLong(0)), DriverGraph.adjacency(baseEdges), 4)
      val stored = DriverGraph.toHopsDf(spark, storedRef)
      val seedsPost = seeds.join(postDocs, Seq("doc_id"), "left_semi")
      val fast = rows(IncrementalBfs.maintain(postDocs, baseLinks,
        postLinksAll, changedSrc, stored, seedsPost, 4))
      Bench.clearState(spark)
      val dist = withCap(0L) { rows(IncrementalBfs.maintain(postDocs, baseLinks,
        postLinksAll, changedSrc, stored, seedsPost, 4)) }
      Bench.clearState(spark)
      assert(fast == dist, s"maintain fast path diverged for seed $seed")
      assert(fast.nonEmpty)
    }
  }

  test("collectUnder over the cap reads at most cap + 1 rows per partition") {
    val seen = spark.sparkContext.longAccumulator("collectUnder rows read")
    val counted = udf((x: Long) => { seen.add(1L); x }).asNondeterministic()
    val input = spark.range(0L, 100000L, 1L, 4)
      .select(counted(col("id")).as("u"), col("id").as("v"))
    assert(input.rdd.getNumPartitions == 4)
    assert(withCap(10L) { DriverGraph.collectUnder(input) }.isEmpty)
    info(s"the gate read ${seen.value} of 100000 rows")
    assert(seen.value <= 4L * 11L, s"the gate read ${seen.value} rows")
  }

  test("collectUnder under the cap: one job for one partition, two for four") {
    import org.apache.spark.JobCounter
    for ((parts, jobs) <- Seq(1 -> 1, 4 -> 2)) {
      // RDD-backed: a frame whose row count the optimizer knows (a range)
      // has its limit removed, and then collects in one job anyway
      val input = spark.sparkContext.parallelize(0L until 100L, parts).toDF("u")
        .select(col("u"), col("u").as("v"))
      val (got, n) = JobCounter(spark.sparkContext)(DriverGraph.collectUnder(input))
      assert(got.map(_.length).contains(100))
      assert(n.jobs == jobs, s"$parts partitions: ${n.jobs} jobs")
    }
  }

  test("collectUnder: cap 0 takes the distributed path even on an empty input") {
    val empty = spark.range(0L).select(col("id").as("u"), col("id").as("v"))
    assert(withCap(0L) { DriverGraph.collectUnder(empty) }.isEmpty)
    assert(DriverGraph.collectUnder(empty).exists(_.isEmpty))
  }
}
