package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions.col

/** k-core peeling: exact agreement with a brute-force sequential peel
  * on random graphs, a planted cascade (path + clique) that needs many
  * rounds, and the fail-loud round bound. */
class KCoreSpec extends SparkTestBase {
  import spark.implicits._

  private def edgeDf(pairs: Seq[(Long, Long)]) =
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).distinct.toDF("u", "v")

  /** brute sequential peel: remove min-degree < k vertices one at a
    * time (order-independent result) until fixpoint. */
  private def bruteCore(pairs: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var edges = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).distinct
    var changed = true
    while (changed) {
      val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (v, xs) => v -> xs.size }
      val drop = deg.collect { case (v, d) if d < k => v }.toSet
      changed = drop.nonEmpty
      edges = edges.filterNot(e => drop(e._1) || drop(e._2))
    }
    edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, xs) => v -> xs.size }
  }

  test("matches brute-force peel on deterministic random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3; k <- Seq(2, 3, 4)) {
      val pairs = Seq.fill(120 + trial * 40) {
        (rnd.nextInt(35).toLong, rnd.nextInt(35).toLong)
      }.filter(p => p._1 != p._2)
      val want = bruteCore(pairs, k)
      // default = driver fast path; cap 0 forces the distributed
      // peel — both must match the brute-force reference
      val got = KCore.membership(edgeDf(pairs), k, maxRounds = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      assert(got == want, s"trial $trial k=$k (fast path)")
      val gotDist = withCap(0L) {
        KCore.membership(edgeDf(pairs), k, maxRounds = 40)
          .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
      }
      assert(gotDist == want, s"trial $trial k=$k (distributed)")
    }
  }

  test("planted cascade: a path feeding a clique peels one vertex per round") {
    // path 1-2-...-10 attached to a 4-clique {11,12,13,14} at 11.
    // k=2: path endpoints peel one per round (10 rounds), clique stays.
    val path = (1L until 10L).map(i => (i, i + 1)) :+ (10L, 11L)
    val clique = for {
      a <- 11L to 14L; b <- 11L to 14L if a < b
    } yield (a, b)
    val out = KCore.membership(edgeDf(path ++ clique), k = 2, maxRounds = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(11L, 12L, 13L, 14L))
    assert(out.values.forall(_ == 3L))
    // and the bound is real on BOTH paths: too few rounds fails loud,
    // never silently (the fast path simulates the identical rounds)
    val ex = intercept[IllegalStateException] {
      KCore.membership(edgeDf(path ++ clique), k = 2, maxRounds = 3)
    }
    assert(ex.getMessage.contains("did not converge"))
    val cacheWasEmpty = spark.sharedState.cacheManager.isEmpty
    val exDist = intercept[IllegalStateException] {
      withCap(0L) { KCore.membership(edgeDf(path ++ clique), k = 2, maxRounds = 3) }
    }
    assert(exDist.getMessage.contains("did not converge"))
    assert(!cacheWasEmpty || spark.sharedState.cacheManager.isEmpty,
      "the distributed peel left its edge cache behind after the throw")
    // and, also when another suite left a cache behind, not this one
    assert(spark.sharedState.cacheManager.lookupCachedData(
      castToImpl(edgeDf(path ++ clique).select(col("u"), col("v")))).isEmpty,
      "this graph's edge cache is still held after the throw")
  }
}
