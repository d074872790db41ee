package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions.col

/** Fixed-priority Luby MIS: independence + maximality on random
  * graphs, equality with the sequential greedy-by-priority reference
  * (the fixpoint the fixed priorities force), and the fail-loud round
  * bound. */
class MisSpec extends SparkTestBase {
  import spark.implicits._

  private def pri(v: Long): (Long, Long) = ((v * 2654435761L) % 1000003L, v)

  private def edgeDf(pairs: Seq[(Long, Long)]) =
    pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(p => p._1 != p._2).distinct.toDF("u", "v")

  /** sequential greedy MIS in (priority, id) order — what the
    * fixed-priority parallel rule converges to. */
  private def greedyMis(pairs: Seq[(Long, Long)]): Set[Long] = {
    val adj = pairs.filter(p => p._1 != p._2)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    var mis = Set.empty[Long]
    for (v <- adj.keys.toSeq.sortBy(pri))
      if (!adj(v).exists(mis)) mis += v
    mis
  }

  test("matches greedy-by-priority and is independent + maximal") {
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(150 + 50 * trial) {
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter(p => p._1 != p._2)
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      // default = driver fast path; cap 0 forces the distributed
      // rounds — both must equal the greedy reference
      val got = Mis.of(edgeDf(pairs), maxRounds = 40)
        .collect().map(_.getLong(0)).toSet
      assert(got == greedyMis(pairs), s"trial $trial (fast path)")
      val gotDist = withCap(0L) {
        Mis.of(edgeDf(pairs), maxRounds = 40).collect().map(_.getLong(0)).toSet
      }
      assert(gotDist == got, s"trial $trial (distributed)")
      assert(got.forall(v => !(adj(v) & got).nonEmpty), "not independent")
      assert(adj.keySet.forall(v => got(v) || (adj(v) & got).nonEmpty),
        "not maximal")
    }
  }

  test("round bound fails loud") {
    // a path chained in ASCENDING priority order peels sequentially
    // (only the head is ever a local minimum) — needs ~n/2 rounds, so
    // bound 2 must throw, not silently truncate
    val byPri = (1L to 30L).sortBy(pri)
    val path = byPri.zip(byPri.tail)
    val ex = intercept[IllegalStateException] {
      Mis.of(edgeDf(path), maxRounds = 2)
    }
    assert(ex.getMessage.contains("did not converge"))
    val cacheWasEmpty = spark.sharedState.cacheManager.isEmpty
    val exDist = intercept[IllegalStateException] {
      withCap(0L) { Mis.of(edgeDf(path), maxRounds = 2) }
    }
    assert(exDist.getMessage.contains("did not converge"))
    assert(!cacheWasEmpty || spark.sharedState.cacheManager.isEmpty,
      "the distributed rounds left their edge cache behind after the throw")
    // and, also when another suite left a cache behind, not this one
    assert(spark.sharedState.cacheManager.lookupCachedData(
      castToImpl(edgeDf(path).select(col("u"), col("v")))).isEmpty,
      "this graph's edge cache is still held after the throw")
  }
}
