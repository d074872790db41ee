package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The alternating-star CC operator: correctness on mixed topologies
  * and the O(log n) round bound on a long chain — the case where
  * min-label propagation (q49's plan) would need O(n) rounds. */
class ConnectedComponentsSpec extends SparkTestBase {
  import spark.implicits._

  test("1024-node chain resolves in O(log n) rounds with one component") {
    // chain 0-1-2-...-1023: diameter 1023. Label propagation needs
    // ~1023 rounds; alternating star must land well under 2*log2(n)+4.
    val edges = (0L until 1023L).map(i => (i, i + 1)).toDF("u", "v")
    // cap 0 forces the distributed star rounds — this test exists to
    // prove the O(log n) round bound, not the fast path
    val (labels, rounds) = withCap(0L) { ConnectedComponents.alternatingStar(edges) }
    assert(rounds <= 24, s"took $rounds rounds on a 1024-chain")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1024)
    assert(got.values.forall(_ == 0L), "every chain node must label 0")
  }

  test("disjoint components, hub star, and a cycle all label to component min") {
    // component A: hub 5 with spokes 6..25; component B: cycle
    // 100-101-102-103-100; component C: single edge (7,9)... 7 is in A?
    // no — keep C disjoint: (200, 201)
    val hub = (6L to 25L).map(i => (5L, i))
    val cycle = Seq((100L, 101L), (101L, 102L), (102L, 103L), (103L, 100L))
    val pair = Seq((200L, 201L))
    val edges = (hub ++ cycle ++ pair).toDF("u", "v")
    val (labels, _) = ConnectedComponents.alternatingStar(edges)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((6L to 25L).forall(got(_) == 5L) && got(5L) == 5L)
    assert((100L to 103L).forall(got(_) == 100L))
    assert(got(200L) == 200L && got(201L) == 200L)
    assert(got.size == 21 + 4 + 2)
  }

  test("driver union-find fast path equals the distributed star on random graphs") {
    // the fast path (edge sets <= cap collect to a driver
    // union-find) must be label-identical to the distributed rounds on
    // arbitrary topologies, including chains, hubs and cycles
    for (seed <- Seq(3L, 17L, 91L)) {
      val edges = (1L to 500L)
        .map(i => ((i * 7919 * seed) % 400, (i * 104729 + seed) % 400))
        .filter { case (a, b) => a != b }
        .toDF("u", "v")
      val (fast, fr) = ConnectedComponents.alternatingStar(edges)
      val (dist, _) = withCap(0L) { ConnectedComponents.alternatingStar(edges) }
      assert(fr == 0, "expected the driver fast path under the default cap")
      val a = fast.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"fast path diverged from distributed star for seed $seed")
    }
  }

  test("agrees with label propagation on a random graph") {
    // deterministic pseudo-random edges over 300 nodes
    val edges = (1L to 400L)
      .map(i => ((i * 7919) % 300, (i * 104729) % 300))
      .filter { case (a, b) => a != b }
      .toDF("u", "v")
    val (labels, _) = ConnectedComponents.alternatingStar(edges)
    // reference: tiny driver-side union-find over the same edges
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = component MIN: path-compress with min-union
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val mins = nodes.groupBy(find).map { case (_, ns) => ns.min }.toSet
    val expect = nodes.map(n => n -> nodes.filter(m => find(m) == find(n)).min).toMap
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    assert(mins == got.values.toSet)
  }
}
