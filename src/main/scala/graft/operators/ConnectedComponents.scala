package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components via the alternating LARGE-STAR / SMALL-STAR
  * recurrence (the standard MapReduce CC algorithm) — the 100 TB path
  * for HIGH-DIAMETER graphs.
  *
  * Each round is two per-node min computations (one shuffle each, no
  * join) and the edge set converges to stars in O(log n) rounds on ANY
  * topology; min-label propagation (q49's plan) needs O(component
  * diameter) join rounds instead — a 10^4-long chain of near-dups
  * would need 10^4 rounds there, ~14 here ([[ConnectedComponentsSpec]]
  * proves the bound on a planted chain). Per-node mins use a
  * whole-partition window, so a hub's neighborhood never materializes
  * as a single collect_list row.
  *
  * Reference semantics: cluster id = component-min node id, the same
  * contract as q49's label propagation and the recursive-CTE oracle.
  */
object ConnectedComponents {

  /** Single-pass min-root union-find over collected (u, v) edges:
    * roots only ever link under smaller ids, so each fixpoint root IS
    * its component's minimum — the same label contract as the star
    * fixpoint and the recursive-CTE oracle. */
  private[operators] def unionFindLabels(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new scala.collection.mutable.LongMap[Long](es.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r && parent.getOrElse(c, c) != r) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    es.foreach { case (u, v) =>
      if (!parent.contains(u)) parent.update(u, u)
      if (!parent.contains(v)) parent.update(v, v)
      val ru = find(u); val rv = find(v)
      if (ru < rv) parent(rv) = ru
      else if (rv < ru) parent(ru) = rv
    }
    parent.keys.toArray.map(n => (n, find(n)))
  }

  /** @param pairs two columns (u, v) of undirected edges (self-loops
    *              ignored); any additional columns are dropped
    * @return (labels(doc_id, cluster_id), rounds taken — 0 on the
    *         [[DriverGraph]] fast path, a union-find over the edges)
    */
  def alternatingStar(pairs: DataFrame, maxRounds: Int = 30): (DataFrame, Int) = {
    // localCheckpoint (not cache) at the input boundary and EVERY
    // round: each round's plan references `edges` four times, so
    // without plan TRUNCATION the logical tree grows 4^rounds on top
    // of whatever DAG produced the input (q124 feeds the full
    // incremental-LSH DAG here) — Catalyst plan stringification alone
    // then OOMs. Checkpointing bounds every round's plan at a constant
    // over a LogicalRDD leaf; the materialization per round is the
    // edge set the round computes anyway.
    var edges = pairs.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    DriverGraph.collectUnder(edges) match {
      case Some(rows) =>
        edges.unpersist()
        val labels = unionFindLabels(DriverGraph.pairs(rows))
          .map { case (n, l) => Row(n, l) }
        return (DriverGraph.toDf(pairs.sparkSession, Seq("doc_id", "cluster_id"), labels), 0)
      case None =>
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxRounds) {
      // LARGE-STAR: symmetrize; every neighbor v > u attaches to
      // m = min(Γ(u) ∪ {u})
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val wU = Window.partitionBy(col("u"))
      val large = sym
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // SMALL-STAR: orient toward the smaller endpoint; every small
      // neighbor AND u itself attach to m = min(N(u) ∪ {u})
      val oriented = large.distinct()
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
      val withM = oriented.withColumn("m", min(col("v")).over(wU))
      val step = withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
      val next = step.localCheckpoint()
      // counts-first equality: both sides are distinct sets, so equal
      // counts + empty (next \ edges) proves set equality with ONE
      // except job instead of two (counts on checkpointed data are
      // shuffle-free)
      converged = next.count() == edges.count() && next.except(edges).isEmpty
      edges.unpersist()
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"alternating star did not converge within $maxRounds rounds")
    // the fixpoint must be star-shaped (no node is both a leaf and a
    // center) — anything else would silently mislabel a component
    if (!edges.select(col("v")).distinct()
        .join(edges.select(col("u")), col("v") === col("u"), "left_semi")
        .isEmpty)
      throw new IllegalStateException("alternating-star fixpoint is not star-shaped")
    // fixpoint = stars: every leaf points at its component min; the
    // centers label themselves
    val labels = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("cluster_id"))
        .distinct())
    (labels, iter)
  }
}
