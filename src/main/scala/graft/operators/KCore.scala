package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed k-core decomposition (fixed-k membership) by iterative
  * peeling: drop every vertex whose degree among the SURVIVING vertices
  * is below k, until a fixpoint — the standard crawl-graph denoising /
  * community-seed primitive (a vertex is in the k-core iff it survives).
  *
  * Shape per round: two semi-joins restrict the edge set to surviving
  * endpoints, one map-side-combined count builds degrees, one filter
  * peels — all equi-joins on the vertex key, so at crawl scale every
  * round reuses the edge table's hash partitioning and nothing ever
  * sorts or broadcasts the graph. The survivor frame is
  * localCheckpoint'd each round (q49/q119's treatment) so the logical
  * plan stays O(1) across rounds instead of growing a 4x/round DAG.
  *
  * Rounds are bounded by `maxRounds`, FAIL-LOUD (IllegalStateException)
  * if the fixpoint isn't reached — the caller picks a bound proven for
  * its graph family; the paired oracle unrolls the same number of
  * rounds, which is safe because the peel step is idempotent at the
  * fixpoint.
  */
object KCore {

  /** Vertices of the k-core of the undirected simple graph `edges`
    * (columns u, v; each undirected edge once), with their in-core
    * degree. Returns (node, deg).
    *
    * Under the [[DriverGraph]] cap the driver runs the IDENTICAL
    * synchronized peel loop — same rounds, same fail-loud bound, same
    * output. */
  def membership(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val uv = edges.select(col("u"), col("v"))
    DriverGraph.collectUnder(uv) match {
      case Some(rows) =>
        val es = DriverGraph.pairs(rows)
        var surv = es.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
        var n = surv.size
        var rounds = 0
        var stable = false
        while (!stable) {
          if (rounds >= maxRounds)
            throw new IllegalStateException(
              s"k-core peel did not converge in $maxRounds rounds (still $n vertices)")
          val deg = new scala.collection.mutable.LongMap[Int]()
          es.foreach { case (u, v) =>
            if (surv(u) && surv(v)) {
              deg(u) = deg.getOrElse(u, 0) + 1
              deg(v) = deg.getOrElse(v, 0) + 1
            }
          }
          val next = deg.iterator.collect { case (x, d) if d >= k => x }.toSet
          stable = next.size == n
          surv = next
          n = next.size
          rounds += 1
        }
        val deg = new scala.collection.mutable.LongMap[Long]()
        es.foreach { case (u, v) =>
          if (surv(u) && surv(v)) {
            deg(u) = deg.getOrElse(u, 0L) + 1L
            deg(v) = deg.getOrElse(v, 0L) + 1L
          }
        }
        return DriverGraph.toDf(spark, Seq("node", "deg"),
          deg.toArray.map { case (x, d) => Row(x, d) })
      case None =>
    }
    val e = uv.cache()
    try {
      val ends = e.select(col("u").as("x")).unionByName(e.select(col("v").as("x")))
      var surv = ends.distinct().localCheckpoint()
      var n = surv.count()
      var rounds = 0
      var stable = false
      while (!stable) {
        if (rounds >= maxRounds)
          throw new IllegalStateException(
            s"k-core peel did not converge in $maxRounds rounds (still $n vertices)")
        val e2 = e
          .join(surv.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
          .join(surv.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
        val deg = e2.select(col("u").as("x")).unionByName(e2.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("d"))
        val next = deg.filter(col("d") >= k).select(col("x")).localCheckpoint()
        val m = next.count()
        stable = m == n
        surv = next
        n = m
        rounds += 1
      }
      val e2 = e
        .join(surv.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
      e2.select(col("u").as("node")).unionByName(e2.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    } finally e.unpersist()
  }
}
