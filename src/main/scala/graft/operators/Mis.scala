package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deterministic maximal-independent-set (Luby's algorithm with FIXED
  * per-vertex priorities): each round, every active vertex whose
  * (priority, id) is a strict local minimum among its ACTIVE neighbors
  * joins the set; it and its neighbors deactivate. Fixed priorities
  * make the fixpoint equal the sequential greedy-by-priority MIS —
  * fully deterministic across engines, at the cost of more rounds than
  * re-randomizing Luby (still O(log n) for hash-scattered priorities).
  *
  * MIS is the distributed symmetry-breaker behind canonical-pick /
  * scheduling / coloring steps; here it is the operator face a dedup
  * pipeline uses to pick pairwise-non-conflicting representatives.
  *
  * Shape per round: two semi-joins restrict edges to active×active,
  * one map-side-combined min on (priority, id) per endpoint, one
  * comparison, two anti-joins — all equi-joins on the vertex key, no
  * window, no sort, no broadcast of the graph. Active/MIS frames are
  * localCheckpoint'd so the plan stays O(1) across rounds. FAIL-LOUD
  * round bound, like [[KCore]].
  */
object Mis {

  private def pri(c: org.apache.spark.sql.Column) =
    pmod(c * 2654435761L, lit(1000003L))

  /** MIS vertices of the undirected simple graph `edges` (u, v; each
    * edge once). Returns (node).
    *
    * Under the [[DriverGraph]] cap the driver simulates the IDENTICAL
    * fixed-priority Luby rounds — same winners, same round accounting,
    * same fail-loud bound. */
  def of(edges: DataFrame, maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val uv = edges.select(col("u"), col("v"))
    DriverGraph.collectUnder(uv) match {
      case Some(rows) =>
        val es = DriverGraph.pairs(rows)
        def priL(x: Long): Long = {
          val m = (x * 2654435761L) % 1000003L
          if (m < 0) m + 1000003L else m
        }
        var active = es.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
        val mis = scala.collection.mutable.Set[Long]()
        var rounds = 0
        while (active.nonEmpty) {
          if (rounds >= maxRounds)
            throw new IllegalStateException(
              s"MIS did not converge in $maxRounds rounds (still ${active.size} active)")
          // min (priority, id) over ACTIVE neighbors, per active vertex
          val nbrMin = new scala.collection.mutable.LongMap[(Long, Long)]()
          def upd(x: Long, o: Long): Unit = {
            val cand = (priL(o), o)
            val cur = nbrMin.getOrElse(x, null)
            if (cur == null || cand._1 < cur._1 ||
              (cand._1 == cur._1 && cand._2 < cur._2)) nbrMin(x) = cand
          }
          es.foreach { case (u, v) =>
            if (active(u) && active(v)) { upd(u, v); upd(v, u) }
          }
          val winners = active.filter { x =>
            nbrMin.get(x) match {
              case None => true
              case Some((p, i)) =>
                val px = priL(x)
                px < p || (px == p && x < i)
            }
          }
          val killed = scala.collection.mutable.Set[Long]()
          es.foreach { case (u, v) =>
            if (active(u) && active(v)) {
              if (winners(u)) killed += v
              if (winners(v)) killed += u
            }
          }
          mis ++= winners
          active = active -- winners -- killed
          rounds += 1
        }
        return DriverGraph.toDf(spark, Seq("node"), mis.toArray.map(Row(_)))
      case None =>
    }
    val e = uv.cache()
    try {
      var active = e.select(col("u").as("x")).unionByName(e.select(col("v").as("x")))
        .distinct().localCheckpoint()
      var mis = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], active.schema).localCheckpoint()
      var n = active.count()
      var rounds = 0
      while (n > 0) {
        if (rounds >= maxRounds)
          throw new IllegalStateException(
            s"MIS did not converge in $maxRounds rounds (still $n active)")
        val ea = e
          .join(active.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
          .join(active.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
        // per active vertex: min (priority, id) over active neighbors
        val nbrMin = ea.select(col("u").as("x"), col("v").as("o"))
          .unionByName(ea.select(col("v").as("x"), col("u").as("o")))
          .groupBy(col("x"))
          .agg(min(struct(pri(col("o")).as("p"), col("o").as("i"))).as("nm"))
        // a vertex with NO active neighbor wins unconditionally
        val winners = active.join(nbrMin, Seq("x"), "left")
          .filter(col("nm").isNull ||
            struct(pri(col("x")).as("p"), col("x").as("i")) < col("nm"))
          .select(col("x")).localCheckpoint()
        val killed = ea.join(winners.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
          .select(col("v").as("x"))
          .unionByName(
            ea.join(winners.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
              .select(col("u").as("x")))
          .distinct()
        mis = mis.unionByName(winners).localCheckpoint()
        active = active
          .join(winners, Seq("x"), "left_anti")
          .join(killed, Seq("x"), "left_anti")
          .localCheckpoint()
        n = active.count()
        rounds += 1
      }
      mis.select(col("x").as("node"))
    } finally e.unpersist()
  }
}
