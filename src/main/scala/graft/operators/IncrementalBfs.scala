package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of bounded-hop multi-source BFS distances
  * under an edge-rewire batch (q253's engine; the reachability member
  * of the IVM family next to [[IncrementalPageRank]]).
  *
  * Halo proof: a node's K-hop distance is a min over seed paths, and a
  * path's length changes only if it crosses a changed edge u→w; every
  * such w lands in D = old ∪ new out-neighbors of the changed sources,
  * and the path's suffix w→…→x has length ≤ K−1 in whichever graph
  * carried it (a vanished OLD path rides base edges, a new path rides
  * post edges). So only nodes reachable from D within K−1 hops in the
  * UNION graph can change; every other live node's stored distance
  * passes through one anti-join, and halo nodes re-derive by K
  * relaxation rounds over post edges INTO the halo, reading boundary
  * distances from the stored (provably unchanged) layer.
  */
object IncrementalBfs {

  /** @param postDocs  live nodes after the batch (doc_id)
    * @param baseLinks pre-change edges (src, dst)
    * @param postLinksAll post-change edges BEFORE dangling-dst removal
    * @param changedSrc sources whose out-edges changed (src) —
    *   rewired AND deleted docs
    * @param stored    pre-change distances (doc_id, hops)
    * @param seedsPost live seed set (doc_id)
    * @return (doc_id, hops) for the post graph, unreached absent */
  def maintain(postDocs: DataFrame, baseLinks: DataFrame,
      postLinksAll: DataFrame, changedSrc: DataFrame, stored: DataFrame,
      seedsPost: DataFrame, k: Int): DataFrame = {
    // [[DriverGraph]] fast path: the IDENTICAL halo + relaxation
    // recurrence below, on the collected graph. Base and post edges
    // share one gate, tagged 0/1.
    val tagged = baseLinks.select(col("src"), col("dst"), lit(0L).as("post"))
      .unionByName(postLinksAll.select(col("src"), col("dst"), lit(1L).as("post")))
    def ids(df: DataFrame, c: String): Option[Array[Long]] =
      DriverGraph.collectUnder(df.select(col(c))).map(_.map(_.getLong(0)))
    val collected = for {
      edges <- DriverGraph.collectUnder(tagged)
      liveIds <- ids(postDocs, "doc_id")
      changedIds <- ids(changedSrc, "src")
      storedRows <- DriverGraph.collectUnder(stored.select(col("doc_id"), col("hops")))
      seedIds <- ids(seedsPost, "doc_id")
    } yield (edges, liveIds.toSet, changedIds.toSet, DriverGraph.pairs(storedRows), seedIds.toSet)
    collected match {
      case Some((edges, live, changed, storedM, seedSet)) =>
        val (baseRows, postRows) = edges.partition(_.getLong(2) == 0L)
        val baseE = DriverGraph.pairs(baseRows)
        val postEAll = DriverGraph.pairs(postRows)
        // dangling-dst removal, exactly as the distributed postLinks
        val postE = postEAll.filter(e => live(e._2))
        // d0 = old ∪ new out-neighbors of the changed sources
        val unionE = baseE ++ postEAll
        val d0 = unionE.filter(e => changed(e._1)).map(_._2).distinct
        // halo = (k-1)-ball around d0 in the union graph
        val halo = DriverGraph.bfs(d0, DriverGraph.adjacency(unionE), k - 1)
        // passThrough = live stored nodes outside the halo
        val passThrough = storedM.filter { case (n, _) => live(n) && !halo.contains(n) }
        // relaxation over post edges INTO the live halo
        val edgesIn = postE.filter(e => halo.contains(e._2))
        val preds = scala.collection.mutable.LongMap(passThrough.toIndexedSeq: _*)
        val est = new scala.collection.mutable.LongMap[Long]()
        halo.keys.foreach { n => if (live(n) && seedSet(n)) est.update(n, 0L) }
        for (_ <- 1 to k) {
          val withEst = preds.clone()
          est.foreach { case (n, h) => withEst.update(n, h) }
          val cand = new scala.collection.mutable.LongMap[Long]()
          edgesIn.foreach { case (src, dst) =>
            withEst.get(src).foreach { ph =>
              val c = ph + 1
              if (!cand.get(dst).exists(_ <= c)) cand.update(dst, c)
            }
          }
          cand.foreach { case (n, c) =>
            if (!est.get(n).exists(_ <= c)) est.update(n, c)
          }
        }
        return DriverGraph.toHopsDf(postDocs.sparkSession,
          passThrough ++ est.toArray.filter(_._2 <= k))
      case None =>
    }
    // edges to a deleted dst are dangling — traversal may not continue
    val postLinks = postLinksAll
      .join(postDocs.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
    val d0 = baseLinks.join(changedSrc, Seq("src"), "left_semi")
      .select(col("dst").as("doc_id"))
      .union(postLinksAll.join(changedSrc, Seq("src"), "left_semi")
        .select(col("dst").as("doc_id")))
      .distinct()
    // Both loops below reference their previous round MULTIPLE times,
    // and passThrough (which embeds the stored layer's own iterative
    // DAG) rides in EVERY relaxation round — without per-round
    // localCheckpoint + caches the lazy DAG re-evaluates the whole
    // ancestry exponentially (measured 334 s at sf0.1 before the fix,
    // ~2 s after; the q119/q124 iterative-plan convention).
    val unionLinks = baseLinks.unionByName(postLinksAll).distinct().cache()
    var halo = d0.localCheckpoint(true)
    for (_ <- 1 until k) {
      halo = halo.union(
          halo.join(unionLinks, halo("doc_id") === unionLinks("src"))
            .select(col("dst").as("doc_id")))
        .distinct()
        .localCheckpoint(true)
    }
    val haloLive = halo.join(postDocs, Seq("doc_id"), "left_semi").cache()
    val passThrough = stored
      .join(postDocs, Seq("doc_id"), "left_semi")
      .join(haloLive, Seq("doc_id"), "left_anti")
      .cache()
    val edgesIn = postLinks
      .join(haloLive.withColumnRenamed("doc_id", "dst"), Seq("dst"), "left_semi")
      .cache()
    val inf = lit(Long.MaxValue)
    var est = haloLive.join(
        seedsPost.select(col("doc_id"), lit(0L).as("hops")), Seq("doc_id"), "left")
      .localCheckpoint(true)
    for (_ <- 1 to k) {
      val preds = passThrough.unionByName(est.filter(col("hops").isNotNull))
        .select(col("doc_id").as("src"), col("hops").as("ph"))
      val cand = edgesIn.join(preds, Seq("src"))
        .groupBy(col("dst")).agg(min(col("ph") + 1).as("cand"))
        .withColumnRenamed("dst", "doc_id")
      est = est.join(cand, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(coalesce(col("hops"), inf), coalesce(col("cand"), inf)).as("h2"))
        .select(col("doc_id"),
          when(col("h2") === inf, lit(null).cast("long"))
            .otherwise(col("h2")).as("hops"))
        .localCheckpoint(true)
    }
    passThrough.unionByName(
      est.filter(col("hops").isNotNull && col("hops") <= k))
  }
}
