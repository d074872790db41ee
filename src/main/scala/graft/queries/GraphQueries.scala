package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.DriverGraph

/** Link-graph analytics over a deterministic hyperlink graph derived
  * from the `documents` table — the web-graph signals (PageRank-style
  * authority, later maybe HITS/components) a crawl-scale pipeline
  * computes next to its text signals.
  *
  * The graph: every document links to 3 targets `(doc_id*31 + 7k) % N`
  * (k = 1..3, N = corpus size) — a closed-form multigraph both engines
  * derive identically, out-degree exactly 3.
  *
  * All rank arithmetic is exact-integer (micro-units, truncated
  * division), the same cross-engine determinism trick as q76's k-means:
  * per-edge contributions are integers, their sum is order-insensitive,
  * and the damping step multiplies BEFORE dividing — so Spark's and
  * DuckDB's different aggregation schedules cannot diverge by an ulp.
  */
object GraphQueries {

  /** links(src, dst) for a given corpus size. */
  private def links(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"),
      explode(array((1 to 3).map(k =>
        pmod(col("doc_id") * 31 + k * 7, lit(n))): _*)).as("dst"))

  /** [[links]] over the surviving documents `post` after the standard
    * change batch: a document with doc_id % 7 = 3 re-points its three
    * links. */
  private def linksAfterChange(post: DataFrame, n: Long): DataFrame =
    post.select(col("doc_id").as("src"),
      explode(array((1 to 3).map(k =>
        when(col("doc_id") % 7 === 3, pmod(col("doc_id") * 37 + k * 11, lit(n)))
          .otherwise(pmod(col("doc_id") * 31 + k * 7, lit(n)))): _*)).as("dst"))

  /** The 6-link undirected graph (u, v), u < v: document d links to the
    * first d % 6 + 1 of six targets; self-loops and repeats dropped. */
  private def undirected6(docs: DataFrame, n: Long): DataFrame =
    docs.select(col("doc_id").as("src"),
        explode(filter(array((1 to 6).map(k =>
          when(lit(k) <= col("doc_id") % 6 + 1,
            pmod(col("doc_id") * 31 + k * 7 + k * k, lit(n)))): _*),
          c => c.isNotNull)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** One damped PageRank step: r'(v) = 0.15 + 0.85·Σ r(u)/out(u) in
    * micro-units with truncated integer division. One shuffle on src
    * (the join), one map-side-combined shuffle on dst (the sum); at
    * scale the link table is hash-partitioned on src once and every
    * iteration reuses that exchange. */
  private[graft] def step(docs: DataFrame, lnk: DataFrame, r: DataFrame): DataFrame = {
    val contrib = lnk.join(r, lnk("src") === r("doc_id"))
      .select(col("dst"), expr("rank div 3").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
    docs.select(col("doc_id"))
      .join(contrib, col("doc_id") === col("dst"), "left")
      .select(col("doc_id"),
        (lit(150000L) + expr("(85 * coalesce(in_sum, 0L)) div 100")).as("rank"))
  }

  /** q161's multi-source bounded-hop BFS, factored so q253's IVM can
    * run it as the stored layer: per round ONE frontier⋈links
    * equi-join on src + one left_anti vs visited, round-local
    * distinct. Returns (doc_id, hops), unreached nodes absent. */
  private def bfsHops(seeds: DataFrame, lnk: DataFrame, k: Int): DataFrame = {
    // DriverGraph fast path: the identical frontier recurrence
    val fast = for {
      edges <- DriverGraph.collectUnder(lnk.select(col("src"), col("dst")))
      seedRows <- DriverGraph.collectUnder(seeds.select(col("doc_id")))
    } yield DriverGraph.toHopsDf(seeds.sparkSession, DriverGraph.bfs(
      seedRows.map(_.getLong(0)), DriverGraph.adjacency(DriverGraph.pairs(edges)), k))
    fast.getOrElse {
      var visited = seeds.select(col("doc_id"), lit(0L).as("hops"))
      var frontier = visited.select(col("doc_id"))
      for (h <- 1 to k) {
        val next = frontier.join(lnk, frontier("doc_id") === lnk("src"))
          .select(col("dst").as("doc_id")).distinct()
          .join(visited.select("doc_id"), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), lit(h.toLong).as("hops"))
        visited = visited.unionByName(next)
        frontier = next.select(col("doc_id"))
      }
      visited
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q107_triangles" -> ((s, dir) => {
      // triangle count — the textbook distributed formulation: orient
      // every undirected edge low->high id, build wedges by ONE
      // equi-join on the middle vertex (u<v<w by construction, each
      // triangle materializes exactly once), then close them with a
      // semi-join back to the edge set. Two shuffles total; at crawl
      // scale orient by DEGREE (low->high) instead of id so hub
      // vertices never fan wedges quadratically.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      // keep the middle vertex through the closure join — two wedges
      // u-v1-w and u-v2-w are two DISTINCT triangles over the same
      // closing edge (u,w)
      val wedges = e.join(e.toDF("v", "w"), "v").select(col("u"), col("v"), col("w"))
      wedges.join(e.toDF("u", "w"), Seq("u", "w"), "left_semi")
        .agg(count(lit(1)).as("n_triangles"))
    }),
    "q107b_triangles_degree" -> ((s, dir) => {
      // the SAME count via DEGREE-ordered orientation
      // (graft.operators.Triangles) — the shape that survives a
      // power-law hub: every wedge pivots on its lowest-degree vertex,
      // so out-degrees (and wedge fan-out) stay O(sqrt(m)) instead of
      // O(hub degree). TrianglesSpec plants a hub and asserts the
      // wedge-row bound.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      graft.operators.Triangles.count(e)
    }),
    "q161_bfs_hops" -> ((s, dir) => {
      // multi-source BFS hop distance from a seed set — the Pregel
      // frontier shape a crawl-distance / influence-radius job runs:
      // per round ONE equi-join frontier⋈links on src (the link table
      // would stay hash-partitioned on src at scale, every round
      // reusing that exchange) + one left_anti against the visited
      // set, round-local dedup by distinct (never a window). K is a
      // FIXED hop cap, so the driver loop runs no per-round count();
      // for unbounded BFS the loop-until-empty variant adds q119's
      // per-round localCheckpoint. Rows: (doc_id, hops) = min #links
      // from any seed, hops <= 4; unreached docs are absent.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      bfsHops(docs.filter(col("doc_id") % 50 === 0), links(docs, n), 4)
    }),
    "q90_pagerank" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val lnk = links(docs, n)
      val r0 = docs.select(col("doc_id"), lit(1000000L).as("rank"))
      step(docs, lnk, step(docs, lnk, r0))
        .select(col("doc_id"), col("rank").as("rank_micro"))
    }),
    "q172_personalized_pagerank" -> ((s, dir) => {
      // personalized PageRank from the q161 seed set (doc_id%50=0) —
      // the retrieval-side ranking primitive: teleport mass lands ONLY
      // on seeds, so authority measures proximity to the seed
      // neighborhood instead of global link mass. Same exact-integer
      // contract as q90 (contributions rank div 3, damping multiplies
      // before dividing), same two map-side-combined shuffles per
      // iteration; the only change is the per-node teleport term.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val lnk = links(docs, n)
      val seed = (col("doc_id") % 50 === 0)
      def stepP(r: DataFrame): DataFrame = {
        val contrib = lnk.join(r, lnk("src") === r("doc_id"))
          .select(col("dst"), expr("rank div 3").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
        docs.select(col("doc_id"))
          .join(contrib, col("doc_id") === col("dst"), "left")
          .select(col("doc_id"),
            (when(seed, lit(150000L)).otherwise(lit(0L)) +
              expr("(85 * coalesce(in_sum, 0L)) div 100")).as("rank"))
      }
      val r0 = docs.select(col("doc_id"),
        when(seed, lit(1000000L)).otherwise(lit(0L)).as("rank"))
      stepP(stepP(r0)).select(col("doc_id"), col("rank").as("ppr_micro"))
    }),
    "q173_degree_assortativity" -> ((s, dir) => {
      // degree assortativity of the undirected link graph — the
      // web-graph health metric (do hubs link hubs?): Pearson r over
      // edge endpoint degrees, EXACT integers end-to-end via the
      // cancellation trick (q105/q163): with m directed edge slots,
      // num = m·Σxy − Σx·Σy and den² = (m·Σx² − (Σx)²)·(m·Σy² −
      // (Σy)²). No square root ever runs: we emit num, both den
      // factors, and SIGNED r² in ppm (sign(num)·10^6·num² div
      // (dx·dy)) — products ride DECIMAL(38,0) (den_x·den_y overflows
      // long at corpus scale). One degree aggregate + one edge
      // equi-join + one global fold. The base closed-form graph is
      // degree-REGULAR (src·31 is a bijection mod n, so in-degree is
      // exactly 3 — zero variance, r undefined); hub edges
      // doc → doc%10 make the degree sequence heterogeneous, the
      // regime the statistic exists for.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n)
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 10).as("dst")))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      val deg = e.select(col("u").as("x"))
        .unionByName(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d"))
      // both directions so the statistic is symmetric
      val both = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
        .join(deg.select(col("x").as("u"), col("d").as("dx")), "u")
        .join(deg.select(col("x").as("v"), col("d").as("dy")), "v")
      both.agg(count(lit(1)).as("m"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("m"),
          (col("m") * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("m") * col("sxx") - col("sx") * col("sx")).as("den_x"),
          (col("m") * col("syy") - col("sy") * col("sy")).as("den_y"))
        .select(col("m"), col("num"), col("den_x"), col("den_y"),
          (when(col("num") < 0, -1L).otherwise(1L) *
            expr("(CAST(1000000 AS DECIMAL(38,0)) * num * num)" +
              " div (CAST(den_x AS DECIMAL(38,0)) * den_y)"))
            .as("r2_ppm_signed"))
    }),
    "q164_incremental_pagerank" -> ((s, dir) => {
      // IVM of q90's 2-iteration integer PageRank under an edge-level
      // change batch — the graph-axis member of the IVM family. The
      // standard batch convention: updated docs (id%7=3) reroute
      // their out-edges to (id*37 + 11k) % N, deleted docs (id%13=5,
      // delete wins on overlap) drop with their out-edges; N stays
      // the BASE corpus size so the closed form is engine-identical.
      // Only dst(changed) rebuilds rank1 and only its post-graph
      // out-halo rebuilds rank2 (operators/IncrementalPageRank has
      // the 2-hop-impact proof); everything else passes the stored
      // layer through one anti-join. The stored base layers are
      // rebuilt in-query as oracle scaffolding (q52/q70/q124
      // adjudication) — production reads them from the snapshot
      // table. Oracle: full 2-iteration recompute on the post graph.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val baseLinks = links(docs, n)
      val touched = docs
        .filter(col("doc_id") % 7 === 3 || col("doc_id") % 13 === 5)
        .select(col("doc_id").as("src"))
      val postDocs = docs.filter(col("doc_id") % 13 =!= 5)
      val postLinks = linksAfterChange(postDocs, n)
      val r0 = docs.select(col("doc_id"), lit(1000000L).as("rank"))
      val rank1Stored = step(docs, baseLinks, r0)
        .withColumnRenamed("rank", "rank1")
      val rank2Stored = step(docs, baseLinks,
          rank1Stored.withColumnRenamed("rank1", "rank"))
        .withColumnRenamed("rank", "rank2")
      graft.operators.IncrementalPageRank.maintain(
        postDocs, baseLinks, postLinks, touched, rank1Stored, rank2Stored)
    }),
    "q291_hyperball" -> ((s, dir) => {
      // HyperBall (Boldi-Vigna) — the promised scale path of q251's
      // exact reach-pair loop: per-node HLL registers (q224's bucket/
      // rank recipe, m=64, rank cap 30) approximate each node's K=3
      // out-ball. Per round the sketch of v merges its out-neighbors'
      // sketches — registers are max-mergeable, so the round is ONE
      // edges⋈registers equi-join + one map-side-combined group-max;
      // state is O(n·min(64, ball)) sparse register rows instead of
      // n·ball exact pairs, the trade that survives unbounded-degree
      // graphs. Sketches are DETERMINISTIC given the hash, so the
      // oracle reproduces the registers exactly: per (v, j), the max
      // rank over the recursively-enumerated exact ball. The exact
      // ball size rides along and err_bp grades the estimate — the
      // query is its own calibration harness (q224's convention).
      // Calibration verdict on this synthetic graph: balls of ~40
      // over m=64 registers sit far below the 2.5m raw-estimator
      // regime, and err_bp duly reads ~+7000 — the documented
      // small-range bias a production HyperBall removes by switching
      // to linear counting over the empty-register count (a float/ln
      // branch that cannot hash-match cross-engine, hence not mirrored
      // here). The REGISTERS are the maintained state either way, and
      // those the oracle pins integer-for-integer.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val lnk = links(docs, n)
      val h = graft.text.TextFunctions.hash60(
        concat(lit("hb:"), col("doc_id").cast("string")))
      val init = docs.withColumn("h", h)
        .select(col("doc_id").as("v"), (col("h") % 64).as("j"),
          when(expr("h div 64") === 0L, lit(55L))
            .otherwise(lit(55L) - length(bin(expr("h div 64")))).as("r"))
        .withColumn("r", least(col("r"), lit(30L)))
      // DriverGraph fast path: after k merge rounds regs(v) is the
      // max-merge of the INITIAL registers over v's k-out-ball
      // (induction on rounds; max is idempotent), and the init frame
      // carries one register per node, so one bounded BFS per node
      // yields both the merged registers and the exact ball size.
      val fast = for {
        edges <- DriverGraph.collectUnder(lnk.select(col("src"), col("dst")))
        initRows <- DriverGraph.collectUnder(init)
      } yield {
        val adj = DriverGraph.adjacency(DriverGraph.pairs(edges))
        val reg = new scala.collection.mutable.LongMap[(Long, Long)]()
        initRows.foreach(r => reg.update(r.getLong(0), (r.getLong(1), r.getLong(2))))
        val merged = scala.collection.mutable.ArrayBuffer[Row]()
        val balls = initRows.map { r =>
          val v = r.getLong(0)
          val ball = DriverGraph.bfs(Seq(v), adj, 3)
          val jr = new scala.collection.mutable.LongMap[Long]() // j -> max r
          ball.keys.foreach { u =>
            val (j, r) = reg(u)
            if (!jr.get(j).exists(_ >= r)) jr.update(j, r)
          }
          jr.foreach { case (j, r) => merged += Row(v, j, r) }
          Row(v, ball.size.toLong)
        }
        (DriverGraph.toDf(s, Seq("v", "j", "r"), merged.toArray),
          DriverGraph.toDf(s, Seq("v", "n_ball"), balls))
      }
      val (merged, exact) = fast.getOrElse {
        var regs = init.localCheckpoint()
        for (_ <- 1 to 3) {
          val nb = lnk.join(regs.select(col("v").as("w"), col("j"), col("r")),
              lnk("dst") === col("w"))
            .select(col("src").as("v"), col("j"), col("r"))
          regs = regs.unionByName(nb)
            .groupBy(col("v"), col("j")).agg(max(col("r")).as("r"))
            .localCheckpoint()
        }
        // exact K=3 out-ball alongside (q251's pair loop, out direction);
        // the renamed edge copy avoids self-join lineage ambiguity once
        // the frontier itself derives from the edge table
        val lnk2 = lnk.select(col("src").as("e_src"), col("dst").as("e_dst"))
        var seen = docs.select(col("doc_id").as("v"), col("doc_id").as("u"))
        var frontier = seen
        for (_ <- 1 to 3) {
          val nxt = frontier.join(lnk2, frontier("u") === col("e_src"))
            .select(col("v"), col("e_dst").as("u")).distinct()
            .join(seen, Seq("v", "u"), "left_anti")
          seen = seen.union(nxt)
          frontier = nxt
        }
        (regs, seen.groupBy(col("v")).agg(count(lit(1)).as("n_ball")))
      }
      val folded = merged
        .select(col("v"), expr("CAST(pow(2, 30 - r) AS BIGINT)").as("p"))
        .groupBy(col("v"))
        .agg(sum(col("p")).as("occ_sum"), count(lit(1)).as("m_occ"))
        .select(col("v"),
          (col("occ_sum") + (lit(64L) - col("m_occ")) * lit(1073741824L))
            .as("n_sum"),
          col("m_occ"))
      folded.join(exact, Seq("v"))
        .select(col("v").as("doc_id"), col("m_occ"), col("n_sum"),
          col("n_ball"), graft.text.TextFunctions.hllEstimate("n_sum").as("est"))
        .select(col("doc_id"), col("m_occ"), col("n_sum"), col("n_ball"),
          col("est"),
          // est underestimates small balls — err can be NEGATIVE, so
          // the quotient must be the engine-identical floor
          expr("((est - n_ball) * 10000 - pmod((est - n_ball) * 10000, n_ball)) div n_ball")
            .as("err_bp"))
    }),
    "q251_harmonic_centrality" -> ((s, dir) => {
      // bounded-hop (K=4) harmonic centrality c(x) = Σ_u 1/d(u, x)
      // over d <= K — the principled centrality on disconnected
      // graphs (the Boldi-Vigna axiom set; closeness degenerates),
      // carried EXACT as ×12 integers (12 = lcm(1..4), so 1/h folds
      // to 12 div h with zero loss). Shape: the (u, x) reach-pair
      // frontier — per round ONE links⋈frontier equi-join (pair
      // extends one hop on the u side) + one anti-join vs seen
      // pairs; pair count is bounded by n·|ball(K)| (out-degree 3 ⟹
      // ball <= 120), the bounded-degree bounded-K regime where
      // EXACT balls beat sketches. Unbounded-degree graphs swap in
      // HyperBall — per-node HLL registers (q224's machinery) driven
      // by the same loop — trading exactness for O(n log log n)
      // state; this exact variant doubles as its calibration oracle.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val lnk = links(docs, n)
      // DriverGraph fast path: the identical first-hop-pair semantics
      // as one bounded forward BFS per source (out-degree 3 ⟹ ball
      // <= 120); a node with no out-edge reaches nothing
      val fast = DriverGraph.collectUnder(lnk.select(col("src"), col("dst"))).map { edges =>
        val adj = DriverGraph.adjacency(DriverGraph.pairs(edges))
        // per-x accumulators: harmonic x12 numerator and reach count
        val h12 = new scala.collection.mutable.LongMap[Long]()
        val nr = new scala.collection.mutable.LongMap[Long]()
        adj.keys.foreach { u =>
          DriverGraph.bfs(Seq(u), adj, 4).foreach { case (x, h) =>
            if (h > 0) {
              h12.update(x, h12.getOrElse(x, 0L) + 12L / h)
              nr.update(x, nr.getOrElse(x, 0L) + 1L)
            }
          }
        }
        DriverGraph.toDf(s, Seq("doc_id", "harmonic_x12", "n_reach"),
          h12.toArray.map { case (x, hv) => Row(x, hv, nr(x)) })
      }
      fast.getOrElse {
        var seen = docs.select(col("doc_id").as("u"), col("doc_id").as("x"))
        var frontier = seen
        val perHop = (1 to 4).map { h =>
          val nxt = lnk.join(frontier, lnk("dst") === frontier("u"))
            .select(lnk("src").as("u"), frontier("x")).distinct()
            .join(seen, Seq("u", "x"), "left_anti")
          seen = seen.union(nxt)
          frontier = nxt
          nxt.groupBy(col("x"))
            .agg(count(lit(1)).as("cnt"))
            .select(col("x"), col("cnt"), lit((12 / h).toLong).as("w12"))
        }
        perHop.reduce(_ unionByName _)
          .groupBy(col("x"))
          .agg(sum(col("cnt") * col("w12")).as("harmonic_x12"),
            sum(col("cnt")).as("n_reach"))
          .select(col("x").as("doc_id"), col("harmonic_x12"), col("n_reach"))
      }
    }),
    "q252_graph_audit" -> ((s, dir) => {
      // link-graph ingest QA — the health gates a crawl pipeline
      // checks BEFORE spending a PageRank/HITS pass on a new
      // snapshot: edge multiplicity (parallel duplicates), self-loop
      // count, reciprocity share, degree extremes. Graph = q173's
      // heterogeneous variant (closed-form base + doc→doc%10 hub
      // edges, so every metric is non-trivial). All metrics are
      // map-side-combined aggregates or semi-join counts over the
      // edge list; the single-row result assembles from broadcast
      // one-row frames. Exact integers (share in bp).
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n).unionByName(
        docs.select(col("doc_id").as("src"), (col("doc_id") % 10).as("dst")))
      val dedup = e.distinct()
      val totals = e.agg(count(lit(1)).as("m"),
        sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("self_loops"))
      val md = dedup.agg(count(lit(1)).as("m_distinct"))
      val nonLoop = dedup.filter(col("src") =!= col("dst"))
      val recip = nonLoop.join(
          nonLoop.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("recip_edges"))
      val nonLoopCnt = nonLoop.agg(count(lit(1)).as("m_nonloop"))
      val degOut = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .agg(max(col("d")).as("max_out"))
      val degIn = e.groupBy(col("dst")).agg(count(lit(1)).as("d"))
        .agg(max(col("d")).as("max_in"))
      totals.crossJoin(broadcast(md)).crossJoin(broadcast(recip))
        .crossJoin(broadcast(nonLoopCnt))
        .crossJoin(broadcast(degOut)).crossJoin(broadcast(degIn))
        .select(col("m"), col("m_distinct"),
          (col("m") - col("m_distinct")).as("dup_edges"),
          col("self_loops"), col("recip_edges"),
          expr("recip_edges * 10000 div m_nonloop").as("recip_bp"),
          col("max_out"), col("max_in"))
    }),
    "q253_incremental_bfs" -> ((s, dir) => {
      // IVM of q161's bounded-hop BFS distances under q164's
      // edge-rewire batch — IVM #16, the REACHABILITY axis. Halo
      // proof: a node's K-hop distance is a min over seed paths, and
      // a path's length changes only if it crosses a changed edge
      // u→w; every such w lands in D = old ∪ new out-neighbors of
      // the rewired/deleted docs, and the path's suffix w→…→x has
      // length <= K−1 in whichever graph carried it (vanished OLD
      // path ⟹ base edges; new path ⟹ post edges) — so only nodes
      // reachable from D within K−1 hops in the UNION graph can
      // change. Every other live node's stored distance passes
      // through one anti-join; halo nodes re-derive by K relaxation
      // rounds over post edges INTO the halo, reading boundary
      // distances from the stored (provably unchanged) layer.
      // Deleted docs leave the output AND the edge set (an edge to a
      // deleted dst is dangling — paths may not continue through
      // it). Stored layer rebuilt in-query as oracle scaffolding
      // (q52/q70/q164 adjudication). Oracle: full BFS recompute on
      // the post graph.
      val K = 4
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val baseLinks = links(docs, n)
      val postDocs = docs.filter(col("doc_id") % 13 =!= 5)
      val postLinksAll = linksAfterChange(postDocs, n)
      val stored = bfsHops(docs.filter(col("doc_id") % 50 === 0),
        baseLinks, K)
      val changedSrc = docs
        .filter(col("doc_id") % 7 === 3 || col("doc_id") % 13 === 5)
        .select(col("doc_id").as("src"))
      graft.operators.IncrementalBfs.maintain(postDocs, baseLinks,
        postLinksAll, changedSrc, stored,
        postDocs.filter(col("doc_id") % 50 === 0), K)
    }),
    "q176_hits" -> ((s, dir) => {
      // HITS hubs & authorities (Kleinberg) — PageRank's bipartite
      // twin, the other classic link-quality signal a crawl pipeline
      // computes: auth(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v} auth(v),
      // two full mutual-reinforcement iterations. EXACT integers: h0 =
      // 10^6 and every step is a pure edge-sum (no normalization), and
      // order-insensitive because addition commutes, so Spark's and
      // DuckDB's aggregation schedules cannot diverge. BIGINT bound:
      // the doc→doc%10 hub edges give 10 nodes in-degree ~n/10, so the
      // 2-iteration scores grow ~n²·10⁴ — safe to n ≈ 3·10⁷ documents;
      // past that this EXACT variant must widen to DECIMAL(38,0)
      // (or normalize per iteration and leave the integer contract),
      // which ANSI mode enforces loudly rather than wrapping. Each
      // half-step is ONE equi-join rank⋈edges + one map-side-combined
      // sum — the identical shuffle shape as q90, and at scale the
      // edge table stays hash-partitioned on the probed endpoint
      // across all four half-steps. The hub edges doc → doc%10 (q173)
      // make the degree sequence heterogeneous so authorities actually
      // separate; the base closed-form graph alone is in-regular.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n)
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") % 10).as("dst")))
        .filter(col("src") =!= col("dst"))
      def authOf(h: DataFrame): DataFrame =
        docs.join(
          e.join(h, e("src") === h("doc_id"))
            .groupBy(col("dst")).agg(sum(col("r")).as("sr")),
          col("doc_id") === col("dst"), "left")
          .select(col("doc_id"), coalesce(col("sr"), lit(0L)).as("r"))
      def hubOf(a: DataFrame): DataFrame =
        docs.join(
          e.join(a, e("dst") === a("doc_id"))
            .groupBy(col("src")).agg(sum(col("r")).as("sr")),
          col("doc_id") === col("src"), "left")
          .select(col("doc_id"), coalesce(col("sr"), lit(0L)).as("r"))
      val h0 = docs.select(col("doc_id"), lit(1000000L).as("r"))
      val a1 = authOf(h0); val h1 = hubOf(a1)
      val a2 = authOf(h1); val h2 = hubOf(a2)
      a2.withColumnRenamed("r", "auth")
        .join(h2.withColumnRenamed("r", "hub"), "doc_id")
    }),
    "q182_link_prediction" -> ((s, dir) => {
      // link prediction by common-neighbor count + resource-allocation
      // index (Zhou/Lü/Zhang) — the crawl-frontier ranking signal:
      // which unlinked page pairs share many (low-degree) neighbors.
      // RA in exact ppm: Σ_{z ∈ Γ(a)∩Γ(b)} 10^6 div deg(z) — truncated
      // integer division, engine-identical. The wedge self-join pivots
      // every path a—z—b on z, so work is Σ deg(z)² — bounded here
      // (symmetrized 3-out graph, max deg ~12) and at crawl scale the
      // q107b degree-orientation treatment applies verbatim; the
      // existing-edge anti-join and the cn >= 2 floor keep the output
      // candidate-sized. One shuffle per stage, all equi-joins.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e0 = links(docs, n).filter(col("src") =!= col("dst"))
      val sym = e0.select(col("src").as("u"), col("dst").as("v"))
        .unionByName(e0.select(col("dst").as("u"), col("src").as("v")))
        .distinct()
      val deg = sym.groupBy(col("u").as("z")).agg(count(lit(1)).as("dz"))
      val wedges = sym.select(col("v").as("z"), col("u").as("a"))
        .join(sym.select(col("v").as("z"), col("u").as("b")), "z")
        .filter(col("a") < col("b"))
        .join(deg, "z")
      wedges.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cn"),
          sum(expr("1000000 div dz")).as("ra_ppm"))
        .join(sym.toDF("a", "b"), Seq("a", "b"), "left_anti")
        .filter(col("cn") >= 2)
    }),
    "q183_bellman_ford" -> ((s, dir) => {
      // bounded-hop weighted shortest paths (4 rounds of Bellman-Ford
      // relaxation) from a seed set — link-distance scoring from trusted
      // crawl seeds, the weighted upgrade of q161's BFS hops. Exact DP:
      // d_k(v) = min(d_{k-1}(v), min_u d_{k-1}(u) + w(u,v)) — each
      // round is ONE equi-join dist⋈edges + one map-side-combined min,
      // the same per-iteration shuffle shape as q90/q164, with state
      // bounded at one row per reached vertex (never per path; the
      // oracle's path enumeration is the test-only luxury). Weights
      // 1 + (src+dst) % 7 are closed-form integers on both engines.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n)
        .select(col("src"), col("dst"),
          (lit(1L) + pmod(col("src") + col("dst"), lit(7))).as("w"))
      var dist = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("v"), lit(0L).as("d"))
      for (_ <- 1 to 4) {
        val relax = dist.toDF("fv", "fd").join(e, col("fv") === col("src"))
          .select(col("dst").as("v"), (col("fd") + col("w")).as("d"))
        dist = dist.unionByName(relax)
          .groupBy(col("v")).agg(min(col("d")).as("d"))
      }
      dist.select(col("v").as("doc_id"), col("d").as("dist"))
    }),
    "q191_kcore" -> ((s, dir) => {
      // k-core membership (k = 5) via graft.operators.KCore — the
      // crawl-graph denoising primitive (strip pages that only hang off
      // the fringe; what survives is the densely-linked center). The
      // fixed-out-degree base graph is too regular to peel (every
      // vertex has degree ~7 and nothing cascades), so this query's
      // graph varies out-degree with the vertex: doc i emits
      // 1 + i % 6 links to (i*31 + 7k + k²) % N — degrees 2..12, and
      // the k=5 peel genuinely cascades (8-9 rounds measured at
      // sf0.01/sf0.1) before fixpoint. The oracle unrolls 14 peel
      // rounds (safe: the peel is idempotent at the fixpoint); the
      // operator fails loud past 14, so a graph change that breaks the
      // bound surfaces as an error, never a silent mismatch.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = undirected6(docs, n)
      graft.operators.KCore.membership(e, k = 5, maxRounds = 14)
    }),
    "q192_anchor_terms" -> ((s, dir) => {
      // inbound anchor-text aggregation — the web-retrieval signal
      // (what do OTHER pages call this page?): every link carries an
      // anchor term drawn deterministically from its SOURCE document's
      // tokens, and each target page keeps its top-3 anchor terms
      // (count DESC, term ASC). One narrow join of links to the source
      // token array (the anchor pick is an element_at, never an
      // explode of the whole corpus), one map-side-combined count on
      // (dst, term), one rank window partitioned by dst — at crawl
      // scale the only global exchanges are the (dst, term) count and
      // the per-target top-k, both key-partitioned.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val n = docs.count()
      val toks = docs.select(col("doc_id"),
        graft.text.TextFunctions.tokens(col("text")).as("ts"))
      val anchors = toks.select(col("doc_id").as("src"), col("ts"),
          explode(array((1 to 3).map(lit(_)): _*)).as("k"))
        .select(pmod(col("src") * 31 + col("k") * 7, lit(n)).as("dst"),
          element_at(col("ts"),
            (pmod(col("k") * 7 + col("src"), size(col("ts")).cast("long")) + 1)
              .cast("int")).as("term"))
      val w = Window.partitionBy(col("dst"))
        .orderBy(col("cnt").desc, col("term"))
      anchors.groupBy(col("dst"), col("term")).agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("dst"), col("rank").cast("long").as("rank"),
          col("term"), col("cnt"))
    }),
    "q196_mis" -> ((s, dir) => {
      // maximal independent set via graft.operators.Mis (deterministic
      // fixed-priority Luby) — the distributed symmetry-breaker behind
      // canonical-pick and scheduling steps. Same variable-out-degree
      // graph as q191 (the peel family's heterogeneous fixture);
      // converges in 5 rounds at every sf (measured), fail-loud bound
      // 8, oracle unrolls the identical 8 rounds MATERIALIZED (winners
      // are disjoint across rounds and empty after the fixpoint, so
      // the unroll equals the converge-then-stop exactly).
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = undirected6(docs, n)
      graft.operators.Mis.of(e, maxRounds = 8)
    }),
    "q218_label_prop" -> ((s, dir) => {
      // synchronous label propagation (2 rounds, mode label) — the
      // community-detection member of the graph family, next to CC
      // (q49/q119: transitive min), k-core (q191: peel) and MIS (q196:
      // priority). Each round is exactly TWO shuffles: one equi-join
      // of the undirected neighbor list against the label table, one
      // map-side-combined (v, label) count; the mode is an argmax
      // STRUCT fold (cnt DESC, label ASC via max(struct(cnt, -label)))
      // — no window, no per-node collect. At crawl scale labels are
      // hash-partitioned on v once and every round reuses the
      // exchange. A fixed round count keeps the unrolled plan
      // bounded (the oracle mirrors each round as a CTE stage);
      // isolated nodes (all three closed-form out-links self-loops)
      // keep their own label via the left join's coalesce.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n).filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
      // both directions: u<v strictly, so the union is duplicate-free
      val nbr = e.select(col("u").as("vid"), col("v").as("nb"))
        .union(e.select(col("v").as("vid"), col("u").as("nb")))
      def round(lbl: DataFrame): DataFrame = {
        val mode = nbr
          .join(lbl.select(col("vid").as("nb"), col("label").as("nl")), "nb")
          .groupBy(col("vid"), col("nl")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("vid"))
          .agg(max(struct(col("cnt"), (-col("nl")).as("neg"))).as("m"))
          .select(col("vid"), (-col("m.neg")).as("nlabel"))
        lbl.join(mode, Seq("vid"), "left")
          .select(col("vid"),
            coalesce(col("nlabel"), col("label")).as("label"))
      }
      val l0 = docs.select(col("doc_id").as("vid"), col("doc_id").as("label"))
      round(round(l0)).select(col("vid").as("doc_id"), col("label"))
    }),
    "q223_random_walks" -> ((s, dir) => {
      // deterministic hash-driven random walks (L=4) — the node2vec/
      // DeepWalk sampling stage of a graph-embedding pipeline, RNG-
      // free so the oracle replays every step exactly: step t moves
      // from cur to its rank-(1 + h(cur,t) mod deg) neighbor in the
      // SORTED DISTINCT out-neighbor list (self-loops dropped); a
      // node with no live neighbors absorbs the walk (left join +
      // coalesce). The neighbor list is ranked ONCE — rank and degree
      // share a single src-partitioned exchange — and each of the 4
      // unrolled steps hash-joins the walker frame against the edge
      // table co-partitioned on src: L shuffles total, no state
      // beyond the walker row, never a per-node collect. Walkers
      // start from every 16th doc.
      import graft.text.TextFunctions.hash60
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n).filter(col("src") =!= col("dst")).distinct()
      val wsp = Window.partitionBy(col("src"))
      val nbr = e
        .withColumn("rk", row_number().over(wsp.orderBy(col("dst"))))
        .withColumn("deg", count(lit(1)).over(wsp))
      val start = docs.filter(col("doc_id") % 16 === 0)
        .select(col("doc_id").as("walker"), col("doc_id").as("cur"),
          col("doc_id").cast("string").as("path"))
      val fin = (1 to 4).foldLeft(start) { case (wk, t) =>
        wk.join(nbr,
            wk("cur") === nbr("src") && nbr("rk") ===
              pmod(hash60(concat(lit(s"walk$t:"), wk("cur"))), nbr("deg")) + 1,
            "left")
          .select(col("walker"),
            coalesce(col("dst"), col("cur")).as("ncur"),
            concat(col("path"), lit(">"),
              coalesce(col("dst"), col("cur"))).as("path"))
          .withColumnRenamed("ncur", "cur")
      }
      fin.select(col("walker"), col("cur").as("final_node"), col("path"))
    }),
    "q232_cocitation" -> ((s, dir) => {
      // co-citation similarity (pages cited together are related — the
      // classic web-graph relatedness signal): pairs of DISTINCT
      // sources sharing a target, counted per pair. The explicit skew
      // guard is the point: a hub target with in-degree d fans C(d,2)
      // pairs, so each target keeps only its C=8 lowest-id citers
      // (rank window on dst) BEFORE pairing — bounded ≤C(C,2)=28
      // pairs per target at any in-degree, the same cap a production
      // co-citation job applies (relatedness saturates; hubs carry no
      // signal). Pairing is a bounded self-join on dst; the pair
      // count is one map-side-combined shuffle.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val e = links(docs, n).filter(col("src") =!= col("dst")).distinct()
      val w = Window.partitionBy(col("dst")).orderBy(col("src").asc)
      val capped = e.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 8).select(col("src"), col("dst"))
      capped.as("x").join(capped.as("y"),
          col("x.dst") === col("y.dst") && col("x.src") < col("y.src"))
        .groupBy(col("x.src").as("a"), col("y.src").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    }),
    "q264_scc_mutual" -> ((s, dir) => {
      // bounded strongly-connected neighborhood of the q161 seed set —
      // the web-graph "core vs periphery" probe (a page is IN the core
      // iff the seeds both reach it and are reached back): forward BFS
      // on the link graph ∩ backward BFS on the REVERSED graph (the
      // same bfsHops loop, edges flipped — at scale the reversed table
      // is the one extra hash partitioning), joined on the node.
      // Unbounded SCC needs the forward/backward label-propagation
      // rounds of q119's CC machinery; the K-bounded variant is the
      // crawl-frontier shape and keeps both legs at q161's cost.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val lnk = links(docs, n)
      val seeds = docs.filter(col("doc_id") % 50 === 0)
      val fwd = bfsHops(seeds, lnk, 4).toDF("doc_id", "fwd_hops")
      val bwd = bfsHops(seeds,
        lnk.select(col("dst").as("src"), col("src").as("dst")), 4)
        .toDF("doc_id", "bwd_hops")
      fwd.join(bwd, Seq("doc_id"))
    }),
    "q274_temporal_reach" -> ((s, dir) => {
      // TIME-RESPECTING reachability — the temporal-network primitive
      // (links carry observation days; a path may only traverse edges
      // in non-decreasing time — how influence/crawl freshness
      // actually propagates). State is the (node, arrival) REACH-PAIR
      // set (q251's shape) because bounded-hop earliest arrival
      // cannot relax from per-node minima alone: a LATER arrival
      // reached in FEWER hops still extends where the minimum's
      // deeper path has exhausted the hop budget. Dedup on (node, t)
      // keeps the earliest-hop copy, which dominates (same arrival,
      // more budget left), so the pair set — and the final min —
      // equal the oracle's full path enumeration. Pairs are bounded
      // by n × 30 arrival days; per round ONE frontier⋈links
      // equi-join (+ the time filter) and one anti-join vs seen.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val lt = docs.select(col("doc_id").as("src"),
          explode(array((1 to 3).map(k => struct(
            pmod(col("doc_id") * 31 + k * 7, lit(n)).as("dst"),
            pmod(col("doc_id") * 13 + k * 29, lit(30L)).as("et"))): _*)).as("e"))
        .select(col("src"), col("e.dst").as("dst"),
          col("e.et").cast("long").as("et"))
      // DriverGraph fast path: the identical (node, arrival) reach-pair
      // recurrence — its own frontier, since its state is (node, t)
      val seeds = docs.filter(col("doc_id") % 50 === 0)
      val fast = for {
        edges <- DriverGraph.collectUnder(lt)
        seedRows <- DriverGraph.collectUnder(seeds)
      } yield {
        val adj = new scala.collection.mutable.LongMap[scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
        edges.foreach { r =>
          adj.getOrElseUpdate(r.getLong(0), new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) +=
            ((r.getLong(1), r.getLong(2))) }
        // seen keyed on node*64 + t (t in 0..29 < 64): one LongMap
        val seen = new scala.collection.mutable.LongMap[Boolean]()
        var frontier = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        seedRows.foreach { r =>
          val d = r.getLong(0); seen.update(d * 64L, true); frontier += ((d, 0L)) }
        for (_ <- 1 to 4) {
          val next = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          frontier.foreach { case (u, t) =>
            adj.get(u).foreach(_.foreach { case (dst, et) =>
              if (et >= t && !seen.contains(dst * 64L + et)) {
                seen.update(dst * 64L + et, true); next += ((dst, et))
              }
            })
          }
          frontier = next
        }
        val agg = new scala.collection.mutable.LongMap[(Long, Long)]()
        seen.keys.foreach { k =>
          val node = k / 64L; val t = k % 64L
          val (mn, c) = agg.getOrElse(node, (Long.MaxValue, 0L))
          agg.update(node, (math.min(mn, t), c + 1L))
        }
        DriverGraph.toDf(s, Seq("doc_id", "earliest_arrival", "n_arrivals"),
          agg.toArray.map { case (nid, (mn, c)) => Row(nid, mn, c) })
      }
      fast.getOrElse {
        var seen = seeds.select(col("doc_id"), lit(0L).as("t"))
        var frontier = seen
        for (_ <- 1 to 4) {
          val next = frontier.join(lt,
              frontier("doc_id") === lt("src") && lt("et") >= frontier("t"))
            .select(col("dst").as("doc_id"), col("et").as("t")).distinct()
            .join(seen, Seq("doc_id", "t"), "left_anti")
          seen = seen.unionByName(next)
          frontier = next
        }
        seen.groupBy(col("doc_id"))
          .agg(min(col("t")).as("earliest_arrival"),
            count(lit(1)).as("n_arrivals"))
      }
    }),
    "q265_incremental_triangles" -> ((s, dir) => {
      // IVM #18, the TRIANGLE axis: the global triangle count
      // maintained under the standard change batch (doc_id%7=3 rewires
      // its out-edges to (id·37+11k)%n, doc_id%13=5 leaves with every
      // incident edge). The delta touches ONLY changed edges'
      // neighborhoods — Triangles.countTouching attributes each
      // affected triangle to its smallest added (resp. removed) edge,
      // so triangles with 2-3 changed edges count exactly once
      // (TrianglesDeltaSpec proves the multiplicity cases). n_pre is
      // the stored layer's stand-in (rebuilt in-query for the oracle,
      // per the q52/q70 adjudication); production reads it from the
      // maintained table and runs ONLY the delta legs.
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      def undirected(l: DataFrame): DataFrame =
        l.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v")).distinct()
      val epre = undirected(links(docs, n))
      val post = docs.filter(col("doc_id") % 13 =!= 5)
      val lpost = linksAfterChange(post, n)
        .join(post.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      val epost = undirected(lpost)
      graft.operators.Triangles.count(epre)
        .select(col("n_triangles").as("n_pre"))
        .crossJoin(graft.operators.Triangles.deltaCount(epre, epost))
        .select(col("n_pre"),
          (col("tri_add") - col("tri_del")).as("delta"),
          (col("n_pre") + col("tri_add") - col("tri_del")).as("n_post"))
    }),
  )

  val oracles: Map[String, String] = Map(
    // 14 unrolled peel rounds — idempotent at the fixpoint, so equal to
    // the operator's converge-then-stop as long as it converges by 14
    // (the operator fails loud otherwise, never a silent mismatch)
    "q191_kcore" -> {
      val rounds = (1 to 14).map { i =>
        s"""s$i AS MATERIALIZED (SELECT x FROM (SELECT x, COUNT(*) AS d FROM (
           |  SELECT e.u AS x FROM e JOIN s${i - 1} a ON e.u = a.x JOIN s${i - 1} b ON e.v = b.x
           |  UNION ALL
           |  SELECT e.v AS x FROM e JOIN s${i - 1} a ON e.u = a.x JOIN s${i - 1} b ON e.v = b.x)
           |  GROUP BY 1) WHERE d >= 5)""".stripMargin
      }.mkString(",\n")
      s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
         |links AS (
         |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k + k*k) % n.n AS dst
         |  FROM documents d CROSS JOIN n, range(1, 7) t(k)
         |  WHERE k <= 1 + d.doc_id % 6),
         |e AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |      FROM links WHERE src <> dst),
         |s0 AS MATERIALIZED (SELECT DISTINCT x FROM (
         |  SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)),
         |$rounds
         |SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |  SELECT e.u AS node FROM e JOIN s14 a ON e.u = a.x JOIN s14 b ON e.v = b.x
         |  UNION ALL
         |  SELECT e.v AS node FROM e JOIN s14 a ON e.u = a.x JOIN s14 b ON e.v = b.x)
         |GROUP BY 1""".stripMargin
    },
    // fixed-priority Luby unrolled: key(v) = pri(v)·n + v linearizes
    // the (priority, id) lexicographic order (ids are 0..n-1)
    "q196_mis" -> {
      val rounds = (1 to 8).map { i =>
        val a = s"a${i - 1}"
        s"""ea$i AS MATERIALIZED (SELECT e.u, e.v FROM e
           |  JOIN $a p ON e.u = p.x JOIN $a q ON e.v = q.x),
           |nm$i AS MATERIALIZED (SELECT x, MIN(ko) AS nm FROM (
           |  SELECT u AS x, ((v*2654435761) % 1000003)*n.n + v AS ko FROM ea$i CROSS JOIN n
           |  UNION ALL
           |  SELECT v AS x, ((u*2654435761) % 1000003)*n.n + u AS ko FROM ea$i CROSS JOIN n)
           |  GROUP BY 1),
           |w$i AS MATERIALIZED (SELECT a.x FROM $a a CROSS JOIN n
           |  LEFT JOIN nm$i m ON a.x = m.x
           |  WHERE m.nm IS NULL OR ((a.x*2654435761) % 1000003)*n.n + a.x < m.nm),
           |k$i AS MATERIALIZED (SELECT DISTINCT x FROM (
           |  SELECT ea.v AS x FROM ea$i ea JOIN w$i w ON ea.u = w.x
           |  UNION ALL
           |  SELECT ea.u AS x FROM ea$i ea JOIN w$i w ON ea.v = w.x)),
           |a$i AS MATERIALIZED (SELECT x FROM $a
           |  WHERE x NOT IN (SELECT x FROM w$i)
           |    AND x NOT IN (SELECT x FROM k$i))""".stripMargin
      }.mkString(",\n")
      val all = (1 to 8).map(i => s"SELECT x FROM w$i").mkString(" UNION ALL ")
      s"""WITH n AS (SELECT COUNT(*) AS n FROM documents),
         |links AS (
         |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k + k*k) % n.n AS dst
         |  FROM documents d CROSS JOIN n, range(1, 7) t(k)
         |  WHERE k <= 1 + d.doc_id % 6),
         |e AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |      FROM links WHERE src <> dst),
         |a0 AS MATERIALIZED (SELECT DISTINCT x FROM (
         |  SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)),
         |$rounds
         |SELECT x AS node FROM ($all)""".stripMargin
    },
    "q192_anchor_terms" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ts
        |  FROM documents),
        |a AS (SELECT (t.doc_id*31 + 7*k) % n.n AS dst,
        |    ts[CAST((k*7 + t.doc_id) % len(ts) AS BIGINT) + 1] AS term
        |  FROM toks t CROSS JOIN n, range(1, 4) g(k)),
        |c AS (SELECT dst, term, COUNT(*) AS cnt FROM a GROUP BY 1, 2),
        |r AS (SELECT dst, term, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY dst ORDER BY cnt DESC, term) AS rank
        |  FROM c)
        |SELECT dst, CAST(rank AS BIGINT) AS rank, term, cnt
        |FROM r WHERE rank <= 3""".stripMargin,
    // path enumeration to hop 4 then MIN — equals the relaxation DP
    "q183_bellman_ford" ->
      """WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM documents),
        |e AS (SELECT src, dst, 1 + (src + dst) % 7 AS w FROM (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k))),
        |paths(v, d, h) AS (
        |  SELECT doc_id, 0, 0 FROM documents WHERE doc_id % 100 = 0
        |  UNION
        |  SELECT e.dst, p.d + e.w, p.h + 1
        |  FROM paths p JOIN e ON e.src = p.v WHERE p.h < 4)
        |SELECT v AS doc_id, CAST(MIN(d) AS BIGINT) AS dist
        |FROM paths GROUP BY v""".stripMargin,
    // wedge pivot + truncated-div RA; NOT EXISTS mirrors the anti-join
    "q182_link_prediction" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |e0 AS (SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |sym AS (SELECT src AS u, dst AS v FROM e1
        |  UNION SELECT dst, src FROM e1),
        |deg AS (SELECT u AS z, COUNT(*) AS dz FROM sym GROUP BY 1),
        |w AS (SELECT x.u AS a, y.u AS b, x.v AS z
        |  FROM sym x JOIN sym y ON x.v = y.v AND x.u < y.u),
        |sc AS (SELECT w.a, w.b, COUNT(*) AS cn,
        |    CAST(SUM(1000000 // d.dz) AS BIGINT) AS ra_ppm
        |  FROM w JOIN deg d ON d.z = w.z GROUP BY 1, 2)
        |SELECT a, b, cn, ra_ppm FROM sc
        |WHERE cn >= 2 AND NOT EXISTS (
        |  SELECT 1 FROM sym WHERE sym.u = sc.a AND sym.v = sc.b)""".stripMargin,
    // unnormalized 2-iteration HITS is pure edge-sums — engine-identical
    "q176_hits" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |e0 AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id % 10 AS dst FROM documents),
        |e AS (SELECT src, dst FROM e0 WHERE src <> dst),
        |a1 AS (SELECT d.doc_id, CAST(COALESCE(s.sr, 0) AS BIGINT) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT dst, SUM(1000000) AS sr FROM e GROUP BY dst) s
        |  ON d.doc_id = s.dst),
        |h1 AS (SELECT d.doc_id, CAST(COALESCE(s.sr, 0) AS BIGINT) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT e.src, SUM(a1.r) AS sr FROM e JOIN a1 ON e.dst = a1.doc_id
        |    GROUP BY e.src) s
        |  ON d.doc_id = s.src),
        |a2 AS (SELECT d.doc_id, CAST(COALESCE(s.sr, 0) AS BIGINT) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT e.dst, SUM(h1.r) AS sr FROM e JOIN h1 ON e.src = h1.doc_id
        |    GROUP BY e.dst) s
        |  ON d.doc_id = s.dst),
        |h2 AS (SELECT d.doc_id, CAST(COALESCE(s.sr, 0) AS BIGINT) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT e.src, SUM(a2.r) AS sr FROM e JOIN a2 ON e.dst = a2.doc_id
        |    GROUP BY e.src) s
        |  ON d.doc_id = s.src)
        |SELECT a2.doc_id, a2.r AS auth, h2.r AS hub
        |FROM a2 JOIN h2 ON a2.doc_id = h2.doc_id""".stripMargin,
    "q107_triangles" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        |      FROM links WHERE src <> dst),
        |w AS (SELECT e1.u AS u, e2.v AS w
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u)
        |SELECT COUNT(*) AS n_triangles FROM w
        |WHERE EXISTS (SELECT 1 FROM e WHERE e.u = w.u AND e.v = w.w)""".stripMargin,
    // orientation changes the plan, not the answer — same oracle count
    "q107b_triangles_degree" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        |      FROM links WHERE src <> dst),
        |w AS (SELECT e1.u AS u, e2.v AS w
        |      FROM e e1 JOIN e e2 ON e1.v = e2.u)
        |SELECT COUNT(*) AS n_triangles FROM w
        |WHERE EXISTS (SELECT 1 FROM e WHERE e.u = w.u AND e.v = w.w)""".stripMargin,
    // recursion dedups on (doc_id, hops) and the hop cap bounds it;
    // MIN collapses multi-hop re-reaches exactly like the anti-join
    "q161_bfs_hops" ->
      """WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |r AS (
        |  SELECT doc_id, 0 AS hops FROM documents WHERE doc_id % 50 = 0
        |  UNION
        |  SELECT l.dst AS doc_id, r.hops + 1 AS hops
        |  FROM r JOIN links l ON l.src = r.doc_id WHERE r.hops < 4)
        |SELECT doc_id, CAST(MIN(hops) AS BIGINT) AS hops
        |FROM r GROUP BY 1""".stripMargin,
    // registers reproduced EXACTLY from the recursively-enumerated
    // ball: per (v, j), max capped rank over ball members — the
    // sketch-merge loop must land on identical integers
    "q291_hyperball" ->
      """WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
        |lt AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % nn.n AS dst
        |  FROM documents d CROSS JOIN nn, range(1, 4) t(k)),
        |r AS (
        |  SELECT doc_id AS v, doc_id AS u, 0 AS h FROM documents
        |  UNION
        |  SELECT r.v, l.dst, r.h + 1 FROM r JOIN lt l ON l.src = r.u
        |  WHERE r.h < 3),
        |ball AS (SELECT DISTINCT v, u FROM r),
        |hs AS (SELECT doc_id AS u,
        |    CAST('0x' || substr(md5('hb:' || CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS h
        |  FROM documents),
        |hr AS (SELECT u, h % 64 AS j,
        |    LEAST(CASE WHEN h // 64 = 0 THEN 55
        |      ELSE 55 - length(bin(h // 64)) END, 30) AS r
        |  FROM hs),
        |regs AS (
        |  SELECT b.v, hr.j, MAX(hr.r) AS r
        |  FROM ball b JOIN hr ON hr.u = b.u GROUP BY 1, 2),
        |fold AS (
        |  SELECT v,
        |    CAST(SUM(CAST(pow(2, 30 - r) AS BIGINT)) +
        |      (64 - COUNT(*)) * 1073741824 AS BIGINT) AS n_sum,
        |    CAST(COUNT(*) AS BIGINT) AS m_occ
        |  FROM regs GROUP BY 1),
        |ex AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_ball
        |  FROM ball GROUP BY 1),
        |e AS (SELECT f.v AS doc_id, f.m_occ, f.n_sum, x.n_ball,
        |    CAST(709213 * (4398046511104 // n_sum) // 1000000 AS BIGINT) AS est
        |  FROM fold f JOIN ex x ON x.v = f.v)
        |SELECT doc_id, m_occ, n_sum, n_ball, est,
        |  CAST((est - n_ball) * 10000 // n_ball AS BIGINT) AS err_bp
        |FROM e""".stripMargin,
    "q251_harmonic_centrality" ->
      """WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |r AS (
        |  SELECT doc_id AS u, doc_id AS x, 0 AS h FROM documents
        |  UNION
        |  SELECT l.src AS u, r.x, r.h + 1
        |  FROM r JOIN links l ON l.dst = r.u WHERE r.h < 4),
        |m AS (SELECT u, x, MIN(h) AS h FROM r GROUP BY 1, 2)
        |SELECT x AS doc_id, CAST(SUM(12 // h) AS BIGINT) AS harmonic_x12,
        |  COUNT(*) AS n_reach
        |FROM m WHERE h > 0 GROUP BY x""".stripMargin,
    "q252_graph_audit" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |e AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id % 10 AS dst FROM documents),
        |dd AS (SELECT DISTINCT src, dst FROM e),
        |nl AS (SELECT * FROM dd WHERE src <> dst),
        |recip AS (SELECT COUNT(*) AS recip_edges FROM nl a
        |  WHERE EXISTS (SELECT 1 FROM nl b
        |    WHERE b.src = a.dst AND b.dst = a.src)),
        |t AS (SELECT COUNT(*) AS m,
        |    CAST(SUM(CASE WHEN src = dst THEN 1 ELSE 0 END) AS BIGINT)
        |      AS self_loops
        |  FROM e),
        |mdc AS (SELECT COUNT(*) AS m_distinct FROM dd),
        |nlc AS (SELECT COUNT(*) AS m_nonloop FROM nl),
        |dout AS (SELECT CAST(MAX(d) AS BIGINT) AS max_out
        |  FROM (SELECT COUNT(*) AS d FROM e GROUP BY src)),
        |din AS (SELECT CAST(MAX(d) AS BIGINT) AS max_in
        |  FROM (SELECT COUNT(*) AS d FROM e GROUP BY dst))
        |SELECT m, m_distinct, m - m_distinct AS dup_edges, self_loops,
        |  CAST(recip_edges AS BIGINT) AS recip_edges,
        |  CAST(recip_edges * 10000 // m_nonloop AS BIGINT) AS recip_bp,
        |  max_out, max_in
        |FROM t, mdc, recip, nlc, dout, din""".stripMargin,
    // full BFS recompute on the post graph (dangling edges dropped) —
    // the halo plan must reproduce it row-for-row
    "q253_incremental_bfs" ->
      """WITH RECURSIVE nn AS (SELECT COUNT(*) AS n FROM documents),
        |post AS (SELECT doc_id FROM documents WHERE doc_id % 13 <> 5),
        |l0 AS (
        |  SELECT d.doc_id AS src,
        |    CASE WHEN d.doc_id % 7 = 3 THEN (d.doc_id*37 + 11*k) % nn.n
        |         ELSE (d.doc_id*31 + 7*k) % nn.n END AS dst
        |  FROM post d CROSS JOIN nn, range(1, 4) t(k)),
        |l AS (SELECT src, dst FROM l0
        |  WHERE dst IN (SELECT doc_id FROM post)),
        |r AS (
        |  SELECT doc_id, 0 AS hops FROM post WHERE doc_id % 50 = 0
        |  UNION
        |  SELECT l.dst, r.hops + 1 FROM r JOIN l ON l.src = r.doc_id
        |  WHERE r.hops < 4)
        |SELECT doc_id, CAST(MIN(hops) AS BIGINT) AS hops
        |FROM r GROUP BY 1""".stripMargin,
    "q90_pagerank" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |r0 AS (SELECT doc_id, 1000000::BIGINT AS rank FROM documents),
        |r1 AS (
        |  SELECT d.doc_id,
        |    150000 + (85 * COALESCE(c.in_sum, 0)) // 100 AS rank
        |  FROM documents d LEFT JOIN (
        |    SELECT l.dst, SUM(r.rank // 3) AS in_sum
        |    FROM links l JOIN r0 r ON l.src = r.doc_id GROUP BY l.dst) c
        |  ON d.doc_id = c.dst),
        |r2 AS (
        |  SELECT d.doc_id,
        |    150000 + (85 * COALESCE(c.in_sum, 0)) // 100 AS rank
        |  FROM documents d LEFT JOIN (
        |    SELECT l.dst, SUM(r.rank // 3) AS in_sum
        |    FROM links l JOIN r1 r ON l.src = r.doc_id GROUP BY l.dst) c
        |  ON d.doc_id = c.dst)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank_micro FROM r2""".stripMargin,
    // q90's two-step SQL with the teleport term masked to seeds
    "q172_personalized_pagerank" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |r0 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 50 = 0 THEN 1000000::BIGINT
        |         ELSE 0::BIGINT END AS rank
        |  FROM documents),
        |r1 AS (
        |  SELECT d.doc_id,
        |    (CASE WHEN d.doc_id % 50 = 0 THEN 150000 ELSE 0 END)
        |      + (85 * COALESCE(c.in_sum, 0)) // 100 AS rank
        |  FROM documents d LEFT JOIN (
        |    SELECT l.dst, SUM(r.rank // 3) AS in_sum
        |    FROM links l JOIN r0 r ON l.src = r.doc_id GROUP BY l.dst) c
        |  ON d.doc_id = c.dst),
        |r2 AS (
        |  SELECT d.doc_id,
        |    (CASE WHEN d.doc_id % 50 = 0 THEN 150000 ELSE 0 END)
        |      + (85 * COALESCE(c.in_sum, 0)) // 100 AS rank
        |  FROM documents d LEFT JOIN (
        |    SELECT l.dst, SUM(r.rank // 3) AS in_sum
        |    FROM links l JOIN r1 r ON l.src = r.doc_id GROUP BY l.dst) c
        |  ON d.doc_id = c.dst)
        |SELECT doc_id, CAST(rank AS BIGINT) AS ppr_micro FROM r2""".stripMargin,
    // HUGEINT mirrors the DECIMAL(38,0) products; sign-split keeps
    // DuckDB floor == Spark trunc (num² and the dens are non-negative)
    "q173_degree_assortativity" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id % 10 AS dst FROM documents),
        |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        |      FROM links WHERE src <> dst),
        |deg AS (SELECT x, COUNT(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY 1),
        |b AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |j AS (SELECT du.d AS dx, dv.d AS dy
        |  FROM b JOIN deg du ON b.u = du.x JOIN deg dv ON b.v = dv.x),
        |s AS (SELECT COUNT(*) AS m,
        |    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
        |    CAST(SUM(dx*dy) AS BIGINT) AS sxy,
        |    CAST(SUM(dx*dx) AS BIGINT) AS sxx,
        |    CAST(SUM(dy*dy) AS BIGINT) AS syy
        |  FROM j),
        |f AS (SELECT m, m*sxy - sx*sy AS num,
        |    m*sxx - sx*sx AS den_x, m*syy - sy*sy AS den_y FROM s)
        |SELECT m, num, den_x, den_y,
        |  CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
        |    * ((CAST(1000000 AS HUGEINT) * num * num)
        |       // (CAST(den_x AS HUGEINT) * den_y)) AS BIGINT)
        |    AS r2_ppm_signed
        |FROM f""".stripMargin,
    // the oracle recomputes BOTH iterations from scratch on the
    // post-change graph — the incremental path must land on it exactly
    "q164_incremental_pagerank" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |docs2 AS (SELECT doc_id FROM documents WHERE doc_id % 13 <> 5),
        |links AS (
        |  SELECT d.doc_id AS src,
        |    CASE WHEN d.doc_id % 7 = 3 THEN (d.doc_id*37 + 11*k) % n.n
        |         ELSE (d.doc_id*31 + 7*k) % n.n END AS dst
        |  FROM docs2 d CROSS JOIN n, range(1, 4) t(k)),
        |r1 AS (
        |  SELECT d.doc_id,
        |    150000 + (85 * COALESCE(c.in_sum, 0)) // 100 AS rank
        |  FROM docs2 d LEFT JOIN (
        |    SELECT l.dst, SUM(1000000 // 3) AS in_sum
        |    FROM links l GROUP BY l.dst) c
        |  ON d.doc_id = c.dst),
        |r2 AS (
        |  SELECT d.doc_id,
        |    150000 + (85 * COALESCE(c.in_sum, 0)) // 100 AS rank
        |  FROM docs2 d LEFT JOIN (
        |    SELECT l.dst, SUM(r.rank // 3) AS in_sum
        |    FROM links l JOIN r1 r ON l.src = r.doc_id GROUP BY l.dst) c
        |  ON d.doc_id = c.dst)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank_micro FROM r2""".stripMargin,
    // two synchronous mode-label rounds unrolled; ROW_NUMBER (cnt
    // DESC, label ASC) mirrors the engine's max(struct(cnt, -label))
    "q218_label_prop" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        |      FROM links WHERE src <> dst),
        |nbr AS (SELECT u AS vid, v AS nb FROM e
        |        UNION ALL SELECT v AS vid, u AS nb FROM e),
        |l0 AS (SELECT doc_id AS vid, doc_id AS label FROM documents),
        |c1 AS (SELECT nbr.vid, l0.label, COUNT(*) AS cnt
        |       FROM nbr JOIN l0 ON nbr.nb = l0.vid GROUP BY 1, 2),
        |m1 AS (SELECT vid, label FROM (
        |         SELECT vid, label, ROW_NUMBER() OVER (PARTITION BY vid
        |           ORDER BY cnt DESC, label) AS rn FROM c1) WHERE rn = 1),
        |l1 AS (SELECT l0.vid, COALESCE(m1.label, l0.label) AS label
        |       FROM l0 LEFT JOIN m1 ON l0.vid = m1.vid),
        |c2 AS (SELECT nbr.vid, l1.label, COUNT(*) AS cnt
        |       FROM nbr JOIN l1 ON nbr.nb = l1.vid GROUP BY 1, 2),
        |m2 AS (SELECT vid, label FROM (
        |         SELECT vid, label, ROW_NUMBER() OVER (PARTITION BY vid
        |           ORDER BY cnt DESC, label) AS rn FROM c2) WHERE rn = 1),
        |l2 AS (SELECT l1.vid, COALESCE(m2.label, l1.label) AS label
        |       FROM l1 LEFT JOIN m2 ON l1.vid = m2.vid)
        |SELECT vid AS doc_id, CAST(label AS BIGINT) AS label FROM l2""".stripMargin,
    // four unrolled hash-driven steps; the md5 step hash mirrors the
    // engine's shared hash60 recipe
    "q223_random_walks" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |e AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst),
        |nbr AS (SELECT src, dst,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rk,
        |    COUNT(*) OVER (PARTITION BY src) AS deg
        |  FROM e),
        |w0 AS (SELECT doc_id AS walker, doc_id AS cur,
        |         CAST(doc_id AS VARCHAR) AS path
        |       FROM documents WHERE doc_id % 16 = 0),
        |w1 AS (SELECT w.walker, COALESCE(b.dst, w.cur) AS cur,
        |    w.path || '>' || COALESCE(b.dst, w.cur) AS path
        |  FROM w0 w LEFT JOIN nbr b ON b.src = w.cur AND b.rk = 1 +
        |    CAST('0x' || substr(md5('walk1:' || w.cur),1,15) AS BIGINT) % b.deg),
        |w2 AS (SELECT w.walker, COALESCE(b.dst, w.cur) AS cur,
        |    w.path || '>' || COALESCE(b.dst, w.cur) AS path
        |  FROM w1 w LEFT JOIN nbr b ON b.src = w.cur AND b.rk = 1 +
        |    CAST('0x' || substr(md5('walk2:' || w.cur),1,15) AS BIGINT) % b.deg),
        |w3 AS (SELECT w.walker, COALESCE(b.dst, w.cur) AS cur,
        |    w.path || '>' || COALESCE(b.dst, w.cur) AS path
        |  FROM w2 w LEFT JOIN nbr b ON b.src = w.cur AND b.rk = 1 +
        |    CAST('0x' || substr(md5('walk3:' || w.cur),1,15) AS BIGINT) % b.deg),
        |w4 AS (SELECT w.walker, COALESCE(b.dst, w.cur) AS cur,
        |    w.path || '>' || COALESCE(b.dst, w.cur) AS path
        |  FROM w3 w LEFT JOIN nbr b ON b.src = w.cur AND b.rk = 1 +
        |    CAST('0x' || substr(md5('walk4:' || w.cur),1,15) AS BIGINT) % b.deg)
        |SELECT walker, cur AS final_node, path FROM w4""".stripMargin,
    "q232_cocitation" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |e AS (SELECT DISTINCT src, dst FROM links WHERE src <> dst),
        |capped AS (
        |  SELECT src, dst FROM (
        |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY dst
        |      ORDER BY src ASC) AS rk FROM e)
        |  WHERE rk <= 8)
        |SELECT x.src AS a, y.src AS b, COUNT(*) AS n_shared
        |FROM capped x JOIN capped y ON x.dst = y.dst AND x.src < y.src
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin,
    // full path enumeration: the recursion carries (node, t, h)
    // triples; MIN(t)/COUNT(DISTINCT t) collapse to the pair set the
    // anti-join loop maintains
    "q274_temporal_reach" ->
      """WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM documents),
        |lt AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst,
        |    (d.doc_id*13 + 29*k) % 30 AS et
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |r AS (
        |  SELECT doc_id, CAST(0 AS BIGINT) AS t, 0 AS h
        |  FROM documents WHERE doc_id % 50 = 0
        |  UNION
        |  SELECT l.dst, CAST(l.et AS BIGINT), r.h + 1
        |  FROM r JOIN lt l ON l.src = r.doc_id AND l.et >= r.t
        |  WHERE r.h < 4)
        |SELECT doc_id, MIN(t) AS earliest_arrival,
        |  CAST(COUNT(DISTINCT t) AS BIGINT) AS n_arrivals
        |FROM r GROUP BY 1""".stripMargin,
    // forward and backward bounded reachability as two recursive CTEs;
    // MIN collapses re-reaches exactly like the anti-join loop
    "q264_scc_mutual" ->
      """WITH RECURSIVE n AS (SELECT COUNT(*) AS n FROM documents),
        |links AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |f AS (
        |  SELECT doc_id, 0 AS hops FROM documents WHERE doc_id % 50 = 0
        |  UNION
        |  SELECT l.dst, f.hops + 1 FROM f JOIN links l ON l.src = f.doc_id
        |  WHERE f.hops < 4),
        |b AS (
        |  SELECT doc_id, 0 AS hops FROM documents WHERE doc_id % 50 = 0
        |  UNION
        |  SELECT l.src, b.hops + 1 FROM b JOIN links l ON l.dst = b.doc_id
        |  WHERE b.hops < 4),
        |fm AS (SELECT doc_id, CAST(MIN(hops) AS BIGINT) AS fwd_hops
        |       FROM f GROUP BY 1),
        |bm AS (SELECT doc_id, CAST(MIN(hops) AS BIGINT) AS bwd_hops
        |       FROM b GROUP BY 1)
        |SELECT fm.doc_id, fm.fwd_hops, bm.bwd_hops
        |FROM fm JOIN bm USING (doc_id)""".stripMargin,
    // the oracle recounts BOTH graphs in full — the incremental plan
    // must land on the identical post count
    "q265_incremental_triangles" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |lpre AS (
        |  SELECT d.doc_id AS src, (d.doc_id*31 + 7*k) % n.n AS dst
        |  FROM documents d CROSS JOIN n, range(1, 4) t(k)),
        |epre AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        |         FROM lpre WHERE src <> dst),
        |post AS (SELECT doc_id FROM documents WHERE doc_id % 13 <> 5),
        |lpost AS (
        |  SELECT d.doc_id AS src,
        |    CASE WHEN d.doc_id % 7 = 3 THEN (d.doc_id*37 + 11*k) % n.n
        |         ELSE (d.doc_id*31 + 7*k) % n.n END AS dst
        |  FROM post d CROSS JOIN n, range(1, 4) t(k)),
        |epost AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        |          FROM lpost WHERE src <> dst
        |          AND dst IN (SELECT doc_id FROM post)),
        |tpre AS (SELECT COUNT(*) AS n_pre FROM
        |  (SELECT e1.u AS u, e2.v AS w FROM epre e1 JOIN epre e2 ON e1.v = e2.u) wdg
        |  WHERE EXISTS (SELECT 1 FROM epre e WHERE e.u = wdg.u AND e.v = wdg.w)),
        |tpost AS (SELECT COUNT(*) AS n_post FROM
        |  (SELECT e1.u AS u, e2.v AS w FROM epost e1 JOIN epost e2 ON e1.v = e2.u) wdg
        |  WHERE EXISTS (SELECT 1 FROM epost e WHERE e.u = wdg.u AND e.v = wdg.w))
        |SELECT CAST(n_pre AS BIGINT) AS n_pre,
        |  CAST(n_post - n_pre AS BIGINT) AS delta,
        |  CAST(n_post AS BIGINT) AS n_post
        |FROM tpre, tpost""".stripMargin,
  )
}
