package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan conformance: the properties that make the engine hold
  * at 100 TB are asserted, not assumed — filter pushdown and column
  * pruning reach the parquet scan THROUGH the partition-count-gated
  * spread, the partitioned spatial join really shuffles (no accidental
  * broadcast of a TB-scale side), and the refine predicate is the
  * native codegen expression. */
class PlanSpec extends SparkTestBase {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter pushdown + column pruning survive the spread repartition") {
    val q = queries.Tables.lineitem(spark, sfSmall)
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val plan = formatted(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("partitioned+salted PIP join plans a shuffled join with the codegen refine") {
    val plan = formatted(SparkEntry.queries("q30b_pip_join_salted")(spark, sfSmall))
    assert(plan.contains("ShuffledHashJoin"), plan.linesIterator.take(40).mkString("\n"))
    assert(plan.contains("pip_contains"), "native refine expression missing from plan")
  }

  test("broadcast PIP path plans a BroadcastHashJoin") {
    val pts = synth.SynthUniverse.points(spark, sfSmall)
    val polys = spatial.SpatialJoin.polygons(
      synth.SynthUniverse.wayMembers(spark, sfSmall),
      synth.SynthUniverse.nodes(spark, sfSmall))
    val plan = formatted(
      spatial.SpatialJoin.pipJoin(pts, polys, res = 6, mode = "auto"))
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(30).mkString("\n"))
  }

  test("pip_contains is SQL-callable (registered expression) with covers semantics") {
    org.apache.spark.sql.GraftSqlShim.registerFunction(spark, "pip_contains",
      cs => spatial.PointInRingExpr(cs(0), cs(1), cs(2), cs(3)))
    val rows = spark.sql(
      """SELECT
        |  pip_contains(array(0D,2D,2D,0D,0D), array(0D,0D,2D,2D,0D), 1D, 1D) AS inside,
        |  pip_contains(array(0D,2D,2D,0D,0D), array(0D,0D,2D,2D,0D), 2D, 1D) AS boundary,
        |  pip_contains(array(0D,2D,2D,0D,0D), array(0D,0D,2D,2D,0D), 3D, 1D) AS outside
        |""".stripMargin).collect().head
    assert(rows.getBoolean(0) === true)
    assert(rows.getBoolean(1) === true)  // boundary counts (covers)
    assert(rows.getBoolean(2) === false)
  }

  test("KMV sketch plans a bounded-state aggregate: no window, map-side partial") {
    val df = SparkEntry.queries("q66_kmv_sketch")(spark, sfSmall)
    val plan = formatted(df)
    assert(!plan.contains("Window"), "KMV must not sort distinct values in a window:\n" +
      plan.linesIterator.take(30).mkString("\n"))
    assert(plan.contains("ObjectHashAggregate"), "expected the typed-imperative aggregate")
    assert(plan.contains("partial_kmv_sketch"), "expected a map-side partial sketch")
    // sketch semantics: exact when under k, never over-counts dup inputs
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(!_.isNullAt(2)))
  }

  test("incremental multipolygon maintenance broadcasts the small sets, no cross product") {
    val plan = formatted(SparkEntry.queries("q71_incremental_multipip")(spark, sfSmall))
    assert(!plan.contains("CartesianProduct"), "q71 degenerated to a cross product")
    assert(plan.contains("BroadcastHashJoin"),
      "expected broadcast of the affected-relation / cover-cell sets")
    assert(plan.contains("pip_contains"), "native refine expression missing")
  }

  test("even-odd multipolygon keeps the single-aggregate shape") {
    val plan = formatted(SparkEntry.queries("q72_multipolygon_evenodd")(spark, sfSmall))
    assert(!plan.contains("CartesianProduct"), "q72 degenerated to a cross product")
    assert(plan.contains("pip_contains"), "native refine expression missing")
    // one hash-aggregate pair (partial + final) over (key, rel), no window
    assert(!plan.contains("Window"), "even-odd must not need a window")
  }

  test("multipolygon join refines natively and never cross-products") {
    val plan = formatted(SparkEntry.queries("q56_multipolygon_pip")(spark, sfSmall))
    assert(plan.contains("pip_contains"), "native refine expression missing from plan")
    assert(!plan.contains("CartesianProduct"),
      "multipolygon join degenerated to a cross product")
    // outer-AND-NOT-inner folds in ONE aggregate with a map-side
    // partial: exactly two HashAggregate nodes on the (point, rel) key
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.linesIterator.take(30).mkString("\n"))
  }

  test("q74 packing plans exactly one exchange (co-locate) and no join") {
    val plan = formatted(SparkEntry.queries("q74_sequence_pack")(spark, sfSmall))
    // one shuffle co-locates each source; the greedy fold itself must
    // add no further exchange, join, or window
    assert("(?m)^\\s*\\+- Exchange".r.findAllIn(plan).size === 1,
      plan.linesIterator.take(40).mkString("\n"))
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("q75 tf-idf broadcasts the vocabulary side and keeps aggregates map-side-combined") {
    val plan = formatted(SparkEntry.queries("q75_tfidf_topk")(spark, sfSmall))
    assert(plan.contains("BroadcastHashJoin"),
      "vocabulary (df) side must broadcast:\n" +
        plan.linesIterator.take(40).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    // tf and df both get partial_count / partial map-side aggregation
    assert("partial_count".r.findAllIn(plan).size >= 2, plan)
  }

  test("late-round joins never degenerate to cross products") {
    // q98 (span-hash semi-join), q101 (band-bucket IVM probes),
    // q107 (wedge join + closure), q102 (grid fill join): every one is
    // an equi-join family; a CartesianProduct here means a key was
    // lost in a rename and the plan would melt at corpus scale
    for (q <- Seq("q98_dup_spans", "q101_incremental_minhash",
        "q107_triangles", "q102_resample_gapfill")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
  }

  test("q113 segment crossing join stays a cell equi-join, q115/q116 stay partitioned") {
    // q113 must prefilter on the cover cell (equi-join), never brute
    // bbox-pair; q115's pair generation must be join-free (narrow
    // double explode); q116's top-k window must partition by tile
    val p113 = formatted(SparkEntry.queries("q113_segment_box_join")(spark, sfSmoke))
    assert(!p113.contains("CartesianProduct"), "q113 plans a cross product")
    Bench.clearState(spark)
    val p115 = formatted(SparkEntry.queries("q115_cooccurrence")(spark, sfSmoke))
    assert(!p115.contains("Join"), "q115 pair generation must not join")
    Bench.clearState(spark)
    val df116 = SparkEntry.queries("q116_tile_terms")(spark, sfSmoke)
    val winSpecs = df116.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(winSpecs.nonEmpty && winSpecs.forall(_.nonEmpty),
      "q116's top-k window must be partitioned by tile")
    Bench.clearState(spark)
  }

  test("q140 skyline never sorts or windows, q142/q144 stay equi-joins, q145 votes without a window") {
    // q140: the whole point of the bucket-pruned skyline is NO global
    // sort and NO window — the finish is a bounded broadcast join
    val df140 = SparkEntry.queries("q140_pareto_select")(spark, sfSmoke)
    val wins140 = df140.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins140.isEmpty, "q140 must not plan any window")
    val p140 = formatted(df140)
    assert(!p140.contains("CartesianProduct"), "q140 plans a cross product")
    assert(!p140.contains("BroadcastNestedLoopJoin"),
      "q140's exact finish must stay the bucket EQUI-join (dominance as " +
        "residual), never a nested loop over the whole frontier")
    Bench.clearState(spark)
    // q142's candidate generation and verify are equi-joins only; a
    // cross product means the prefix token key got lost
    for (q <- Seq("q142_setsim_join", "q141_grid_cluster", "q144_pip_anti")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // q145's majority vote is an aggregate argmax, never a rank window
    val df145 = SparkEntry.queries("q145_knn_classify")(spark, sfSmoke)
    val wins145 = df145.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    // the only window is q19's top-k rank, partitioned by query_id
    assert(wins145.forall(_.nonEmpty), "q145 must not plan a global window")
    Bench.clearState(spark)
  }

  test("q149-q156 wave: equi-joins, join-free rasterize, broadcast LM/retrieval probes") {
    // q149's segment×segment join must stay the cell equi-join with
    // the straddle refine as a residual — never an all-pairs product
    val p149 = formatted(SparkEntry.queries("q149_segment_intersect")(spark, sfSmoke))
    assert(!p149.contains("CartesianProduct"), "q149 plans a cross product")
    assert(!p149.contains("BroadcastNestedLoopJoin"), "q149 plans a nested loop")
    Bench.clearState(spark)
    // q153's rasterization is a pure narrow scatter — no join at all
    val p153 = formatted(SparkEntry.queries("q153_rasterize_coverage")(spark, sfSmoke))
    assert(!p153.contains("Join"), "q153's coverage scatter must not join")
    Bench.clearState(spark)
    // q154's only join is the 1-row iso-level broadcast; the corner
    // scatter itself is join-free and the block fold is an aggregate
    val p154 = formatted(SparkEntry.queries("q154_contours")(spark, sfSmoke))
    assert(!p154.contains("CartesianProduct"), "q154 plans a cross product")
    assert(!p154.contains("SortMergeJoin") && !p154.contains("ShuffledHashJoin"),
      "q154 must not shuffle-join — only the 1-row threshold broadcast")
    Bench.clearState(spark)
    // q150's first-occurrence join is an equi-join on the block key
    val p150 = formatted(SparkEntry.queries("q150_block_dedup")(spark, sfSmoke))
    assert(!p150.contains("CartesianProduct"), "q150 plans a cross product")
    Bench.clearState(spark)
    // q151's scoring pass must broadcast both count tables — the
    // corpus stream is never shuffled for the join
    val p151 = formatted(SparkEntry.queries("q151_bigram_lm")(spark, sfSmoke))
    assert(p151.contains("BroadcastHashJoin"), "q151 must broadcast the model")
    assert(!p151.contains("SortMergeJoin"), "q151 shuffles the corpus to join")
    Bench.clearState(spark)
    // q152's cross-corpus candidates come from band equi-joins only
    val p152 = formatted(SparkEntry.queries("q152_crosscorpus_neardup")(spark, sfSmoke))
    assert(!p152.contains("CartesianProduct"), "q152 plans a cross product")
    Bench.clearState(spark)
    // q155's scoring probe must broadcast the weighted query batch —
    // the corpus posting stream is never reshuffled per query set —
    // and its only window is the query-partitioned top-k
    val df155 = SparkEntry.queries("q155_bm25_retrieval")(spark, sfSmoke)
    val p155 = formatted(df155)
    assert(p155.contains("BroadcastHashJoin"), "q155 must broadcast the query batch")
    val wins155 = df155.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(wins155.nonEmpty && wins155.forall(_.nonEmpty),
      "q155's top-k window must be partitioned by query")
    Bench.clearState(spark)
    // q156's version pick is a bounded max AGGREGATE, never a window,
    // and the candidate join stays the cell equi-join
    val df156 = SparkEntry.queries("q156_temporal_pip")(spark, sfSmoke)
    val p156 = formatted(df156)
    assert(!p156.contains("CartesianProduct"), "q156 plans a cross product")
    val wins156 = df156.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins156.isEmpty, "q156 must pick the valid version by aggregate, not window")
    Bench.clearState(spark)
    // q157's promotion rounds are aggregate + anti EQUI-joins; q158's
    // pairing is the tile equi-join; q159 keeps the engine's
    // no-unpartitioned-window invariant (bounded sorted-array
    // aggregate instead)
    for (q <- Seq("q157_compact_cover", "q158_cotraveler_pairs")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
      Bench.clearState(spark)
    }
    val df159 = SparkEntry.queries("q159_spatial_balance")(spark, sfSmoke)
    val wins159 = df159.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins159.isEmpty, "q159 must not plan any window")
    Bench.clearState(spark)
  }

  test("q122 shares one user exchange, q125 never joins, q126 window partitioned") {
    // q122's two row_number windows must reuse a single user_id
    // shuffle; q125's focal scatter must be a narrow explode (no
    // raster self-join); q126's sessionize windows must partition
    // string-count: AQE's adaptive root hides children from collect()
    // before execution, but toString descends the initial plan
    val p122 = SparkEntry.queries("q122_od_matrix")(spark, sfSmoke)
      .queryExecution.executedPlan.toString
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p122).size
    assert(userExchanges == 1,
      s"q122 must shuffle on user_id exactly once, found $userExchanges")
    Bench.clearState(spark)
    val p125 = formatted(SparkEntry.queries("q125_focal_smooth")(spark, sfSmoke))
    assert(!p125.contains("Join"), "q125's focal scatter must not join")
    Bench.clearState(spark)
    val df126 = SparkEntry.queries("q126_stop_detect")(spark, sfSmoke)
    val winSpecs = df126.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(winSpecs.nonEmpty && winSpecs.forall(_.nonEmpty),
      "q126's sessionize windows must be partitioned by user")
    Bench.clearState(spark)
  }

  test("q117/q118 stay cell equi-joins with point-partitioned argmin") {
    // the within-distance join and the map-matcher must prefilter on
    // the cover cell (equi-join, never brute all-pairs), and q118's
    // nearest-segment argmin window must partition by the point key
    val p117 = formatted(SparkEntry.queries("q117_distance_within")(spark, sfSmoke))
    assert(!p117.contains("CartesianProduct"), "q117 plans a cross product")
    Bench.clearState(spark)
    val df118 = SparkEntry.queries("q118_map_match")(spark, sfSmoke)
    val p118 = formatted(df118)
    assert(!p118.contains("CartesianProduct"), "q118 plans a cross product")
    val winSpecs = df118.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(winSpecs.nonEmpty && winSpecs.forall(_.nonEmpty),
      "q118's argmin window must be partitioned by the point key")
    Bench.clearState(spark)
  }

  test("q160 strip windows partitioned; q163 adjacency is an equi-join, no window") {
    // q160's interval-merge sweep must run per (grp, strip) — a
    // partitionBy-less window would make the union a global sort;
    // q163's rook adjacency must stay the shifted-cell equi-join
    // (its only crossJoins broadcast one-row aggregates)
    val df160 = SparkEntry.queries("q160_union_area")(spark, sfSmoke)
    val p160 = formatted(df160)
    assert(!p160.contains("CartesianProduct"), "q160 plans a cross product")
    val wins160 = df160.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(wins160.nonEmpty && wins160.forall(_.nonEmpty),
      "q160's merge windows must be partitioned by (grp, strip)")
    Bench.clearState(spark)
    val df163 = SparkEntry.queries("q163_moran")(spark, sfSmoke)
    val p163 = formatted(df163)
    assert(!p163.contains("CartesianProduct"), "q163 plans a cross product")
    val wins163 = df163.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins163.isEmpty, "q163 must not plan any window")
    Bench.clearState(spark)
  }

  test("q161 BFS rounds stay equi-joins; q162 IDW scatter is window-free") {
    // the frontier expansion must never degenerate past the src
    // equi-join + visited anti-join; the IDW kernel must stay the
    // join-free scatter + ONE equi-join back to occupied cells
    for (q <- Seq("q161_bfs_hops", "q162_idw")) {
      val df = SparkEntry.queries(q)(spark, sfSmoke)
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.isEmpty, s"$q must not plan any window")
      Bench.clearState(spark)
    }
  }

  test("q166-q169 plans: user equi-joins, fold-only funnel, bounded global top-k") {
    // q166's attribution must stay the user equi-join (range as
    // filter); q167's funnel chain is aggregate-only (the window
    // formulation would stack three user exchanges); q168's joins are
    // vocabulary equi-joins (its only nested loop broadcasts the
    // 1-row total); q169's global top-20 must plan
    // TakeOrderedAndProject, never a global sort of all paths
    val p166 = formatted(SparkEntry.queries("q166_attribution")(spark, sfSmoke))
    assert(!p166.contains("CartesianProduct"), "q166 plans a cross product")
    assert(!p166.contains("BroadcastNestedLoopJoin"), "q166 plans a nested loop")
    Bench.clearState(spark)
    val df167 = SparkEntry.queries("q167_funnel")(spark, sfSmoke)
    val wins167 = df167.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins167.isEmpty, "q167 must fold, not window")
    Bench.clearState(spark)
    val p168 = formatted(SparkEntry.queries("q168_collocation_lift")(spark, sfSmoke))
    assert(!p168.contains("CartesianProduct"), "q168 plans a cross product")
    Bench.clearState(spark)
    val df169 = SparkEntry.queries("q169_session_paths")(spark, sfSmoke)
    val p169 = df169.queryExecution.executedPlan.toString
    assert(p169.contains("TakeOrderedAndProject"),
      "q169's top-20 must be a partial top-k, not a global sort")
    val wins169 = df169.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(wins169.nonEmpty && wins169.forall(_.nonEmpty),
      "q169's sessionize windows must be user-partitioned")
    Bench.clearState(spark)
  }

  test("q176-q186 plans: equi-joins only, partitioned windows") {
    // the wave's graph/spatial/LM queries must stay equi-join shapes
    // (q178's one-row total broadcast is the accepted crossJoin case),
    // and every window the time-series pair plans must be partitioned
    for (q <- Seq("q176_hits", "q181_retention", "q182_link_prediction",
        "q183_bellman_ford", "q185_kanon_tiles", "q186_rolling_active")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop")
      Bench.clearState(spark)
    }
    for (q <- Seq("q177_hausdorff", "q179_dbscan")) {
      val df = SparkEntry.queries(q)(spark, sfSmoke)
      assert(!formatted(df).contains("CartesianProduct"),
        s"$q plans a cross product")
      Bench.clearState(spark)
    }
    for (q <- Seq("q180_cusum", "q184_seasonal_anomaly")) {
      val df = SparkEntry.queries(q)(spark, sfSmoke)
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
      assert(wins.nonEmpty && wins.forall(_.nonEmpty),
        s"$q must plan only user-partitioned windows")
      Bench.clearState(spark)
    }
  }

  test("q187-q194 plans: scatter/equi shapes, partitioned windows, codegen hilbert") {
    // q187/q189/q192: equi-joins only (q187's one-row stats broadcast
    // is the accepted crossJoin case — assert it stays a 1-row
    // BROADCAST, never a cartesian product)
    for (q <- Seq("q187_getis_hotspot", "q189_adaptive_tiles",
        "q192_anchor_terms")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // windows in q188/q192 must be key-partitioned
    for (q <- Seq("q188_acf", "q192_anchor_terms")) {
      val df = SparkEntry.queries(q)(spark, sfSmoke)
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
      assert(wins.nonEmpty && wins.forall(_.nonEmpty),
        s"$q must plan only key-partitioned windows")
      Bench.clearState(spark)
    }
    // q190 is one Expand + one aggregate: no join anywhere
    val gsPlan = formatted(SparkEntry.queries("q190_grouping_sets")(spark, sfSmoke))
    assert(gsPlan.contains("Expand"), gsPlan.linesIterator.take(20).mkString("\n"))
    assert(!gsPlan.contains("Join"), "grouping sets must not plan a join")
    Bench.clearState(spark)
    // q193/q194: join-free, window-free; the hilbert encode is native
    val hPlan = formatted(SparkEntry.queries("q193_hilbert_order")(spark, sfSmoke))
    assert(hPlan.contains("hilbert_index"), "native hilbert expression missing")
    assert(!hPlan.contains("Join") && !hPlan.contains("Window"), hPlan.linesIterator.take(20).mkString("\n"))
    Bench.clearState(spark)
    val fPlan = formatted(SparkEntry.queries("q194_feature_hash")(spark, sfSmoke))
    assert(!fPlan.contains("Join") && !fPlan.contains("Window"),
      "feature hashing must stay one narrow pass + one aggregate")
    Bench.clearState(spark)
    // q195's SNM window is block-partitioned (never a global sort);
    // q197/q198 stay equi-join shapes
    val snm = SparkEntry.queries("q195_block_dedup")(spark, sfSmoke)
    val snmWins = snm.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(snmWins.nonEmpty && snmWins.forall(_.nonEmpty),
      "SNM must sort per block, never globally")
    Bench.clearState(spark)
    for (q <- Seq("q197_zonal_stats", "q198_incremental_adaptive")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
  }

  test("q199-q209 wave: blocked equi-joins, partitioned windows, native DP exprs") {
    // the trajectory-DP pair queries must plan the block equi-join
    // (never all-pairs) with the native per-pair expression
    for ((q, ex) <- Seq("q199_dtw" -> "dtw_d2", "q204_frechet" -> "frechet_d2")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q must block, not all-pairs")
      assert(plan.contains(ex), s"$q native expression missing")
      Bench.clearState(spark)
    }
    // set joins / dedup / routing / viewshed / mutual-NN: equi-shapes only
    for (q <- Seq("q200_containment_join", "q202_incremental_ivf",
        "q203_flow_accum", "q207_split_overlap", "q208_viewshed",
        "q209_mutual_nn")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // q201's hull: native per-group expression, partitioned window, and
    // the window/groupBy share ONE exchange (plus the scan spread)
    val hull = SparkEntry.queries("q201_convex_hull")(spark, sfSmoke)
    val hPlan = formatted(hull)
    assert(hPlan.contains("convex_hull_stats"), "native hull expression missing")
    val hWins = hull.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(hWins.nonEmpty && hWins.forall(_.nonEmpty), "hull window must be partitioned")
    assert("(?m)^\\s*\\+- Exchange hashpartitioning".r.findAllIn(hPlan).size <= 1,
      "hull window and groupBy must share the user_id exchange:\n" +
        hPlan.linesIterator.take(40).mkString("\n"))
    Bench.clearState(spark)
    // q205/q206/q209: every window key-partitioned (no global sort)
    for (q <- Seq("q205_longest_streak", "q206_bpe_merge", "q209_mutual_nn")) {
      val df = SparkEntry.queries(q)(spark, sfSmoke)
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
      assert(wins.nonEmpty && wins.forall(_.nonEmpty),
        s"$q must plan only key-partitioned windows")
      Bench.clearState(spark)
    }
  }

  test("q09b top-k carries at most k rows per group through the exchange") {
    // the partial aggregate must run BEFORE the shuffle (that is the
    // entire point vs the window formulation)
    val plan = formatted(SparkEntry.queries("q09b_topk_agg")(spark, sfSmoke))
    val partialIdx = plan.indexOf("partial_top_k")
    assert(partialIdx >= 0, "no map-side partial top_k in plan")
    assert(!plan.contains("Window"), "q09b must not fall back to a window")
  }

  test("q100 boundary-stratum window is bucket-partitioned (no global window)") {
    // the one place the engine ever sorts by prefix: must decompose
    // into per-range-bucket windows, never a partitionBy-less window
    // (a single-partition sort at corpus scale)
    val df = SparkEntry.queries("q100_budget_select")(spark, sfSmall)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected the boundary-stratum prefix window in the plan")
    wins.foreach(w =>
      assert(w.partitionSpec.nonEmpty, "q100 plans an unpartitioned (global) window"))
  }

  test("q210-q224 waves: equi-joins only, key-partitioned windows, join-free sketches") {
    // no cartesian product anywhere in the wave (the 1-row
    // broadcast crossJoins in q219/q222/q224 plan a bounded
    // BroadcastNestedLoopJoin, which is the accepted shape — a
    // CartesianProduct never is)
    for (q <- Seq("q211_dist_match", "q215_transitions", "q216_cell_churn",
        "q217_cms_freq", "q218_label_prop", "q219_vocab_growth",
        "q220_incremental_sessions", "q221_poly_centroid",
        "q222_rrf_fusion", "q223_random_walks", "q224_hll_cardinality")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // every window in the sessionize-IVM / fusion / walk queries must
    // be key-partitioned (user, query, src) — never a global sort
    for (q <- Seq("q220_incremental_sessions", "q222_rrf_fusion",
        "q223_random_walks")) {
      val df = SparkEntry.queries(q)(spark, sfSmoke)
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
      assert(wins.nonEmpty && wins.forall(_.nonEmpty),
        s"$q must plan only key-partitioned windows")
      Bench.clearState(spark)
    }
    // the mergeable sketches reduce in aggregates alone: no window,
    // and the only joins are the bounded probe/broadcast ones
    for (q <- Seq("q217_cms_freq", "q224_hll_cardinality")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("Window"), s"$q must not plan a window")
      Bench.clearState(spark)
    }
    // the centroid fold is one assembly exchange + narrow arithmetic:
    // window-free end to end
    val cPlan = formatted(SparkEntry.queries("q221_poly_centroid")(spark, sfSmoke))
    assert(!cPlan.contains("Window"), "centroid must stay window-free")
    Bench.clearState(spark)
  }

  test("q225-q240 wave: no cross products, aggregate argmins, join-free ring lookup") {
    for (q <- Seq("q225_ring_validity", "q226_incremental_heavy_hitters",
        "q227_scd2_intervals", "q228_pq_encode", "q229_token_gini",
        "q230_mmr_diversify", "q231_lsh_recall_eval", "q232_cocitation",
        "q233_decay_score", "q234_minhash_estimate", "q235_lisa",
        "q236_chunk_dedup", "q237_incremental_union_area",
        "q238_admin_hierarchy", "q240_shard_rebalance")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // the LISA scatter, the chunk-dedup first-occurrence pick, and the
    // hierarchy's direct-parent pick are all AGGREGATES — a window
    // would sort the hot chunk / hot cell group on one reducer
    for (q <- Seq("q235_lisa", "q236_chunk_dedup", "q238_admin_hierarchy")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("Window"), s"$q must stay window-free")
      Bench.clearState(spark)
    }
    // q237's re-merge windows are (grp, sx)-partitioned — never global
    val w237 = SparkEntry.queries("q237_incremental_union_area")(spark, sfSmoke)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
    assert(w237.nonEmpty && w237.forall(_.size == 2),
      "q237 windows must partition by (grp, sx)")
    Bench.clearState(spark)
    // the consistent-hash owner lookup is a WHEN chain: no join of any
    // kind in the whole plan
    val p240 = formatted(SparkEntry.queries("q240_shard_rebalance")(spark, sfSmoke))
    assert(!p240.contains("Join"), "q240 must plan no join:\n" +
      p240.linesIterator.take(30).mkString("\n"))
    Bench.clearState(spark)
    // q239's DP rounds are window arithmetic over user-keyed
    // partitions only — never a segment×vertex join, never a global
    // window
    val q239 = SparkEntry.queries("q239_simplify_dp")(spark, sfSmoke)
    val w239 = q239.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
    }
    assert(w239.nonEmpty && w239.forall(_.nonEmpty),
      "q239 windows must all be key-partitioned")
    assert(!formatted(q239).contains("Join"), "q239 must plan no join")
    Bench.clearState(spark)
  }

  test("q241-q246 wave: no cross beyond broadcast scalars, key-partitioned windows, banded joins") {
    // q241's only crossJoin is the broadcast one-row (tt, ss) stats
    // frame (q187's adjudicated shape); everything else is an
    // equi-join of bounded aggregates
    for (q <- Seq("q241_incremental_hotspot", "q242_theilsen_trend",
        "q243_percentile_bands", "q244_buffered_union_area",
        "q245_containment_probe", "q246_phash_neardup",
        "q247_template_prefix", "q248_ann_recall", "q249_weighted_sample",
        "q250_incremental_chunk_dedup", "q251_harmonic_centrality",
        "q253_incremental_bfs", "q254_viterbi_map_match",
        "q255_join_cardinality_estimate", "q256_seasonal_decompose",
        "q258_geohash_codec", "q259_reverse_nn", "q260_class_separation",
        "q261_auc_eval", "q262_incremental_decontamination",
        "q263_cluster_purity")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // q242's median window partitions by cohort; q243's by source;
    // q245's prefix rank by probe — never a global window
    for (q <- Seq("q242_theilsen_trend", "q243_percentile_bands",
        "q245_containment_probe", "q256_seasonal_decompose")) {
      val ws = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
        }
      assert(ws.nonEmpty && ws.forall(_.nonEmpty),
        s"$q windows must all be key-partitioned")
      Bench.clearState(spark)
    }
    // q246's candidate generation is a (band, key) equi-join — the
    // quadratic hamming join is the oracle's shape, not the plan's
    val p246 = SparkEntry.queries("q246_phash_neardup")(spark, sfSmoke)
    val joins246 = p246.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins246.forall(_.condition.isDefined),
      "q246 joins must all carry conditions (banded equi-join)")
    assert(!formatted(p246).contains("Window"), "q246 must stay window-free")
    Bench.clearState(spark)
    // q244 runs the q160 strip merge twice; every window is
    // (grp, sx)-partitioned
    val w244 = SparkEntry.queries("q244_buffered_union_area")(spark, sfSmoke)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
    assert(w244.nonEmpty && w244.forall(_.size == 2),
      "q244 windows must partition by (grp, sx)")
    Bench.clearState(spark)
    // q247's lcp pick is a min-AGGREGATE and q250's winner pick a
    // min-struct aggregate — a window would sort the hot boilerplate
    // group on one reducer
    for (q <- Seq("q247_template_prefix", "q250_incremental_chunk_dedup")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("Window"), s"$q must stay window-free")
      Bench.clearState(spark)
    }
    // q249's bottom-k window partitions by source — never global
    val w249 = SparkEntry.queries("q249_weighted_sample")(spark, sfSmoke)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
    assert(w249.nonEmpty && w249.forall(_.nonEmpty),
      "q249 windows must be source-partitioned")
    Bench.clearState(spark)
    // q251/q253's frontier loops are equi-join + aggregate rounds —
    // window-free end to end; q254's whole Viterbi DP folds inside
    // ONE user-keyed aggregate (no window, exactly one exchange
    // class); q255 is bounded histograms + equi-joins
    for (q <- Seq("q251_harmonic_centrality", "q253_incremental_bfs",
        "q254_viterbi_map_match", "q255_join_cardinality_estimate")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("Window"), s"$q must stay window-free")
      Bench.clearState(spark)
    }
    val p254 = formatted(SparkEntry.queries("q254_viterbi_map_match")(spark, sfSmoke))
    assert(!p254.contains("Join"), "q254 must plan no join (one-fold DP)")
    Bench.clearState(spark)
    // q258's codec and q259's argmin are literal chains: no join, no
    // window in either plan
    for (q <- Seq("q258_geohash_codec", "q259_reverse_nn")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("Join") && !plan.contains("Window"),
        s"$q must stay join- and window-free")
      Bench.clearState(spark)
    }
    // q261's rank walk folds a collected bounded array (the RANK
    // windows live only in the oracle); q262's delta probes broadcast
    for (q <- Seq("q261_auc_eval", "q262_incremental_decontamination")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("Window"), s"$q must stay window-free")
      Bench.clearState(spark)
    }
  }

  test("q264-q270 wave: equi-joins only, key-partitioned windows, bounded argmax") {
    // no cross products anywhere beyond broadcast one-row scalars
    for (q <- Seq("q264_scc_mutual", "q265_incremental_triangles",
        "q266_nb_classifier", "q267_bpe_train", "q269_spacetime_contact",
        "q270_incremental_cms", "q274_temporal_reach",
        "q275_raster_peaks")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // the contact pairing and the triangle-delta probes are pure
    // equi-joins; neither plans a window (their dedup/count shapes are
    // aggregates)
    for (q <- Seq("q269_spacetime_contact", "q270_incremental_cms",
        "q274_temporal_reach", "q275_raster_peaks")) {
      val p = SparkEntry.queries(q)(spark, sfSmoke)
      assert(!formatted(p).contains("Window"), s"$q must stay window-free")
      val joins = p.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.forall(_.condition.isDefined),
        s"$q joins must all carry conditions")
      Bench.clearState(spark)
    }
    // the classifier's argmax window partitions by doc; the BPE
    // trainer's island/renumber windows all partition by doc — never
    // a global window in either. q267's per-round winner/stream are
    // localCheckpoint()ed (r6), so its FINAL plan may be truncated to
    // LogicalRDDs and show no Window at all — the per-round island
    // window shape is pinned on q206 (one merge round) in the
    // q199-q209 wave test; here we only require that any window that
    // does surface is key-partitioned.
    for (q <- Seq("q266_nb_classifier", "q267_bpe_train")) {
      val ws = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
        }
      assert(ws.forall(_.nonEmpty),
        s"$q windows must all be key-partitioned")
      if (q == "q266_nb_classifier")
        assert(ws.nonEmpty, s"$q should keep its doc-partitioned argmax window")
      Bench.clearState(spark)
    }
  }

  test("q276-q280 wave: no cross products, winnowing window doc-keyed, allocator window-free") {
    for (q <- Seq("q276_winnowing", "q277_robots_match", "q278_kappa",
        "q279_crawl_budget", "q280_distance_transform",
        "q281_incremental_winnowing", "q282_kendall_tau",
        "q284_fingerprint_pairs", "q285_tile_lang_diversity",
        "q286_watershed", "q287_entity_conflation", "q288_gradient_aspect",
        "q289_incremental_conflation", "q290_comention_jaccard",
        "q291_hyperball", "q292_greedy_cover", "q293_symspell_join",
        "q294_multiprobe_recall")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sfSmoke))
      assert(!plan.contains("CartesianProduct"), s"$q plans a cross product")
      Bench.clearState(spark)
    }
    // the LIS fold is ONE user-keyed aggregate — join-free AND
    // window-free (the whole DP lives in the aggregate() lambda)
    {
      val p = SparkEntry.queries("q295_lis_trend")(spark, sfSmoke)
      val plan = formatted(p)
      assert(!plan.contains("Window") && !plan.contains("Join"),
        "q295 must stay join- and window-free")
      Bench.clearState(spark)
    }
    // the conflation family, the watershed, and the gradient are
    // equi-join + aggregate shapes — window-free (the oracle's rank
    // window has no Spark counterpart; winners are struct-min
    // aggregates)
    for (q <- Seq("q286_watershed", "q287_entity_conflation",
        "q288_gradient_aspect", "q289_incremental_conflation")) {
      assert(!formatted(SparkEntry.queries(q)(spark, sfSmoke))
        .contains("Window"), s"$q must stay window-free")
      Bench.clearState(spark)
    }
    // the pair miner and the diversity raster are pure equi-join +
    // aggregate shapes — window-free
    for (q <- Seq("q284_fingerprint_pairs", "q285_tile_lang_diversity")) {
      val p = SparkEntry.queries(q)(spark, sfSmoke)
      val plan = formatted(p)
      // q284's winnowed input carries the doc-keyed selection window;
      // beyond it, no window may appear (the pair fold is aggregates)
      val ws = p.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
      }
      assert(ws.forall(_.nonEmpty), s"$q windows must all be key-partitioned")
      Bench.clearState(spark)
    }
    // the winnowing selection window partitions by doc_id — never a
    // global sort; the longest-prefix match and the apportionment
    // rank are aggregate/join shapes with no window at all
    for (q <- Seq("q277_robots_match", "q279_crawl_budget",
        "q280_distance_transform")) {
      assert(!formatted(SparkEntry.queries(q)(spark, sfSmoke))
        .contains("Window"), s"$q must stay window-free")
      Bench.clearState(spark)
    }
    // winnowing selects under a doc-keyed window, dwell attribution
    // under a user-keyed lead — never a global window in either
    for (q <- Seq("q276_winnowing", "q281_incremental_winnowing",
        "q283_dwell_time")) {
      val ws = SparkEntry.queries(q)(spark, sfSmoke)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w.partitionSpec
        }
      assert(ws.nonEmpty && ws.forall(_.nonEmpty),
        s"$q windows must all be key-partitioned")
      Bench.clearState(spark)
    }
  }

  test("cell_at / cover_cells SQL functions agree with CellIndex and contain each other") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    org.apache.spark.sql.GraftSqlShim.registerFunction(spark, "cell_at",
      cs => spatial.CellAtExpr(cs(0), cs(1),
        cs(2).asInstanceOf[Literal].value.asInstanceOf[Int]))
    org.apache.spark.sql.GraftSqlShim.registerFunction(spark, "cover_cells",
      cs => spatial.CoverCellsExpr(cs(0), cs(1),
        cs(2).asInstanceOf[Literal].value.asInstanceOf[Int]))
    val r = spark.sql(
      """SELECT cell_at(13.5D, 42.7D, 6) AS c,
        |  cover_cells(array(13D,14D,14D,13D,13D), array(42D,42D,43D,43D,42D), 6) AS cov
        |""".stripMargin).collect().head
    assert(r.getLong(0) === geo.CellIndex.cellAt(13.5, 42.7, 6))
    assert(r.getSeq[Long](1).contains(geo.CellIndex.cellAt(13.5, 42.7, 6)))
  }
}
