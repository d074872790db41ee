package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.osm.{ChangePipeline, Replicator}
import graft.queries.Tables
import graft.spatial.SpatialJoin
import graft.synth.SynthUniverse
import graft.tables.SnapshotTable

/** Benchmark main (driver contract): one JSON line with per-query
  * seconds plus the headline end-to-end docs/sec of the full
  * spatial-join + OsmChange-delta pipeline (BASELINE.md protocol).
  *
  * Timing hygiene: every timed run starts from a CLEAN cache state —
  * `spark.catalog.clearCache()` + unpersist of all persistent RDDs
  * (localCheckpoint blocks included) — so no query's internal
  * `.cache()` leaks into another query's measurement and repeated reps
  * measure the full query, not a cache hit (the BENCH_r02 e2e
  * regression was exactly this pollution). JIT/codegen/file-listing
  * warm-up still carries across runs, which is the point of best-of-N.
  *
  * Run at two parallelism levels for the scaling-efficiency evidence:
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=8  sbt "runMain graft.Bench"
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 sbt "runMain graft.Bench"
  * }}}
  */
object Bench {

  /** Headline per-operator queries (quadratic all-pairs baselines like
    * q12 are correctness-only and excluded from timing). */
  val headline: Seq[String] = Seq(
    "q01_pricing_agg", "q02_revenue_per_nation", "q03_dedup_latest",
    "q07_ordered_group_concat", "q09_topk_per_group",
    "q09b_topk_agg",
    "q11_exact_dedup", "q13_minhash_lsh_pairs", "q14_simhash",
    "q15_langid", "q17_token_count", "q18_fingerprint",
    "q19_cosine_topk", "q29_extract_entities", "q30_pip_join",
    "q30b_pip_join_salted", "q31b_knn_rings", "q32_raster_tiles",
    "q34_changes_dedup", "q38_delete_set", "q39_node_triples",
    "q40_nodes_after_merge", "q52_ways_after_merge", "q56_multipolygon_pip",
    "q60_incremental_pip", "q61_decontaminate", "q63_sessionize",
    "q64_asof_join", "q65_range_join", "q70_triples_after_merge",
    "q71_incremental_multipip", "q73_mor_corpus",
    "q74_sequence_pack", "q75_tfidf_topk", "q76_kmeans_assign",
    "q78_repetition", "q85_bloom_semijoin", "q86_bbox_overlap",
    "q87_chunk_overlap", "q88_semdedup", "q89_inverted_index",
    "q90_pagerank", "q91_trajectory_length", "q93_source_sample",
    "q94_table_profile", "q95_incremental_index",
    "q96_jsonl_roundtrip", "q97_rank_suite",
    "q98_dup_spans", "q99_url_canonical", "q100_budget_select",
    "q101_incremental_minhash", "q102_resample_gapfill", "q103_png_header",
    "q67b_hist_quantile", "q69b_cube", "q104_kv_explode",
    "q105_group_ols", "q106_mode", "q107_triangles", "q108_moving_avg",
    "q109_dist_drift", "q107b_triangles_degree", "q110_incremental_simhash",
    "q113_segment_box_join", "q114_decimate_track", "q115_cooccurrence",
    "q116_tile_terms", "q117_distance_within", "q118_map_match",
    "q119_cc_alternating_star", "q120_bigram_novelty",
    "q121_stratified_split", "q122_od_matrix", "q123_geofence_transitions",
    "q124_incremental_clusters", "q125_focal_smooth", "q126_stop_detect",
    "q127_editdist_verify", "q128_poly_overlay_area", "q129_interval_overlap", "q130_bm25_score", "q131_tile_pyramid", "q132_canonical_docs", "q133_group_median", "q134_heading_hist", "q135_kwic", "q116b_tile_terms_agg", "q136_incremental_pyramid", "q137_frame_sample", "q138_vocab_growth", "q139_vocab_overlap",
    "q140_pareto_select", "q141_grid_cluster", "q142_setsim_join",
    "q143_outlier_lengths", "q144_pip_anti", "q145_knn_classify",
    "q146_curriculum_interleave", "q147_pipeline_compose",
    "q148_user_growth", "q149_segment_intersect", "q150_block_dedup",
    "q151_bigram_lm", "q152_crosscorpus_neardup",
    "q153_rasterize_coverage", "q154_contours", "q155_bm25_retrieval",
    "q156_temporal_pip", "q157_compact_cover", "q158_cotraveler_pairs",
    "q159_spatial_balance", "q160_union_area", "q161_bfs_hops",
    "q162_idw", "q163_moran", "q164_incremental_pagerank",
    "q165_kmv_setops", "q166_attribution", "q167_funnel",
    "q168_collocation_lift", "q169_session_paths",
    "q170_emerging_hotspot", "q171_incremental_cooccurrence",
    "q172_personalized_pagerank", "q173_degree_assortativity",
    "q174_trending_terms", "q175_interpolate",
    "q176_hits", "q177_hausdorff", "q178_trigram_backoff",
    "q179_dbscan", "q180_cusum", "q181_retention",
    "q182_link_prediction", "q183_bellman_ford",
    "q184_seasonal_anomaly", "q185_kanon_tiles", "q186_rolling_active",
    "q187_getis_hotspot", "q188_acf", "q189_adaptive_tiles",
    "q190_grouping_sets", "q191_kcore", "q192_anchor_terms",
    "q193_hilbert_order", "q194_feature_hash", "q195_block_dedup",
    "q196_mis", "q197_zonal_stats", "q198_incremental_adaptive",
    "q199_dtw", "q200_containment_join", "q201_convex_hull",
    "q202_incremental_ivf", "q203_flow_accum", "q204_frechet",
    "q205_longest_streak", "q206_bpe_merge", "q207_split_overlap",
    "q208_viewshed", "q209_mutual_nn", "q210_gyration",
    "q211_dist_match", "q212_track_diameter", "q213_ks_stat",
    "q214_simpson", "q215_transitions", "q216_cell_churn",
    "q217_cms_freq", "q218_label_prop", "q219_vocab_growth",
    "q220_incremental_sessions", "q221_poly_centroid", "q222_rrf_fusion",
    "q223_random_walks", "q224_hll_cardinality", "q225_ring_validity",
    "q226_incremental_heavy_hitters", "q227_scd2_intervals",
    "q228_pq_encode", "q229_token_gini", "q230_mmr_diversify",
    "q231_lsh_recall_eval", "q232_cocitation", "q233_decay_score",
    "q234_minhash_estimate", "q235_lisa", "q236_chunk_dedup",
    "q237_incremental_union_area", "q238_admin_hierarchy",
    "q239_simplify_dp", "q240_shard_rebalance",
    "q241_incremental_hotspot", "q242_theilsen_trend",
    "q243_percentile_bands", "q244_buffered_union_area",
    "q245_containment_probe", "q246_phash_neardup",
    "q247_template_prefix", "q248_ann_recall", "q249_weighted_sample",
    "q250_incremental_chunk_dedup",
    "q251_harmonic_centrality", "q252_graph_audit", "q253_incremental_bfs",
    "q254_viterbi_map_match", "q255_join_cardinality_estimate",
    "q256_seasonal_decompose", "q257_zorder_mor_scan",
    "q258_geohash_codec", "q259_reverse_nn",
    "q260_class_separation", "q261_auc_eval",
    "q262_incremental_decontamination", "q263_cluster_purity",
    "q264_scc_mutual", "q265_incremental_triangles",
    "q266_nb_classifier", "q267_bpe_train", "q269_spacetime_contact",
    "q270_incremental_cms", "q271_lcss", "q272_time_travel", "q291_hyperball",
    "q273_matryoshka_eval", "q274_temporal_reach", "q275_raster_peaks",
    "q276_winnowing", "q277_robots_match", "q278_kappa",
    "q279_crawl_budget", "q280_distance_transform",
    "q281_incremental_winnowing", "q282_kendall_tau", "q283_dwell_time",
    "q284_fingerprint_pairs", "q285_tile_lang_diversity",
    "q286_watershed", "q287_entity_conflation", "q288_gradient_aspect",
    "q289_incremental_conflation", "q290_comention_jaccard",
    "q292_greedy_cover", "q293_symspell_join", "q294_multiprobe_recall",
    "q295_lis_trend", "q296_warc_roundtrip", "q297_warc_errors",
    "q298_quantized_ann", "q299_warc_pipeline",
    "q124b_stored_clusters", "q52b_stored_merge", "q70b_stored_triples")

  /** Stored-state bench twins (VERDICT r4 item 4): their first call
    * writes the StoredState parquet — run once UNTIMED in warm-up so
    * timed reps measure maintenance over the stored tables only. */
  val storedTwins: Seq[String] = Seq(
    "q124b_stored_clusters", "q52b_stored_merge", "q70b_stored_triples")

  /** Bench-input scale-up factor: documents replicate ×F with distinct
    * ids (FIXTURES.md: "scaled up by the bench harness") so the e2e
    * job is compute-bound rather than fixed-overhead-bound. */
  val E2eFactor: Int = sys.env.getOrElse("SPARK_GRAFT_E2E_FACTOR", "100").toInt

  /** PIP join resolution for the e2e job: finer cells cut refine
    * candidates (false positives) at the cost of a bigger cover
    * explode; 8 measured best on the synthetic density (7: 91k docs/s,
    * 8: 134k, 9: 80k at local[32] factor 100). */
  val PipRes: Int = sys.env.getOrElse("SPARK_GRAFT_PIP_RES", "8").toInt

  /** Drop every cached plan and persisted RDD block (localCheckpoints
    * included) so the next timed run starts cache-cold. */
  def clearState(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def rmrf(dir: String): Unit =
    graft.tables.SnapshotTable.deleteRecursively(Paths.get(dir))

  /** Untimed setup: materialize the 4-layer snapshot store
    * (nodes / ways / rels / owner-keyed triples) the live replication
    * loop maintains — the steady-state table a deployment would
    * already have before a change batch arrives. */
  def buildStore(s: SparkSession, dir: String, root: String): Unit = {
    rmrf(root)
    val buckets = math.max(16, s.sparkContext.defaultParallelism)
    // cached: each layer feeds its table write AND 4-6 triple-family
    // derivation branches below
    val nodes = SynthUniverse.nodesMeta(s, dir).cache()
    SnapshotTable.create(s, s"$root/nodes", nodes, Seq("node_id"), buckets)
    val wm = SynthUniverse.wayMembers(s, dir)
    val baseWays = ChangePipeline.reconstructWays(
        wm.select(col("way_id")).distinct(), wm, nodes)
      .withColumn("ts", SynthUniverse.synthTs(col("way_id")))
      .withColumn("tags", SynthUniverse.wayTagMap(col("way_id")))
      .cache()
    SnapshotTable.create(s, s"$root/ways", baseWays, Seq("way_id"), buckets)
    val rm = SynthUniverse.relMembers(s, dir)
    val baseRels = ChangePipeline.serializeRelMembers(
        rm.withColumnRenamed("member_kind", "mtype"))
      .withColumn("ts", SynthUniverse.synthTs(col("rel_id")))
      .withColumn("tags", SynthUniverse.relTagMap(col("rel_id")))
      .cache()
    SnapshotTable.create(s, s"$root/rels", baseRels, Seq("rel_id"), buckets)
    val triples = graft.rdf.TripleDerive.ownedNodeTriplesFull(nodes)
      .unionByName(graft.rdf.TripleDerive.ownedWayTriplesFull(baseWays))
      .unionByName(graft.rdf.TripleDerive.ownedRelTriplesFull(baseRels))
      .select(col("subj_key"), col("s"), col("p"), col("o"))
    SnapshotTable.create(s, s"$root/triples", triples, Seq("subj_key"), buckets)
    Seq(nodes, baseWays, baseRels).foreach(_.unpersist())
  }

  /** The ×F-replicated geo-entity stream (shared by the e2e faces). */
  private def replicatedPoints(s: SparkSession, dir: String): DataFrame =
    // repartition the SMALL base set, then multiply inside each task:
    // the broadcast-NL crossJoin preserves partitioning, so the xF
    // replica stream is born distributed instead of shuffling xF rows
    SynthUniverse.points(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .crossJoin(broadcast(s.range(E2eFactor).select(col("id").as("rep"))))
      .select((col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        col("entity"),
        // spread replicas geographically: each replica shard covers a
        // different cell neighborhood, so join keys stay balanced
        (col("lon") + (col("rep") % 16 - 8) * 2.37).as("lon"),
        (col("lat") + (col("rep") % 8 - 4) * 1.93).as("lat"))

  /** Salt parameters for the e2e PIP join, derived from the replica
    * stream's size instead of frozen constants (a different sf or
    * factor would otherwise silently stop salting): a cell is hot when
    * it holds more than 1/4096 of the whole point stream, so a ×salt
    * split caps any shard at ~0.02% of the stream. Deliberately
    * CORE-COUNT-INDEPENDENT — the scaling protocol compares the same
    * plan at 2/8/32 cores, and a per-core threshold would change the
    * salting (and the work) between levels. At the protocol's
    * sf0.1×6400 this lands at the empirically validated ~50k (r3's
    * frozen constant); at factor 100 it keeps firing where the frozen
    * constant silently stopped. Memoized per dir — the first (untimed
    * warm-up) call pays the base-table count. */
  private val saltCache = scala.collection.mutable.Map[String, (Int, Long)]()
  def e2eSaltParams(s: SparkSession, dir: String): (Int, Long) =
    saltCache.getOrElseUpdate(dir,
      (16, math.max(1000L, SynthUniverse.points(s, dir).count() * E2eFactor / 4096L)))

  /** The e2e spatial DAG as named legs, each built on the ones before
    * it: the ×F point stream, the polygon layer, the partitioned and
    * salted PIP join (inline rings: the synthetic rings are 5-point
    * rectangles, so a ring dictionary's extra probe buys no bytes), and
    * its res-5 tile counts, the last leg. */
  private def e2eLegs(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val pts = replicatedPoints(s, dir)
    val polys = SpatialJoin.polygons(
      SynthUniverse.wayMembers(s, dir), SynthUniverse.nodes(s, dir))
    val (salt, hot) = e2eSaltParams(s, dir)
    val pip = SpatialJoin.pipJoin(pts, polys, res = PipRes,
      mode = "partitioned", salt = salt, hotThreshold = hot)
    val tiles = pip
      .withColumn("tile", graft.geo.GeoFunctions.cellAt(col("lon"), col("lat"), 5))
      .groupBy(col("tile")).agg(count(lit(1)).as("n"))
    Seq("points" -> pts, "polys" -> polys, "pip" -> pip, "tiles" -> tiles)
  }

  /** The full north-rule pipeline as ONE job: extract geo-entities →
    * partitioned+salted PIP join → raster tiles, PLUS the REAL
    * replication contract — the W1-deduped change batch applied by
    * [[Replicator.applyOps]] across all three layers and the
    * owner-keyed triple store (bucketed MERGEs included). Returns
    * materialized row count + applied op count. */
  def e2ePipeline(s: SparkSession, dir: String, storeRoot: String): Long = {
    val tiles = e2eLegs(s, dir).last._2
    val winners = ChangePipeline.dedupLatest(SynthUniverse.changesFull(s, dir))
    val applied = new Replicator(s, storeRoot).applyOps(winners)
    tiles.count() + applied
  }

  /** Round-2 comparison shape: the SAME e2e the r1/r2 bench measured
    * (join + tiles + node-only merge, no snapshot store) — kept so the
    * committed docs/sec stays comparable across rounds now that
    * [[e2ePipeline]] prices the full 3-layer + triple-store contract. */
  def e2eJoinR2(s: SparkSession, dir: String): Long = {
    val tiles = e2eLegs(s, dir).last._2
    val winners = ChangePipeline.dedupLatest(SynthUniverse.changes(s, dir))
    val merged = ChangePipeline.applyNodeOps(SynthUniverse.nodes(s, dir), winners)
    tiles.count() + merged.count()
  }

  /** SPARK_GRAFT_E2E_PROFILE=1: time each e2e leg separately (each
    * count recomputes its upstream — legs are cumulative shapes, the
    * point is comparing their 8-core vs 32-core ratios). */
  def e2eProfile(s: SparkSession, dir: String, storeRoot: String): Unit = {
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[profile] $name%-12s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    e2eLegs(s, dir).foreach { case (name, leg) => t(name)(leg.count()) }
    val winners = ChangePipeline.dedupLatest(SynthUniverse.changesFull(s, dir))
    t("applyOps")(new Replicator(s, storeRoot).applyOps(winners))
  }

  /** Fixed calibration probe (single-threaded ALU loop + a 64 MB
    * memory sweep): identical engine code measures 25-50% apart hours
    * apart on this shared host — the probe's seconds ride the JSON so
    * cross-run comparisons can be normalized by host phase. */
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    val buf = new Array[Long](8 * 1024 * 1024) // 64 MB
    var j = 0
    while (j < buf.length) { buf(j) = x + j; j += 1 }
    var s = 0L; j = 0
    while (j < buf.length) { s += buf(j); j += 1 }
    if ((x ^ s) == 42L) System.err.print("") // defeat dead-code elim
    (System.nanoTime() - t0) / 1e9
  }

  /** Multi-threaded companion probe: N concurrent 64 MB sweeps expose
    * the MEMORY-BANDWIDTH phase (the dominant noise source for the
    * shuffle/scan-heavy queries) that a single-threaded ALU probe
    * cannot see. */
  def hostProbeMt(threads: Int = 8): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        val buf = new Array[Long](8 * 1024 * 1024) // 64 MB
        var j = 0
        while (j < buf.length) { buf(j) = j + t; j += 1 }
        var s = 0L; var r = 0
        while (r < 4) {
          j = 0; while (j < buf.length) { s += buf(j); j += 1 }; r += 1
        }
        if (s == 42L) System.err.print("") // defeat dead-code elim
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val shufParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val advisory = sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "64m")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufParts)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // iteration aid: SPARK_GRAFT_ONLY=q30_pip_join,q31_knn limits the
    // timed set; SPARK_GRAFT_SKIP_E2E=1 skips the e2e pipeline.
    val onlySet = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val headline2 = onlySet.map(o => headline.filter(o)).getOrElse(headline)
    val skipE2e = sys.env.contains("SPARK_GRAFT_SKIP_E2E")
    val storeRoot = sys.env.getOrElse("SPARK_GRAFT_STORE", "target/bench-store")

    if (!skipE2e) buildStore(spark, sfDir, storeRoot) // untimed setup

    if (sys.env.contains("SPARK_GRAFT_E2E_PROFILE")) {
      e2eProfile(spark, sfDir, storeRoot)
      clearState(spark)
      e2eProfile(spark, sfDir, storeRoot) // 2nd = warm JIT, cold cache
      spark.stop(); return
    }

    // warm-up: JIT + codegen + file-listing caches (not timed). The
    // kNN ring path is included — its first run pays the heaviest JIT
    // bill of the suite and the >30s rule must never record it cold.
    SparkEntry.queries("q01_pricing_agg")(spark, sfDir).count()
    SparkEntry.queries("q31b_knn_rings")(spark, sfDir).count()
    // one untimed pass builds the StoredState parquet for the twins
    storedTwins.filter(headline2.contains).foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).count()
    }
    clearState(spark)
    if (!skipE2e) { e2ePipeline(spark, sfDir, storeRoot); clearState(spark) }

    // Host phase calibration BEFORE the timed loop: the repeat cutoff
    // below is normalized by it so a degraded-bandwidth phase (r3: MT
    // probe 3.31s vs 0.11s nominal, ~30x) can never lock in single
    // cold reps the way BENCH_r03's flat 30s rule did.
    val probeNominal = 0.11 // good-phase MT probe on this host class
    // r4 remediation #1: a degraded START phase inflated the first ~30
    // queries 2-5x (BENCH_r04 host_probe_mt_before=0.541 vs 0.115
    // after). Hold the suite until the bandwidth probe calms down —
    // bounded by SPARK_GRAFT_PROBE_WAIT seconds so a permanently busy
    // host can't stall the driver.
    val probeWaitBudget =
      sys.env.getOrElse("SPARK_GRAFT_PROBE_WAIT", "300").toDouble
    var probeBefore = math.min(hostProbeMt(), hostProbeMt())
    val waitT0 = System.nanoTime()
    var waited = 0.0
    while (probeBefore > 2 * probeNominal && waited < probeWaitBudget) {
      System.err.println(
        f"[bench] host degraded (mt probe $probeBefore%.3f s); waiting...")
      Thread.sleep(15000)
      probeBefore = math.min(hostProbeMt(), hostProbeMt())
      waited = (System.nanoTime() - waitT0) / 1e9
    }
    val repCutoffSec = 30.0 * math.max(1.0, probeBefore / probeNominal)
    System.err.println(
      f"[bench] host_probe_mt before=$probeBefore%.3f s (waited $waited%.0f s), repeat cutoff=$repCutoffSec%.1f s")

    // The OsmChange merge family rebuilds full layers in-query (oracle
    // scaffolding) — exactly the queries a degraded phase distorts
    // most, so they ALWAYS get best-of-3 regardless of the cutoff.
    val alwaysRepeat = Set("q34_changes_dedup", "q38_delete_set",
      "q40_nodes_after_merge", "q52_ways_after_merge",
      "q53_rels_after_merge", "q70_triples_after_merge")

    // best-of-3 per query, each rep cache-cold (clearState) but
    // JIT-warm: single-shot timings on this box swing 2-4x with JIT/GC
    // phase; the min is the stable, comparable statistic. Only
    // pathological queries beyond the host-normalized cutoff skip the
    // repeats.
    def runOnce(name: String): Double = {
      clearState(spark)
      time(SparkEntry.queries(name)(spark, sfDir).count())._1
    }
    def bestOf(name: String): Double = {
      val first = runOnce(name)
      if (first > repCutoffSec && !alwaysRepeat(name)) first
      else (Seq(first) ++ (1 to 2).map(_ => runOnce(name))).min
    }
    // r4 remediation #2: tag every query with the rolling bandwidth
    // probe active during its window (re-probed every `probeEvery`
    // queries — ~0.1 s each, negligible vs the suite). Queries timed
    // under a degraded window get re-run after the suite once the
    // probe recovers, and the min is recorded.
    val probeEvery = 15
    var rollingProbe = probeBefore
    val degradedAt = scala.collection.mutable.Set[String]()
    val results0 = headline2.zipWithIndex.map { case (name, i) =>
      if (i % probeEvery == 0 && i > 0) rollingProbe = hostProbeMt()
      if (rollingProbe > 2 * probeNominal) degradedAt += name
      name -> bestOf(name)
    }
    val probeRecovery = math.min(hostProbeMt(), hostProbeMt())
    val remediated =
      if (degradedAt.nonEmpty && probeRecovery <= 2 * probeNominal) {
        System.err.println(
          s"[bench] re-running ${degradedAt.size} degraded-window queries " +
            f"(recovery probe $probeRecovery%.3f s)")
        degradedAt.size
      } else 0
    val results = results0.map { case (name, sec) =>
      if (remediated > 0 && degradedAt(name))
        name -> math.min(sec, bestOf(name))
      else name -> sec
    }
    val docs = Tables.documents(spark, sfDir).count() * E2eFactor
    // best-of-5: JIT/GC variance dominates single runs at this scale
    // (measured swing band ~30% even on best-of-3)
    val e2eReps = sys.env.getOrElse("SPARK_GRAFT_E2E_REPS", "5").toInt
    // each rep applies the batch to the SHARED store (idempotent
    // MERGEs; the steady-state shape a live loop has). The triple
    // store's delta chain grows by one per rep — keep the compaction
    // threshold above warmup+reps so no rep silently times an
    // O(table) compaction instead of the O(batch) delta commit.
    spark.conf.set("spark.graft.triplesCompactEvery",
      math.max(8, e2eReps + 2).toString)
    val e2eSec =
      if (skipE2e) 0.0
      else {
        val reps = (1 to e2eReps).map { _ =>
          clearState(spark)
          time(e2ePipeline(spark, sfDir, storeRoot))._1
        }
        System.err.println(
          reps.map(t => f"$t%.2f").mkString("[bench] e2e reps: ", " ", " s"))
        reps.min
      }
    val docsPerSec = if (skipE2e) 0.0 else docs / e2eSec
    // r2-shape comparison leg (join + tiles + node-only merge);
    // SPARK_GRAFT_SKIP_R2SHAPE=1 drops it (the scaling protocol only
    // measures the full contract)
    val skipR2 = skipE2e || sys.env.contains("SPARK_GRAFT_SKIP_R2SHAPE")
    val e2eJoinSec =
      if (skipR2) 0.0
      else (1 to e2eReps).map { _ =>
        clearState(spark)
        time(e2eJoinR2(spark, sfDir))._1
      }.min
    val joinDocsPerSec = if (skipR2) 0.0 else docs / e2eJoinSec

    val qs = ((if (skipE2e) results
      else results :+ ("e2e_pipeline" -> e2eSec)) ++
      (if (skipR2) Nil else Seq("e2e_join_r2shape" -> e2eJoinSec)))
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum + e2eSec + e2eJoinSec
    val probe = math.min(hostProbe(), hostProbe()) // best-of-2, untimed
    val probeAfter = math.min(hostProbeMt(), hostProbeMt())
    // Degraded-host flag: if the MT (bandwidth) probe moved >2x across
    // the run, the record straddled a host phase change — treat the
    // slower queries with suspicion and prefer a re-run.
    val degraded =
      math.max(probeBefore, probeAfter) / math.min(probeBefore, probeAfter) > 2.0 ||
        math.max(probeBefore, probeAfter) > 4 * probeNominal
    val probeMt = math.min(probeBefore, probeAfter)
    // The final stdout line is SUMMARY-ONLY: the driver keeps just a
    // 2,000-char tail of stdout, and r2-r4's line embedded a ~7 KB
    // per-query map that pushed the JSON front out of the window
    // (BENCH_r04 `parsed: null`). A compact headline summary — a few
    // timed-set aggregates plus the e2e throughputs and host-phase
    // flags — fits with wide margin; the full per-query map lands in
    // BENCH/last.json for audits.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","cpus":$cpus,"n_queries":${results.size},"queries":{"e2e_pipeline":$e2eSec,"e2e_join_r2shape":$e2eJoinSec},"docs":$docs,"e2e_docs_per_sec":$docsPerSec,"e2e_join_docs_per_sec":$joinDocsPerSec,"host_probe_sec":$probe,"host_probe_mt_sec":$probeMt,"host_probe_mt_before":$probeBefore,"host_probe_mt_after":$probeAfter,"host_wait_sec":$waited,"remediated_queries":$remediated,"host_degraded":$degraded}"""
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"docs":$docs,"e2e_docs_per_sec":$docsPerSec,"e2e_join_docs_per_sec":$joinDocsPerSec,"host_probe_sec":$probe,"host_probe_mt_sec":$probeMt,"host_probe_mt_before":$probeBefore,"host_probe_mt_after":$probeAfter,"host_wait_sec":$waited,"remediated_queries":$remediated,"host_degraded":$degraded}"""
    // the full per-query line lands in BENCH/last.json for post-hoc audits
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("BENCH"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH/last.json"), full + "\n")
    spark.stop()
    // print LAST, after spark.stop(), so the JSON line is the final
    // stdout line (build.sbt: StdoutOutput + showSuccess := false keep
    // sbt from prefixing it or appending "[success] ..." after it)
    println(summary)
    System.out.flush()
  }
}
