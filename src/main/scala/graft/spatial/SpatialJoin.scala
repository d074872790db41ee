package graft.spatial

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.geo.{CellIndex, GeoFunctions}

/** Cell-prefiltered point-in-polygon join, kNN, and tile
  * materialization — the north-rule core (SURVEY.md §2.3 J12, §2.5 W6,
  * §4.3). Re-imagines the geometric containment the reference delegates
  * to osm2rdf's GeometryHandler (/root/reference/src/osm/Osm2ttl.cpp:112-133)
  * as explicit Spark plans:
  *
  *  - polygons are assembled from way_members ⋈ nodes (ordered ring
  *    reconstruction, J8 shape) — never trusted from pre-baked params;
  *  - each polygon explodes to its covering cells at the join
  *    resolution (fan-out bounded by [[CellIndex.coverRes]] at scale);
  *  - each point encodes to exactly ONE cell (codegen'd arithmetic) —
  *    so the equi-join emits no duplicate candidates and needs no
  *    post-dedup;
  *  - exact JTS covers() refine on the candidate set only;
  *  - the polygon side is broadcast when small; the partitioned path
  *    salts the polygon side ×S and keys points by (cell, hash%S) to
  *    split hot cells (explicit skew mitigation per the north rule).
  */
object SpatialJoin {

  /** (way_id, xs, ys): closed ring coordinate arrays, pos-ordered. */
  def polygons(wayMembers: DataFrame, nodes: DataFrame): DataFrame =
    wayMembers.join(nodes, "node_id")
      .groupBy(col("way_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("lon"), col("lat")))).as("ring"))
      .select(col("way_id"),
        transform(col("ring"), r => r.getField("lon")).as("xs"),
        transform(col("ring"), r => r.getField("lat")).as("ys"))

  /** Boundary-inclusive point-in-ring: crossing-number with an exact
    * on-segment pre-test (covers semantics — boundary counts, matching
    * the oracle's BETWEEN). Pure primitive arithmetic, ZERO allocation
    * per candidate row — the earlier JTS PreparedGeometry-per-task
    * cache held millions of live objects across 32 tasks and made the
    * refine stage heap-bound (2-5x slower at large heaps) instead of
    * CPU-bound. Rings here are small (the refine input is already
    * cell-prefiltered), so an R-tree per polygon buys nothing. */
  def pointInRing(xs: Array[Double], ys: Array[Double],
      px: Double, py: Double): Boolean = {
    val n = xs.length
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      val xi = xs(i); val yi = ys(i); val xj = xs(j); val yj = ys(j)
      val cross = (px - xi) * (yj - yi) - (py - yi) * (xj - xi)
      if (cross == 0.0 &&
          px >= math.min(xi, xj) && px <= math.max(xi, xj) &&
          py >= math.min(yi, yj) && py <= math.max(yi, yj)) return true
      if ((yi > py) != (yj > py)) {
        val xCross = xi + (py - yi) * (xj - xi) / (yj - yi)
        if (px < xCross) inside = !inside
      }
      j = i; i += 1
    }
    inside
  }

  /** Ring rows -> exploded cover with bbox scalars (shared candidate
    * generation of [[pipJoin]] and [[pipJoinMulti]]). */
  private def coverWithBbox(rings: DataFrame, res: Int): DataFrame = rings
    .withColumn("cell", explode(org.apache.spark.sql.GraftSqlShim.column(
      CoverCellsExpr(
        org.apache.spark.sql.GraftSqlShim.expression(col("xs")),
        org.apache.spark.sql.GraftSqlShim.expression(col("ys")), res))))
    .withColumn("minx", array_min(col("xs"))).withColumn("maxx", array_max(col("xs")))
    .withColumn("miny", array_min(col("ys"))).withColumn("maxy", array_max(col("ys")))

  /** Candidate generation: pts(cell) ⋈ cover(cell) under the selected
    * strategy (auto / broadcast / partitioned with histogram salting) —
    * shared by [[pipJoin]] and [[pipJoinMulti]]; see pipJoin's scaladoc
    * for the mode/salt/hotThreshold contract. */
  private def cellJoin(pts: DataFrame, cover: DataFrame, mode: String,
      salt: Int, hotThreshold: Long): DataFrame = {
    require(Set("auto", "broadcast", "partitioned")(mode),
      s"join mode must be auto|broadcast|partitioned, got '$mode'")
    if (mode == "broadcast") pts.join(broadcast(cover), "cell")
    else if (mode == "auto") pts.join(cover, "cell")
    else if (salt <= 1) pts.join(cover.hint("shuffle_hash"), "cell")
    else {
      // the histogram, its two broadcasts and the join's point side all
      // read the points: materialize them once (see pipJoin's scaladoc)
      val ptsOnce = pts.localCheckpoint(eager = false, StorageLevel.DISK_ONLY)
      // per-cell histogram -> salt factor min(salt, ceil(cnt/threshold))
      // for hot cells only; join output stays exact (each point picks
      // ONE deterministic shard, each hot polygon row covers all).
      val hist = ptsOnce.groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > hotThreshold)
        .select(col("cell"),
          least(lit(salt.toLong), ceil(col("cnt").cast("double") / hotThreshold).cast("long"))
            .cast("int").as("saltN"))
      val saltedCover = cover.join(broadcast(hist), Seq("cell"), "left")
        .withColumn("s", explode(sequence(lit(0), coalesce(col("saltN"), lit(1)) - 1)))
        .drop("saltN")
      val saltedPts = ptsOnce.join(broadcast(hist), Seq("cell"), "left")
        .withColumn("s",
          coalesce(pmod(hash(col("lon"), col("lat")), col("saltN")), lit(0)))
        .drop("saltN")
      saltedPts.join(saltedCover.hint("shuffle_hash"), Seq("cell", "s")).drop("s")
    }
  }

  /** Join the bbox-surviving candidate stream to a ring dictionary and
    * run the native refine. The dictionary holds each ring ONCE — the
    * candidate stream never carries ring arrays (see [[pipJoin]]'s
    * ringDict contract). */
  private def refineViaDict(cand: DataFrame, dict: DataFrame,
      dictKey: Seq[String], ringDict: String): DataFrame = {
    val dictSide = if (ringDict == "broadcast") broadcast(dict)
      else dict.hint("shuffle_hash")
    cand.join(dictSide, dictKey)
      .filter(PointInRingExpr.pipContains(col("xs"), col("ys"), col("lon"), col("lat")))
      .drop("cell", "xs", "ys", "minx", "maxx", "miny", "maxy", "__rk")
  }

  /** Valid `ringDict` strategies of [[pipJoin]] / [[pipJoinMulti]] /
    * [[pipJoinMultiEvenOdd]]:
    *
    *  - "inline": the classic single join — ring arrays ride the
    *    exploded cover (one copy per covering cell) and the refine runs
    *    inside the cell join's stage. No second join; the right default
    *    when the polygon layer's size is unknown.
    *  - "broadcast": the cell join is SLIM — only (cell, id, 4 bbox
    *    scalars) enter its build side, so every candidate probe reads a
    *    ~1-cache-line row instead of one dragging ring arrays; bbox
    *    survivors (typically a third of candidates) then probe a
    *    BROADCAST (id -> ring) dictionary holding each ring exactly
    *    once, and the refine fuses into the same stage — ZERO extra
    *    exchange. The choice for layers that fit executor memory
    *    (every layer in this repo's bench; a planet-scale OSM polygon
    *    layer at ~10^7 rings x ~200 B still fits).
    *  - "shuffle": slim cell join + SHUFFLED dictionary join — for
    *    layers past broadcast size. Pays one extra exchange of the
    *    bbox-surviving candidates (slim rows), in return for never
    *    replicating ring arrays per covering cell through the cover
    *    shuffle.
    */
  private val RingDictModes = Set("inline", "broadcast", "shuffle")

  /** Cell-prefiltered PIP join.
    *
    * @param points   (pointCols..., lon, lat)
    * @param polys    (way_id, xs, ys) from [[polygons]]
    * @param res      join resolution (cell edge must be >= max polygon
    *                 edge for single-res cover to stay small)
    * @param mode     "auto"      — no hints; Catalyst/AQE picks the
    *                               build side from runtime stats (the
    *                               default: the exploded cover carries
    *                               ring arrays and is often BIGGER than
    *                               the point batch — force-broadcasting
    *                               it serializes the whole join behind
    *                               a single-threaded broadcast build);
    *                 "broadcast" — force-broadcast the cover (small
    *                               polygon layers);
    *                 "partitioned" — shuffle both sides on cell.
    * @param salt     >1 enables salted skew-split on the partitioned
    *                 path (the MAX per-cell salt factor)
    * @param hotThreshold point rows per cell above which that cell is
    *                 salted. Salting is HISTOGRAM-DRIVEN (SURVEY §4.3):
    *                 a pre-pass counts points per cell and only hot
    *                 cells replicate their polygon rows — blanket ×salt
    *                 replication of the whole cover multiplies the
    *                 shuffle by `salt` for data that was never skewed
    *                 (measured: blanket ×8 made the join slower than
    *                 unsalted at every parallelism level). The salted
    *                 path materializes its cell-tagged point side ONCE
    *                 per call, on local disk: the histogram, both of its
    *                 broadcasts and the join's point side all read those
    *                 rows. Otherwise each re-runs the whole point
    *                 derivation (page text → entities → cell in
    *                 perfbench's `geojoin`). Disk-only keeps the rows
    *                 off the heap; the first job that needs them fills
    *                 them, and ContextCleaner frees them once the
    *                 returned frame is dropped. Like any local
    *                 checkpoint, they cannot be recomputed after the
    *                 executor holding them is lost.
    */
  def pipJoin(points: DataFrame, polys: DataFrame, res: Int,
      mode: String = "auto", salt: Int = 1,
      hotThreshold: Long = 2000000L, ringDict: String = "inline"): DataFrame = {
    require(RingDictModes(ringDict), s"ringDict must be inline|broadcast|shuffle, got '$ringDict'")
    val pts = points.withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), res))
    if (ringDict == "inline") {
      // bbox columns ride along as 4 scalars: the refine first rejects
      // on them (fixed-width reads only) and dereferences the ring
      // arrays' variable-length bytes ONLY for bbox-passing candidates.
      val cover = coverWithBbox(polys, res)
      cellJoin(pts, cover, mode, salt, hotThreshold)
        .filter(col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy") &&
          PointInRingExpr.pipContains(col("xs"), col("ys"), col("lon"), col("lat")))
        .drop("cell", "xs", "ys", "minx", "maxx", "miny", "maxy")
    } else {
      val cover = coverWithBbox(polys, res).drop("xs", "ys")
      val cand = cellJoin(pts, cover, mode, salt, hotThreshold)
        .filter(col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
      refineViaDict(cand, polys.select(col("way_id"), col("xs"), col("ys")),
        Seq("way_id"), ringDict)
    }
  }

  /** Multipolygon (holes-aware) PIP join — the area semantics the
    * reference delegates to osm2rdf's GeometryHandler
    * (/root/reference/src/osm/Osm2ttl.cpp:112-133; inner/outer roles per
    * /root/reference/src/util/OsmObjectHelper.cpp:12-23): a point lies
    * in a relation's multipolygon iff it lies in >=1 `outer` ring and in
    * NO `inner` ring (hole). This role predicate assumes the common
    * NON-NESTED layout (holes directly inside outers, nothing inside a
    * hole); for nested relations (island-in-hole) it wrongly excludes
    * island points — use [[pipJoinMultiEvenOdd]] for those.
    *
    * Pure composition of existing ops — no new expression: every ring
    * cell-covers independently, the point joins each candidate ring by
    * its single cell (a ring containing the point ALWAYS covers the
    * point's cell, so rings absent from the join are provably
    * non-containing), the codegen refine keeps true hits only, and ONE
    * aggregate per (point, relation) folds role hits into
    * outer-AND-NOT-inner. Scale shape: same single shuffle as
    * [[pipJoin]] plus a map-side-combined aggregate on the identical
    * (pointKey, rel) key — no extra exchange beyond the groupBy.
    *
    * @param rings (rel_id, role, xs, ys) — one row per member ring
    */
  def pipJoinMulti(points: DataFrame, rings: DataFrame, res: Int,
      keyCols: Seq[String] = Seq("doc_id", "entity"),
      mode: String = "auto", salt: Int = 1,
      hotThreshold: Long = 2000000L, ringDict: String = "inline"): DataFrame = {
    multiRefined(points, rings, res, mode, salt, hotThreshold, ringDict)
      .groupBy(keyCols.map(col) :+ col("rel_id"): _*)
      .agg(max(when(col("role") === "outer", 1).otherwise(0)).as("o_hit"),
        max(when(col("role") =!= "outer", 1).otherwise(0)).as("i_hit"))
      .filter(col("o_hit") === 1 && col("i_hit") === 0)
      .drop("o_hit", "i_hit")
  }

  /** Shared slim-candidate generation of the multipolygon joins:
    * (rel_id, role) does not identify a RING (a relation may carry
    * several outers), so the ring dictionary keys on
    * `__rk = xxhash64(rel_id, role, xs, ys)` — a pure function of row
    * content, so the cover plan and the dictionary plan derive
    * identical keys independently. Byte-identical duplicate rings
    * share a key by design (the dictionary dedups; each duplicate's
    * own cover row preserves its hit multiplicity). Two DISTINCT rings
    * of one (relation, role) colliding on the 64-bit hash would
    * mis-pair — probability ~2^-64 per same-role ring pair,
    * documented trade for keeping arrays out of the candidate
    * exchange. */
  private def multiRefined(points: DataFrame, rings: DataFrame, res: Int,
      mode: String, salt: Int, hotThreshold: Long, ringDict: String): DataFrame = {
    require(RingDictModes(ringDict), s"ringDict must be inline|broadcast|shuffle, got '$ringDict'")
    val pts = points.withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), res))
    if (ringDict == "inline") {
      val cover = coverWithBbox(rings, res)
      cellJoin(pts, cover, mode, salt, hotThreshold)
        .filter(col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy") &&
          PointInRingExpr.pipContains(col("xs"), col("ys"), col("lon"), col("lat")))
    } else {
      val ringsK = rings.withColumn("__rk",
        xxhash64(col("rel_id"), col("role"), col("xs"), col("ys")))
      val cover = coverWithBbox(ringsK, res).drop("xs", "ys")
      val cand = cellJoin(pts, cover, mode, salt, hotThreshold)
        .filter(col("lon") >= col("minx") && col("lon") <= col("maxx") &&
          col("lat") >= col("miny") && col("lat") <= col("maxy"))
      refineViaDict(cand,
        ringsK.select(col("__rk"), col("xs"), col("ys")).dropDuplicates("__rk"),
        Seq("__rk"), ringDict)
    }
  }

  /** Even-odd multipolygon containment — the NESTING-correct variant
    * of [[pipJoinMulti]]: a point is inside iff it lies in an ODD
    * number of the relation's member rings, role tags ignored. This
    * handles arbitrarily nested relations (an island outer inside
    * another outer's hole: 3 containing rings → inside), where the
    * role predicate 'in an outer AND in no inner' wrongly excludes the
    * island because the point also hits the hole ring.
    * [[pipJoinMulti]]'s role form remains the cheaper choice for the
    * common non-nested case (holes directly inside outers) and is the
    * form the q56 oracle pins; this one is q72's.
    *
    * Same scale shape: cell-prefilter equi-join + ONE map-side-combined
    * count per (point, relation). Boundary points shared by two rings
    * count both (even → excluded) — the deliberate convention the
    * oracle's inclusive BETWEEN mirrors. */
  def pipJoinMultiEvenOdd(points: DataFrame, rings: DataFrame, res: Int,
      keyCols: Seq[String] = Seq("doc_id", "entity"),
      mode: String = "auto", salt: Int = 1,
      hotThreshold: Long = 2000000L, ringDict: String = "inline"): DataFrame = {
    multiRefined(points, rings, res, mode, salt, hotThreshold, ringDict)
      .groupBy(keyCols.map(col) :+ col("rel_id"): _*)
      .agg(count(lit(1)).as("__hits"))
      .filter(pmod(col("__hits"), lit(2)) === 1)
      .drop("__hits")
  }

  /** Exact brute-force kNN against a broadcast centroid layer — the
    * correctness baseline. The small layer ships as ONE array literal
    * and each point computes its top-k with an in-row array_sort —
    * zero shuffle, zero window (a naive cross-join + window would
    * shuffle |points|x|layer| candidate rows; this streams the points
    * once). Tie-break: (d2, way_id) lexicographic, matching the
    * oracle's ORDER BY. */
  def knnBroadcast(points: DataFrame, centroids: DataFrame, k: Int): DataFrame = {
    val spark = points.sparkSession
    val cents: Array[(Double, Double, Long)] = centroids
      .select(col("cx"), col("cy"), col("way_id"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._3)
    val bc = spark.sparkContext.broadcast(cents)
    // bounded insertion top-k per point in tight JVM code — a built-in
    // array_sort over a big struct array falls back to interpreted
    // ordering (O(n log n) boxed comparisons per row); this is O(n·k)
    // primitive ops. Exact (d2, way_id) ordering, same IEEE arithmetic
    // as the SQL oracle.
    val topkUdf = udf((lon: Double, lat: Double) => {
      val cs = bc.value
      val bd = Array.fill(k)(Double.MaxValue)
      val bw = new Array[Long](k)
      var i = 0
      while (i < cs.length) {
        val (cx, cy, wid) = cs(i)
        val dx = lon - cx; val dy = lat - cy
        val d2 = dx * dx + dy * dy
        if (d2 < bd(k - 1) || (d2 == bd(k - 1) && wid < bw(k - 1))) {
          var j = k - 1
          while (j > 0 && (d2 < bd(j - 1) || (d2 == bd(j - 1) && wid < bw(j - 1)))) {
            bd(j) = bd(j - 1); bw(j) = bw(j - 1); j -= 1
          }
          bd(j) = d2; bw(j) = wid
        }
        i += 1
      }
      (0 until math.min(k, cs.length)).map(r => (r + 1, bd(r), bw(r)))
    })
    points
      // CPU-bound per-row op: spread rows regardless of input file layout
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("topk", explode(topkUdf(col("lon"), col("lat"))))
      .select(col("*"),
        col("topk._1").as("rank"),
        col("topk._2").as("d2"),
        col("topk._3").as("way_id"))
      .drop("topk")
  }

  /** Layers above this row count are never collected to the driver or
    * broadcast — [[knnByRings]] routes them through coarser-resolution
    * rings and, terminally, [[knnShuffled]]. */
  private def knnBroadcastLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.knnBroadcastLimit").map(_.toLong)
      .getOrElse(1000000L)

  /** Distributed exact kNN for layers too large to collect/broadcast:
    * a shuffled cross join + per-point rank window. O(|points|·|layer|)
    * compute — only ever used as the TERMINAL fallback for straggler
    * points — but bounded memory everywhere: no driver collect, no
    * broadcast build. */
  def knnShuffled(points: DataFrame, centroids: DataFrame, k: Int,
      keyCols: Seq[String] = Seq("doc_id", "entity")): DataFrame = {
    val cand = points
      .repartition(points.sparkSession.sparkContext.defaultParallelism)
      .crossJoin(centroids.select(col("cx"), col("cy"), col("way_id")))
      .withColumn("d2",
        (col("lon") - col("cx")) * (col("lon") - col("cx")) +
          (col("lat") - col("cy")) * (col("lat") - col("cy")))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("d2").asc, col("way_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop("cx", "cy")
  }

  /** kNN via expanding cell rings — the 100 TB path: centroids are
    * bucketed by cell once; each point probes rings of increasing
    * Chebyshev radius and resolves when it has k candidates whose k-th
    * distance is provably closer than anything outside the searched
    * rings (radius r guarantees a moat of (r-1) whole cells). Output
    * rows are IDENTICAL to [[knnBroadcast]] with the same k — the
    * brute-force path serves only stragglers past `maxRing` (sparse
    * regions) and tests.
    *
    * Scale shape: every round is one explode + equi-join + window over
    * the still-unresolved points only; no driver-side collect of the
    * centroid layer, no cross product. Each round's sure set is
    * localCheckpoint'ed so the accumulated union never re-runs earlier
    * rounds; the unresolved set is cached per round and released as
    * soon as its successor materializes.
    */
  def knnByRings(points: DataFrame, centroids: DataFrame, res: Int, k: Int,
      maxRing: Int = 8, keyCols: Seq[String] = Seq("doc_id", "entity")): DataFrame = {
    val cellW = 360.0 / CellIndex.width(res) // lon degrees per cell
    val cellH = 180.0 / CellIndex.width(res)
    val minEdge = math.min(cellW, cellH)
    val cents0 = centroids.withColumn("ccell",
      GeoFunctions.cellAt(col("cx"), col("cy"), res))

    // Density-informed start ring: ring 1 has a zero-width moat (can
    // never resolve anything), and each extra round costs a full
    // explode+join+window pass — so size the first probe from ONE agg
    // over the layer: smallest ring whose (2r+1)^2 block is expected
    // to hold >= 4k candidates at the layer's bbox density.
    val st = cents0.agg(count(lit(1)), min(col("cx")), max(col("cx")),
      min(col("cy")), max(col("cy"))).head()
    val nLayer = st.getLong(0)
    // The SMALL layer's assembly DAG — typically a join+groupBy ring
    // reconstruction — is NOT small: cache it once instead of
    // re-running it for every round's broadcast build and the fallback
    // collect (measured 2x on the bench layer; left cached for the
    // caller's action since the returned plan references it lazily).
    // An OVER-LIMIT layer is NOT cached: the coarser-resolution
    // fallback recursion would otherwise pin one >limit copy per
    // resolution level in executor memory.
    val cents =
      if (nLayer <= knnBroadcastLimit(points.sparkSession)) cents0.cache()
      else cents0
    if (nLayer == 0) return points.limit(0)
    val bboxCells =
      (math.ceil((st.getDouble(2) - st.getDouble(1)) / cellW) + 1.0) *
        (math.ceil((st.getDouble(4) - st.getDouble(3)) / cellH) + 1.0)
    val perCell = nLayer / math.max(bboxCells, 1.0)
    // two requirements: the (2r+1)^2 block should hold >= 4k expected
    // candidates, AND the moat (r-1 whole cells) should exceed the
    // expected k-th-neighbor distance sqrt(k*A/(pi*n)) — otherwise the
    // first round finds candidates but can't PROVE them closest
    val candRing =
      math.ceil((math.sqrt(4.0 * k / math.max(perCell, 1e-9)) - 1.0) / 2.0).toInt
    val kDist = math.sqrt(k * bboxCells * cellW * cellH / (math.Pi * nLayer))
    val moatRing = math.ceil(kDist / minEdge + 1.0).toInt
    val startRing = math.max(2, math.max(candRing, moatRing))
    // DRIVER-SAFE fallback routing: a small layer collects+broadcasts
    // (exact, cheap); a layer past the limit must NEVER reach the
    // driver — retry the ring search one resolution coarser (denser
    // cells -> earlier resolution), and only at the coarsest level pay
    // the distributed shuffled brute force.
    val bcLimit = knnBroadcastLimit(points.sparkSession)
    val layerSmall = nLayer <= bcLimit
    def fallback(pts0: DataFrame): DataFrame =
      if (layerSmall) knnBroadcast(pts0, cents, k)
      else if (res > 1) knnByRings(pts0, cents.drop("ccell"), res - 1, k, maxRing, keyCols)
      else knnShuffled(pts0, cents, k, keyCols)
    // layer too sparse for any legal ring to resolve — rings would only
    // add rounds before the same fallback
    if (nLayer <= k || startRing > maxRing)
      return fallback(points)

    val pts = points.withColumn("pcell",
      GeoFunctions.cellAt(col("lon"), col("lat"), res))
    val key = keyCols.map(col)

    var unresolved = pts.cache()
    var resolved: Option[DataFrame] = None
    var ring = startRing
    var empty = false
    while (ring <= maxRing && !empty) {
      val probe = unresolved.withColumn("qcell",
        explode(GeoFunctions.kRingArray(col("pcell"), ring, res)))
      // past the broadcast limit the per-round candidate join shuffles
      // on the cell key instead of building a broadcast of the layer
      val centsSide = if (layerSmall) broadcast(cents) else cents.hint("shuffle_hash")
      val cand = probe.join(centsSide, col("qcell") === col("ccell"))
        .withColumn("d2",
          (col("lon") - col("cx")) * (col("lon") - col("cx")) +
            (col("lat") - col("cy")) * (col("lat") - col("cy")))
      // rank + count + k-th distance share ONE exchange+sort (the stat
      // window reuses the rank window's partitioning). A collect_list
      // aggregate was measured 3x SLOWER here: ObjectHashAggregate
      // falls back to sort-based past its tiny key threshold.
      val w = Window.partitionBy(key: _*).orderBy(col("d2").asc, col("way_id").asc)
      val ranked = cand.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
      // sound iff k candidates exist and the k-th (worst kept) distance
      // is inside the moat of (ring-1) whole cells
      val moat = (ring - 1).toDouble * minEdge
      val per = Window.partitionBy(key: _*)
      val sure = ranked
        .withColumn("nc", count(lit(1)).over(per))
        .withColumn("kd2", max(col("d2")).over(per))
        .filter(col("nc") === k && sqrt(col("kd2")) < lit(moat))
        .drop("nc", "kd2", "qcell", "ccell", "pcell", "cx", "cy")
        .localCheckpoint(false) // lazy: materializes with the first
                                // consumer's job, still truncates lineage
      val sureKeys = sure.select(key: _*).distinct()
      resolved = Some(resolved.map(_.unionByName(sure)).getOrElse(sure))
      val next = unresolved.join(sureKeys, keyCols, "left_anti").cache()
      val remaining = next.count()
      empty = remaining == 0
      unresolved.unpersist()
      unresolved = next
      // adaptive cutoff: once the straggler tail is small enough that
      // brute-forcing it against the whole layer is cheaper than another
      // explode+join+window round, stop ring-doubling (each further
      // round pays fixed multi-job overhead for a shrinking gain) —
      // only taken when the layer is broadcast-safe
      ring = if (layerSmall && remaining * nLayer < 5000000L) maxRing + 1 else ring * 2
    }
    if (empty) unresolved.unpersist()
    val leftover =
      if (empty) None
      else Some(fallback(unresolved.drop("pcell")))
    (resolved, leftover) match {
      case (Some(r), Some(l)) => r.unionByName(l, allowMissingColumns = true)
      case (Some(r), None)    => r
      case (None, Some(l))    => l
      case (None, None)       => points.limit(0)
    }
  }

  /** k=1 face of [[knnByRings]] (kept for the exactness spec). */
  def nearestByRings(points: DataFrame, centroids: DataFrame, res: Int,
      maxRing: Int = 8): DataFrame =
    knnByRings(points, centroids, res, k = 1, maxRing = maxRing)

  /** Exact bbox-overlap join (the polygon×polygon counterpart of
    * [[pipJoin]]): emits every (left, right) pair whose boxes
    * intersect, each pair EXACTLY ONCE, with no `distinct`.
    *
    * Both sides explode to their covering cells at `res` and
    * equi-join on the cell — one shuffle (or a broadcast under AQE),
    * never the all-pairs comparison a plain inequality join plans.
    * A pair sharing k cells would surface k times; instead of a
    * dedup shuffle, each candidate is kept only in the cell that
    * contains the intersection's lower-left corner (the classic
    * reference-point rule): the corner lies inside BOTH boxes, so
    * exactly one joined cell passes the check, and the predicate is
    * codegen'd arithmetic on the four bbox scalars already riding the
    * rows. For non-rectangular geometries this is the candidate
    * stage — compose an exact JTS refine on the emitted pairs.
    *
    * Inputs carry (`idCol`, minx, miny, maxx, maxy); output is
    * (leftId, rightId) renamed from the shared idCol — so a self-join
    * passes the SAME frame twice and filters `leftId < rightId` — plus
    * the two sides' bbox scalars (l/r-prefixed) so downstream refines
    * (intersection geometry, JTS exact tests) need no re-join.
    */
  /** @param leftCarry extra left-side columns to carry through the
    *   cell join (r6: q113/q149 re-derived the segment endpoints from
    *   seg_id's closed form INSIDE the merged join condition — ~16
    *   copies of the modulo/divide tree per candidate pair once the
    *   downstream refine filter folds into the join; carrying the 4
    *   endpoint doubles trades 32 B/row on the exchange for computing
    *   them once per ROW instead of many times per CANDIDATE) */
  def bboxOverlapJoin(left: DataFrame, right: DataFrame, res: Int,
      idCol: String = "id",
      leftId: String = "a_id", rightId: String = "b_id",
      leftCarry: Seq[String] = Nil): DataFrame = {
    def cover(df: DataFrame, outId: String, p: String,
        carry: Seq[String]): DataFrame = df.select(
      col(idCol).as(outId) +: carry.map(col) :+
      col("minx").as(p + "minx") :+ col("miny").as(p + "miny") :+
      col("maxx").as(p + "maxx") :+ col("maxy").as(p + "maxy") :+
      explode(org.apache.spark.sql.GraftSqlShim.column(
        CoverCellsExpr(
          org.apache.spark.sql.GraftSqlShim.expression(
            array(col("minx"), col("maxx"), col("maxx"), col("minx"))),
          org.apache.spark.sql.GraftSqlShim.expression(
            array(col("miny"), col("miny"), col("maxy"), col("maxy"))), res)))
        .as("cell"): _*)
    val cornerX = greatest(col("lminx"), col("rminx"))
    val cornerY = greatest(col("lminy"), col("rminy"))
    cover(left, leftId, "l", leftCarry)
      .join(cover(right, rightId, "r", Nil), "cell")
      .filter(col("lminx") <= col("rmaxx") && col("rminx") <= col("lmaxx") &&
        col("lminy") <= col("rmaxy") && col("rminy") <= col("lmaxy") &&
        GeoFunctions.cellAt(cornerX, cornerY, res) === col("cell"))
      .drop("cell")
  }
}
