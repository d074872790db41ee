package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.synth.{SynthSql, SynthUniverse}
import graft.synth.SynthUniverse.{DocChanges, docChanges}
import graft.spatial.SpatialJoin
import graft.geo.GeoFunctions

/** The north-rule spatial core, oracle-checked end-to-end:
  * geo-entity extraction from page text, cell-prefiltered
  * point-in-polygon join, kNN against the polygon layer, and
  * raster / vector tile materialization.
  *
  * The Spark side runs the REAL machinery (ordered ring reconstruction
  * from way_members ⋈ nodes, JTS cover/covers, cell arithmetic); the
  * DuckDB oracle exploits the synthetic rectangles' closed form
  * (BETWEEN bounds) — agreement proves the general path correct on
  * this universe.
  */
object SpatialQueries {

  val PipRes = 6   // cell edge (5.63° x 2.81°) vs max polygon edge 4.5° — cover stays <= ~6 cells
  val TileRes = 5
  val ZBits = 16   // Morton bits per axis (q82)
  /** q82's query box (minLon, maxLon, minLat, maxLat): straddles both
    * midlines (the corner-envelope-degenerate case the interval
    * decomposition exists for) and contains two gazetteer clusters
    * ('window', 'row' — ~780 points at sf0.01). */
  val Q82Box = (-12.0, 29.0, -36.0, 4.0)

  /** Each user's track in time order, with the full (ts, event_id)
    * tie-break the oracle's windows use. */
  private val trackOrder = org.apache.spark.sql.expressions.Window
    .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  /** q199/q204's candidate track pairs: each user's first-12 lattice
    * positions (exact-BIGINT coordinates), blocked on the track head's
    * coarse cell — never all-pairs. At corpus scale the block key
    * widens with a time bucket exactly like q158's note. Columns:
    * (user_a, user_b, xa, ya, xb, yb). */
  private def trackPairs12(s: SparkSession, dir: String): DataFrame = {
    val L = 12
    val pos = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        SynthUniverse.eventX.as("xi"),
        SynthUniverse.eventY.as("yi"))
      .withColumn("rn", row_number().over(trackOrder))
      .filter(col("rn") <= L)
    val tracks = pos.groupBy(col("user_id"))
      .agg(count(lit(1)).as("np"),
        sort_array(collect_list(struct(col("rn"), col("xi"), col("yi")))).as("t"))
      .filter(col("np") === L)
      .select(col("user_id"),
        transform(col("t"), e => e.getField("xi")).as("xs"),
        transform(col("t"), e => e.getField("yi")).as("ys"))
      .withColumn("bx", expr("xs[0] div 20000"))
      .withColumn("by", expr("ys[0] div 20000"))
    val a = tracks.select(col("user_id").as("user_a"), col("xs").as("xa"),
      col("ys").as("ya"), col("bx"), col("by"))
    val b = tracks.select(col("user_id").as("user_b"), col("xs").as("xb"),
      col("ys").as("yb"), col("bx"), col("by"))
    a.join(b, Seq("bx", "by"))
      .filter(col("user_a") < col("user_b"))
  }

  /** q201/q212's collected tracks: each user's first-12 lattice
    * positions as aligned coordinate arrays (user_id, xs, ys) — the
    * per-group input to the bounded hull/diameter expressions. The
    * window and the downstream groupBy share the user_id partitioning,
    * so consumers stay ONE exchange. */
  private def trackPoints12(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        SynthUniverse.eventX.as("x"),
        SynthUniverse.eventY.as("y"))
      .withColumn("rn", row_number().over(trackOrder))
      .filter(col("rn") <= 12)
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("x"), col("y"))).as("ps"))
      .select(col("user_id"),
        transform(col("ps"), p => p.getField("x")).as("xs"),
        transform(col("ps"), p => p.getField("y")).as("ys"))
  }

  /** The point-occupancy raster at `res`: (ix, iy, cnt) — each occupied
    * cell of the clamped grid with its point count. */
  private def occupancy(points: DataFrame, res: Int): DataFrame =
    points.select(GeoFunctions.gridX(col("lon"), res).as("ix"),
        GeoFunctions.gridY(col("lat"), res).as("iy"))
      .groupBy(col("ix"), col("iy")).agg(count(lit(1)).as("cnt"))

  /** q203/q208's event-density raster: (cx, cy, z) — occupied 4000-unit
    * lattice cells with their event counts as the elevation surface. */
  private def densityCells(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(call_function("div", SynthUniverse.eventX, lit(4000)).as("cx"),
        call_function("div", SynthUniverse.eventY, lit(4000)).as("cy"))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("z"))

  /** q287's conflation over an arbitrary (doc_id, entity, lon, lat)
    * mention frame — THE one definition shared by q287 and its IVM
    * face q289. Candidates block on a 4-char token prefix; winner =
    * (exact-token DESC, milli-degree dist² ASC, fac_id) struct-min. */
  private def conflate(s: SparkSession, pts0: DataFrame): DataFrame = {
    import graft.text.TextFunctions.hash60
    val gaz = SynthUniverse.Gazetteer
    val ents = s.range(1).select(explode(array(gaz.map(lit): _*)).as("gent"))
    val fac = ents
      .select(col("gent"), explode(sequence(lit(0), lit(3))).as("k"))
      .select(col("gent"), col("k"),
        when(col("k") === 0, col("gent"))
          .when(col("k") === 1, concat(col("gent"), lit(" depot")))
          .when(col("k") === 2, concat(col("gent"), lit("s")))
          .otherwise(concat(lit("north "), col("gent"))).as("name"),
        ((hash60(col("gent")) % 320000) / 1000.0 - 160.0 +
          col("k") * 0.21).as("flon"),
        ((hash60(concat(lit("lat:"), col("gent"))) % 150000) / 1000.0 -
          75.0 + col("k") * 0.17).as("flat"))
      .select(hash60(col("name")).as("fac_id"), col("name"),
        col("flon"), col("flat"))
    val ftok = fac.select(col("fac_id"), col("name"), col("flon"),
        col("flat"), explode(split(col("name"), " ")).as("tok"))
      .withColumn("blk", substring(col("tok"), 1, 4))
    val pts = pts0.withColumn("blk", substring(col("entity"), 1, 4))
    val scored = pts.join(broadcast(ftok), "blk")
      .select(col("doc_id"), col("entity"), col("fac_id"), col("name"),
        when(col("tok") === col("entity"), 1L).otherwise(0L).as("exact"),
        round((col("lon") - col("flon")) * 1000, 0).cast("long").as("rdx"),
        round((col("lat") - col("flat")) * 1000, 0).cast("long").as("rdy"))
      .withColumn("d2", col("rdx") * col("rdx") + col("rdy") * col("rdy"))
    scored.groupBy(col("doc_id"), col("entity"))
      .agg(min(struct((-col("exact")).as("ne"), col("d2").as("d2"),
        col("fac_id").as("fid"), col("name").as("nm"))).as("w"),
        count(lit(1)).as("n_candidates"))
      .select(col("doc_id"), col("entity"),
        col("w.fid").as("fac_id"), col("w.nm").as("fac_name"),
        (-col("w.ne")).as("exact"), col("w.d2").as("d2_milli2"),
        col("n_candidates"))
  }

  /** [[conflate]]'s oracle, parameterized by the points source CTE so
    * q289 can re-point it at the post-change corpus. */
  private def conflateSql(pointsCtes: String): String =
    s"""WITH $pointsCtes,
       |gaz AS (SELECT unnest(['table','row','scan','merge','join','window','stream','vector']) AS gent),
       |fac0 AS (
       |  SELECT gent, k,
       |    CASE k WHEN 0 THEN gent WHEN 1 THEN gent || ' depot'
       |      WHEN 2 THEN gent || 's' ELSE 'north ' || gent END AS name,
       |    (CAST('0x' || substr(md5(gent),1,15) AS BIGINT) % 320000) / 1000.0
       |      - 160.0 + k * 0.21 AS flon,
       |    (CAST('0x' || substr(md5('lat:' || gent),1,15) AS BIGINT) % 150000) / 1000.0
       |      - 75.0 + k * 0.17 AS flat
       |  FROM gaz, range(0, 4) t(k)),
       |fac AS (SELECT CAST('0x' || substr(md5(name),1,15) AS BIGINT) AS fac_id,
       |    name, flon, flat FROM fac0),
       |ftok AS (SELECT fac_id, name, flon, flat,
       |    unnest(string_split(name, ' ')) AS tok FROM fac),
       |cand AS (
       |  SELECT p.doc_id, p.entity, f.fac_id, f.name, f.tok,
       |    f.flon, f.flat, p.lon, p.lat
       |  FROM points p JOIN ftok f
       |    ON substr(f.tok, 1, 4) = substr(p.entity, 1, 4)),
       |scored AS (
       |  SELECT doc_id, entity, fac_id, name,
       |    CASE WHEN tok = entity THEN 1 ELSE 0 END AS exact,
       |    CAST(ROUND((lon - flon) * 1000, 0) AS BIGINT) AS rdx,
       |    CAST(ROUND((lat - flat) * 1000, 0) AS BIGINT) AS rdy
       |  FROM cand),
       |d AS (SELECT *, rdx*rdx + rdy*rdy AS d2 FROM scored),
       |w AS (SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id, entity
       |      ORDER BY exact DESC, d2 ASC, fac_id ASC) AS rn,
       |    COUNT(*) OVER (PARTITION BY doc_id, entity) AS n_candidates
       |  FROM d)
       |SELECT doc_id, entity, fac_id, name AS fac_name,
       |  CAST(exact AS BIGINT) AS exact, d2 AS d2_milli2,
       |  CAST(n_candidates AS BIGINT) AS n_candidates
       |FROM w WHERE rn = 1""".stripMargin

  /** The D8 steepest-descent pointer (cx, cy → nx, ny): each occupied
    * cell drains to its steepest strictly-lower 8-neighbor, tie-break
    * (z, nx, ny). Neighbor candidates come from a JOIN-FREE 8-offset
    * scatter (q125's focal pattern — never a quadratic cell×cell
    * distance join). ONE definition shared by q203's flow accumulation
    * and q286's watershed labeling. */
  private def d8Flow(cells: DataFrame): DataFrame = {
    val offsets = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1),
      (1, -1), (1, 0), (1, 1))
    // scatter each cell's z to its 8 neighbors: the receiving cell
    // collects candidate (nz, nx, ny) rows by equi-join on its own key
    val scattered = cells.select(
      explode(array(offsets.map { case (dx, dy) =>
        struct((col("cx") + dx).as("tcx"), (col("cy") + dy).as("tcy"))
      }: _*)).as("t"),
      col("cx").as("nx"), col("cy").as("ny"), col("z").as("nz"))
      .select(col("t.tcx").as("cx"), col("t.tcy").as("cy"),
        col("nx"), col("ny"), col("nz"))
    cells.join(scattered, Seq("cx", "cy"))
      .filter(col("nz") < col("z"))
      .groupBy(col("cx"), col("cy"))
      .agg(min(struct(col("nz"), col("nx"), col("ny"))).as("m"))
      .select(col("cx"), col("cy"),
        col("m.nx").as("nx"), col("m.ny").as("ny"))
  }

  /** q199/q204's oracle: the full 12x12 DP grid as 144 CHAINED
    * MATERIALIZED CTEs, one per cell (each adds one column referencing
    * only materialized ones). A single SELECT with 144 lateral aliases
    * is NOT usable: DuckDB inlines lateral column aliases textually,
    * so the 3-way LEAST chain explodes to ~3^22 expression nodes and
    * the planner hangs. `frechet` swaps the summed-cost fold for the
    * bottleneck fold GREATEST(cost, LEAST(...)). */
  private def trackDpOracle(frechet: Boolean): String = {
    val L = 12
    var prevCte = "p"
    val cells = for (i <- 0 until L; j <- 0 until L) yield {
      val cost = s"((xa[${i + 1}]-xb[${j + 1}])*(xa[${i + 1}]-xb[${j + 1}])" +
        s" + (ya[${i + 1}]-yb[${j + 1}])*(ya[${i + 1}]-yb[${j + 1}]))"
      val cell =
        if (frechet) {
          if (i == 0 && j == 0) cost
          else if (i == 0) s"GREATEST(c_0_${j - 1}, $cost)"
          else if (j == 0) s"GREATEST(c_${i - 1}_0, $cost)"
          else s"GREATEST($cost, LEAST(c_${i - 1}_${j - 1}, c_${i - 1}_$j, c_${i}_${j - 1}))"
        } else {
          val prev =
            if (i == 0 && j == 0) "0"
            else if (i == 0) s"c_0_${j - 1}"
            else if (j == 0) s"c_${i - 1}_0"
            else s"LEAST(c_${i - 1}_${j - 1}, c_${i - 1}_$j, c_${i}_${j - 1})"
          s"$cost + $prev"
        }
      val cte = s"d_${i}_$j AS MATERIALIZED (SELECT *, $cell AS c_${i}_$j FROM $prevCte)"
      prevCte = s"d_${i}_$j"
      cte
    }
    val outCol = if (frechet) "frechet_d2" else "dtw_d2"
    s"""WITH t AS (
       |  SELECT user_id,
       |    (list(xi ORDER BY ts, event_id))[1:$L] AS xs,
       |    (list(yi ORDER BY ts, event_id))[1:$L] AS ys
       |  FROM (SELECT user_id, ts, event_id,
       |      event_id*17 % 320000 AS xi, event_id*23 % 150000 AS yi
       |    FROM events)
       |  GROUP BY 1 HAVING COUNT(*) >= $L),
       |tb AS (SELECT user_id, xs, ys,
       |    xs[1] // 20000 AS bx, ys[1] // 20000 AS by FROM t),
       |p AS MATERIALIZED (SELECT a.user_id AS user_a, b.user_id AS user_b,
       |    a.xs AS xa, a.ys AS ya, b.xs AS xb, b.ys AS yb
       |  FROM tb a JOIN tb b
       |    ON a.bx = b.bx AND a.by = b.by AND a.user_id < b.user_id),
       |${cells.mkString(",\n")}
       |SELECT user_a, user_b, CAST(c_${L - 1}_${L - 1} AS BIGINT) AS $outCol
       |FROM d_${L - 1}_${L - 1}""".stripMargin
  }

  /** q271's oracle: the trackDpOracle skeleton with the LCSS fold —
    * match cells extend the diagonal, misses take the best border. */
  private def lcssOracle(eps2: Long): String = {
    val L = 12
    var prevCte = "p"
    val cells = for (i <- 0 until L; j <- 0 until L) yield {
      val cost = s"((xa[${i + 1}]-xb[${j + 1}])*(xa[${i + 1}]-xb[${j + 1}])" +
        s" + (ya[${i + 1}]-yb[${j + 1}])*(ya[${i + 1}]-yb[${j + 1}]))"
      val diag = if (i == 0 || j == 0) "0" else s"c_${i - 1}_${j - 1}"
      val up = if (i == 0) "0" else s"c_${i - 1}_$j"
      val left = if (j == 0) "0" else s"c_${i}_${j - 1}"
      val cell = s"CASE WHEN $cost <= $eps2 THEN $diag + 1" +
        s" ELSE GREATEST($up, $left) END"
      val cte = s"d_${i}_$j AS MATERIALIZED (SELECT *, $cell AS c_${i}_$j FROM $prevCte)"
      prevCte = s"d_${i}_$j"
      cte
    }
    s"""WITH t AS (
       |  SELECT user_id,
       |    (list(xi ORDER BY ts, event_id))[1:$L] AS xs,
       |    (list(yi ORDER BY ts, event_id))[1:$L] AS ys
       |  FROM (SELECT user_id, ts, event_id,
       |      event_id*17 % 320000 AS xi, event_id*23 % 150000 AS yi
       |    FROM events)
       |  GROUP BY 1 HAVING COUNT(*) >= $L),
       |tb AS (SELECT user_id, xs, ys,
       |    xs[1] // 20000 AS bx, ys[1] // 20000 AS by FROM t),
       |p AS MATERIALIZED (SELECT a.user_id AS user_a, b.user_id AS user_b,
       |    a.xs AS xa, a.ys AS ya, b.xs AS xb, b.ys AS yb
       |  FROM tb a JOIN tb b
       |    ON a.bx = b.bx AND a.by = b.by AND a.user_id < b.user_id),
       |${cells.mkString(",\n")}
       |SELECT user_a, user_b, CAST(c_${L - 1}_${L - 1} AS BIGINT) AS lcss_len,
       |  CAST(c_${L - 1}_${L - 1} * 1000000 // $L AS BIGINT) AS sim_ppm
       |FROM d_${L - 1}_${L - 1}""".stripMargin
  }

  private def polys(s: SparkSession, dir: String): DataFrame =
    SpatialJoin.polygons(SynthUniverse.wayMembers(s, dir), SynthUniverse.nodes(s, dir))

  /** bbox-center centroids; formula mirrored exactly in the oracle. */
  def centroids(s: SparkSession, dir: String): DataFrame =
    polys(s, dir).select(col("way_id"),
      ((array_min(col("xs")) + array_max(col("xs"))) / 2.0).as("cx"),
      ((array_min(col("ys")) + array_max(col("ys"))) / 2.0).as("cy"))

  /** kNN target layer: every 40th polygon (brute force is the exact
    * baseline — quadratic, so the probe layer is kept bounded; the
    * scale path is [[graft.spatial.SpatialJoin.nearestByRings]]). */
  def knnLayer(s: SparkSession, dir: String): DataFrame =
    centroids(s, dir).filter(col("way_id") % 40 === 0)

  /** Relation member rings with roles: rel_members(way) ⋈ assembled
    * polygon rings — the multipolygon input layer (q56/q57). */
  private def relRings(s: SparkSession, dir: String): DataFrame =
    SynthUniverse.relMembers(s, dir)
      .filter(col("member_kind") === "way")
      .join(polys(s, dir), col("member_id") === col("way_id"))
      .select(col("rel_id"), col("pos"), col("role"), col("xs"), col("ys"))

  /** q179/q185's shared synthetic point cloud: one point per event in
    * a sqrt(n)-scaled square so density is scale-invariant (~10⁻⁴ per
    * unit²). The QUADRATIC mixer (i² mod P + i·A, all products < 2⁶³,
    * identical BIGINT arithmetic in DuckDB — [[quadCloudSql]] is the
    * oracle-side copy, keep the two in lockstep) matters: affine maps
    * (i·A % P % m) are rank-1 lattices whose line structure clumps
    * points (at some m EVERY point turns DBSCAN-core and one component
    * swallows the plane); the i² term is genuinely non-linear,
    * measured Poisson at every sf (~63% cell occupancy, mean ~pi
    * eps-neighbors, max component ~170 of 100k points). */
  private def quadCloud(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("event_id"))
    val n = ev.count()
    val m = math.ceil(math.sqrt(n.toDouble)).toLong * 100L
    val P = 3037000493L
    ev.select(col("event_id").as("id"),
      ((col("event_id") * col("event_id") % P +
        col("event_id") * lit(2654435761L)) % P % m).as("x"),
      ((col("event_id") * col("event_id") % P * 2 +
        col("event_id") * lit(2246822519L)) % P % m).as("y"))
  }

  /** DuckDB face of [[quadCloud]] — `mm` (domain side) + `p (id,x,y)`
    * CTEs; splice as `WITH [RECURSIVE] $quadCloudSql, ...`. */
  private val quadCloudSql: String =
    """mm AS (
      |  SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) * 100 AS m FROM events),
      |p AS (SELECT event_id AS id,
      |    (event_id * event_id % 3037000493
      |      + event_id * 2654435761) % 3037000493 % mm.m AS x,
      |    (event_id * event_id % 3037000493 * 2
      |      + event_id * 2246822519) % 3037000493 % mm.m AS y
      |  FROM events CROSS JOIN mm)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_extract_entities" -> ((s, dir) =>
      SynthUniverse.points(s, dir).select(
        col("doc_id"), col("entity"),
        round(col("lon") * 1e7, 0).cast("long").as("lon_e7"),
        round(col("lat") * 1e7, 0).cast("long").as("lat_e7"))),
    "q30_pip_join" -> ((s, dir) =>
      SpatialJoin.pipJoin(SynthUniverse.points(s, dir), polys(s, dir), PipRes,
          ringDict = "broadcast")
        .select(col("doc_id"), col("entity"), col("way_id"))),
    "q30b_pip_join_salted" -> ((s, dir) =>
      // identical output over the partitioned+salted path (north rule:
      // explicit skew mitigation must preserve exact join output)
      // low hotThreshold so the histogram pre-pass actually salts the
      // gazetteer hot cells here — the oracle then PROVES the salted
      // plan's output is exactly the unsalted join's output
      SpatialJoin.pipJoin(SynthUniverse.points(s, dir), polys(s, dir), PipRes,
          mode = "partitioned", salt = 8, hotThreshold = 500L,
          ringDict = "broadcast")
        .select(col("doc_id"), col("entity"), col("way_id"))),
    "q31_knn" -> ((s, dir) =>
      SpatialJoin.knnBroadcast(SynthUniverse.points(s, dir), knnLayer(s, dir), 3)
        .select(col("doc_id"), col("entity"), col("rank"),
          col("way_id").as("nearest_way"),
          round(col("d2") * 1e9, 0).cast("long").as("d2_e9"))),
    "q31b_knn_rings" -> ((s, dir) =>
      // the 100 TB path: ring-expansion kNN with a k-th-distance moat —
      // must emit exactly q31's rows (same oracle)
      SpatialJoin.knnByRings(SynthUniverse.points(s, dir), knnLayer(s, dir),
          res = 5, k = 3)
        .select(col("doc_id"), col("entity"), col("rank"),
          col("way_id").as("nearest_way"),
          round(col("d2") * 1e9, 0).cast("long").as("d2_e9"))),
    "q56_multipolygon_pip" -> ((s, dir) =>
      // holes-aware area containment (osm2rdf GeometryHandler semantics):
      // in >=1 outer ring AND in no inner ring of the same relation
      SpatialJoin.pipJoinMulti(SynthUniverse.points(s, dir),
          relRings(s, dir).select(col("rel_id"), col("role"), col("xs"), col("ys")),
          PipRes, ringDict = "broadcast")
        .select(col("doc_id"), col("entity"), col("rel_id"))),
    "q56b_multipolygon_salted" -> ((s, dir) =>
      // same output over the partitioned+salted candidate join — the
      // skew defense extends to the multipolygon operator and the
      // oracle proves output exactness (cf. q30b)
      SpatialJoin.pipJoinMulti(SynthUniverse.points(s, dir),
          relRings(s, dir).select(col("rel_id"), col("role"), col("xs"), col("ys")),
          PipRes, mode = "partitioned", salt = 8, hotThreshold = 500L,
          ringDict = "broadcast")
        .select(col("doc_id"), col("entity"), col("rel_id"))),
    "q72_multipolygon_evenodd" -> ((s, dir) =>
      // nesting-correct containment: ODD number of containing member
      // rings, roles ignored — handles island-in-hole relations the
      // role predicate (q56) cannot; oracle counts containing
      // rectangles per (point, relation) and keeps odd counts
      SpatialJoin.pipJoinMultiEvenOdd(SynthUniverse.points(s, dir),
          relRings(s, dir).select(col("rel_id"), col("role"), col("xs"), col("ys")),
          PipRes, ringDict = "broadcast")
        .select(col("doc_id"), col("entity"), col("rel_id"))),
    "q57_multipolygon_wkt" -> ((s, dir) => {
      // multipolygon geometry ASSEMBLY: outer ring first, holes in member
      // order, 7-decimal osm2rdf emission — all codegen column ops
      val ringStr = concat(lit("("),
        array_join(zip_with(col("xs"), col("ys"),
          (x, y) => format_string("%.7f %.7f", x, y)), ", "), lit(")"))
      relRings(s, dir)
        .select(col("rel_id"), col("pos"), col("role"), ringStr.as("r"))
        .groupBy(col("rel_id"))
        .agg(sort_array(collect_list(struct(
          when(col("role") === "outer", 0).otherwise(1).as("ord"),
          col("pos"), col("r")))).as("rs"))
        .select(col("rel_id"),
          concat(lit("POLYGON("),
            array_join(transform(col("rs"), r => r.getField("r")), ","),
            lit(")")).as("wkt"))
    }),
    "q60_incremental_pip" -> ((s, dir) => {
      // The north-star core: a change batch maintains the INDEXED JOIN
      // OUTPUT incrementally — delete+insert only rows of ways touched
      // by the batch, re-joining only points whose cell is covered by
      // an upserted polygon. The oracle recomputes the post-change join
      // from scratch, proving the delta application exact. At 100 TB
      // the base output is a stored table; the per-batch cost is
      // O(affected polygons + points in their cells), not O(corpus).
      val w = graft.osm.ChangePipeline.dedupLatest(SynthUniverse.changes(s, dir)).cache()
      val wayOps = w.filter(col("kind") === "way")
      val affected = wayOps.select(col("id").as("way_id")).distinct()
      val upsertW = wayOps.filter(col("action").isin("create", "modify"))
        .select(col("id").as("way_id"))
      val polysAll = polys(s, dir)
      val base = SpatialJoin.pipJoin(SynthUniverse.points(s, dir), polysAll, PipRes)
      val upPolys = polysAll.join(upsertW, Seq("way_id"), "left_semi")
      val cells = upPolys.select(explode(org.apache.spark.sql.GraftSqlShim.column(
        graft.spatial.CoverCellsExpr(
          org.apache.spark.sql.GraftSqlShim.expression(col("xs")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys")), PipRes)))
        .as("cell")).distinct()
      val cand = SynthUniverse.points(s, dir)
        .withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), PipRes))
        .join(broadcast(cells), Seq("cell"), "left_semi")
        .drop("cell")
      val delta = SpatialJoin.pipJoin(cand, upPolys, PipRes)
      base.join(broadcast(affected), Seq("way_id"), "left_anti")
        .select(col("doc_id"), col("entity"), col("way_id"))
        .unionByName(delta.select(col("doc_id"), col("entity"), col("way_id")))
    }),
    "q80_incremental_tiles" -> ((s, dir) => {
      // IVM of an AGGREGATE view: the tile-count rollup of the indexed
      // join output is maintained under a change batch with count
      // DELTAS — new = old − removed + added — never recomputing the
      // stored aggregate. removed = base rows of affected ways (at
      // scale a pruned read of the way_id-bucketed stored join
      // output); added = the q60-style cover-cell-targeted re-join.
      // Counts are additive (self-maintainable view), so the batch
      // costs O(affected), not O(corpus). The oracle recomputes the
      // post-change rollup from scratch.
      val w = graft.osm.ChangePipeline.dedupLatest(SynthUniverse.changes(s, dir)).cache()
      val wayOps = w.filter(col("kind") === "way")
      val affected = wayOps.select(col("id").as("way_id")).distinct()
      val upsertW = wayOps.filter(col("action").isin("create", "modify"))
        .select(col("id").as("way_id"))
      val polysAll = polys(s, dir)
      // cached: stands in for the STORED join output (fed by both the
      // old-aggregate leg and the removed leg)
      val base = SpatialJoin.pipJoin(SynthUniverse.points(s, dir), polysAll, PipRes)
        .cache()
      val tile = GeoFunctions.cellAt(col("lon"), col("lat"), TileRes)
      val baseTiles = base.groupBy(tile.as("tile")).agg(count(lit(1)).as("n0"))
      val removed = base.join(broadcast(affected), Seq("way_id"), "left_semi")
        .groupBy(tile.as("tile")).agg(count(lit(1)).as("r"))
      val upPolys = polysAll.join(upsertW, Seq("way_id"), "left_semi")
      val cells = upPolys.select(explode(org.apache.spark.sql.GraftSqlShim.column(
        graft.spatial.CoverCellsExpr(
          org.apache.spark.sql.GraftSqlShim.expression(col("xs")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys")), PipRes)))
        .as("cell")).distinct()
      val cand = SynthUniverse.points(s, dir)
        .withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), PipRes))
        .join(broadcast(cells), Seq("cell"), "left_semi")
        .drop("cell")
      val added = SpatialJoin.pipJoin(cand, upPolys, PipRes)
        .groupBy(tile.as("tile")).agg(count(lit(1)).as("a"))
      baseTiles.join(removed, Seq("tile"), "full_outer")
        .join(added, Seq("tile"), "full_outer")
        .select(col("tile"), (coalesce(col("n0"), lit(0L)) -
          coalesce(col("r"), lit(0L)) + coalesce(col("a"), lit(0L))).as("n"))
        .filter(col("n") > 0)
    }),
    "q81_incremental_knn" -> ((s, dir) => {
      // IVM of the kNN JOIN OUTPUT under a change batch. Deletes force
      // a re-query ONLY for points whose stored top-k references a
      // touched centroid (ring-expansion path against the post-change
      // layer); for every other point upserts can only DISPLACE:
      // merging the stored top-k with candidates against the
      // batch-sized (broadcast) upsert centroids and re-ranking is
      // exact, because any surviving centroid outside the stored top-k
      // is provably farther than the stored k-th. Per-batch cost
      // O(touched · re-query + corpus · |batch|) — never a full corpus
      // re-query. The oracle recomputes post-change kNN from scratch.
      val k = 3
      val w = graft.osm.ChangePipeline.dedupLatest(SynthUniverse.changes(s, dir))
      val layerOps = w.filter(col("kind") === "way" && col("id") % 40 === 0)
      val affected = layerOps.select(col("id").as("way_id")).distinct()
      val deleted = layerOps.filter(col("action") === "delete")
        .select(col("id").as("way_id"))
      val upserts = layerOps.filter(col("action").isin("create", "modify"))
        .select(col("id").as("way_id"))
      val layer0 = knnLayer(s, dir)
      // post-change layer: the synthetic upserts re-derive the same
      // closed-form centroid, so C' = C − deletes
      val layer1 = layer0.join(broadcast(deleted), Seq("way_id"), "left_anti")
      val newCents = layer0.join(broadcast(upserts), Seq("way_id"), "left_semi")
      // cached: stands in for the STORED kNN output table (feeds the
      // touched-key probe and the untouched carry-over leg)
      val base = SpatialJoin.knnBroadcast(SynthUniverse.points(s, dir), layer0, k)
        .cache()
      val touchedKeys = base.join(broadcast(affected), Seq("way_id"), "left_semi")
        .select(col("doc_id"), col("entity")).distinct()
      val touchedPts = SynthUniverse.points(s, dir)
        .join(touchedKeys, Seq("doc_id", "entity"), "left_semi")
      val requeried = SpatialJoin.knnByRings(touchedPts, layer1, res = 5, k = k)
        .select(col("doc_id"), col("entity"), col("rank"), col("d2"), col("way_id"))
      val untouchedPts = SynthUniverse.points(s, dir)
        .join(touchedKeys, Seq("doc_id", "entity"), "left_anti")
      val candidates = SpatialJoin.knnBroadcast(untouchedPts, newCents, k)
      // candidate way_ids are all touched; untouched stored rows
      // reference none — the union is duplicate-free by construction.
      // At scale the stored output is bucketed by point key, making
      // this re-rank window shuffle-free.
      val merged = base.join(touchedKeys, Seq("doc_id", "entity"), "left_anti")
        .select(col("doc_id"), col("entity"), col("d2"), col("way_id"))
        .unionByName(candidates
          .select(col("doc_id"), col("entity"), col("d2"), col("way_id")))
      val wnd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("entity"))
        .orderBy(col("d2").asc, col("way_id").asc)
      merged.withColumn("rank", row_number().over(wnd))
        .filter(col("rank") <= k)
        .select(col("doc_id"), col("entity"), col("rank"), col("d2"), col("way_id"))
        .unionByName(requeried)
        .select(col("doc_id"), col("entity"), col("rank"),
          col("way_id").as("nearest_way"),
          round(col("d2") * 1e9, 0).cast("long").as("d2_e9"))
    }),
    "q71_incremental_multipip" -> ((s, dir) => {
      // Incremental maintenance of the RELATION-derived (holes-aware)
      // area join — the reference's `_modifiedAreas` flow
      // (/root/reference/src/osm/OsmChangeHandler.cpp:168-170): only
      // relations tagged type=multipolygon are areas (P2 routing via
      // the stored tag map), a change batch deletes the join rows of
      // every touched area (direct relation ops ∪ stale relations via
      // member-way closure) and re-joins ONLY points whose cell is
      // covered by an upserted area's rings. The oracle recomputes the
      // post-change multipolygon join from scratch, proving the
      // delete+insert delta exact. Per-batch cost is O(affected areas
      // + points in their cells), not O(corpus).
      val w = graft.osm.ChangePipeline.dedupLatest(SynthUniverse.changes(s, dir)).cache()
      val mpRels = SynthUniverse.relations(s, dir)
        .filter(col("rel_type") === "multipolygon").select(col("rel_id"))
      // cached: the ring-assembly DAG (polys join + groupBy) feeds the
      // base join, the upserted-ring delta, and the cover-cell probe
      val areaRings = relRings(s, dir)
        .join(mpRels, Seq("rel_id"), "left_semi")
        .select(col("rel_id"), col("role"), col("xs"), col("ys"))
        .cache()
      val pts = SynthUniverse.points(s, dir)
      // (r6 wave 2: ringDict=broadcast was tried on both legs and
      // REGRESSED 8.2→10.5 s — these synthetic rel rings are ~40
      // points, below the dictionary's win regime; inline stays)
      val base = SpatialJoin.pipJoinMulti(pts, areaRings, PipRes)
      val st = graft.osm.ChangePipeline.staleWays(w, SynthUniverse.wayMembers(s, dir))
      // r6: sr feeds BOTH the affected and upserted sets — cache the
      // batch-sized frame so the staleWays+staleRels join chain runs
      // once (guide §1.2)
      val sr = graft.osm.ChangePipeline.staleRels(w, SynthUniverse.relMembers(s, dir), st).cache()
      val affected = w.filter(col("kind") === "relation").select(col("id").as("rel_id"))
        .union(sr.select(col("rel_id"))).distinct()
      val upserted = w.filter(col("kind") === "relation" &&
          col("action").isin("create", "modify"))
        .select(col("id").as("rel_id"))
        .union(sr.select(col("rel_id"))).distinct()
      val upRings = areaRings.join(upserted, Seq("rel_id"), "left_semi").cache()
      val cells = upRings.select(explode(org.apache.spark.sql.GraftSqlShim.column(
        graft.spatial.CoverCellsExpr(
          org.apache.spark.sql.GraftSqlShim.expression(col("xs")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys")), PipRes)))
        .as("cell")).distinct()
      val cand = pts
        .withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), PipRes))
        .join(broadcast(cells), Seq("cell"), "left_semi")
        .drop("cell")
      val delta = SpatialJoin.pipJoinMulti(cand, upRings, PipRes)
      base.join(broadcast(affected), Seq("rel_id"), "left_anti")
        .select(col("doc_id"), col("entity"), col("rel_id"))
        .unionByName(delta.select(col("doc_id"), col("entity"), col("rel_id")))
    }),
    "q58_simplify_ring" -> ((s, dir) => {
      // vector-tile simplification: densify each ring with exact segment
      // midpoints (column ops), then run REAL Douglas-Peucker — the
      // collinear midpoints must vanish, recovering the corner ring the
      // oracle derives from the closed rectangle form
      def densify(v: Column, m: Column): Column = concat(
        flatten(transform(sequence(lit(1), m - 1), i =>
          array(element_at(v, i),
            (element_at(v, i) + element_at(v, i + 1)) / 2.0))),
        array(element_at(v, m)))
      val m = size(col("xs"))
      val dense = polys(s, dir)
        .select(col("way_id"), densify(col("xs"), m).as("dx"),
          densify(col("ys"), m).as("dy"))
      dense
        .withColumn("simp", graft.geo.Simplify.simplifyUdf(col("dx"), col("dy"), 1e-7))
        .select(col("way_id"),
          concat(lit("LINESTRING("),
            array_join(zip_with(col("simp._1"), col("simp._2"),
              (x, y) => format_string("%.7f %.7f", x, y)), ", "),
            lit(")")).as("wkt"))
    }),
    "q59_tile_pyramid" -> ((s, dir) => {
      // hierarchical rollup: res-4 tiles derived by re-aggregating the
      // res-5 tile table through parent-cell bit arithmetic — NEVER
      // rescanning the points (the oracle aggregates points directly at
      // res 4, proving the rollup exact)
      val t5 = SynthUniverse.points(s, dir)
        .withColumn("tile", GeoFunctions.cellAt(col("lon"), col("lat"), TileRes))
        .groupBy(col("tile")).agg(count(lit(1)).as("n5"))
      t5.groupBy(GeoFunctions.parentAt(col("tile"), TileRes, TileRes - 1).as("tile"))
        .agg(sum(col("n5")).as("n_points"))
    }),
    "q82_zorder_scan" -> ((s, dir) => {
      // Z-order clustered STORAGE + pruned bbox scan: the corpus is
      // written clustered along the Morton curve, and the query reads
      // it back through a literal z-interval that pushes down to the
      // parquet scan — at 100 TB whole files/row-groups outside the
      // interval are skipped via min/max stats (SnapshotTableSpec
      // measures the file-count drop). The oracle both proves the pruned read
      // returns exactly the bbox rows AND pins the Morton encoding
      // itself cross-engine (zval is part of the hashed output).
      // goes through the TABLE layer (a SnapshotTable keyed on
      // (doc_id, entity) with the z-ordered layout): the bucket manifest
      // prunes whole dirs from the z-interval decomposition before any
      // file is listed, then parquet min/max skipping applies inside
      // the survivors
      val root = "target/q82_zcluster_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.tables.SnapshotTable.deleteRecursively(java.nio.file.Paths.get(root))
      graft.tables.SnapshotTable
        .createZOrdered(s, root, SynthUniverse.points(s, dir),
          Seq("doc_id", "entity"), "lon", "lat", ZBits, numBuckets = 32)
        .readBbox(Q82Box._1, Q82Box._2, Q82Box._3, Q82Box._4)
        .select(col("doc_id"), col("entity"), col("zval"))
    }),
    "q257_zorder_mor_scan" -> ((s, dir) => {
      // the z-MOR path end-to-end under the standard document change
      // batch: the z-clustered layer takes the batch as a
      // merge-on-read delta (mergeIntoDelta, the same delta chain a
      // hash-bucketed table takes — O(batch), NO table
      // rewrite), and the pruned bbox scan must return exactly the
      // post-change rows — new entities appear, deleted docs' rows
      // vanish (suppressed BY KEY wherever their stale base copies
      // sit, which is the property that makes z-layouts maintainable;
      // cf. SnapshotZMergeSpec). Key = (doc_id, entity); tombstones
      // cover deleted docs' point sets and entities an update
      // removed. Oracle: the post-change corpus filtered to the box
      // with the Morton encoding pinned (q82's contract).
      val root = "target/q257_zmor_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.tables.SnapshotTable.deleteRecursively(java.nio.file.Paths.get(root))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val t = graft.tables.SnapshotTable.createZOrdered(s, root,
        SynthUniverse.points(s, dir), Seq("doc_id", "entity"), "lon", "lat", ZBits,
        numBuckets = 32)
      val DocChanges(_, deletedIds, updatedLive, _) = docChanges(docs)
      val newPts = SynthUniverse.pointsOf(updatedLive)
      val removedKeys = SynthUniverse.points(s, dir)
        .join(updatedLive.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .join(newPts.select(col("doc_id"), col("entity")),
          Seq("doc_id", "entity"), "left_anti")
      val delPts = SynthUniverse.points(s, dir)
        .join(deletedIds, Seq("doc_id"), "left_semi")
      val batch = newPts.withColumn("__rm", lit(false))
        .unionByName(removedKeys.withColumn("__rm", lit(true)))
        .unionByName(delPts.withColumn("__rm", lit(true)))
      t.mergeIntoDelta(batch, Seq("doc_id", "entity"), Some("__rm"))
      t.readBbox(Q82Box._1, Q82Box._2, Q82Box._3, Q82Box._4)
        .select(col("doc_id"), col("entity"), col("zval"))
    }),
    "q258_geohash_codec" -> ((s, dir) => {
      // base32 cell-string interop (geohash-style): the 20-bit Morton
      // code of each occupied res-10 cell ENCODES to 4 chars of the
      // standard geohash alphabet and DECODES back by independent
      // string arithmetic — the interchange format an external tile
      // consumer speaks. Encode and decode share no code (substring
      // into the alphabet vs position back out of it), and the
      // roundtrip flag rides the hashed output, so either side lying
      // fails the oracle. Pure codegen string/bit ops over the
      // bounded occupied-cell aggregate; no UDF anywhere.
      val cells = SynthUniverse.points(s, dir)
        .select(graft.geo.ZOrder.zValue(col("lon"), col("lat"), 10).as("z"))
        .groupBy(col("z")).agg(count(lit(1)).as("n_points"))
      val enc = (0 until 4).map(k => expr(
        s"substring('$GeohashAlphabet', " +
          s"cast(shiftright(z, ${15 - 5 * k}) & 31 as int) + 1, 1)"))
      val dec = (0 until 4).map(k => expr(
        s"shiftleft(cast(position(substring(gh, ${k + 1}, 1), " +
          s"'$GeohashAlphabet') - 1 as bigint), ${15 - 5 * k})"))
        .reduce(_ + _)
      cells.withColumn("gh", concat(enc: _*))
        .withColumn("z_rt", dec)
        .select(col("z"), col("gh"), col("z_rt"),
          (col("z_rt") === col("z")).cast("long").as("ok"), col("n_points"))
    }),
    "q259_reverse_nn" -> ((s, dir) => {
      // reverse-nearest-neighbor catchments (facility influence /
      // reverse geocoding's assignment step): every extracted point
      // assigns to its NEAREST gazetteer base position, and the
      // output is each facility's catchment size. The facility set is
      // bounded and known (8 gazetteer entities), so the argmin is a
      // driver-built LEAST + first-match CASE chain over plan
      // literals — join-free, window-free, pure codegen (q240's
      // WHEN-chain convention); the squared-distance expression tree
      // is generated from the SAME integer hash constants on both
      // engines, so the IEEE doubles fold identically.
      val pts = SynthUniverse.points(s, dir)
      val ds = GazetteerSites.map { case (_, hx, hy) =>
        val ex = lit(hx).cast("double") / 1000.0 - 160.0
        val ey = lit(hy).cast("double") / 1000.0 - 75.0
        (col("lon") - ex) * (col("lon") - ex) +
          (col("lat") - ey) * (col("lat") - ey)
      }
      val best = least(ds: _*)
      val pick = GazetteerSites.zip(ds).tail.foldLeft(
        when(ds.head === best, lit(GazetteerSites.head._1))) {
        case (acc, ((e, _, _), d)) => acc.when(d === best, lit(e))
      }
      pts.select(pick.as("entity"))
        .groupBy(col("entity")).agg(count(lit(1)).as("catchment"))
    }),
    "q86_bbox_overlap" -> ((s, dir) => {
      // polygon×polygon overlap pairs via the cell-cover equi-join with
      // reference-point dedup — the oracle plans the quadratic
      // inequality self-join; the Spark side shuffles once on the cell
      // and emits each pair exactly once with NO distinct (each
      // candidate survives only in the cell holding the intersection's
      // lower-left corner).
      val boxes = SynthUniverse.ways(s, dir).select(
        col("way_id"), col("x0").as("minx"), col("y0").as("miny"),
        (col("x0") + col("w")).as("maxx"), (col("y0") + col("h")).as("maxy"))
      SpatialJoin.bboxOverlapJoin(boxes, boxes, PipRes, idCol = "way_id")
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
    }),
    "q92_overlap_area" -> ((s, dir) => {
      // overlap pairs refined to the intersection's exact area — for
      // rectangles the closed form is width×height of the clipped box,
      // computed from the bbox scalars the join already emits (no
      // re-join, no geometry rescan). Identical parenthesization on
      // both engines keeps the double product bit-stable before the
      // integer rounding.
      val boxes = SynthUniverse.ways(s, dir).select(
        col("way_id"), col("x0").as("minx"), col("y0").as("miny"),
        (col("x0") + col("w")).as("maxx"), (col("y0") + col("h")).as("maxy"))
      val iw = least(col("lmaxx"), col("rmaxx")) - greatest(col("lminx"), col("rminx"))
      val ih = least(col("lmaxy"), col("rmaxy")) - greatest(col("lminy"), col("rminy"))
      SpatialJoin.bboxOverlapJoin(boxes, boxes, PipRes, idCol = "way_id")
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round((iw * ih) * 1e7, 0).cast("long").as("area_e7"))
    }),
    "q128_poly_overlay_area" -> ((s, dir) => {
      // polygon OVERLAY (intersection area) through the REAL geometry
      // path: assembled rings → JTS clipping → shoelace area, on
      // bbox-prefiltered candidate pairs only (the same responsible-
      // cell join as q92, never all-pairs). The oracle is q92's
      // closed-form rectangle arithmetic — agreement proves the
      // general overlay machinery exact on this universe. Rounding is
      // safe against shoelace-vs-product ulp drift: intersection dims
      // sit on the 0.001° grid, so area·1e7 is a multiple of 10, far
      // from any .5 boundary.
      val p = polys(s, dir)
      val boxes = p.select(col("way_id"),
        array_min(col("xs")).as("minx"), array_min(col("ys")).as("miny"),
        array_max(col("xs")).as("maxx"), array_max(col("ys")).as("maxy"))
      val area = org.apache.spark.sql.GraftSqlShim.column(
        graft.spatial.IntersectionAreaExpr(
          org.apache.spark.sql.GraftSqlShim.expression(col("xs_a")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys_a")),
          org.apache.spark.sql.GraftSqlShim.expression(col("xs_b")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys_b"))))
      SpatialJoin.bboxOverlapJoin(boxes, boxes, PipRes, idCol = "way_id")
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
        .join(p.select(col("way_id").as("a_id"),
          col("xs").as("xs_a"), col("ys").as("ys_a")), "a_id")
        .join(p.select(col("way_id").as("b_id"),
          col("xs").as("xs_b"), col("ys").as("ys_b")), "b_id")
        .select(col("a_id"), col("b_id"),
          round(area * 1e7, 0).cast("long").as("area_e7"))
    }),
    "q91_trajectory_length" -> ((s, dir) => {
      // per-user travel distance over the deterministic event
      // positions: ONE shuffle on user_id — the window orders each
      // user's track, the same-key groupBy reuses that partitioning
      // (no second exchange). Per-segment distances are e7-rounded to
      // integers BEFORE summing, so the aggregate is order-insensitive
      // (IEEE sqrt is correctly rounded — both engines see identical
      // segment doubles).
      SynthUniverse.tracks(s, dir)
        .select(col("user_id"),
          (col("lon") - lag(col("lon"), 1).over(trackOrder)).as("dx"),
          (col("lat") - lag(col("lat"), 1).over(trackOrder)).as("dy"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(round(sqrt(col("dx") * col("dx") + col("dy") * col("dy")) * 1e7, 0)
            .cast("long")), lit(0L)).as("dist_e7"))
    }),
    "q32_raster_tiles" -> ((s, dir) =>
      SynthUniverse.points(s, dir)
        .withColumn("tile", GeoFunctions.cellAt(col("lon"), col("lat"), TileRes))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_points"),
          countDistinct(col("doc_id")).as("n_docs"))),
    "q32b_vector_tiles" -> ((s, dir) =>
      centroids(s, dir)
        .withColumn("tile", GeoFunctions.cellAt(col("cx"), col("cy"), TileRes))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_polys"),
          array_join(sort_array(collect_list(col("way_id"))), ";").as("poly_ids"))),
    "q113_segment_box_join" -> ((s, dir) => {
      // trajectory-segment × polygon-bbox CROSSING join (which map
      // features does each GPS step touch): cell-prefiltered bbox
      // overlap via the responsible-cell dedup (no distinct), then an
      // EXACT separating-axis refine — a segment meets an axis-aligned
      // box iff the bboxes overlap AND the box's 4 corners are not all
      // strictly on one side of the segment's line. Pure sign
      // arithmetic (identical expression trees in both engines), never
      // all-pairs; the candidate stream re-derives the endpoints from
      // seg_id's closed form so only (id, 4 bbox scalars) ride the
      // cell join.
      // r6: the endpoints (px,py,qx,qy) ride the cell join as 4 double
      // columns instead of re-deriving from seg_id inside the merged
      // join condition — same values (identical upstream expressions),
      // but evaluated once per seg row, not ~16x per candidate pair
      // (guide §1.2 per-task work; see bboxOverlapJoin.leftCarry)
      val segs = Tables.events(s, dir).select(
          col("event_id").as("id"),
          SynthUniverse.eventLon.as("px"),
          SynthUniverse.eventLat.as("py"),
          ((col("event_id") * 31 % 200).cast("double") / 100.0 - 1.0).as("dx"),
          ((col("event_id") * 37 % 200).cast("double") / 100.0 - 1.0).as("dy"))
        .select(col("id"), col("px"), col("py"),
          (col("px") + col("dx")).as("qx"), (col("py") + col("dy")).as("qy"),
          least(col("px"), col("px") + col("dx")).as("minx"),
          least(col("py"), col("py") + col("dy")).as("miny"),
          greatest(col("px"), col("px") + col("dx")).as("maxx"),
          greatest(col("py"), col("py") + col("dy")).as("maxy"))
      val boxes = SynthUniverse.ways(s, dir).select(col("way_id").as("id"),
        col("x0").as("minx"), col("y0").as("miny"),
        (col("x0") + col("w")).as("maxx"), (col("y0") + col("h")).as("maxy"))
      def side(cx: Column, cy: Column): Column =
        (col("qx") - col("px")) * (cy - col("py")) -
          (col("qy") - col("py")) * (cx - col("px"))
      val ss = Seq(side(col("rminx"), col("rminy")), side(col("rmaxx"), col("rminy")),
        side(col("rmaxx"), col("rmaxy")), side(col("rminx"), col("rmaxy")))
      SpatialJoin.bboxOverlapJoin(segs, boxes, PipRes, idCol = "id",
          leftId = "seg_id", rightId = "way_id",
          leftCarry = Seq("px", "py", "qx", "qy"))
        .filter(least(ss: _*) <= 0 && greatest(ss: _*) >= 0)
        .select(col("seg_id"), col("way_id"))
    }),
    "q114_decimate_track" -> ((s, dir) => {
      // one-pass polyline decimation (Visvalingam-style effective
      // area): a track vertex survives iff it is an endpoint or the
      // doubled triangle area with its neighbors clears the threshold.
      // ONE shuffle on user_id (the lag/lead window); everything else
      // is codegen arithmetic — at 100 TB each user's track decimates
      // independently inside its partition.
      SynthUniverse.tracks(s, dir)
        .select(col("user_id"), col("event_id"), col("lon"), col("lat"),
          lag(col("lon"), 1).over(trackOrder).as("plon"),
          lag(col("lat"), 1).over(trackOrder).as("plat"),
          lead(col("lon"), 1).over(trackOrder).as("nlon"),
          lead(col("lat"), 1).over(trackOrder).as("nlat"))
        .withColumn("area2_e7",
          round(abs((col("lon") - col("plon")) * (col("nlat") - col("plat")) -
            (col("lat") - col("plat")) * (col("nlon") - col("plon"))) * 1e7, 0)
            .cast("long"))
        .filter(col("plon").isNull || col("nlon").isNull ||
          col("area2_e7") >= DecimateT)
        .select(col("user_id"), col("event_id"),
          coalesce(col("area2_e7"), lit(-1L)).as("area2_e7"))
    }),
    "q116_tile_terms" -> ((s, dir) => {
      // per-tile top-k terms ("what words cluster where" — the
      // geo×text fusion view): tile+term counts map-side combine into
      // one shuffle, the top-k window is partitioned BY TILE (never
      // global), ties broken deterministically by term.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("tile")).orderBy(col("n").desc, col("entity").asc)
      SynthUniverse.points(s, dir)
        .withColumn("tile", GeoFunctions.cellAt(col("lon"), col("lat"), TileRes))
        .groupBy(col("tile"), col("entity")).agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
    }),
    "q116b_tile_terms_agg" -> ((s, dir) => {
      // q116's per-tile top-k through the BOUNDED-STATE native
      // aggregate instead of the rank window: the exchange carries at
      // most k=3 rows per (partition, tile) thanks to map-side partial
      // aggregation, and nothing sorts. The string tie-break maps
      // through the lexicographically-sorted gazetteer index (a Long,
      // the aggregate's tie type) and back — same rows as q116, same
      // oracle.
      val gaz = SynthUniverse.Gazetteer.sorted
      val gazArr = array(gaz.map(lit): _*)
      SynthUniverse.points(s, dir)
        .withColumn("tile", GeoFunctions.cellAt(col("lon"), col("lat"), TileRes))
        .groupBy(col("tile"), col("entity")).agg(count(lit(1)).as("n"))
        .withColumn("gi", array_position(gazArr, col("entity")))
        .groupBy(col("tile"))
        .agg(graft.functions.TopKAgg.topK(col("n"), col("gi"), 3).as("tk"))
        .select(col("tile"), posexplode(col("tk")))
        .select(col("tile"),
          element_at(gazArr, col("col.tie").cast("int")).as("entity"),
          col("col.ord").as("n"),
          (col("pos") + 1).cast("int").as("rank"))
    }),
    "q136_incremental_pyramid" -> ((s, dir) => {
      // IVM of the tile pyramid (q131) under the standard document
      // change batch — the geo×text-fusion member of the IVM family:
      // tile counts are ADDITIVE (self-maintainable view), so
      // new = stored − points(affected docs) + points(post-change
      // affected docs), re-extracting geo-entities ONLY from the
      // batch's documents. Per-batch cost O(affected docs), never a
      // corpus re-aggregation; the oracle rebuilds the pyramid from
      // the post-change corpus.
      def pyramid(pts: DataFrame): DataFrame = pts
        .select(explode(array(PyramidLevels.map(l => struct(
          lit(l).as("level"),
          GeoFunctions.cellAt(col("lon"), col("lat"), l).as("tile"))): _*)).as("lt"))
        .select(col("lt.level").as("level"), col("lt.tile").as("tile"))
        .groupBy(col("level"), col("tile"))
        .agg(count(lit(1)).as("n_points"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val DocChanges(_, _, updatedLive, affected) = docChanges(docs)
      // stored pyramid stand-in
      val stored = pyramid(SynthUniverse.points(s, dir))
      val removed = pyramid(SynthUniverse.points(s, dir)
          .join(affected, Seq("doc_id"), "left_semi"))
        .withColumnRenamed("n_points", "r")
      val added = pyramid(SynthUniverse.pointsOf(updatedLive))
        .withColumnRenamed("n_points", "a")
      stored.join(removed, Seq("level", "tile"), "full_outer")
        .join(added, Seq("level", "tile"), "full_outer")
        .select(col("level"), col("tile"),
          (coalesce(col("n_points"), lit(0L)) - coalesce(col("r"), lit(0L)) +
            coalesce(col("a"), lit(0L))).as("n_points"))
        .filter(col("n_points") > 0)
    }),
    "q134_heading_hist" -> ((s, dir) => {
      // per-user movement-direction histogram in 8 octants — computed
      // WITHOUT atan2 (transcendentals are libm-dependent and could
      // never hash-match): octant = sign tests on (dx, dy) plus
      // |dx| vs |dy| comparisons, all exact. One user_id shuffle (the
      // lag window), then a map-side-combined count.
      val adx = abs(col("dx"))
      val ady = abs(col("dy"))
      val octant =
        when(col("dx") === 0.0 && col("dy") === 0.0, -1)
          .when(adx >= ady && col("dx") > 0, when(col("dy") >= 0, 0).otherwise(7))
          .when(adx >= ady, when(col("dy") >= 0, 3).otherwise(4))
          .when(col("dy") > 0, when(col("dx") >= 0, 1).otherwise(2))
          .otherwise(when(col("dx") >= 0, 6).otherwise(5))
      SynthUniverse.tracks(s, dir)
        .withColumn("dx", col("lon") - lag(col("lon"), 1).over(trackOrder))
        .withColumn("dy", col("lat") - lag(col("lat"), 1).over(trackOrder))
        .filter(col("dx").isNotNull)
        .groupBy(col("user_id"), octant.as("octant"))
        .agg(count(lit(1)).as("n_steps"))
    }),
    "q131_tile_pyramid" -> ((s, dir) => {
      // multi-resolution tile pyramid (the slippy-map/z-level rollup):
      // each point explodes to its cell at levels 5..2 (4 narrow rows,
      // no per-level rescan) and ONE map-side-combined shuffle on
      // (level, tile) builds every level of the pyramid at once. At
      // 100 TB this beats level-by-level re-aggregation: the partial
      // aggregates collapse most of the fan-out before the exchange.
      val levels = PyramidLevels
      SynthUniverse.points(s, dir)
        .select(explode(array(levels.map(l => struct(
          lit(l).as("level"),
          GeoFunctions.cellAt(col("lon"), col("lat"), l).as("tile"))): _*)).as("lt"))
        .select(col("lt.level").as("level"), col("lt.tile").as("tile"))
        .groupBy(col("level"), col("tile"))
        .agg(count(lit(1)).as("n_points"))
    }),
    "q275_raster_peaks" -> ((s, dir) => {
      // non-maximum suppression on the point-density raster — local
      // peak detection (the step after q125's smoothing in any
      // hotspot/landmark extraction): a cell is a peak iff its count
      // STRICTLY exceeds every existing 8-neighbor (absent neighbors
      // count 0, so an isolated occupied cell is a peak — the
      // detection convention). Join-free neighbor-max by SCATTER
      // (q125's shape with self excluded), one map-side-combined max
      // per target, one equi-join back on the bounded occupied-cell
      // table. Never a raster self-join.
      val n = graft.geo.CellIndex.width(ContourRes)
      val base = occupancy(SynthUniverse.points(s, dir), ContourRes)
      val nb = base
        .select(col("ix"), col("iy"), col("cnt"),
          explode(sequence(lit(-1), lit(1))).as("dx"))
        .select(col("ix"), col("iy"), col("cnt"), col("dx"),
          explode(sequence(lit(-1), lit(1))).as("dy"))
        .filter(!(col("dx") === 0 && col("dy") === 0))
        .select((col("ix") + col("dx")).as("tx"),
          (col("iy") + col("dy")).as("ty"), col("cnt"))
        .filter(col("tx") >= 0 && col("tx") < n && col("ty") >= 0 && col("ty") < n)
        .groupBy(col("tx"), col("ty")).agg(max(col("cnt")).as("nb_max"))
      base.join(nb, col("ix") === col("tx") && col("iy") === col("ty"), "left")
        .select(col("ix"), col("iy"), col("cnt"),
          when(col("cnt") > coalesce(col("nb_max"), lit(0L)), 1L)
            .otherwise(0L).as("is_peak"))
    }),
    "q287_entity_conflation" -> ((s, dir) => {
      // gazetteer conflation — the fuzzy entity-resolution JOIN that
      // turns extracted geo-entity mentions into canonical facility
      // ids by combining lexical and spatial evidence (the step
      // between q29's extraction and any downstream spatial join).
      // Candidates block on a 4-char token prefix (token-blocking is
      // the standard ER candidate generator; the prefix also admits
      // morphological variants like "merges"), then the winner per
      // mention is the lexicographic (exact-token match DESC,
      // distance² ASC, fac_id) minimum — exact name evidence
      // dominates, geometry breaks ties, never a mention × gazetteer
      // cross join. Distances are rounded to integer milli-degrees
      // BEFORE squaring so the comparison is exact cross-engine. The
      // facility side here is a bounded broadcast; at a real
      // gazetteer's scale the same plan stays an equi-join on the
      // block key with the big side hash-shuffled.
      conflate(s, SynthUniverse.points(s, dir))
    }),
    "q290_comention_jaccard" -> ((s, dir) => {
      // entity association by exact SET Jaccard over the mention key —
      // the gazetteer-disambiguation prior ("merge" and "stream" are
      // talked about together; "table" is not). The set key here is
      // the document (non-vacuous on this universe: docs mention
      // several gazetteer entities; the geographic-cell variant of the
      // same shape is provably vacuous on md5-spread synthetic bases —
      // the key is a parameter, the plan is identical). Candidates
      // come ONLY from the shared-key equi-join, fan-out per key
      // bounded by the entity vocabulary (the standard co-location
      // guard — never entity × entity over the corpus); set sizes
      // fold map-side; jac in exact floor ppm via
      // |A∪B| = |A| + |B| − |A∩B|.
      val ec = SynthUniverse.points(s, dir)
        .select(col("entity"), col("doc_id")).distinct()
      val sizes = ec.groupBy(col("entity")).agg(count(lit(1)).as("n_docs"))
      val inter = ec.as("x").join(ec.as("y"),
          col("x.doc_id") === col("y.doc_id") &&
            col("x.entity") < col("y.entity"))
        .groupBy(col("x.entity").as("ent_a"), col("y.entity").as("ent_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.select(col("entity").as("ent_a"), col("n_docs").as("na")),
          Seq("ent_a"))
        .join(sizes.select(col("entity").as("ent_b"), col("n_docs").as("nb")),
          Seq("ent_b"))
        .select(col("ent_a"), col("ent_b"), col("na"), col("nb"),
          col("n_inter"),
          expr("(1000000 * n_inter) div (na + nb - n_inter)").as("jac_ppm"))
    }),
    "q289_incremental_conflation" -> ((s, dir) => {
      // IVM #21, the ENTITY-RESOLUTION axis: q287's conflation is
      // per-mention local (the gazetteer is the stable side), so the
      // maintenance mirrors q281's — touched documents re-extract and
      // re-conflate their mentions, untouched assignments pass
      // through one anti-join. The standard text batch (id%7=3
      // appends ' merge stream merge' — which ADDS mentions — and
      // id%13=5 deletes) exercises insert, update, and delete of
      // whole mention families. Full-recompute oracle.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val base = conflate(s, SynthUniverse.points(s, dir))
      val DocChanges(_, _, updatedLive, touched) = docChanges(docs)
      base.join(touched, Seq("doc_id"), "left_anti")
        .unionByName(conflate(s, SynthUniverse.pointsOf(updatedLive)))
    }),
    "q288_gradient_aspect" -> ((s, dir) => {
      // central-difference gradient + downslope aspect on the density
      // raster — the first derivative every terrain/density styling
      // pipeline computes (hillshade, slope maps) before q203's
      // routing. gx = z(E) − z(W), gy = z(N) − z(S), absent neighbors
      // 0 — all exact integers, so the aspect octant CASE is
      // engine-identical. JOIN-FREE scatter (each occupied cell mails
      // ±z to the four targets that see it as a neighbor — q125's
      // pattern), one map-side-combined sum, one equi-join back onto
      // occupied cells; the oracle computes the same derivative by
      // four explicit neighbor LEFT JOINs.
      val cells = densityCells(s, dir)
      val contrib = Seq(
        (-1, 0, 1, 0), (1, 0, -1, 0), // targets west/east of src: ±gx
        (0, -1, 0, 1), (0, 1, 0, -1)) // targets south/north: ±gy
      val scat = cells.select(explode(array(contrib.map {
          case (dx, dy, wx, wy) => struct(
            (col("cx") + dx).as("tx"), (col("cy") + dy).as("ty"),
            (col("z") * wx).as("gxc"), (col("z") * wy).as("gyc"))
        }: _*)).as("t"))
        .select(col("t.tx").as("cx"), col("t.ty").as("cy"),
          col("t.gxc").as("gxc"), col("t.gyc").as("gyc"))
        .groupBy(col("cx"), col("cy"))
        .agg(sum(col("gxc")).as("gx"), sum(col("gyc")).as("gy"))
      cells.join(scat, Seq("cx", "cy"), "left")
        .select(col("cx"), col("cy"), col("z"),
          coalesce(col("gx"), lit(0L)).as("gx"),
          coalesce(col("gy"), lit(0L)).as("gy"))
        .withColumn("aspect",
          when(col("gx") === 0 && col("gy") === 0, lit("flat"))
            .when(abs(col("gx")) > abs(col("gy")),
              when(col("gx") > 0, lit("w")).otherwise(lit("e")))
            .when(abs(col("gy")) > abs(col("gx")),
              when(col("gy") > 0, lit("s")).otherwise(lit("n")))
            .otherwise( // |gx| == |gy| != 0: true diagonal
              when(col("gx") > 0, when(col("gy") > 0, lit("sw"))
                .otherwise(lit("nw")))
                .otherwise(when(col("gy") > 0, lit("se"))
                  .otherwise(lit("ne")))))
    }),
    "q286_watershed" -> ((s, dir) => {
      // watershed (basin) labeling by POINTER DOUBLING over the D8
      // descent pointer: every cell's label is the cell its drainage
      // reaches after 2^D = 8 descent steps (sinks self-absorb, so a
      // converged path carries its true basin sink and `settled`
      // marks the fixpoint). Doubling is the log-round primitive the
      // engine's K-linear-round loops (q203's routing, q161's BFS)
      // cannot match at continental raster diameters: D rounds of ONE
      // self-equi-join each cover 2^D hops — the classic parallel
      // pointer-jumping trade (more total work per round, O(log d)
      // rounds). Each round localCheckpoints: the round references
      // its predecessor TWICE, and without the checkpoint the lazy
      // plan re-evaluates ancestry exponentially (the q253 lesson).
      val cells = densityCells(s, dir)
      val flow = d8Flow(cells)
      var p = cells.join(flow, Seq("cx", "cy"), "left")
        .select(col("cx"), col("cy"),
          coalesce(col("nx"), col("cx")).as("px"),
          coalesce(col("ny"), col("cy")).as("py"))
        .localCheckpoint()
      for (_ <- 1 to 3) {
        val q = p.select(col("cx").as("jx"), col("cy").as("jy"),
          col("px").as("qx"), col("py").as("qy"))
        p = p.join(q, col("px") === col("jx") && col("py") === col("jy"))
          .select(col("cx"), col("cy"),
            col("qx").as("px"), col("qy").as("py"))
          .localCheckpoint()
      }
      val sink = p.select(col("cx").as("lx"), col("cy").as("ly"),
        col("px").as("sx"), col("py").as("sy"))
      p.join(sink, col("px") === col("lx") && col("py") === col("ly"))
        .select(col("cx"), col("cy"),
          col("px").as("bx"), col("py").as("by"),
          when(col("sx") === col("px") && col("sy") === col("py"), 1L)
            .otherwise(0L).as("settled"))
    }),
    "q285_tile_lang_diversity" -> ((s, dir) => {
      // geo-linguistic diversity map — per-cell Simpson concentration
      // of the LANGUAGES mentioning each place (q214's statistic made
      // spatial): conc = Σ n_l(n_l−1) / n(n−1) in exact floor ppm,
      // 1e6 = monolingual cell, low = a place the whole multilingual
      // web talks about. Join carries only (doc_id → lang) — a
      // broadcast-sized dimension at any corpus scale is wrong to
      // assume, so it stays a hash join on doc_id; then two map-side-
      // combined aggregates ((cell, lang) → cell). Single-point cells
      // emit 1e6 by convention (a one-sample cell is trivially
      // concentrated).
      val pts = SynthUniverse.points(s, dir)
        .select(col("doc_id"),
          GeoFunctions.gridX(col("lon"), ContourRes).as("ix"),
          GeoFunctions.gridY(col("lat"), ContourRes).as("iy"))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          "doc_id")
      val perLang = pts.groupBy(col("ix"), col("iy"), col("lang"))
        .agg(count(lit(1)).as("nl"))
      perLang.groupBy(col("ix"), col("iy"))
        .agg(sum(col("nl")).as("n_points"),
          count(lit(1)).as("n_langs"),
          sum(col("nl") * (col("nl") - 1)).as("num"))
        .select(col("ix"), col("iy"), col("n_points"), col("n_langs"),
          when(col("n_points") < 2, lit(1000000L))
            .otherwise(expr(
              "(1000000 * num) div (n_points * (n_points - 1))"))
            .as("conc_ppm"))
    }),
    "q283_dwell_time" -> ((s, dir) => {
      // time-weighted cell occupancy (dwell time) — the raster every
      // mobility/engagement heatmap actually wants: a cell visited by
      // one user for an hour must outweigh a cell crossed by sixty
      // users in a minute flat, which the q32-style COUNT raster
      // cannot express. Each ping holds its cell until the user's
      // next ping (standard last-observation-carried-forward
      // attribution); the interval is exact integer MICROSECONDS
      // (unix_micros), so the per-cell sum is order-insensitive and
      // hash-stable. ONE user-keyed window (the lead) + ONE cell
      // shuffle; per-user track ordering carries the same full
      // (ts, event_id) tie-break as the trajectory family.
      SynthUniverse.tracks(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          // events.ts is TIMESTAMP_NTZ; the session pins UTC, so the
          // cast is a pure reinterpretation — micros stay exact
          unix_micros(col("ts").cast("timestamp")).as("t"),
          GeoFunctions.gridX(col("lon"), ContourRes).as("ix"),
          GeoFunctions.gridY(col("lat"), ContourRes).as("iy"))
        .withColumn("t2", lead(col("t"), 1).over(trackOrder))
        .groupBy(col("ix"), col("iy"))
        .agg(count(lit(1)).as("n_pings"),
          countDistinct(col("user_id")).as("n_users"),
          coalesce(sum(col("t2") - col("t")), lit(0L)).as("dwell_us"))
    }),
    "q280_distance_transform" -> ((s, dir) => {
      // bounded raster distance transform — Chebyshev distance (8-way
      // grid metric) to the nearest HOT cell, the proximity surface
      // behind "how far is every tile from a hotspot" styling and
      // coverage audits. Hot = 2·cnt·n_occupied ≥ 3·total, an exact
      // integer "above 1.5× mean density" test that is scale-free (no
      // tuned absolute threshold; the synthetic raster's occupied
      // cells are near-uniform — max ≈ 1.8× mean — so 2× would never
      // fire). The engine runs the general
      // multi-source BFS wavefront — K=3 rounds, each ONE 8-neighbor
      // scatter + distinct + anti-join vs settled cells (the loop
      // shape that generalizes to obstacle-aware propagation, cf.
      // q208's occlusion raster); rows bounded by |hot| · (2K+1)².
      // The oracle computes the closed-form Chebyshev minimum over
      // source windows — an independent formulation the BFS must
      // reproduce exactly on an obstacle-free grid.
      val n = graft.geo.CellIndex.width(ContourRes)
      val base = occupancy(SynthUniverse.points(s, dir), ContourRes)
      val stats = base.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("nc"))
      val src = base.crossJoin(broadcast(stats))
        .filter(lit(2L) * col("cnt") * col("nc") >= lit(3L) * col("total"))
        .select(col("ix"), col("iy"))
      var seen = src.select(col("ix"), col("iy"), lit(0L).as("dist"))
      var frontier = src
      for (h <- 1 to 3) {
        val next = frontier
          .select(col("ix"), col("iy"),
            explode(sequence(lit(-1), lit(1))).as("dx"))
          .select(col("ix"), col("iy"), col("dx"),
            explode(sequence(lit(-1), lit(1))).as("dy"))
          .filter(!(col("dx") === 0 && col("dy") === 0))
          .select((col("ix") + col("dx")).as("nx"),
            (col("iy") + col("dy")).as("ny"))
          .filter(col("nx") >= 0 && col("nx") < n &&
            col("ny") >= 0 && col("ny") < n)
          .select(col("nx").as("ix"), col("ny").as("iy")).distinct()
          .join(seen.select(col("ix"), col("iy")), Seq("ix", "iy"), "left_anti")
          .withColumn("dist", lit(h.toLong))
        seen = seen.unionByName(next)
        frontier = next.select(col("ix"), col("iy"))
      }
      seen
    }),
    "q125_focal_smooth" -> ((s, dir) => {
      // focal (3x3-neighborhood) smoothing of the point-density raster
      // — the moving-window aggregation every heatmap/KDE tile pipeline
      // runs. Each source tile SCATTERS its count to its <=9 neighbors
      // (a 9-row narrow explode, no self-join of the raster), then one
      // map-side-combined shuffle on the target tile; border tiles
      // keep partial windows (out-of-range neighbors skipped).
      val n = graft.geo.CellIndex.width(TileRes)
      val base = occupancy(SynthUniverse.points(s, dir), TileRes)
      base
        .select(col("ix"), col("iy"), col("cnt"),
          explode(sequence(lit(-1), lit(1))).as("dx"))
        .select(col("ix"), col("iy"), col("cnt"), col("dx"),
          explode(sequence(lit(-1), lit(1))).as("dy"))
        .select((col("ix") + col("dx")).as("tx"), (col("iy") + col("dy")).as("ty"),
          col("cnt"))
        .filter(col("tx") >= 0 && col("tx") < n && col("ty") >= 0 && col("ty") < n)
        .groupBy(col("tx"), col("ty"))
        .agg(sum(col("cnt")).as("n_focal"))
    }),
    "q126_stop_detect" -> ((s, dir) => {
      // trajectory STOP detection (stay-point mining): a stop is a
      // maximal run of consecutive points whose successive
      // displacement stays within R — lag + flag + running sum (the
      // sessionize recurrence, ONE shuffle on user_id), then one
      // aggregate per run; runs of a single point are movement, not
      // stops. Exact arithmetic: the d2 <= R² predicate and the
      // duration are mirrored expression-for-expression in the oracle.
      val r2 = StopR * StopR
      SynthUniverse.tracks(s, dir)
        .withColumn("dx", col("lon") - lag(col("lon"), 1).over(trackOrder))
        .withColumn("dy", col("lat") - lag(col("lat"), 1).over(trackOrder))
        .withColumn("new_run",
          when(col("dx").isNull ||
            col("dx") * col("dx") + col("dy") * col("dy") > r2, 1L).otherwise(0L))
        .withColumn("run_id", sum(col("new_run")).over(trackOrder))
        .groupBy(col("user_id"), col("run_id"))
        .agg(min(col("event_id")).as("first_event"),
          count(lit(1)).as("n_points"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .as("duration_s"))
        .filter(col("n_points") >= 2)
        .select(col("user_id"), col("first_event"), col("n_points"),
          col("duration_s"))
    }),
    "q122_od_matrix" -> ((s, dir) => {
      // origin-destination tile flows: each user's trajectory collapses
      // to (first tile, last tile) and the matrix counts users per OD
      // pair — ONE shuffle on user_id (both row_number windows share
      // the exchange), then a map-side-combined count on the tile pair.
      val wAsc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val wDesc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      val tile = GeoFunctions.cellAt(col("lon"), col("lat"), TileRes)
      SynthUniverse.tracks(s, dir)
        .withColumn("ra", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
        .filter(col("ra") === 1 || col("rd") === 1)
        .groupBy(col("user_id"))
        .agg(max(when(col("ra") === 1, tile)).as("otile"),
          max(when(col("rd") === 1, tile)).as("dtile"))
        .groupBy(col("otile"), col("dtile"))
        .agg(count(lit(1)).as("n_users"))
    }),
    "q123_geofence_transitions" -> ((s, dir) => {
      // geofence ENTER/EXIT detection: per user, consecutive trajectory
      // points form a step; a transition against fence F means
      // containment flips between the step's endpoints. Candidates come
      // from the fence cover equi-joined on the endpoints' (<= 2
      // distinct) cells — a flipping step always has its inside
      // endpoint's cell covered, so no transition can be missed — and
      // the boundary-inclusive codegen PIP refines both endpoints in
      // one pass. distinct() collapses the both-endpoint-cells-hit
      // duplicate (bounded at 2 rows per transition).
      val steps = SynthUniverse.tracks(s, dir)
        .withColumn("plon", lag(col("lon"), 1).over(trackOrder))
        .withColumn("plat", lag(col("lat"), 1).over(trackOrder))
        .filter(col("plon").isNotNull)
      val cand = steps.select(col("user_id"), col("event_id"),
        col("lon"), col("lat"), col("plon"), col("plat"),
        explode(array_distinct(array(
          GeoFunctions.cellAt(col("lon"), col("lat"), PipRes),
          GeoFunctions.cellAt(col("plon"), col("plat"), PipRes)))).as("cell"))
      val cover = polys(s, dir).select(col("way_id"), col("xs"), col("ys"),
        explode(org.apache.spark.sql.GraftSqlShim.column(
          graft.spatial.CoverCellsExpr(
            org.apache.spark.sql.GraftSqlShim.expression(col("xs")),
            org.apache.spark.sql.GraftSqlShim.expression(col("ys")), PipRes)))
          .as("cell"))
      import graft.spatial.PointInRingExpr.pipContains
      cand.join(cover, "cell")
        .withColumn("ins_prev", pipContains(col("xs"), col("ys"), col("plon"), col("plat")))
        .withColumn("ins_curr", pipContains(col("xs"), col("ys"), col("lon"), col("lat")))
        .filter(col("ins_prev") =!= col("ins_curr"))
        .select(col("user_id"), col("event_id"), col("way_id"),
          when(col("ins_curr"), "enter").otherwise("exit").as("direction"))
        .distinct()
    }),
    "q144_pip_anti" -> ((s, dir) => {
      // spatial ANTI-join: geo-entities contained in NO polygon (the
      // "unmapped mentions" view a coverage dashboard needs). Matched
      // keys come from the same cell-prefiltered PIP join as q30 — the
      // anti face is one additional left_anti equi-join on the point
      // key, never a per-polygon scan of the misses.
      val pts = SynthUniverse.points(s, dir)
      val matched = SpatialJoin
        .pipJoin(pts, polys(s, dir), PipRes, ringDict = "broadcast")
        .select(col("doc_id"), col("entity"))
      pts.join(matched, Seq("doc_id", "entity"), "left_anti")
        .select(col("doc_id"), col("entity"),
          round(col("lon") * 1e7, 0).cast("long").as("lon_e7"),
          round(col("lat") * 1e7, 0).cast("long").as("lat_e7"))
    }),
    "q141_grid_cluster" -> ((s, dir) => {
      // grid-density clustering (DBSCAN-lite for web-scale point sets):
      // fixed-width cells holding >= minPts points are CORE; 8-adjacent
      // core cells merge into clusters via the alternating-star CC
      // (O(log n) rounds). The adjacency join is an equi-join on
      // shifted integer coordinates — never a distance self-join over
      // raw points, so the point stream is touched exactly once (the
      // counting aggregate). Cluster label = min cell key, matching the
      // oracle's transitive-closure MIN.
      val w = 2.0; val minPts = 40
      val core = SynthUniverse.points(s, dir)
        .select(floor(col("lon") / w).cast("long").as("cx"),
          floor(col("lat") / w).cast("long").as("cy"))
        .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n_points"))
        .filter(col("n_points") >= minPts)
        .withColumn("k", (col("cx") + 1000) * 100000 + col("cy") + 1000)
        .localCheckpoint() // feeds the explode, the probe, and the labeling
      val offsets = for { dx <- Seq(-1L, 0L, 1L); dy <- Seq(-1L, 0L, 1L) } yield (dx, dy)
      val nbr = core.select(col("k").as("u"),
          explode(array(offsets.map { case (dx, dy) =>
            struct((col("cx") + dx).as("nx"), (col("cy") + dy).as("ny"))
          }: _*)).as("o"))
        .select(col("u"), col("o.nx").as("cx"), col("o.ny").as("cy"))
      val pairs = nbr
        .join(core.select(col("cx"), col("cy"), col("k").as("v")), Seq("cx", "cy"))
        .select(col("u"), col("v"))
      val (labels, _) = graft.operators.ConnectedComponents.alternatingStar(pairs)
      core.join(labels.withColumnRenamed("doc_id", "k"), Seq("k"), "left")
        .select(col("cx"), col("cy"), col("n_points"),
          coalesce(col("cluster_id"), col("k")).as("cluster_id"))
    }),
    "q117_distance_within" -> ((s, dir) => {
      // within-distance spatial join (every polygon centroid within R
      // of each geo-entity point — the "POIs near this mention" view):
      // the centroid layer covers its R-disc BBOX cells once; each
      // point probes its OWN single cell, so the cell equi-join is
      // duplicate-free by construction (no distinct, no
      // responsible-corner dance) and the exact d2 refine is pure
      // codegen arithmetic. At 100 TB both sides shuffle on cell and
      // candidates/point are bounded by layer density × (R + cell)² —
      // never all-pairs.
      val r = DistR
      val cover = centroids(s, dir).select(col("way_id"), col("cx"), col("cy"),
        explode(org.apache.spark.sql.GraftSqlShim.column(
          graft.spatial.CoverCellsExpr(
            org.apache.spark.sql.GraftSqlShim.expression(array(
              col("cx") - r, col("cx") + r, col("cx") + r, col("cx") - r)),
            org.apache.spark.sql.GraftSqlShim.expression(array(
              col("cy") - r, col("cy") - r, col("cy") + r, col("cy") + r)),
            PipRes))).as("cell"))
      val d2 = (col("lon") - col("cx")) * (col("lon") - col("cx")) +
        (col("lat") - col("cy")) * (col("lat") - col("cy"))
      SynthUniverse.points(s, dir)
        .withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), PipRes))
        .join(cover, "cell")
        .filter(d2 <= lit(r * r))
        .select(col("doc_id"), col("entity"), col("way_id"),
          round(d2 * 1e9, 0).cast("long").as("d2_e9"))
    }),
    "q118_map_match" -> ((s, dir) => {
      // map-matching: each geo-entity point snaps to its NEAREST
      // trajectory segment within gating radius R (points with no
      // segment in range stay unmatched and drop). Candidates come
      // from the segments' R-expanded-bbox cell cover joined to the
      // point's single cell (a superset of the R-disc by the triangle
      // inequality), the exact point-to-segment d2 refine is clamped
      // projection arithmetic (identical expression trees in both
      // engines), and the argmin window partitions BY POINT — never a
      // global sort, never all-pairs.
      val r = MatchR
      // road-segment layer: coprime scatter strides (7919/6101) fill
      // the whole plane — unlike q113's trajectory steps, whose line
      // family never comes near the gazetteer clusters
      val segs = Tables.events(s, dir).select(
          col("event_id").as("seg_id"),
          ((col("event_id") * 7919 % 320000).cast("double") / 1000.0 - 160.0).as("px"),
          ((col("event_id") * 6101 % 150000).cast("double") / 1000.0 - 75.0).as("py"),
          ((col("event_id") * 31 % 200).cast("double") / 100.0 - 1.0).as("dx"),
          ((col("event_id") * 37 % 200).cast("double") / 100.0 - 1.0).as("dy"))
        .select(col("seg_id"), col("px"), col("py"),
          (col("px") + col("dx")).as("qx"), (col("py") + col("dy")).as("qy"))
      val cover = segs.select(col("seg_id"), col("px"), col("py"), col("qx"), col("qy"),
        explode(org.apache.spark.sql.GraftSqlShim.column(
          graft.spatial.CoverCellsExpr(
            org.apache.spark.sql.GraftSqlShim.expression(array(
              least(col("px"), col("qx")) - r, greatest(col("px"), col("qx")) + r,
              greatest(col("px"), col("qx")) + r, least(col("px"), col("qx")) - r)),
            org.apache.spark.sql.GraftSqlShim.expression(array(
              least(col("py"), col("qy")) - r, least(col("py"), col("qy")) - r,
              greatest(col("py"), col("qy")) + r, greatest(col("py"), col("qy")) + r)),
            PipRes))).as("cell"))
      val abx = col("qx") - col("px")
      val aby = col("qy") - col("py")
      val dot = (col("lon") - col("px")) * abx + (col("lat") - col("py")) * aby
      val len2 = abx * abx + aby * aby
      val t = when(len2 === 0.0, lit(0.0))
        .otherwise(least(greatest(dot / len2, lit(0.0)), lit(1.0)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("entity"))
        .orderBy(col("d2").asc, col("seg_id").asc)
      SynthUniverse.points(s, dir)
        .withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), PipRes))
        .join(cover, "cell")
        .withColumn("d2",
          (col("lon") - (col("px") + t * abx)) * (col("lon") - (col("px") + t * abx)) +
          (col("lat") - (col("py") + t * aby)) * (col("lat") - (col("py") + t * aby)))
        .filter(col("d2") <= lit(r * r))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select(col("doc_id"), col("entity"), col("seg_id"),
          round(col("d2") * 1e9, 0).cast("long").as("d2_e9"))
    }),
    "q149_segment_intersect" -> ((s, dir) => {
      // segment × segment INTERSECTION join (which trajectory steps
      // cross which road diagonals): cell-prefiltered bbox overlap via
      // the responsible-cell dedup (no distinct), then the EXACT
      // boundary-inclusive predicate — each segment's endpoints must
      // not lie strictly on one side of the other's line (two straddle
      // tests), with the bbox-overlap guard settling the collinear /
      // degenerate cases (collinear segments meet iff their boxes do;
      // a zero-length step meets the diagonal iff it sits on it).
      // Pure sign arithmetic mirrored expression-for-expression in the
      // oracle; the trajectory endpoints re-derive from seg_id's
      // closed form so only (id, 4 bbox scalars) ride the cell join,
      // and the diagonal's endpoints ARE its bbox corners (w,h > 0).
      // r6: endpoints carried through the cell join (same values, once
      // per row instead of many times per candidate — see q113 note)
      val segs = Tables.events(s, dir).select(
          col("event_id").as("id"),
          SynthUniverse.eventLon.as("px"),
          SynthUniverse.eventLat.as("py"),
          ((col("event_id") * 31 % 200).cast("double") / 100.0 - 1.0).as("dx"),
          ((col("event_id") * 37 % 200).cast("double") / 100.0 - 1.0).as("dy"))
        .select(col("id"), col("px"), col("py"),
          (col("px") + col("dx")).as("qx"), (col("py") + col("dy")).as("qy"),
          least(col("px"), col("px") + col("dx")).as("minx"),
          least(col("py"), col("py") + col("dy")).as("miny"),
          greatest(col("px"), col("px") + col("dx")).as("maxx"),
          greatest(col("py"), col("py") + col("dy")).as("maxy"))
      val diags = SynthUniverse.ways(s, dir).select(col("way_id").as("id"),
        col("x0").as("minx"), col("y0").as("miny"),
        (col("x0") + col("w")).as("maxx"), (col("y0") + col("h")).as("maxy"))
      val px = col("px"); val py = col("py")
      val qx = col("qx"); val qy = col("qy")
      val d1 = (qx - px) * (col("rminy") - py) - (qy - py) * (col("rminx") - px)
      val d2 = (qx - px) * (col("rmaxy") - py) - (qy - py) * (col("rmaxx") - px)
      val abx = col("rmaxx") - col("rminx")
      val aby = col("rmaxy") - col("rminy")
      val d3 = abx * (py - col("rminy")) - aby * (px - col("rminx"))
      val d4 = abx * (qy - col("rminy")) - aby * (qx - col("rminx"))
      SpatialJoin.bboxOverlapJoin(segs, diags, PipRes, idCol = "id",
          leftId = "seg_id", rightId = "way_id",
          leftCarry = Seq("px", "py", "qx", "qy"))
        .filter(least(d1, d2) <= 0 && greatest(d1, d2) >= 0 &&
          least(d3, d4) <= 0 && greatest(d3, d4) >= 0)
        .select(col("seg_id"), col("way_id"))
    }),
    "q153_rasterize_coverage" -> ((s, dir) => {
      // vector → raster materialization with EXACT per-cell coverage
      // fractions: each polygon scatters to its covering raster cells
      // through the closed-form index range (a narrow sequence-explode
      // bounded to <= 12 cells/poly at RasterRes — no JTS, no join),
      // and the covered share is exact double arithmetic: cell bounds
      // at res 7 are exact binary doubles (360/2^7 = 2.8125), so both
      // engines compute identical bits and the ppm rounding is safe.
      // At 100 TB this is one narrow codegen pass over the layer.
      val n = graft.geo.CellIndex.width(RasterRes).toDouble
      val rects = SynthUniverse.ways(s, dir)
        .withColumn("ix", explode(sequence(
          floor((col("x0") + 180.0) / 360.0 * n).cast("long"),
          floor((col("x0") + col("w") + 180.0) / 360.0 * n).cast("long"))))
        .withColumn("iy", explode(sequence(
          floor((col("y0") + 90.0) / 180.0 * n).cast("long"),
          floor((col("y0") + col("h") + 90.0) / 180.0 * n).cast("long"))))
      val lon0 = col("ix") / n * 360.0 - 180.0
      val lat0 = col("iy") / n * 180.0 - 90.0
      val ow = least(col("x0") + col("w"), lon0 + 360.0 / n) - greatest(col("x0"), lon0)
      val oh = least(col("y0") + col("h"), lat0 + 180.0 / n) - greatest(col("y0"), lat0)
      rects
        .withColumn("cell", lit(RasterRes.toLong << graft.geo.CellIndex.ResShift)
          .bitwiseOR(shiftleft(col("ix"), graft.geo.CellIndex.XShift))
          .bitwiseOR(col("iy")))
        .filter(ow > 0.0 && oh > 0.0)
        .select(col("way_id"), col("cell"),
          round(ow * oh / (360.0 / n) / (180.0 / n) * 1000000.0, 0)
            .cast("long").as("coverage_ppm"))
    }),
    "q157_compact_cover" -> ((s, dir) => {
      // hierarchical cell-set COMPACTION (the H3 `compact` op): each
      // polygon's res-9 cover collapses any complete 2x2 sibling quad
      // into its parent, recursively — the canonical way to ship a
      // multi-resolution coverage index at a fraction of the cells.
      // Each round is one map-side-combined count on the parent key +
      // one anti-join on the SHRINKING promoted set (rounds bounded by
      // the resolution ladder, 9→6 here; a res-5 parent needs a
      // complete aligned 16x16 base block, > 10.5° of lon span —
      // geometrically impossible for <= 4.5° rectangles, so res 6 is
      // the true floor, not a truncation).
      import graft.geo.CellIndex.{ResShift, XShift}
      val n9 = graft.geo.CellIndex.width(CompactBase).toDouble
      def packed(r: Int): Column = lit(r.toLong << ResShift)
        .bitwiseOR(shiftleft(col("ix"), XShift)).bitwiseOR(col("iy"))
      var cur = SynthUniverse.ways(s, dir)
        .withColumn("ix", explode(sequence(
          floor((col("x0") + 180.0) / 360.0 * n9).cast("long"),
          floor((col("x0") + col("w") + 180.0) / 360.0 * n9).cast("long"))))
        .withColumn("iy", explode(sequence(
          floor((col("y0") + 90.0) / 180.0 * n9).cast("long"),
          floor((col("y0") + col("h") + 90.0) / 180.0 * n9).cast("long"))))
        .select(col("way_id"), col("ix"), col("iy"))
        // r6: every round reads cur twice (parent count + keep) and
        // the final union re-evaluates every round's keep — cache each
        // level so the res-9 cover explode runs once, not ~8 times
        // (guide §1.2); levels shrink 4x per round, so the cached
        // total is < 2x the base cover
        .cache()
      var out: DataFrame = null
      for (r <- CompactBase until 6 by -1) {
        val parents = cur
          .groupBy(col("way_id"), shiftright(col("ix"), 1).as("px"),
            shiftright(col("iy"), 1).as("py"))
          .agg(count(lit(1)).as("nc"))
        val full = parents.filter(col("nc") === 4)
          .select(col("way_id"), col("px"), col("py"))
        val keep = cur
          .withColumn("px", shiftright(col("ix"), 1))
          .withColumn("py", shiftright(col("iy"), 1))
          .join(full, Seq("way_id", "px", "py"), "left_anti")
          .select(col("way_id"), packed(r).as("cell"))
        out = if (out == null) keep else out.unionByName(keep)
        cur = full.select(col("way_id"), col("px").as("ix"), col("py").as("iy"))
          .cache()
      }
      out.unionByName(cur.select(col("way_id"), packed(6).as("cell")))
        .select(col("way_id"), col("cell"),
          shiftright(col("cell"), ResShift).cast("int").as("res"))
    }),
    "q158_cotraveler_pairs" -> ((s, dir) => {
      // co-traveler detection: user pairs whose trajectories co-visit
      // >= 20 distinct tiles. The pairing is an inverted tile index
      // self-join (each shared tile emits the pair once — distinct
      // (user, tile) first), the count aggregates map-side, and the
      // Jaccard enrichments join the per-user footprint sizes back on
      // the surviving pairs only. Per-tile pairing is quadratic in
      // tile occupancy — the production key is (tile, time-bucket)
      // and a hot-tile cutoff (q115's stopword note), which this
      // plan's shape absorbs unchanged.
      val t = Tables.events(s, dir).select(col("user_id"),
          SynthUniverse.eventLon.as("lon"),
          SynthUniverse.eventLat.as("lat"))
        .select(col("user_id"),
          GeoFunctions.cellAt(col("lon"), col("lat"), TileRes).as("tile"))
        .distinct()
        // r6: the distinct footprint feeds both self-join sides and the
        // per-user sizes — cache so the events scan + distinct runs once
        .cache()
      val sizes = t.groupBy(col("user_id")).agg(count(lit(1)).as("nt"))
      val pairs = t.as("a").join(t.as("b"),
          col("a.tile") === col("b.tile") && col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 20)
      pairs
        .join(sizes.select(col("user_id").as("user_a"), col("nt").as("na")), "user_a")
        .join(sizes.select(col("user_id").as("user_b"), col("nt").as("nb")), "user_b")
        .select(col("user_a"), col("user_b"), col("n_shared"),
          expr("n_shared * 10000 div (na + nb - n_shared)").as("jaccard_bp"))
    }),
    "q269_spacetime_contact" -> ((s, dir) => {
      // contact-tracing pair detection — the SPATIOTEMPORAL tightening
      // of q158 (co-travelers share tiles EVER; contacts share a tile
      // IN THE SAME HOUR). Positions are venue-style meeting points
      // (community user_id%10 × rotating hour slot) so co-presence
      // genuinely occurs on the synthetic stream — the spacing (6°/1°
      // steps at res 9, cell ≈ 0.7°) keeps distinct venues in distinct
      // cells. Plan: distinct (user, tile, slot) first (repeat pings in
      // one venue-hour count once), inverted (tile, slot)-keyed
      // self-join emits each pair once per shared venue-hour,
      // map-side-combined pair count, ≥3 support floor. The hour RIDES
      // IN the equi-key next to the tile — a hot venue is sharded
      // across its hours, which is exactly the (tile, time-bucket)
      // production key q158's scaladoc prescribes for skew.
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("unix_timestamp(ts) div 3600").as("slot"))
        .select(col("user_id"), col("slot"),
          (lit(-150.0) + (col("user_id") % 10) * 6.0 +
            (col("slot") % 5) * 1.0).as("lon"),
          (lit(10.0) + (col("user_id") % 10) * 1.5).as("lat"))
      val t = ev.select(col("user_id"), col("slot"),
          GeoFunctions.cellAt(col("lon"), col("lat"), 9).as("tile"))
        .distinct()
      t.as("a").join(t.as("b"),
          col("a.tile") === col("b.tile") && col("a.slot") === col("b.slot") &&
            col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"))
        .agg(count(lit(1)).as("n_contacts"))
        .filter(col("n_contacts") >= 3)
    }),
    "q159_spatial_balance" -> ((s, dir) => {
      // partitioner-quality audit of the point raster: occupancy skew
      // as exact integers — max/mean ratio and the Gini coefficient
      // over per-cell counts. The per-cell aggregate is the only
      // corpus shuffle; the Gini rank needs a total order over the
      // BOUNDED occupied-cell table (<= 4^res rows, ~340 here), done
      // as one sorted-array aggregate + posexplode — no window
      // anywhere (the engine keeps its no-unpartitioned-window
      // invariant). This measurement is what feeds the salting
      // decision (q30b's histogram pre-pass).
      occupancy(SynthUniverse.points(s, dir), ContourRes)
        .agg(sort_array(collect_list(struct(col("cnt"), col("ix"), col("iy"))))
          .as("cells"))
        .select(posexplode(col("cells")))
        .select((col("pos") + 1).as("i"), col("col.cnt").as("cnt"))
        .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("total_points"),
          max(col("cnt")).as("max_cnt"), sum(col("i") * col("cnt")).as("s2"))
        .select(col("n_cells"), col("total_points"), col("max_cnt"),
          expr("max_cnt * n_cells * 10000 div total_points").as("max_mean_bp"),
          expr("20000 * s2 div (n_cells * total_points)" +
            " - 10000 * (n_cells + 1) div n_cells").as("gini_bp"))
    }),
    "q160_union_area" -> ((s, dir) => {
      // exact DISSOLVED (union) area of overlapping rectangles per
      // layer — inclusion-exclusion-free: the synth ways are
      // 0.1°-quantized (x0/y0 integral, w/h in 0.2° steps), so the
      // closed-form INTEGER deci-degree geometry decomposes each rect
      // into unit x-strips exactly (general inputs would coordinate-
      // compress to the distinct-edge strips — same downstream plan).
      // Per (layer, strip) the y-interval union is the classic
      // running-max merge: two windows PARTITIONED by (layer, strip)
      // (thousands of keys, sharing one exchange), then island
      // extents aggregate map-side. Never a global window, never a
      // pair join — the quadratic inclusion-exclusion shape is what
      // this operator exists to avoid.
      val r = Tables.orders(s, dir).select(
        (col("o_orderkey") % 8).as("grp"),
        ((col("o_orderkey") * 13 % 320) * 10 - 1600).as("x010"),
        ((col("o_orderkey") * 29 % 150) * 10 - 750).as("y0i"),
        (lit(15) + (col("o_orderkey") % 16) * 2).as("w10"),
        (lit(15) + (col("o_orderkey") * 3 % 16) * 2).as("h10"))
      val merged = unionAreaByStrips(r)
      r.groupBy(col("grp")).agg(count(lit(1)).as("n_rects"),
          sum(col("w10") * col("h10")).as("sum_e2"))
        .join(merged, "grp")
        .select(col("grp"), col("n_rects"), col("area_e2"), col("sum_e2"),
          expr("10000 * area_e2 div sum_e2").as("dissolve_bp"))
    }),
    "q244_buffered_union_area" -> ((s, dir) => {
      // buffer-then-dissolve — the axis-aligned Minkowski inflation a
      // coverage/service-area pipeline runs before a union, kept
      // EXACT: every rect grows B=3 deci-degrees on each side, so the
      // integer strip decomposition stays unit-exact and q160's
      // factored machinery applies unchanged to the inflated layer
      // (a true round buffer needs arc geometry; the axis-aligned
      // square buffer is the standard grid-exact stand-in). Output
      // compares dissolved area before vs after buffering per layer —
      // growth lands strictly below the naive per-rect inflation
      // wherever buffering bridges gaps < 2B (that bridging is the
      // operator's purpose). Same two-window one-exchange plan as
      // q160, run once per layer variant.
      val B = 3
      val r = Tables.orders(s, dir).select(
        (col("o_orderkey") % 8).as("grp"),
        ((col("o_orderkey") * 13 % 320) * 10 - 1600).as("x010"),
        ((col("o_orderkey") * 29 % 150) * 10 - 750).as("y0i"),
        (lit(15) + (col("o_orderkey") % 16) * 2).as("w10"),
        (lit(15) + (col("o_orderkey") * 3 % 16) * 2).as("h10"))
      val buffered = r.select(col("grp"),
        (col("x010") - B).as("x010"), (col("y0i") - B).as("y0i"),
        (col("w10") + 2 * B).as("w10"), (col("h10") + 2 * B).as("h10"))
      unionAreaByStrips(r).withColumnRenamed("area_e2", "raw_e2")
        .join(unionAreaByStrips(buffered).withColumnRenamed("area_e2", "buf_e2"),
          Seq("grp"))
        .select(col("grp"), col("raw_e2"), col("buf_e2"),
          expr("10000 * buf_e2 div raw_e2").as("growth_bp"))
    }),
    "q237_incremental_union_area" -> ((s, dir) => {
      // IVM of the DISSOLVED-area view (q160) under a rectangle change
      // batch — the dissolve/union axis of the IVM family (q60 join,
      // q80 aggregate, q95 index, q101/q110 pair sets, q124 clusters,
      // q136 pyramid, q164 rank, q171 counters, q198 tiling, q202
      // postings): a strip's merged length depends ONLY on the
      // intervals crossing it, so the batch invalidates exactly the
      // strips under the old OR new extent of changed rects. Those
      // strips re-merge from the stored interval table (clustered by
      // (grp, sx): survivors = one semi-join on the touched-strip set
      // + one anti-join on changed rect keys) plus the new versions'
      // intervals — O(touched strips), never a corpus re-sweep; every
      // untouched stored strip passes through one anti-join
      // byte-identical. Standard batch convention (q101/q171): %7==3
      // widens by 0.4°, %13==5 deletes, delete wins. The oracle
      // re-merges every strip from the post-change rect set.
      val base = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        (col("o_orderkey") % 8).as("grp"),
        ((col("o_orderkey") * 13 % 320) * 10 - 1600).as("x010"),
        ((col("o_orderkey") * 29 % 150) * 10 - 750).as("y0i"),
        (lit(15) + (col("o_orderkey") % 16) * 2).as("w10"),
        (lit(15) + (col("o_orderkey") * 3 % 16) * 2).as("h10"))
      val updatedNew = base.filter(col("k") % 7 === 3 && col("k") % 13 =!= 5)
        .withColumn("w10", col("w10") + 4)
      // stored state stand-ins (at scale: the maintained tables)
      val ivalsK = base
        .withColumn("sx", explode(sequence(col("x010"), col("x010") + col("w10") - 1)))
        .select(col("k"), col("grp"), col("sx"), col("y0i"),
          (col("y0i") + col("h10")).as("y1i"))
      val stored = mergeStripIvals(ivalsK)
      val changed = base.filter(col("k") % 13 === 5 || col("k") % 7 === 3)
      val touched = stripIvals(changed.drop("k"))
        .unionByName(stripIvals(updatedNew.drop("k")))
        .select(col("grp"), col("sx")).distinct()
      val survivors = ivalsK
        .join(touched, Seq("grp", "sx"), "left_semi")
        .join(changed.select(col("k")), Seq("k"), "left_anti")
        .drop("k")
      val fresh = stripIvals(updatedNew.drop("k"))
      val remerged = mergeStripIvals(survivors.unionByName(fresh))
      stored.join(touched, Seq("grp", "sx"), "left_anti")
        .unionByName(remerged)
    }),
    "q254_viterbi_map_match" -> ((s, dir) => {
      // HMM map-matching by Viterbi — the REAL map-matcher (q118's
      // nearest-segment pick is its memoryless baseline): per track
      // point, emission cost = e3 distance to each of R=8 candidate
      // roads (fixed horizontal corridors), transition cost =
      // λ·|road switch|, and the minimal total-cost assignment solves
      // the classic DP. Plan shape: ONE shuffle on user_id — the
      // track collects into a sorted array and the whole DP folds
      // inside `aggregate()` (codegen higher-order functions, state =
      // the R-vector of path costs; the legitimate sequential-fold
      // case, cf. q167/SequencePack). Exact BIGINT costs; the oracle
      // unrolls the identical recurrence as a recursive CTE with R
      // explicit state columns, so both engines walk the same
      // integers. Output: per user the optimal cost and final road
      // (argmin, first index on ties).
      val R = 8; val Lam = 30000L
      def road(j: Int) = -70000L + j * 20000L
      val tr = Tables.events(s, dir)
        .select(col("user_id").as("u"), col("ts"), col("event_id"),
          (SynthUniverse.eventY - 75000).as("y"))
        .groupBy(col("u"))
        .agg(sort_array(collect_list(
          struct(col("ts"), col("event_id"), col("y")))).as("tk"))
      val initCosts = array((0 until R).map(j =>
        abs(element_at(col("tk"), 1).getField("y") - lit(road(j)))): _*)
      val folded = aggregate(
        slice(col("tk"), lit(2), greatest(size(col("tk")) - 1, lit(0))),
        initCosts,
        (acc, p) => array((0 until R).map { j =>
          abs(p.getField("y") - lit(road(j))) +
            array_min(array((0 until R).map(i =>
              element_at(acc, i + 1) + lit(Lam * math.abs(i - j))): _*))
        }: _*))
      tr.select(col("u").as("user_id"),
          size(col("tk")).cast("long").as("n_points"), folded.as("costs"))
        .select(col("user_id"), col("n_points"),
          array_min(col("costs")).as("total_cost"),
          (expr("array_position(costs, array_min(costs))") - 1)
            .cast("long").as("best_road"))
    }),
    "q255_join_cardinality_estimate" -> ((s, dir) => {
      // histogram-based spatial-join cardinality estimation — the
      // OPTIMIZER-STATISTICS operator behind every salting/broadcast
      // decision this engine makes (the PIP join's histogram pre-pass
      // is its online cousin): per coarse res-5 tile, the candidate
      // count a coarse uniform model predicts (NA·NB div 64 — 8×8
      // res-8 children per tile) vs the EXACT candidate count the
      // res-8 cell join would produce (Σ_child na·nb), error in ppm.
      // Large errors mark skew — exactly the tiles the salted path
      // exists for. Two bounded histograms (≤4^res rows), one
      // equi-join on the child cell, everything integer.
      val f = 256L // res-8 grid
      def q8(v: Column, scale: Double, off: Double): Column = {
        val x = floor((v + off) / scale * f).cast("long")
        when(x < 0, lit(0L)).when(x >= f, lit(f - 1)).otherwise(x)
      }
      val pts = SynthUniverse.points(s, dir)
        .select(q8(col("lon"), 360.0, 180.0).as("ix"),
          q8(col("lat"), 180.0, 90.0).as("iy"))
        .groupBy(col("ix"), col("iy")).agg(count(lit(1)).as("na"))
      val ways = SynthUniverse.ways(s, dir)
        .withColumn("ix", explode(sequence(
          q8(col("x0"), 360.0, 180.0), q8(col("x0") + col("w"), 360.0, 180.0))))
        .withColumn("iy", explode(sequence(
          q8(col("y0"), 180.0, 90.0), q8(col("y0") + col("h"), 180.0, 90.0))))
        .groupBy(col("ix"), col("iy")).agg(count(lit(1)).as("nb"))
      val joined = pts.join(ways, Seq("ix", "iy"))
        .select(expr("ix div 8").as("cx"), expr("iy div 8").as("cy"),
          col("na"), col("nb"), (col("na") * col("nb")).as("pairs"))
      val fine = joined.groupBy(col("cx"), col("cy"))
        .agg(sum(col("pairs")).as("actual"))
      val coarseA = pts.groupBy(expr("ix div 8").as("cx"),
          expr("iy div 8").as("cy"))
        .agg(sum(col("na")).as("na5"))
      val coarseB = ways.groupBy(expr("ix div 8").as("cx"),
          expr("iy div 8").as("cy"))
        .agg(sum(col("nb")).as("nb5"))
      coarseA.join(coarseB, Seq("cx", "cy"))
        .join(fine, Seq("cx", "cy"), "left")
        .select(col("cx"), col("cy"), col("na5"), col("nb5"),
          expr("na5 * nb5 div 64").as("est"),
          coalesce(col("actual"), lit(0L)).as("actual"))
        .withColumn("err_ppm",
          expr("abs(est - actual) * 1000000 div greatest(actual, 1)"))
    }),
    "q239_simplify_dp" -> ((s, dir) => {
      // Douglas-Peucker polyline simplification, bounded-depth — the
      // OTHER classic simplifier beside q114's one-pass Visvalingam:
      // the recursive "split at the farthest vertex from the chord"
      // unrolls as K=3 BFS levels (≤2^3 segments per track), each
      // level pure window arithmetic over the track's ONE ordering:
      // chord endpoints come from kept-flag IGNORE-NULLS running
      // windows (never a segment×vertex join — per-user segment lists
      // would pair every vertex with every active segment), the
      // farthest vertex per (user, chord) is a max + min-matching-pos
      // window pair, and the split test compares EXACT integers in e3
      // milli-degree units: dist² > eps² ⟺ area2² > eps²·len²
      // (area2 = doubled triangle area; squares ride DECIMAL(38,0)).
      // Both engines unroll the identical recurrence, so the oracle
      // is a digit-for-digit mirror.
      import org.apache.spark.sql.expressions.Window
      val w0 = Window.partitionBy(col("u")).orderBy(col("pos"))
      val prevW = w0.rowsBetween(Window.unboundedPreceding, -1)
      val nextW = w0.rowsBetween(1, Window.unboundedFollowing)
      var df = Tables.events(s, dir)
        .select(col("user_id").as("u"), col("ts"), col("event_id"),
          (SynthUniverse.eventX - 160000).as("x"),
          (SynthUniverse.eventY - 75000).as("y"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("u")).orderBy(col("ts"), col("event_id"))))
        .withColumn("np", count(lit(1)).over(Window.partitionBy(col("u"))))
        .select(col("u"), col("pos"), col("x"), col("y"),
          (col("pos") === 1 || col("pos") === col("np")).as("k"))
      val eps2 = lit(DpEpsE3 * DpEpsE3).cast("decimal(38,0)")
      for (_ <- 1 to 3) {
        df = df
          .withColumn("b0", last(when(col("k"), col("pos")), ignoreNulls = true).over(prevW))
          .withColumn("x0", last(when(col("k"), col("x")), ignoreNulls = true).over(prevW))
          .withColumn("y0", last(when(col("k"), col("y")), ignoreNulls = true).over(prevW))
          .withColumn("x1", first(when(col("k"), col("x")), ignoreNulls = true).over(nextW))
          .withColumn("y1", first(when(col("k"), col("y")), ignoreNulls = true).over(nextW))
          .withColumn("a2", when(col("k"), lit(null).cast("long")).otherwise(
            abs((col("x1") - col("x0")) * (col("y") - col("y0")) -
              (col("y1") - col("y0")) * (col("x") - col("x0")))))
          .withColumn("len2", (col("x1") - col("x0")) * (col("x1") - col("x0")) +
            (col("y1") - col("y0")) * (col("y1") - col("y0")))
        val wSeg = Window.partitionBy(col("u"), col("b0"))
        df = df
          .withColumn("mx", max(col("a2")).over(wSeg))
          .withColumn("mpos", min(when(col("a2") === col("mx"), col("pos"))).over(wSeg))
          .withColumn("k", col("k") ||
            (col("pos") === col("mpos") &&
              col("a2").cast("decimal(38,0)") * col("a2") >
                eps2 * col("len2").cast("decimal(38,0)")))
          .drop("b0", "x0", "y0", "x1", "y1", "a2", "len2", "mx", "mpos")
      }
      df.filter(col("k")).select(col("u").as("user_id"),
        col("pos"), col("x"), col("y"))
    }),
    "q238_admin_hierarchy" -> ((s, dir) => {
      // containment hierarchy (reverse geocoding's admin-tree build):
      // each contained rect resolves its DIRECT parent = the
      // smallest-area PROPER container (area ties → smallest id) over
      // a 3-level synthetic admin layer (country/region/district-
      // scale footprints: ~30-60°, ~6-12°, ~1-2.5° wide — the q160
      // lattice is containment-free by construction, so the layer
      // varies size by level). Plan: containers cover their bbox's
      // 10° blocks once (integer sequence explode, ≤49 cells for the
      // biggest), each child probes its LOWER-LEFT corner's single
      // block — a container of B covers B's corner, so the equi-join
      // prefilter is lossless AND duplicate-free by construction —
      // exact bbox refine in codegen, per-child argmin as ONE
      // min-struct aggregate. Never a window, never all-pairs: the
      // oracle's quadratic bbox join is exactly the shape this plan
      // exists to avoid at 100 TB.
      val lay = Tables.orders(s, dir).select(col("o_orderkey").as("way_id"),
        ((col("o_orderkey") * 13 % 320) * 10 - 1600).as("x"),
        ((col("o_orderkey") * 29 % 150) * 10 - 750).as("y"),
        when(col("o_orderkey") % 3 === 0, lit(300) + (col("o_orderkey") % 16) * 20)
          .when(col("o_orderkey") % 3 === 1, lit(60) + (col("o_orderkey") % 16) * 4)
          .otherwise(lit(10) + col("o_orderkey") % 16).as("w"),
        when(col("o_orderkey") % 3 === 0, lit(300) + (col("o_orderkey") * 3 % 16) * 20)
          .when(col("o_orderkey") % 3 === 1, lit(60) + (col("o_orderkey") * 3 % 16) * 4)
          .otherwise(lit(10) + col("o_orderkey") * 3 % 16).as("h"))
      val cover = lay.select(col("way_id").as("pid"), col("x").as("ax"),
          col("y").as("ay"), col("w").as("aw"), col("h").as("ah"),
          (col("w") * col("h")).as("parea"))
        .withColumn("cix", explode(sequence(
          expr("(ax + 1800) div 100"), expr("(ax + aw + 1800) div 100"))))
        .withColumn("ciy", explode(sequence(
          expr("(ay + 900) div 100"), expr("(ay + ah + 900) div 100"))))
      val probe = lay.select(col("way_id").as("child_id"), col("x").as("bx"),
          col("y").as("by"), col("w").as("bw"), col("h").as("bh"),
          (col("w") * col("h")).as("carea"))
        .withColumn("cix", expr("(bx + 1800) div 100"))
        .withColumn("ciy", expr("(by + 900) div 100"))
      probe.join(cover, Seq("cix", "ciy"))
        .filter(col("ax") <= col("bx") && col("ay") <= col("by") &&
          col("ax") + col("aw") >= col("bx") + col("bw") &&
          col("ay") + col("ah") >= col("by") + col("bh") &&
          col("parea") > col("carea"))
        .groupBy(col("child_id"), col("carea"))
        .agg(min(struct(col("parea"), col("pid"))).as("p"))
        .select(col("child_id"), col("p.pid").as("parent_id"),
          col("p.parea").as("parent_area"), col("carea").as("child_area"))
    }),
    "q162_idw" -> ((s, dir) => {
      // inverse-distance-weighted interpolation surface at occupied
      // raster cells — the kernel-weighted generalization of q125's
      // focal mean: each occupied cell SCATTERS its count to its 5x5
      // neighborhood (join-free O(25) fan-out, q125/q154's shape),
      // integer weight 10^6 div (1 + d2); ONE map-side-combined
      // shuffle on the target cell; the bounded occupied-cell table
      // equi-joins back so only real cells report. num/den ride as
      // exact integers, so idw_milli is an integral function both
      // engines fold identically regardless of aggregation order.
      val n = graft.geo.CellIndex.width(ContourRes)
      val base = occupancy(SynthUniverse.points(s, dir), ContourRes)
      idwOf(base, n)
    }),
    "q170_emerging_hotspot" -> ((s, dir) => {
      // emerging spatiotemporal hotspot detection (the space-time-cube
      // trend op): per cell, the LAST day's count against the trailing
      // 7-day window — entirely WINDOW-FREE: one shuffle builds the
      // (cell, day) counts, a second map-side-combined aggregate folds
      // the conditional day sums per cell (missing days are vacuously
      // zero — the sparse cube never materializes empty (cell, day)
      // rows). Exact integers: emerging ⟺ cl >= 3 AND 7·cl > 2·tr
      // (last day strictly above 2x the trailing mean); ratio in bp.
      // Day = doc_id % 30 — the deterministic publication-day stand-in
      // (events' ts lattice degenerates to 2 coarse cells on its last
      // day, measured; the doc assignment exercises every anchor).
      SynthUniverse.points(s, dir)
        .select(GeoFunctions.gridX(col("lon"), HotspotRes).as("ix"),
          GeoFunctions.gridY(col("lat"), HotspotRes).as("iy"),
          (col("doc_id") % 30).as("day"))
        .groupBy(col("ix"), col("iy"), col("day"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("ix"), col("iy"))
        .agg(sum(when(col("day") === 29, col("cnt")).otherwise(0L)).as("cl"),
          sum(when(col("day").between(22, 28), col("cnt")).otherwise(0L)).as("tr"))
        .filter(col("cl") > 0)
        .select(col("ix"), col("iy"), col("cl"), col("tr"),
          (col("cl") >= 3 && col("cl") * 7 > col("tr") * 2).as("emerging"),
          expr("10000 * 7 * cl div greatest(tr, 1L)").as("ratio_bp"))
    }),
    "q163_moran" -> ((s, dir) => {
      // global Moran's I spatial autocorrelation of the point-density
      // raster (rook adjacency over OCCUPIED cells), exact integers:
      // with d_i = n*x_i - S the mean-centering denominators cancel,
      // so I = n * SUM_adj(d_i*d_j) / (W * SUM(d_i^2)) needs no
      // floats. One corpus shuffle builds the BOUNDED cell table
      // (<= 4^res rows); adjacency is a self-equi-join on the shifted
      // cell key (each directed pair once per direction, W counts
      // them); products ride DECIMAL(38,0) so the ppm scaling never
      // overflows; the final integral divide is sign-split because
      // Spark `div` truncates while DuckDB `//` floors.
      val cells = occupancy(SynthUniverse.points(s, dir), ContourRes)
      moranOf(cells)
    }),
    "q235_lisa" -> ((s, dir) => {
      // LOCAL Moran's I (LISA cluster map) — the per-cell member of
      // the spatial-autocorrelation family (q163 global I, q187
      // Getis-Ord Gi*): every occupied cell classifies HH/LL/HL/LH by
      // the sign of its own mean-centered density d_i and of its
      // rook-neighbor lag Σ_adj d_j, exact integers throughout
      // (d_i = nc·x_i − S cancels the mean's divide; the I_i
      // numerator d_i·Σd_j rides DECIMAL(38,0)). Plan: the bounded
      // (≤4^res) cell table scatters d to its 4 rook neighbors
      // JOIN-FREE (q125/q162's shape), one map-side-combined sum per
      // target cell, one equi-join back to the occupied set — no
      // window, no pair explosion, one corpus shuffle total.
      val cells = occupancy(SynthUniverse.points(s, dir), ContourRes)
      val stats = cells.agg(count(lit(1)).as("nc"), sum(col("cnt")).as("s"))
      val d = cells.crossJoin(broadcast(stats))
        .select(col("ix"), col("iy"), (col("nc") * col("cnt") - col("s")).as("d"))
      val scat = Seq((1, 0), (-1, 0), (0, 1), (0, -1)).map { case (dx, dy) =>
        d.select((col("ix") + dx).as("ix"), (col("iy") + dy).as("iy"),
          col("d").as("nd"))
      }.reduce(_ unionByName _)
      val lag = scat.groupBy(col("ix"), col("iy"))
        .agg(sum(col("nd")).as("lg"), count(lit(1)).as("wn"))
      d.join(lag, Seq("ix", "iy"), "left")
        .select(col("ix"), col("iy"), col("d"),
          coalesce(col("wn"), lit(0L)).as("wn"),
          coalesce(col("lg"), lit(0L)).as("lag"),
          (col("d").cast("decimal(38,0)") * coalesce(col("lg"), lit(0L)))
            .cast("string").as("ii"),
          when(col("d") > 0 && coalesce(col("lg"), lit(0L)) > 0, "HH")
            .when(col("d") < 0 && coalesce(col("lg"), lit(0L)) < 0, "LL")
            .when(col("d") > 0 && coalesce(col("lg"), lit(0L)) < 0, "HL")
            .when(col("d") < 0 && coalesce(col("lg"), lit(0L)) > 0, "LH")
            .otherwise("NS").as("cls"))
    }),
    "q156_temporal_pip" -> ((s, dir) => {
      // TEMPORAL point-in-polygon (bitemporal join): each event joins
      // the polygon VERSION that was valid at its timestamp — way w
      // carries 1 + w%3 versions a week apart, each drifting +0.25°
      // east — then containment is tested against THAT version only
      // (a point outside the then-current geometry matches nothing,
      // even if an older version contained it). Plan: the way's
      // all-version ENVELOPE covers cells once, each point probes its
      // OWN cell (duplicate-free by construction), versions explode
      // only on surviving candidates, and the valid-version pick is a
      // bounded max AGGREGATE (never a window). Timestamps compare as
      // timestamps — no epoch truncation on either engine.
      val n = graft.geo.CellIndex.width(PipRes).toDouble
      val env = SynthUniverse.ways(s, dir)
        .withColumn("cx", explode(sequence(
          floor((col("x0") + 180.0) / 360.0 * n).cast("long"),
          floor((col("x0") + 0.5 + col("w") + 180.0) / 360.0 * n).cast("long"))))
        .withColumn("cy", explode(sequence(
          floor((col("y0") + 90.0) / 180.0 * n).cast("long"),
          floor((col("y0") + col("h") + 90.0) / 180.0 * n).cast("long"))))
        .select(col("way_id"), col("x0"), col("y0"), col("w"), col("h"),
          lit(PipRes.toLong << graft.geo.CellIndex.ResShift)
            .bitwiseOR(shiftleft(col("cx"), graft.geo.CellIndex.XShift))
            .bitwiseOR(col("cy")).as("cell"))
      val pts = Tables.events(s, dir).select(col("event_id"), col("ts"),
          SynthUniverse.eventLon.as("lon"),
          SynthUniverse.eventLat.as("lat"))
        .withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), PipRes))
      pts.join(env, "cell")
        .filter(col("lat") >= col("y0") && col("lat") <= col("y0") + col("h"))
        .select(col("event_id"), col("ts"), col("lon"),
          col("way_id"), col("x0"), col("w"),
          explode(sequence(lit(1L), lit(1L) + pmod(col("way_id"), lit(3L)))).as("v"))
        .filter(col("ts") >= timestamp_seconds(lit(1704067200L) +
          pmod(col("way_id"), lit(86400L)) + (col("v") - 1L) * 604800L))
        .groupBy(col("event_id"), col("way_id"), col("lon"), col("x0"), col("w"))
        .agg(max(col("v")).as("version"))
        .withColumn("x0v", col("x0") + (col("version") - 1L).cast("double") * 0.25)
        .filter(col("lon") >= col("x0v") && col("lon") <= col("x0v") + col("w"))
        .select(col("event_id"), col("way_id"), col("version"))
    }),
    "q154_contours" -> ((s, dir) => {
      // raster → vector: marching-squares contour extraction over the
      // point-density raster at ContourRes, iso-level = the raster's
      // MEAN occupied-cell count (a 1-row bounded aggregate, so the
      // level adapts to corpus scale). Cells at/above the level
      // SCATTER a corner bit to the <= 4 2x2 blocks they participate
      // in (q125's join-free scatter shape — no raster self-join);
      // one map-side-combined shuffle on the block key; blocks with
      // 0 < case < 15 carry contour segments (2 for the saddle cases
      // 5/10, else 1). Missing raster cells are vacuously below the
      // level — the scatter never materializes them, so the state is
      // O(occupied cells), never O(grid).
      val base = occupancy(SynthUniverse.points(s, dir), ContourRes)
      val thr = base.agg(expr("sum(cnt) div count(1)").as("thr"))
      base.crossJoin(broadcast(thr))
        .filter(col("cnt") >= col("thr"))
        .select(col("ix"), col("iy"), explode(sequence(lit(0L), lit(1L))).as("dx"))
        .select(col("ix"), col("iy"), col("dx"),
          explode(sequence(lit(0L), lit(1L))).as("dy"))
        .select((col("ix") - col("dx")).as("bx"), (col("iy") - col("dy")).as("by"),
          when(col("dx") === 0 && col("dy") === 0, 1L)
            .when(col("dx") === 1 && col("dy") === 0, 2L)
            .when(col("dx") === 1 && col("dy") === 1, 4L)
            .otherwise(8L).as("bit"))
        .groupBy(col("bx"), col("by"))
        .agg(sum(col("bit")).as("mcase"))
        .filter(col("mcase") >= 1 && col("mcase") <= 14)
        .select(col("bx"), col("by"), col("mcase"),
          when(col("mcase").isin(5L, 10L), 2L).otherwise(1L).as("n_segs"))
    }),
    "q177_hausdorff" -> ((s, dir) => {
      // symmetric Hausdorff distance between co-traveler candidate
      // track pairs — the trajectory-similarity verify stage: the
      // candidate set comes from q158's shared-tile prefilter (>= 30
      // shared res-5 tiles, so the exact quadratic work runs ONLY on
      // pairs that already co-occur), then H(A,B) = max(h(A→B),
      // h(B→A)) with h(A→B) = max_{a∈A} min_{b∈B} d²(a,b), computed
      // EXACTLY in squared milli-degree integers (coords are integer
      // milli-degrees by construction, so d² is a closed-form BIGINT —
      // no float, no sqrt; the monotone sqrt is the caller's concern).
      // Shape: per-pair vertex blocks co-locate on the pair key; each
      // joined row explodes into its two directed (pivot-vertex) rows
      // ONCE, so both directions ride a single min-then-max aggregate
      // pass (two map-side-combined shuffles) instead of two scans of
      // the pair-block join. Per-pair cost is |A|·|B| with bounded
      // track lengths (decimation — q114 — bounds them upstream at
      // scale); total cost is candidate-pairs-bounded, never
      // all-pairs.
      val pos = Tables.events(s, dir).select(col("user_id"),
          (SynthUniverse.eventX - 160000).as("x"),
          (SynthUniverse.eventY - 75000).as("y"))
        .distinct() // Hausdorff is over point SETS
      // res-5 tile straight from integer milli-degrees: exact int div
      val tiles = pos.select(col("user_id"),
          (lit(5L << graft.geo.CellIndex.ResShift)
            .bitwiseOR(shiftleft(expr("(x + 180000) * 32 div 360000"),
              graft.geo.CellIndex.XShift))
            .bitwiseOR(expr("(y + 90000) * 32 div 180000"))).as("tile"))
        .distinct()
      val pairs = tiles.as("a").join(tiles.as("b"),
          col("a.tile") === col("b.tile") && col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"))
        .agg(count(lit(1)).as("ns")).filter(col("ns") >= 30)
        .select(col("user_a"), col("user_b"))
      val ta = pos.select(col("user_id").as("user_a"),
        col("x").as("ax"), col("y").as("ay"))
      val tb = pos.select(col("user_id").as("user_b"),
        col("x").as("qx"), col("y").as("qy"))
      val joined = pairs.join(ta, "user_a").join(tb, "user_b")
        .withColumn("d2",
          (col("ax") - col("qx")) * (col("ax") - col("qx")) +
            (col("ay") - col("qy")) * (col("ay") - col("qy")))
      val tagged = joined.select(col("user_a"), col("user_b"), col("d2"),
          explode(array(
            struct(lit(0).as("dir"), col("ax").as("vx"), col("ay").as("vy")),
            struct(lit(1).as("dir"), col("qx").as("vx"), col("qy").as("vy")))).as("v"))
        .select(col("user_a"), col("user_b"),
          col("v.dir").as("dir"), col("v.vx").as("vx"), col("v.vy").as("vy"),
          col("d2"))
      tagged.groupBy(col("user_a"), col("user_b"),
          col("dir"), col("vx"), col("vy"))
        .agg(min(col("d2")).as("md"))
        .groupBy(col("user_a"), col("user_b"))
        .agg(max(when(col("dir") === 0, col("md"))).as("h2_ab"),
          max(when(col("dir") === 1, col("md"))).as("h2_ba"))
        .select(col("user_a"), col("user_b"), col("h2_ab"), col("h2_ba"),
          greatest(col("h2_ab"), col("h2_ba")).as("h2_sym"))
    }),
    "q179_dbscan" -> ((s, dir) => {
      // exact grid-DBSCAN (eps=100, minPts=4) — density clustering for
      // POI/geo-entity conflation, the operation that groups extracted
      // page coordinates into places. EXACT, not approximate: the grid
      // (cell side = eps) is only a neighbor-candidate prefilter —
      // every true eps-neighbor pair shares adjacent cells, so the 3×3
      // cell equi-join + integer d² refine finds the exact eps-graph.
      // Cores = points with >= minPts-1 neighbors; clusters = connected
      // components of the core-core eps-graph via the alternating-star
      // operator (O(log n) rounds on ANY topology — a percolating
      // density ridge is exactly where min-label propagation would need
      // diameter rounds); borders attach to their min neighboring
      // core's cluster; noise labels -1. The domain side m scales with
      // sqrt(n) so density (and per-point candidate work) is
      // scale-invariant: the cell join shuffles on cell keys and no
      // stage is quadratic beyond the ~pi*eps^2*density = 3 true
      // neighbors per point.
      val pts = quadCloud(s, dir)
      val probe = pts.select(col("id").as("ida"), col("x").as("ax"),
          col("y").as("ay"),
          explode(sequence(lit(-1L), lit(1L))).as("dx"))
        .select(col("ida"), col("ax"), col("ay"),
          (expr("ax div 100") + col("dx")).as("cx"),
          explode(sequence(lit(-1L), lit(1L))).as("dy"))
        .select(col("ida"), col("ax"), col("ay"), col("cx"),
          (expr("ay div 100") + col("dy")).as("cy"))
      val build = pts.select(col("id").as("idb"),
        expr("x div 100").as("cx"), expr("y div 100").as("cy"),
        col("x").as("bx"), col("y").as("by"))
      // r6: the eps-graph feeds core detection, core-core edges AND
      // border attachment — cache it so the 3x3 cell join + d² refine
      // runs once, not three times (guide §1.2)
      val cand = probe.join(build, Seq("cx", "cy"))
        .filter(col("ida") =!= col("idb"))
        .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) <= lit(10000L))
        .select(col("ida"), col("idb"))
        .cache()
      val cores = cand.groupBy(col("ida").as("id"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 3)
        .select(col("id"))
        .cache()
      val coreEdges = cand.filter(col("ida") < col("idb"))
        .join(cores.withColumnRenamed("id", "ida"), Seq("ida"), "left_semi")
        .join(cores.withColumnRenamed("id", "idb"), Seq("idb"), "left_semi")
        .select(col("ida").as("u"), col("idb").as("v"))
      val (ccLabels, _) = graft.operators.ConnectedComponents
        .alternatingStar(coreEdges)
      val coreLab = cores
        .join(ccLabels.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cid"))
      val borderLab = cand
        .join(cores.withColumnRenamed("id", "ida"), Seq("ida"), "left_anti")
        .join(coreLab.toDF("idb", "cid"), Seq("idb"))
        .groupBy(col("ida").as("id")).agg(min(col("cid")).as("cid"))
      pts.select(col("id").as("event_id"))
        .join(coreLab.toDF("event_id", "core_cid"), Seq("event_id"), "left")
        .join(borderLab.toDF("event_id", "border_cid"), Seq("event_id"), "left")
        .select(col("event_id"),
          when(col("core_cid").isNotNull, lit("core"))
            .when(col("border_cid").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("core_cid"), col("border_cid"), lit(-1L))
            .as("cluster_id"))
    }),
    "q185_kanon_tiles" -> ((s, dir) => {
      // k-anonymous tile publishing (k=10) — the privacy gate any
      // public heat-map derived from user positions must pass: a fine
      // cell publishes only if its count reaches k; suppressed mass
      // rolls into the 2×2 parent, which publishes the ROLLED mass if
      // that reaches k; what still fails aggregates into one residual
      // row, so published counts always sum to n (nothing silently
      // vanishes) and no published row describes < k people-points.
      // Two map-side-combined groupBys + a union — no joins, no
      // windows; the same quadratic point cloud as q179 (fixed n-scaled
      // domain) so fine cells genuinely straddle the k threshold.
      val pts = quadCloud(s, dir)
      val fine = pts.select(expr("x div 400").as("fx"), expr("y div 400").as("fy"))
        .groupBy(col("fx"), col("fy")).agg(count(lit(1)).as("cnt"))
      val pub = fine.filter(col("cnt") >= 10)
        .select(lit("fine").as("level"), col("fx").as("cx"),
          col("fy").as("cy"), col("cnt").as("n"))
      val rolled = fine.filter(col("cnt") < 10)
        .groupBy(expr("fx div 2").as("cx"), expr("fy div 2").as("cy"))
        .agg(sum(col("cnt")).as("n"))
      val pubParent = rolled.filter(col("n") >= 10)
        .select(lit("parent").as("level"), col("cx"), col("cy"), col("n"))
      val residual = rolled.filter(col("n") < 10)
        .agg(coalesce(sum(col("n")), lit(0L)).as("n"))
        .select(lit("residual").as("level"), lit(-1L).as("cx"),
          lit(-1L).as("cy"), col("n"))
      pub.unionByName(pubParent).unionByName(residual)
    }),
    "q187_getis_hotspot" -> ((s, dir) => {
      // Getis-Ord Gi*-style LOCAL hot-spot detection over the point-
      // density raster — the local companion to q163's global Moran's
      // I. Population = the FULL res-7 lattice (empty cells carry
      // x = 0; conditioning on occupied cells only would make the
      // uniform-jitter clusters self-referential and nothing would
      // ever be significant); binary 3x3 weights including self;
      // border windows partial, W derived from the coordinates (no
      // per-cell neighbor count needed). Emitted rows = cells whose
      // window touches any mass (the scatter targets) — everything
      // else has wsum = 0 and an identical trivially-'none' verdict.
      // The |z| > 2 test is exact-integer: with T = Σx, N = n², S2N =
      // N·Σx² − T², num = N·Σ_w x − T·W, z² > 4 becomes
      //   num²·(N−1) > 4·S2N·(N·W − W²)
      // in DECIMAL(38,0)/HUGEINT (q173's determinism trick — the
      // squares overflow BIGINT at scale). No sqrt, no float: Spark
      // and DuckDB cannot diverge by an ulp. Plan: one groupBy builds
      // the raster; the 3x3 window is q125's join-free scatter; the
      // target's own count comes back by ONE left join; the three
      // global scalars ride in as a broadcast one-row cross join.
      val n = graft.geo.CellIndex.width(7)
      val base = occupancy(SynthUniverse.points(s, dir), 7)
        .cache()
      giStarFlags(base, n)
    }),
    "q241_incremental_hotspot" -> ((s, dir) => {
      // IVM of q187's Gi* hot/cold map under the standard document
      // change batch — the SPATIAL-STATISTIC member of the IVM family
      // (q237 dissolve, q136 pyramid, q171 counters, q124 clusters,
      // ...): cell counts decompose ADDITIVELY over documents (q171's
      // counter delta), so maintenance re-extracts points from the
      // TOUCHED docs only — O(touched docs' entities), never a corpus
      // re-scan; the Gi* re-derive (3x3 scatter + three global
      // scalars + the exact-integer z² test) then runs ENTIRELY on
      // the maintained <= n² occupied-cell table, independent of
      // corpus size. Global statistics (tt, ss) shifting under the
      // batch means every cell's flag may legitimately flip — the
      // bounded-table re-derive, not a per-cell pass-through, is the
      // correct incremental shape for a GLOBAL statistic (cf. q226's
      // global-threshold heavy hitters). The stored raster is rebuilt
      // in-query as oracle scaffolding (q52/q70 adjudication); oracle
      // = q187's full formulation on the post-change corpus.
      val n = graft.geo.CellIndex.width(7)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val DocChanges(_, _, updatedLive, affected) = docChanges(docs)
      val stored = occupancy(SynthUniverse.points(s, dir), 7)
      val removed = occupancy(SynthUniverse.points(s, dir)
          .join(affected, Seq("doc_id"), "left_semi"), 7)
        .withColumnRenamed("cnt", "r")
      val added = occupancy(SynthUniverse.pointsOf(updatedLive), 7)
        .withColumnRenamed("cnt", "a")
      val maintained = stored
        .join(removed, Seq("ix", "iy"), "full_outer")
        .join(added, Seq("ix", "iy"), "full_outer")
        .select(col("ix"), col("iy"),
          (coalesce(col("cnt"), lit(0L)) - coalesce(col("r"), lit(0L)) +
            coalesce(col("a"), lit(0L))).as("cnt"))
        .filter(col("cnt") > 0)
        .cache()
      giStarFlags(maintained, n)
    }),
    "q189_adaptive_tiles" -> ((s, dir) => {
      // Adaptive quadtree binning across the north star's res 7..12
      // band: every occupied res-12 cell resolves to the COARSEST
      // resolution whose covering cell holds <= 16 points (else it
      // stays at 12) — the variable-resolution tiling a vector-tile
      // publisher uses so dense cores split fine while empty ocean
      // stays coarse. The point stream is scanned ONCE (the res-12
      // aggregate); every coarser count ROLLS UP from the cell-count
      // frame below it (q131's pyramid shape — never re-reads points),
      // and the decision is five equi-joins of shrinking aggregates on
      // the ancestor key (all broadcast-size next to the res-12 frame).
      // A res-12 cell has exactly one ancestor per level, so the CASE
      // picks a unique leaf and the leaf counts partition the corpus.
      val maxPts = 16
      val c12 = SynthUniverse.points(s, dir)
        .select(GeoFunctions.cellAt(col("lon"), col("lat"), 12).as("c12"))
        .groupBy(col("c12")).agg(count(lit(1)).as("cnt12"))
        .cache() // 5 broadcast rollups + the probe side reuse ONE point scan
      val ups = (11 to 7 by -1).foldLeft(Map(12 -> c12)) { (m, r) =>
        val finer = m(r + 1)
        m + (r -> finer.groupBy(
            GeoFunctions.parentAt(col(s"c${r + 1}"), r + 1, r).as(s"c$r"))
          .agg(sum(col(s"cnt${r + 1}")).as(s"cnt$r")))
      }
      val joined = (7 to 11).foldLeft(c12) { (df, r) =>
        df.join(broadcast(ups(r)),
          GeoFunctions.parentAt(col("c12"), 12, r) === col(s"c$r"))
      }
      val leafRes = (7 to 11).foldLeft(when(lit(false), lit(12))) { (c, r) =>
        c.when(col(s"cnt$r") <= maxPts, lit(r))
      }.otherwise(lit(12))
      val leafCell = (7 to 11).foldLeft(when(lit(false), col("c12"))) { (c, r) =>
        c.when(col(s"cnt$r") <= maxPts, col(s"c$r"))
      }.otherwise(col("c12"))
      joined
        .select(leafRes.cast("long").as("leaf_res"), leafCell.as("cell"),
          col("cnt12"))
        .groupBy(col("leaf_res"), col("cell"))
        .agg(sum(col("cnt12")).as("n_points"))
    }),
    "q193_hilbert_order" -> ((s, dir) => {
      // Hilbert-curve tile ordering — the write-locality upgrade over
      // the z-order curve (geo/ZOrder): consecutive Hilbert positions
      // are ALWAYS grid-adjacent, so a tile writer emitting in hkey
      // order produces spatially-compact runs (HilbertSpec measures the
      // locality win over z-order; the bijectivity/adjacency proofs
      // live there too). The encode is graft.geo.HilbertIndexExpr —
      // one static codegen call per OCCUPIED CELL (never per point:
      // the raster groupBy runs first, the curve prices |cells| rows).
      SynthUniverse.points(s, dir)
        .select(GeoFunctions.gridX(col("lon"), 8).as("ix"),
          GeoFunctions.gridY(col("lat"), 8).as("iy"))
        .groupBy(col("ix"), col("iy")).agg(count(lit(1)).as("n_points"))
        .select(col("ix"), col("iy"),
          graft.geo.Hilbert.indexCol(8, col("ix"), col("iy")).as("hkey"),
          col("n_points"))
    }),
    "q197_zonal_stats" -> ((s, dir) => {
      // zonal statistics — THE raster↔vector aggregation by name (per
      // polygon zone: how many points, how many distinct documents,
      // which entities): q30's cell-prefiltered broadcast PIP join
      // feeds ONE map-side-combined aggregate keyed by the zone, so
      // the only exchange beyond the join is the per-zone fold; at
      // 100 TB the zone key is the natural partitioner and no
      // per-point row ever leaves its join stage unaggregated.
      SpatialJoin.pipJoin(SynthUniverse.points(s, dir), polys(s, dir), PipRes,
          ringDict = "broadcast")
        .groupBy(col("way_id"))
        .agg(count(lit(1)).as("n_points"),
          countDistinct(col("doc_id")).as("n_docs"),
          countDistinct(col("entity")).as("n_entities"),
          max(col("doc_id")).as("max_doc"))
    }),
    "q198_incremental_adaptive" -> ((s, dir) => {
      // IVM of q189's adaptive quadtree under the standard document
      // change batch — the adaptive-tiling member of the IVM family:
      // res-12 counts are ADDITIVE (q136's counter-delta), and a leaf
      // DECISION depends only on the cell's ancestor-chain counts, so
      // after folding the count delta the decision recomputes ONLY
      // inside res-7 subtrees the batch touched; every untouched
      // subtree's stored leaf rows pass through by one anti-join.
      // Per-batch cost O(affected docs + touched subtrees), never a
      // corpus re-scan; the oracle rebuilds the whole adaptive tiling
      // from the post-change corpus.
      val maxPts = 16
      def c12Of(pts: DataFrame): DataFrame = pts
        .select(GeoFunctions.cellAt(col("lon"), col("lat"), 12).as("c12"))
        .groupBy(col("c12")).agg(count(lit(1)).as("cnt12"))
      def leavesOf(c12: DataFrame): DataFrame = {
        val cached = c12.cache()
        val ups = (11 to 7 by -1).foldLeft(Map(12 -> cached)) { (m, r) =>
          m + (r -> m(r + 1).groupBy(
              GeoFunctions.parentAt(col(s"c${r + 1}"), r + 1, r).as(s"c$r"))
            .agg(sum(col(s"cnt${r + 1}")).as(s"cnt$r")))
        }
        val joined = (7 to 11).foldLeft(cached) { (df, r) =>
          df.join(broadcast(ups(r)),
            GeoFunctions.parentAt(col("c12"), 12, r) === col(s"c$r"))
        }
        val leafRes = (7 to 11).foldLeft(when(lit(false), lit(12))) { (c, r) =>
          c.when(col(s"cnt$r") <= maxPts, lit(r))
        }.otherwise(lit(12))
        val leafCell = (7 to 11).foldLeft(when(lit(false), col("c12"))) { (c, r) =>
          c.when(col(s"cnt$r") <= maxPts, col(s"c$r"))
        }.otherwise(col("c12"))
        joined.select(leafRes.cast("long").as("leaf_res"), leafCell.as("cell"),
            col("cnt12"),
            GeoFunctions.parentAt(col("c12"), 12, 7).as("sub7"))
          .groupBy(col("leaf_res"), col("cell"))
          .agg(sum(col("cnt12")).as("n_points"), first(col("sub7")).as("sub7"))
      }
      // LOCALIZED change batch (%97/%89, not the family's %7/%13):
      // the standard batch touches 43/44 res-7 subtrees (its 20% of
      // docs spread jitter over the whole space) and the IVM would be
      // a disguised full rebuild; %97/%89 batches share their jitter
      // coordinate by construction, so they touch ~25/44 subtrees —
      // the localized-update regime adaptive-tile IVM exists for.
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val updated = docs.filter(col("doc_id") % 97 === 3)
        .select(col("doc_id"), SynthUniverse.updatedText.as("text"))
      val deletedIds = docs.filter(col("doc_id") % 89 === 5).select(col("doc_id"))
      val affected = updated.select(col("doc_id")).union(deletedIds).distinct()
      val updatedLive = updated.join(deletedIds, Seq("doc_id"), "left_anti")
      // stored stand-ins: the pre-change res-12 counter table + leaves
      val storedC12 = c12Of(SynthUniverse.points(s, dir))
      val storedLeaves = leavesOf(storedC12)
      // counter delta folded in ONE aggregate (q136's shape)
      // (r6 wave 2: caching delta — it feeds both the counter fold and
      // the touched probe — was tried and measured FLAT, 5.9 vs 6.0 s:
      // the two delta legs are cheap column scans and the cache fill
      // costs what the recompute did)
      val delta = c12Of(SynthUniverse.points(s, dir)
          .join(affected, Seq("doc_id"), "left_semi"))
        .select(col("c12"), (-col("cnt12")).as("d"))
        .unionByName(c12Of(SynthUniverse.pointsOf(updatedLive))
          .select(col("c12"), col("cnt12").as("d")))
      val newC12 = storedC12.select(col("c12"), col("cnt12").as("d"))
        .unionByName(delta)
        .groupBy(col("c12")).agg(sum(col("d")).as("cnt12"))
        .filter(col("cnt12") > 0)
      // touched res-7 subtrees: wherever any res-12 count changed
      val touched = delta.select(
        GeoFunctions.parentAt(col("c12"), 12, 7).as("sub7")).distinct()
      val rebuilt = leavesOf(newC12
          .join(broadcast(touched),
            GeoFunctions.parentAt(col("c12"), 12, 7) === col("sub7"), "left_semi"))
        .drop("sub7")
      val kept = storedLeaves
        .join(broadcast(touched), Seq("sub7"), "left_anti")
        .drop("sub7")
      kept.unionByName(rebuilt)
    }),
    "q199_dtw" -> ((s, dir) => {
      // dynamic-time-warping trajectory similarity — the alignment-
      // aware distance (q177's Hausdorff ignores ordering; DTW prices
      // the warped step-by-step match map-matching and co-movement
      // mining need). Tracks = each user's first 12 positions on the
      // integer lattice (exact BIGINT costs, both engines identical);
      // candidate pairs BLOCK on the track head's coarse cell (never
      // all-pairs); the DP runs in spatial.DtwExpr on candidate pairs
      // only — the paired oracle unrolls the same fixed 12x12 grid as
      // 144 lateral-alias expressions. At corpus scale the block key
      // widens with a time bucket exactly like q158's note.
      trackPairs12(s, dir)
        .select(col("user_a"), col("user_b"),
          org.apache.spark.sql.GraftSqlShim.column(graft.spatial.DtwExpr(
            org.apache.spark.sql.GraftSqlShim.expression(col("xa")),
            org.apache.spark.sql.GraftSqlShim.expression(col("ya")),
            org.apache.spark.sql.GraftSqlShim.expression(col("xb")),
            org.apache.spark.sql.GraftSqlShim.expression(col("yb")))).as("dtw_d2"))
    }),
    "q271_lcss" -> ((s, dir) => {
      // LCSS trajectory similarity — the GAP-TOLERANT third member of
      // the trajectory-distance family (q199 DTW sums every warped
      // step, q204 Fréchet takes the worst one; LCSS counts matchable
      // steps — within eps — and FORGIVES outlier pings, the standard
      // noisy-GPS co-movement score). Same blocked candidate pairs,
      // per-pair exact-integer DP in spatial.LcssExpr with eps² = 10⁸
      // (tuned so the synthetic pairs spread over the full 2..12
      // range); sim_ppm = 10⁶·len div 12. The oracle unrolls the same
      // 12×12 CASE/GREATEST grid.
      trackPairs12(s, dir)
        .select(col("user_a"), col("user_b"),
          org.apache.spark.sql.GraftSqlShim.column(graft.spatial.LcssExpr(
            org.apache.spark.sql.GraftSqlShim.expression(col("xa")),
            org.apache.spark.sql.GraftSqlShim.expression(col("ya")),
            org.apache.spark.sql.GraftSqlShim.expression(col("xb")),
            org.apache.spark.sql.GraftSqlShim.expression(col("yb")),
            100000000L)).as("lcss_len"))
        .withColumn("sim_ppm", expr("lcss_len * 1000000 div 12"))
    }),
    "q204_frechet" -> ((s, dir) => {
      // discrete Frechet distance — the BOTTLENECK companion to q199's
      // summed DTW cost ("shortest dog leash": minimum over monotone
      // couplings of the MAXIMUM squared step). Same blocked candidate
      // pairs, same exact-BIGINT per-pair DP in spatial.FrechetExpr;
      // the oracle swaps the unrolled grid's fold to
      // GREATEST(cost, LEAST(...)) with max-propagating borders.
      trackPairs12(s, dir)
        .select(col("user_a"), col("user_b"),
          org.apache.spark.sql.GraftSqlShim.column(graft.spatial.FrechetExpr(
            org.apache.spark.sql.GraftSqlShim.expression(col("xa")),
            org.apache.spark.sql.GraftSqlShim.expression(col("ya")),
            org.apache.spark.sql.GraftSqlShim.expression(col("xb")),
            org.apache.spark.sql.GraftSqlShim.expression(col("yb")))).as("frechet_d2"))
    }),
    "q201_convex_hull" -> ((s, dir) => {
      // per-track convex hull (roaming-extent summary): each user's
      // first-12 lattice positions (q199's track convention) collapse
      // to the hull's EXTREME points — count + coordinate sums, exact
      // BIGINT. The monotone chain runs in spatial.ConvexHullExpr once
      // per GROUP on the bounded collected track; the window and the
      // groupBy share the user_id partitioning, so the whole query is
      // ONE exchange. The oracle brute-forces the extreme-point
      // predicate via Caratheodory (a non-extreme point lies on a
      // segment of two others or inside-or-on a proper triangle of
      // three others) — an independent O(n^4)-per-group definition the
      // chain must reproduce exactly, collinear and duplicate points
      // included.
      val stats = org.apache.spark.sql.GraftSqlShim.column(
        graft.spatial.ConvexHullExpr(
          org.apache.spark.sql.GraftSqlShim.expression(col("xs")),
          org.apache.spark.sql.GraftSqlShim.expression(col("ys"))))
      trackPoints12(s, dir)
        .withColumn("h", stats)
        .select(col("user_id"), col("h").getItem(0).as("n_hull"),
          col("h").getItem(1).as("hull_sum_x"), col("h").getItem(2).as("hull_sum_y"))
    }),
    "q203_flow_accum" -> ((s, dir) => {
      // D8 flow routing over the event-density raster (hydrology-style
      // drainage on a density surface): each occupied cell drains to
      // its steepest STRICTLY-lower 8-neighbor (tie-break (z, nx, ny)),
      // and `acc` counts the cells whose drainage path reaches it
      // within K=6 hops. Neighbor candidates come from a JOIN-FREE
      // 8-offset scatter (q125's focal pattern — never a quadratic
      // cell×cell distance join, which is what the oracle runs as the
      // independent definition); out-degree <= 1 makes every routing
      // round ONE equi-join + map-side count with row count bounded by
      // the live-path frontier — at 100 TB both legs shuffle on the
      // cell key and K bounds the iteration depth.
      val K = 6
      val cells = densityCells(s, dir)
      val flow = d8Flow(cells).cache()
      // route each cell's unit contribution K hops downstream; paths
      // are unique (out-degree <= 1) so no dedup is ever needed
      var frontier = flow.select(col("cx").as("acx"), col("cy").as("acy"),
        col("nx").as("cx"), col("ny").as("cy"))
      var reached = frontier
      for (_ <- 2 to K) {
        frontier = frontier.join(flow, Seq("cx", "cy"))
          .select(col("acx"), col("acy"),
            col("nx").as("cx"), col("ny").as("cy"))
        reached = reached.unionByName(frontier)
      }
      val acc = reached.groupBy(col("cx"), col("cy"))
        .agg(count(lit(1)).as("acc"))
      cells.join(flow.withColumnRenamed("nx", "fx").withColumnRenamed("ny", "fy"),
          Seq("cx", "cy"), "left")
        .join(acc, Seq("cx", "cy"), "left")
        .select(col("cx"), col("cy"), col("z"), col("fx"), col("fy"),
          coalesce(col("acc"), lit(0L)).as("acc"))
    }),
    "q208_viewshed" -> ((s, dir) => {
      // raster line-of-sight (viewshed): from the 5 highest-density
      // cells, which cells within Chebyshev radius 6 are visible —
      // blocked iff any strictly-intermediate cell on the discrete
      // sight line is an obstacle (z > 1.5x the mean, compared as the
      // EXACT integer inequality 2*z*n_cells > 3*sum_z). The line
      // sample at step k of n is round-half-up(k*d/n), computed as
      // floor((2kd+n)/(2n)) via pmod so Spark's truncating `div` and
      // DuckDB's floor `//` agree on negative deltas. Viewpoints are a
      // bounded top-k broadcast; samples scatter to an equi-join on
      // the obstacle cell key — per (viewpoint, target) pair at most
      // n-1 <= 5 sample rows, so the candidate stream is O(pairs),
      // never a raster cross join.
      val R = 6
      val cells = densityCells(s, dir)
      val tot = cells.agg(sum(col("z")).as("sz"), count(lit(1)).as("nc"))
      val obst = cells.crossJoin(broadcast(tot))
        .filter(col("z") * 2 * col("nc") > lit(3) * col("sz"))
        .select(col("cx").as("sx"), col("cy").as("sy"))
      val vp = cells.orderBy(col("z").desc, col("cx"), col("cy")).limit(5)
        .select(col("cx").as("vx"), col("cy").as("vy"))
      val pairs = cells.crossJoin(broadcast(vp))
        .filter(abs(col("cx") - col("vx")) <= R &&
          abs(col("cy") - col("vy")) <= R &&
          !(col("cx") === col("vx") && col("cy") === col("vy")))
        .select(col("vx"), col("vy"), col("cx").as("tx"), col("cy").as("ty"),
          greatest(abs(col("cx") - col("vx")), abs(col("cy") - col("vy"))).as("n"))
      val samples = pairs.filter(col("n") >= 2)
        .select(col("vx"), col("vy"), col("tx"), col("ty"), col("n"),
          explode(sequence(lit(1L), col("n") - 1)).as("k"))
        .select(col("vx"), col("vy"), col("tx"), col("ty"),
          (col("vx") + expr("(2*k*(tx-vx) + n - pmod(2*k*(tx-vx) + n, 2*n)) div (2*n)"))
            .as("sx"),
          (col("vy") + expr("(2*k*(ty-vy) + n - pmod(2*k*(ty-vy) + n, 2*n)) div (2*n)"))
            .as("sy"))
      val blocked = samples.join(obst, Seq("sx", "sy"))
        .select(col("vx"), col("vy"), col("tx"), col("ty")).distinct()
        .withColumn("b", lit(1L))
      pairs.join(blocked, Seq("vx", "vy", "tx", "ty"), "left")
        .select(col("vx"), col("vy"), col("tx"), col("ty"),
          when(col("b").isNotNull, 0L).otherwise(1L).as("visible"))
    }),
    "q210_gyration" -> ((s, dir) => {
      // radius of gyration (the canonical human-mobility dispersion
      // statistic): rg² = disp/n² with
      // disp = n·Σ(x²+y²) − (Σx)² − (Σy)² — the WHOLE statistic folds
      // in ONE map-side-combined aggregate, exact BIGINT: no centroid
      // pre-pass, no second shuffle, no floats. Coordinates land on
      // the /100 coarse lattice so disp stays far from Long range even
      // at corpus-scale per-user histories.
      Tables.events(s, dir)
        .select(col("user_id"),
          call_function("div", SynthUniverse.eventX, lit(100)).as("x"),
          call_function("div", SynthUniverse.eventY, lit(100)).as("y"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("x") + col("y") * col("y")).as("s2"))
        .select(col("user_id"), col("n").as("n_points"),
          (col("n") * col("s2") - col("sx") * col("sx")
            - col("sy") * col("sy")).as("disp"))
    }),
    "q212_track_diameter" -> ((s, dir) => {
      // squared track diameter (maximum displacement): the max pairwise
      // squared distance of each user's first-12 positions, computed on
      // the hull's EXTREME points only (the diameter is attained there)
      // — spatial.DiameterExpr per group, O(h²) per track instead of
      // O(n²), sharing q201's single-exchange collected-track shape.
      // The oracle brute-forces ALL pairs — the independent definition
      // the hull reduction must reproduce.
      trackPoints12(s, dir)
        .select(col("user_id"),
          org.apache.spark.sql.GraftSqlShim.column(graft.spatial.DiameterExpr(
            org.apache.spark.sql.GraftSqlShim.expression(col("xs")),
            org.apache.spark.sql.GraftSqlShim.expression(col("ys"))))
            .as("diam2"))
    }),
    "q216_cell_churn" -> ((s, dir) => {
      // place churn: per density cell, Jaccard overlap of the user
      // populations active in the first vs second half of the window
      // (day < 15 vs day >= 15) — the spatial stability signal an
      // emerging-hotspot monitor (q170) pairs with. ONE narrow pass
      // flags each (cell, user) with period membership via two max
      // aggregates, then a per-cell conditional count — two map-side-
      // combined shuffles, exact floor-ppm, no window, no self-join
      // of the event stream.
      val flags = Tables.events(s, dir)
        .select(call_function("div", SynthUniverse.eventX, lit(4000)).as("cx"),
          call_function("div", SynthUniverse.eventY, lit(4000)).as("cy"),
          col("user_id"),
          when(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) < 15,
            1L).otherwise(0L).as("ia"),
          when(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) >= 15,
            1L).otherwise(0L).as("ib"))
        .groupBy(col("cx"), col("cy"), col("user_id"))
        .agg(max(col("ia")).as("a"), max(col("ib")).as("b"))
      flags.groupBy(col("cx"), col("cy"))
        .agg(sum(col("a") * col("b")).as("inter"),
          count(lit(1)).as("uni"))
        .select(col("cx"), col("cy"), col("inter"), col("uni"),
          expr("inter * 1000000 div uni").as("jaccard_ppm"))
    }),
    "q221_poly_centroid" -> ((s, dir) => {
      // exact-integer shoelace centroid per assembled ring — the
      // area-weighted centroid every label-placement / tile-anchor
      // stage needs (the bbox-center centroids() is the cheap proxy;
      // this is the true one). All arithmetic is BIGINT on e5-scaled
      // coords TRANSLATED to a local frame first (v − array_min):
      // local spans are ring-sized, so even the CUBIC centroid
      // numerator terms (span³ ≤ (20°·1e5)³ = 8·10¹⁸-adjacent; real
      // rings are ≪ 20° across, these are ≤ 5°) stay in int64 no
      // matter where on the globe the ring sits — e7 coords would
      // overflow the cubic, which is why the scale is e5 (~1 m,
      // centroid-grade). The translation is exact, shifting the
      // centroid by exactly (mx, my). One narrow codegen pass over
      // the assembled ring arrays (the assembly groupBy is the only
      // exchange); cx = mx + cx_num/(3·a2) with truncating div
      // mirrored in the oracle, a2 = the signed doubled area in e5²
      // units (ccw rings ⇒ a2 > 0).
      val rings = SpatialJoin.polygons(
        SynthUniverse.wayMembers(s, dir), SynthUniverse.nodes(s, dir))
      rings
        .select(col("way_id"),
          expr("transform(xs, v -> CAST(round(v * 1e5) AS BIGINT))").as("xe"),
          expr("transform(ys, v -> CAST(round(v * 1e5) AS BIGINT))").as("ye"))
        .select(col("way_id"),
          array_min(col("xe")).as("mx"), array_min(col("ye")).as("my"),
          col("xe"), col("ye"))
        .select(col("way_id"), col("mx"), col("my"),
          expr("transform(xe, v -> v - mx)").as("lx"),
          expr("transform(ye, v -> v - my)").as("ly"))
        .select(col("way_id"), col("mx"), col("my"),
          expr("aggregate(sequence(0, size(lx) - 2), 0L, (acc, i) -> " +
            "acc + lx[i]*ly[i+1] - lx[i+1]*ly[i])").as("a2"),
          expr("aggregate(sequence(0, size(lx) - 2), 0L, (acc, i) -> " +
            "acc + (lx[i] + lx[i+1]) * (lx[i]*ly[i+1] - lx[i+1]*ly[i]))")
            .as("cx_num"),
          expr("aggregate(sequence(0, size(lx) - 2), 0L, (acc, i) -> " +
            "acc + (ly[i] + ly[i+1]) * (lx[i]*ly[i+1] - lx[i+1]*ly[i]))")
            .as("cy_num"))
        .filter(col("a2") =!= 0L)
        .select(col("way_id"), col("a2"),
          (col("mx") + expr("cx_num div (3 * a2)")).as("cx_e5"),
          (col("my") + expr("cy_num div (3 * a2)")).as("cy_e5"))
    }),
    "q225_ring_validity" -> ((s, dir) => {
      // geometry-validity audit: proper self-intersection count per
      // ring (the ingest QA gate before any PIP/overlay layer build —
      // a bowtie ring silently corrupts containment). Planted
      // defects: every 11th ring swaps vertices 1↔2, turning the
      // rectangle into a bowtie with exactly one proper crossing.
      // The non-adjacent segment-pair scan is the exact sign test
      // (q113/q149's separating arithmetic) folded ENTIRELY inside
      // one codegen pass over the assembled ring arrays — join-free,
      // O(k²) only in the bounded per-ring vertex count, never a
      // segment self-join across rings; closing-edge adjacency (pair
      // (0, n−1)) is excluded like the consecutive pairs. BIGINT e7
      // coords: the cross terms are span-quadratic, far from
      // overflow.
      val rings = SpatialJoin.polygons(
        SynthUniverse.wayMembers(s, dir), SynthUniverse.nodes(s, dir))
        .select(col("way_id"),
          expr("transform(xs, v -> CAST(round(v * 1e7) AS BIGINT))").as("xe0"),
          expr("transform(ys, v -> CAST(round(v * 1e7) AS BIGINT))").as("ye0"))
      def swapped(c: String) =
        expr(s"transform(sequence(0, size($c) - 1), i -> " +
          s"$c[CASE WHEN i = 1 THEN 2 WHEN i = 2 THEN 1 ELSE i END])")
      val tainted = rings.select(col("way_id"),
        when(col("way_id") % 11 === 0, swapped("xe0")).otherwise(col("xe0"))
          .as("xe"),
        when(col("way_id") % 11 === 0, swapped("ye0")).otherwise(col("ye0"))
          .as("ye"))
      def cr(p: String, q: String, r: String) =
        s"((xe[$q] - xe[$p]) * (ye[$r] - ye[$p]) - " +
          s"(ye[$q] - ye[$p]) * (xe[$r] - xe[$p]))"
      def opp(a: String, b: String) =
        s"(($a > 0 AND $b < 0) OR ($a < 0 AND $b > 0))"
      val proper = s"(${opp(cr("i", "i+1", "j"), cr("i", "i+1", "j+1"))} " +
        s"AND ${opp(cr("j", "j+1", "i"), cr("j", "j+1", "i+1"))})"
      tainted
        .select(col("way_id"),
          expr("IF(size(xe) <= 3, 0L, " +
            "aggregate(sequence(0, size(xe) - 4), 0L, (acc, i) -> acc + " +
            "aggregate(sequence(i + 2, size(xe) - 2), 0L, (a, j) -> a + " +
            s"IF(i = 0 AND j = size(xe) - 2, 0L, IF($proper, 1L, 0L)))))")
            .as("n_cross"))
        .select(col("way_id"), col("n_cross"),
          when(col("n_cross") === 0L, 1L).otherwise(0L).as("is_simple"))
    }),
  )

  /** q117's within-join radius (degrees): ~1 centroid match per point
    * at the synthetic layer's density. */
  val DistR = 1.0

  /** q153's raster resolution: 128x128 grid — cell edges (2.8125° x
    * 1.40625°) are EXACT binary doubles, and each synthetic rectangle
    * (<= 4.5° per axis) covers <= 12 cells. */
  val RasterRes = 7

  /** q154's raster resolution: fine enough (512x512) that the point
    * density forms multi-cell blobs with genuine boundaries (~200
    * contour blocks at sf0.01, saddles included). */
  /** q162's IDW surface over an arbitrary occupied-cell table
    * (ix, iy, cnt) on an n×n grid — factored so RasterStatPropSpec
    * can drive random grids against brute force. 5x5 scatter with
    * integer weights 10^6 div (1+d²), one shuffle, join back to
    * occupied cells. */
  private[graft] def idwOf(base: DataFrame, n: Long): DataFrame = {
    val scat = base
      .withColumn("dx", explode(sequence(lit(-2L), lit(2L))))
      .withColumn("dy", explode(sequence(lit(-2L), lit(2L))))
      .select((col("ix") + col("dx")).as("tx"), (col("iy") + col("dy")).as("ty"),
        col("cnt"), (col("dx") * col("dx") + col("dy") * col("dy")).as("d2"))
      .filter(col("tx") >= 0 && col("tx") < n && col("ty") >= 0 && col("ty") < n)
      .select(col("tx"), col("ty"),
        (col("cnt") * expr("1000000 div (1 + d2)")).as("wv"),
        expr("1000000 div (1 + d2)").as("w"))
    val agg = scat.groupBy(col("tx"), col("ty"))
      .agg(sum(col("wv")).as("num"), sum(col("w")).as("den"))
    base.join(agg, base("ix") === agg("tx") && base("iy") === agg("ty"))
      .select(col("ix"), col("iy"), col("cnt"), col("num"), col("den"),
        expr("1000 * num div den").as("idw_milli"))
  }

  /** q163's exact-integer global Moran's I over an arbitrary
    * occupied-cell table (ix, iy, cnt) — rook adjacency via the
    * shifted-cell self-equi-join, DECIMAL(38,0) products, sign-split
    * integral divide. */
  private[graft] def moranOf(cells: DataFrame): DataFrame = {
    val stats = cells.agg(count(lit(1)).as("nc"), sum(col("cnt")).as("s"))
    val d = cells.crossJoin(broadcast(stats))
      .select(col("ix"), col("iy"), (col("nc") * col("cnt") - col("s")).as("d"),
        col("nc"))
    val right = d.select((col("ix") + 1).as("ix"), col("iy"), col("d").as("d2"))
    val up = d.select(col("ix"), (col("iy") + 1).as("iy"), col("d").as("d2"))
    val adj = d.join(right.unionByName(up), Seq("ix", "iy"))
      .agg(sum(col("d").cast("decimal(38,0)") * col("d2")).as("p_half"),
        count(lit(1)).as("w_half"), first(col("nc")).as("nc"))
    val den = d.agg(sum(col("d").cast("decimal(38,0)") * col("d")).as("dd"))
    adj.crossJoin(broadcast(den))
      .select(col("nc").as("n_cells"), (col("w_half") * 2).as("w_pairs"),
        (col("p_half") * 2).as("num"), col("dd").as("den"),
        (when(col("p_half") < 0, -1L).otherwise(1L) *
          expr("abs(1000000 * nc * p_half * 2) div (w_half * 2 * dd)"))
          .as("moran_ppm"))
      .select(col("n_cells"), col("w_pairs"),
        col("num").cast("string").as("num"), col("den").cast("string").as("den"),
        col("moran_ppm"))
  }

  /** Exact rectangle-union (dissolved) area per group by integer
    * strip decomposition — input (grp, x010, y0i, w10, h10) with
    * integral coords, output (grp, area_e2). Each rect explodes into
    * unit x-strips; per (grp, strip) the y-interval union is the
    * classic running-max merge: two windows PARTITIONED by
    * (grp, strip) sharing one exchange, island extents aggregated
    * map-side. Strips are DEDUP'd first: duplicate (y0,y1) intervals
    * never change a union, and distinct rows make ORDER BY (y0i,y1i)
    * a TOTAL order — the two window stages sort independently, and
    * nondeterministic tie order between them mislabels islands
    * (observed in DuckDB). Never inclusion-exclusion, never a pair
    * join. UnionAreaPropSpec checks it against brute force on random
    * (non-grid-aligned) rectangles. */
  /** Getis-Ord Gi*-style hot/cold classification over an occupied-cell
    * raster (ix, iy, cnt) on an n×n lattice — q187's derivation,
    * factored so q241's IVM can run it on a MAINTAINED raster. The
    * population is the full lattice (empty cells carry x = 0); the
    * |z| > 2 test is the exact-integer num²·(N−1) > 4·S2N·(N·W − W²)
    * in DECIMAL(38,0). Callers cache `base` (read three times). */
  private def giStarFlags(base: DataFrame, n: Long): DataFrame = {
    val stats = base.agg(sum(col("cnt")).as("tt"),
      sum(col("cnt") * col("cnt")).as("ss"))
    val nbr = base
      .select(col("ix"), col("iy"), col("cnt"),
        explode(sequence(lit(-1), lit(1))).as("dx"))
      .select((col("ix") + col("dx")).as("tx"), col("iy"), col("cnt"),
        explode(sequence(lit(-1), lit(1))).as("dy"))
      .select(col("tx"), (col("iy") + col("dy")).as("ty"), col("cnt"))
      .filter(col("tx") >= 0 && col("tx") < n && col("ty") >= 0 && col("ty") < n)
      .groupBy(col("tx"), col("ty"))
      .agg(sum(col("cnt")).as("wsum"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val bigN = lit(n * n)
    val w = (least(col("tx") + 1, lit(n - 1)) - greatest(col("tx") - 1, lit(0L)) + 1) *
      (least(col("ty") + 1, lit(n - 1)) - greatest(col("ty") - 1, lit(0L)) + 1)
    nbr
      .join(base, col("tx") === col("ix") && col("ty") === col("iy"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("w", w)
      .withColumn("num", bigN * col("wsum") - col("tt") * col("w"))
      .withColumn("hot2",
        dec(col("num")) * dec(col("num")) * dec(bigN - 1) >
          dec(lit(4)) * (dec(bigN) * dec(col("ss")) - dec(col("tt")) * dec(col("tt"))) *
            dec(bigN * col("w") - col("w") * col("w")))
      .select(col("tx"), col("ty"), coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("w"), col("wsum"),
        when(col("num") > 0 && col("hot2"), lit("hot"))
          .when(col("num") < 0 && col("hot2"), lit("cold"))
          .otherwise(lit("none")).as("flag"))
  }

  private[graft] def unionAreaByStrips(r: DataFrame): DataFrame =
    mergeStripIvals(stripIvals(r))
      .groupBy(col("grp")).agg(sum(col("len")).as("area_e2"))

  /** Rect rows (grp, x010, y0i, w10, h10) → per-strip y-interval rows
    * (grp, sx, y0i, y1i) — q160's unit-strip explode, factored so
    * q237's IVM can explode ONLY a change batch. */
  private[graft] def stripIvals(r: DataFrame): DataFrame = r
    .withColumn("sx", explode(sequence(col("x010"), col("x010") + col("w10") - 1)))
    .select(col("grp"), col("sx"), col("y0i"), (col("y0i") + col("h10")).as("y1i"))

  /** Per-strip y-interval union lengths — input interval rows
    * (grp, sx, y0i, y1i), duplicates allowed (dedup'd: a duplicate
    * never changes a union, and distinct rows make ORDER BY
    * (y0i, y1i) TOTAL — see the q160 note above), output
    * (grp, sx, len). Two windows PARTITIONED by (grp, sx) sharing
    * one exchange, island extents aggregated map-side. */
  private[graft] def mergeStripIvals(ivals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val strips = ivals
      .select(col("grp"), col("sx"), col("y0i"), col("y1i"))
      .distinct()
    val w1 = Window
      .partitionBy(col("grp"), col("sx")).orderBy(col("y0i"), col("y1i"))
    strips
      .withColumn("runmax", max(col("y1i")).over(
        w1.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl", sum(when(col("runmax").isNull ||
          col("y0i") > col("runmax"), 1L).otherwise(0L)).over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("grp"), col("sx"), col("isl"))
      .agg((max(col("y1i")) - min(col("y0i"))).as("len"))
      .groupBy(col("grp"), col("sx")).agg(sum(col("len")).as("len"))
  }

  val ContourRes = 9

  /** q170's space-time-cube resolution: at 256x256 the entity-anchor
    * clusters spread over ~114 occupied cells with multi-count days
    * (512 dilutes last-day counts below the support floor; measured
    * 6 emerging / 114 active at sf0.01). */
  val HotspotRes = 8

  /** q157's base cover resolution: at 512x512 the rectangles cover
    * 3-8 x 5-14 cells, so complete sibling quads exist at the res-8
    * and res-7 promotion rounds, and a 4.5°-wide rectangle can just
    * cover a complete aligned 8x8 block (8 x 0.703° needs > 4.22° of
    * span), so res-6 parents occur too. Res 5 (16x16, > 10.5°) is
    * geometrically impossible — the ladder's true floor. */
  val CompactBase = 9

  /** q131's pyramid levels (finest first). */
  val PyramidLevels: Seq[Int] = Seq(5, 4, 3, 2)

  /** q126's stop radius (degrees): ~10% of the synthetic trajectory
    * steps stay inside it, so multi-point dwell runs genuinely occur
    * while most steps remain movement. */
  val StopR = 0.5

  /** q118's map-matching gating radius (degrees): a handful of
    * candidate segments per point at the synthetic road density (every
    * point finds a match at sf0.01; the gating drop is exercised by
    * the out-of-radius candidates the refine discards). */
  val MatchR = 2.0

  /** q114's doubled-triangle-area keep threshold (area2_e7 units,
    * i.e. 100 deg² of doubled area). The synthetic tracks are almost
    * perfectly collinear (consecutive positions advance by a constant
    * modular stride), so >90% of interior vertices carry area 0 —
    * exactly what decimation drops; survivors are the modular-wrap
    * corners (~2.5% of vertices at sf0.01) plus both endpoints of
    * every track. */
  val DecimateT = 1000000000L

  /** q239's split tolerance in e3 milli-degrees (50°·10³: the synthetic
    * tracks jump across the whole map, so chord distances are ~10⁵ e3
    * units — 50° finalizes some chords in every round while others
    * split to the full depth; measured non-degenerate at every sf). */
  val DpEpsE3 = 50000L

  /** q239's oracle: the identical K-round Douglas-Peucker recurrence as
    * chained CTEs (one per round; each references only its predecessor,
    * so DuckDB's textual inlining stays linear). */
  /** q187/q241's shared Gi* oracle — `pointsWith` supplies the CTE(s)
    * ending in a `points(doc_id, entity, lon, lat)` relation (the raw
    * corpus for q187, the post-change corpus for q241's IVM). */
  private def giStarOracle(pointsWith: String): String = {
    val n = graft.geo.CellIndex.width(7)
    val bigN = n * n
    s"""WITH $pointsWith,
       |b AS (SELECT
       |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
       |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy
       |  FROM points),
       |c AS (SELECT ix, iy, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |g AS (SELECT SUM(cnt) AS tt, SUM(cnt*cnt) AS ss FROM c),
       |nbr AS (SELECT ix + dx AS tx, iy + dy AS ty,
       |    CAST(SUM(cnt) AS BIGINT) AS wsum
       |  FROM c, range(-1, 2) t1(dx), range(-1, 2) t2(dy)
       |  WHERE ix + dx BETWEEN 0 AND ${n - 1} AND iy + dy BETWEEN 0 AND ${n - 1}
       |  GROUP BY 1, 2),
       |j AS (SELECT nbr.tx, nbr.ty, COALESCE(c.cnt, 0) AS cnt, nbr.wsum,
       |    (LEAST(nbr.tx + 1, ${n - 1}) - GREATEST(nbr.tx - 1, 0) + 1)
       |      * (LEAST(nbr.ty + 1, ${n - 1}) - GREATEST(nbr.ty - 1, 0) + 1) AS w,
       |    g.tt, g.ss
       |  FROM nbr LEFT JOIN c ON c.ix = nbr.tx AND c.iy = nbr.ty CROSS JOIN g),
       |k AS (SELECT tx, ty, cnt, w, wsum,
       |    $bigN * wsum - tt * w AS num,
       |    CAST($bigN * wsum - tt * w AS HUGEINT)
       |      * CAST($bigN * wsum - tt * w AS HUGEINT)
       |      * ${bigN - 1}::HUGEINT >
       |    4::HUGEINT * ($bigN::HUGEINT * CAST(ss AS HUGEINT)
       |        - CAST(tt AS HUGEINT) * CAST(tt AS HUGEINT))
       |      * CAST($bigN * w - w * w AS HUGEINT) AS hot2
       |  FROM j)
       |SELECT tx, ty, cnt, w, wsum,
       |  CASE WHEN num > 0 AND hot2 THEN 'hot'
       |       WHEN num < 0 AND hot2 THEN 'cold'
       |       ELSE 'none' END AS flag
       |FROM k""".stripMargin
  }

  /** q258's interchange alphabet (the standard geohash base32). */
  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** q259's facility constants: (entity, hash60 mod 320000,
    * hash60("lat:"+e) mod 150000) — the SAME md5-derived integers the
    * synth points use, computed driver-side so both engines build the
    * identical double expression tree from them. Sorted by name for a
    * deterministic tie order. */
  lazy val GazetteerSites: Seq[(String, Long, Long)] = {
    def h60(x: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    SynthUniverse.Gazetteer.sorted.map(e =>
      (e, h60(e) % 320000L, h60("lat:" + e) % 150000L))
  }

  /** q254's oracle: the identical Viterbi recurrence as a recursive
    * CTE with R explicit state columns (c0..c7) and generated LEAST
    * chains — both engines walk the same BIGINTs step for step. */
  private def viterbiSql: String = {
    val R = 8; val lam = 30000L
    def road(j: Int) = -70000L + j * 20000L
    def em(j: Int, ref: String) = s"abs($ref - (${road(j)}))"
    val initCols = (0 until R).map(j => s"${em(j, "y")} AS c$j").mkString(", ")
    val stepCols = (0 until R).map { j =>
      val best = (0 until R)
        .map(i => s"r.c$i + ${lam * math.abs(i - j)}")
        .mkString("LEAST(", ", ", ")")
      s"${em(j, "t.y")} + $best AS c$j"
    }.mkString(",\n    ")
    s"""WITH RECURSIVE t AS (
       |  SELECT user_id AS u,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS pos,
       |    event_id*23 % 150000 - 75000 AS y,
       |    COUNT(*) OVER (PARTITION BY user_id) AS np
       |  FROM events),
       |r AS (
       |  SELECT u, pos, np, $initCols FROM t WHERE pos = 1
       |  UNION ALL
       |  SELECT t.u, t.pos, t.np, $stepCols
       |  FROM r JOIN t ON t.u = r.u AND t.pos = r.pos + 1),
       |fin AS (SELECT u, np, [c0, c1, c2, c3, c4, c5, c6, c7] AS cs
       |  FROM r WHERE pos = np)
       |SELECT u AS user_id, CAST(np AS BIGINT) AS n_points,
       |  CAST(list_min(cs) AS BIGINT) AS total_cost,
       |  CAST(list_position(cs, list_min(cs)) - 1 AS BIGINT) AS best_road
       |FROM fin""".stripMargin
  }

  private def dpSimplifySql(rounds: Int): String = {
    val eps2 = DpEpsE3 * DpEpsE3
    val base =
      """t0 AS (
        |  SELECT u, pos, x, y, pos = 1 OR pos = np AS k FROM (
        |    SELECT user_id AS u,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |      COUNT(*) OVER (PARTITION BY user_id) AS np,
        |      event_id*17 % 320000 - 160000 AS x,
        |      event_id*23 % 150000 - 75000 AS y
        |    FROM events))""".stripMargin
    val rs = (1 to rounds).map { r =>
      s"""t$r AS (
         |  SELECT u, pos, x, y,
         |    k OR (pos = mpos AND CAST(a2 AS HUGEINT) * a2 >
         |      $eps2 * CAST(len2 AS HUGEINT)) AS k
         |  FROM (
         |    SELECT u, pos, x, y, k, a2, len2, mx, b0,
         |      MIN(CASE WHEN a2 = mx THEN pos END)
         |        OVER (PARTITION BY u, b0) AS mpos
         |    FROM (
         |      SELECT u, pos, x, y, k, a2, len2, b0,
         |        MAX(a2) OVER (PARTITION BY u, b0) AS mx
         |      FROM (
         |        SELECT u, pos, x, y, k, b0,
         |          CASE WHEN k THEN NULL
         |            ELSE abs((x1-x0)*(y-y0) - (y1-y0)*(x-x0)) END AS a2,
         |          (x1-x0)*(x1-x0) + (y1-y0)*(y1-y0) AS len2
         |        FROM (
         |          SELECT u, pos, x, y, k,
         |            last_value(CASE WHEN k THEN pos END IGNORE NULLS) OVER wp AS b0,
         |            last_value(CASE WHEN k THEN x END IGNORE NULLS) OVER wp AS x0,
         |            last_value(CASE WHEN k THEN y END IGNORE NULLS) OVER wp AS y0,
         |            first_value(CASE WHEN k THEN x END IGNORE NULLS) OVER wf AS x1,
         |            first_value(CASE WHEN k THEN y END IGNORE NULLS) OVER wf AS y1
         |          FROM t${r - 1}
         |          WINDOW wp AS (PARTITION BY u ORDER BY pos
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |            wf AS (PARTITION BY u ORDER BY pos
         |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)))))
         |)""".stripMargin
    }
    s"""WITH $base,
       |${rs.mkString(",\n")}
       |SELECT u AS user_id, pos, x, y FROM t$rounds WHERE k""".stripMargin
  }

  /** One oracle for both multipolygon paths — the salted plan must
    * reproduce the auto plan's rows exactly. */
  private lazy val multiPipOracle: String =
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte}, ${SynthSql.relMembersCte}
         |SELECT DISTINCT p.doc_id, p.entity, r.rel_id
         |FROM points p, (
         |  SELECT rm.rel_id, w.x0, w.y0, w.w, w.h
         |  FROM rel_members rm JOIN ways w ON rm.member_id = w.way_id
         |  WHERE rm.role = 'outer') r
         |WHERE p.lon BETWEEN r.x0 AND r.x0 + r.w
         |  AND p.lat BETWEEN r.y0 AND r.y0 + r.h
         |  AND NOT EXISTS (
         |    SELECT 1 FROM rel_members rm2 JOIN ways w2 ON rm2.member_id = w2.way_id
         |    WHERE rm2.rel_id = r.rel_id AND rm2.role = 'inner'
         |      AND p.lon BETWEEN w2.x0 AND w2.x0 + w2.w
         |      AND p.lat BETWEEN w2.y0 AND w2.y0 + w2.h)""".stripMargin

  lazy val oracles: Map[String, String] = Map(
    // same strip-sweep as the Spark plan (the closed-form synthetic
    // rects are exactly unit-strip-decomposable); `//` floors where
    // Spark `div` truncates — all operands here are non-negative
    "q160_union_area" ->
      """WITH r AS (SELECT o_orderkey % 8 AS grp,
        |    (o_orderkey*13 % 320)*10 - 1600 AS x010,
        |    (o_orderkey*29 % 150)*10 - 750 AS y0i,
        |    15 + (o_orderkey % 16)*2 AS w10,
        |    15 + (o_orderkey*3 % 16)*2 AS h10
        |  FROM orders),
        |strips AS (SELECT DISTINCT grp,
        |    unnest(generate_series(x010, x010 + w10 - 1)) AS sx,
        |    y0i, y0i + h10 AS y1i FROM r),
        |m AS (SELECT grp, sx, y0i, y1i,
        |    MAX(y1i) OVER (PARTITION BY grp, sx ORDER BY y0i, y1i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |  FROM strips),
        |i AS (SELECT grp, sx, y0i, y1i,
        |    SUM(CASE WHEN runmax IS NULL OR y0i > runmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY grp, sx ORDER BY y0i, y1i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m),
        |isle AS (SELECT grp, sx, isl, MAX(y1i) - MIN(y0i) AS len
        |  FROM i GROUP BY 1, 2, 3),
        |merged AS (SELECT grp, CAST(SUM(len) AS BIGINT) AS area_e2
        |  FROM isle GROUP BY 1),
        |tot AS (SELECT grp, COUNT(*) AS n_rects,
        |    CAST(SUM(w10 * h10) AS BIGINT) AS sum_e2 FROM r GROUP BY 1)
        |SELECT t.grp, n_rects, area_e2, sum_e2,
        |  CAST(10000 * area_e2 // sum_e2 AS BIGINT) AS dissolve_bp
        |FROM tot t JOIN merged USING (grp)""".stripMargin,
    // both layer variants re-derived by the same strip-merge chain,
    // once over the raw rects and once over the inflated ones
    "q244_buffered_union_area" -> {
      def chain(src: String, out: String): String =
        s"""strips_$out AS (SELECT DISTINCT grp,
           |    unnest(generate_series(x010, x010 + w10 - 1)) AS sx,
           |    y0i, y0i + h10 AS y1i FROM $src),
           |m_$out AS (SELECT grp, sx, y0i, y1i,
           |    MAX(y1i) OVER (PARTITION BY grp, sx ORDER BY y0i, y1i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
           |  FROM strips_$out),
           |i_$out AS (SELECT grp, sx, y0i, y1i,
           |    SUM(CASE WHEN runmax IS NULL OR y0i > runmax THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY grp, sx ORDER BY y0i, y1i
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
           |  FROM m_$out),
           |isle_$out AS (SELECT grp, sx, isl, MAX(y1i) - MIN(y0i) AS len
           |  FROM i_$out GROUP BY 1, 2, 3),
           |$out AS (SELECT grp, CAST(SUM(len) AS BIGINT) AS area_e2
           |  FROM isle_$out GROUP BY 1)""".stripMargin
      s"""WITH r AS (SELECT o_orderkey % 8 AS grp,
         |    (o_orderkey*13 % 320)*10 - 1600 AS x010,
         |    (o_orderkey*29 % 150)*10 - 750 AS y0i,
         |    15 + (o_orderkey % 16)*2 AS w10,
         |    15 + (o_orderkey*3 % 16)*2 AS h10
         |  FROM orders),
         |buf AS (SELECT grp, x010 - 3 AS x010, y0i - 3 AS y0i,
         |    w10 + 6 AS w10, h10 + 6 AS h10 FROM r),
         |${chain("r", "raw")},
         |${chain("buf", "bufu")}
         |SELECT raw.grp, raw.area_e2 AS raw_e2, bufu.area_e2 AS buf_e2,
         |  CAST(10000 * bufu.area_e2 // raw.area_e2 AS BIGINT) AS growth_bp
         |FROM raw JOIN bufu USING (grp)""".stripMargin
    },
    // full strip-level re-merge of the POST-change rect set — the
    // incremental plan must reproduce it byte-for-byte
    "q237_incremental_union_area" ->
      """WITH r AS (SELECT o_orderkey AS k, o_orderkey % 8 AS grp,
        |    (o_orderkey*13 % 320)*10 - 1600 AS x010,
        |    (o_orderkey*29 % 150)*10 - 750 AS y0i,
        |    15 + (o_orderkey % 16)*2 AS w10,
        |    15 + (o_orderkey*3 % 16)*2 AS h10
        |  FROM orders),
        |post AS (SELECT grp, x010, y0i,
        |    CASE WHEN k % 7 = 3 THEN w10 + 4 ELSE w10 END AS w10, h10
        |  FROM r WHERE k % 13 <> 5),
        |strips AS (SELECT DISTINCT grp,
        |    unnest(generate_series(x010, x010 + w10 - 1)) AS sx,
        |    y0i, y0i + h10 AS y1i FROM post),
        |m AS (SELECT grp, sx, y0i, y1i,
        |    MAX(y1i) OVER (PARTITION BY grp, sx ORDER BY y0i, y1i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
        |  FROM strips),
        |i AS (SELECT grp, sx, y0i, y1i,
        |    SUM(CASE WHEN runmax IS NULL OR y0i > runmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY grp, sx ORDER BY y0i, y1i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM m),
        |isle AS (SELECT grp, sx, isl, MAX(y1i) - MIN(y0i) AS len
        |  FROM i GROUP BY 1, 2, 3)
        |SELECT grp, sx, CAST(SUM(len) AS BIGINT) AS len
        |FROM isle GROUP BY 1, 2""".stripMargin,
    "q239_simplify_dp" -> dpSimplifySql(3),
    "q254_viterbi_map_match" -> viterbiSql,
    "q255_join_cardinality_estimate" -> {
      def q8(v: String): String =
        s"LEAST(GREATEST(CAST(FLOOR($v) AS BIGINT), 0), 255)"
      s"""WITH ${SynthSql.pointsCte}, ${SynthSql.waysCte},
         |pa AS (SELECT
         |    ${q8("(lon + 180.0) / 360.0 * 256")} AS ix,
         |    ${q8("(lat + 90.0) / 180.0 * 256")} AS iy,
         |    COUNT(*) AS na
         |  FROM points GROUP BY 1, 2),
         |wb AS (SELECT
         |    unnest(generate_series(${q8("(x0 + 180.0) / 360.0 * 256")},
         |      ${q8("(x0 + w + 180.0) / 360.0 * 256")})) AS ix,
         |    iy
         |  FROM (SELECT x0, w,
         |      unnest(generate_series(${q8("(y0 + 90.0) / 180.0 * 256")},
         |        ${q8("(y0 + h + 90.0) / 180.0 * 256")})) AS iy
         |    FROM ways)),
         |pb AS (SELECT ix, iy, COUNT(*) AS nb FROM wb GROUP BY 1, 2),
         |fine AS (SELECT pa.ix // 8 AS cx, pa.iy // 8 AS cy,
         |    CAST(SUM(na * nb) AS BIGINT) AS actual
         |  FROM pa JOIN pb ON pa.ix = pb.ix AND pa.iy = pb.iy
         |  GROUP BY 1, 2),
         |ca AS (SELECT ix // 8 AS cx, iy // 8 AS cy,
         |    CAST(SUM(na) AS BIGINT) AS na5 FROM pa GROUP BY 1, 2),
         |cb AS (SELECT ix // 8 AS cx, iy // 8 AS cy,
         |    CAST(SUM(nb) AS BIGINT) AS nb5 FROM pb GROUP BY 1, 2)
         |SELECT ca.cx, ca.cy, na5, nb5,
         |  CAST(na5 * nb5 // 64 AS BIGINT) AS est,
         |  COALESCE(actual, 0) AS actual,
         |  CAST(abs(na5 * nb5 // 64 - COALESCE(actual, 0)) * 1000000
         |    // GREATEST(COALESCE(actual, 0), 1) AS BIGINT) AS err_ppm
         |FROM ca JOIN cb USING (cx, cy)
         |LEFT JOIN fine USING (cx, cy)""".stripMargin
    },
    // independent formulation: the quadratic bbox containment join the
    // Spark plan's corner-cell prefilter exists to avoid
    "q238_admin_hierarchy" ->
      """WITH lay AS (SELECT o_orderkey AS way_id,
        |    (o_orderkey*13 % 320)*10 - 1600 AS x,
        |    (o_orderkey*29 % 150)*10 - 750 AS y,
        |    CASE o_orderkey % 3 WHEN 0 THEN 300 + (o_orderkey % 16)*20
        |         WHEN 1 THEN 60 + (o_orderkey % 16)*4
        |         ELSE 10 + (o_orderkey % 16) END AS w,
        |    CASE o_orderkey % 3 WHEN 0 THEN 300 + (o_orderkey*3 % 16)*20
        |         WHEN 1 THEN 60 + (o_orderkey*3 % 16)*4
        |         ELSE 10 + (o_orderkey*3 % 16) END AS h
        |  FROM orders),
        |pairs AS (SELECT b.way_id AS child_id, b.w*b.h AS carea,
        |    a.way_id AS pid, a.w*a.h AS parea
        |  FROM lay a JOIN lay b
        |    ON a.x <= b.x AND a.y <= b.y
        |   AND a.x + a.w >= b.x + b.w AND a.y + a.h >= b.y + b.h
        |   AND a.w*a.h > b.w*b.h)
        |SELECT child_id, pid AS parent_id, parea AS parent_area,
        |  carea AS child_area
        |FROM pairs
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY child_id
        |  ORDER BY parea, pid) = 1""".stripMargin,
    "q170_emerging_hotspot" -> {
      val n = graft.geo.CellIndex.width(HotspotRes)
      s"""WITH ${SynthSql.pointsCte},
         |c AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
         |    doc_id % 30 AS day, COUNT(*) AS cnt
         |  FROM points GROUP BY 1, 2, 3),
         |agg AS (SELECT ix, iy,
         |    CAST(SUM(CASE WHEN day = 29 THEN cnt ELSE 0 END) AS BIGINT) AS cl,
         |    CAST(SUM(CASE WHEN day BETWEEN 22 AND 28 THEN cnt ELSE 0 END) AS BIGINT) AS tr
         |  FROM c GROUP BY 1, 2)
         |SELECT ix, iy, cl, tr,
         |  (cl >= 3 AND cl * 7 > tr * 2) AS emerging,
         |  CAST(10000 * 7 * cl // GREATEST(tr, 1) AS BIGINT) AS ratio_bp
         |FROM agg WHERE cl > 0""".stripMargin
    },
    // every operand non-negative, so DuckDB `//` (floor) == Spark
    // `div` (trunc) in both the weight and the final milli divide
    "q162_idw" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |c AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
         |    COUNT(*) AS cnt
         |  FROM points GROUP BY 1, 2),
         |scat AS (SELECT ix + dx AS tx, iy + dy AS ty,
         |    cnt * (1000000 // (1 + dx*dx + dy*dy)) AS wv,
         |    1000000 // (1 + dx*dx + dy*dy) AS w
         |  FROM c, range(-2, 3) a(dx), range(-2, 3) b(dy)
         |  WHERE ix + dx >= 0 AND ix + dx < $n
         |    AND iy + dy >= 0 AND iy + dy < $n),
         |agg AS (SELECT tx, ty, CAST(SUM(wv) AS BIGINT) AS num,
         |    CAST(SUM(w) AS BIGINT) AS den
         |  FROM scat GROUP BY 1, 2)
         |SELECT ix, iy, cnt, num, den,
         |  CAST(1000 * num // den AS BIGINT) AS idw_milli
         |FROM c JOIN agg ON c.ix = agg.tx AND c.iy = agg.ty""".stripMargin
    },
    // HUGEINT carries the d_i*d_j products (Spark side: DECIMAL(38,0));
    // sign-split abs//positive makes DuckDB floor == Spark trunc
    "q163_moran" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |c AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
         |    COUNT(*) AS cnt
         |  FROM points GROUP BY 1, 2),
         |s AS (SELECT COUNT(*) AS nc, CAST(SUM(cnt) AS BIGINT) AS sm FROM c),
         |d AS (SELECT ix, iy, nc * cnt - sm AS dv, nc FROM c, s),
         |nb AS (SELECT ix + 1 AS ix, iy, dv AS d2 FROM d
         |       UNION ALL SELECT ix, iy + 1 AS iy, dv AS d2 FROM d),
         |adj AS (SELECT CAST(SUM(CAST(a.dv AS HUGEINT) * nb.d2) AS HUGEINT) AS p_half,
         |    COUNT(*) AS w_half, MAX(a.nc) AS nc
         |  FROM d a JOIN nb USING (ix, iy)),
         |dn AS (SELECT CAST(SUM(CAST(dv AS HUGEINT) * dv) AS HUGEINT) AS dd FROM d)
         |SELECT nc AS n_cells, w_half * 2 AS w_pairs,
         |  CAST(p_half * 2 AS VARCHAR) AS num, CAST(dd AS VARCHAR) AS den,
         |  CAST((CASE WHEN p_half < 0 THEN -1 ELSE 1 END)
         |    * (abs(CAST(1000000 AS HUGEINT) * nc * p_half * 2) // (w_half * 2 * dd))
         |    AS BIGINT) AS moran_ppm
         |FROM adj, dn""".stripMargin
    },
    "q235_lisa" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |c AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
         |    COUNT(*) AS cnt
         |  FROM points GROUP BY 1, 2),
         |s AS (SELECT COUNT(*) AS nc, CAST(SUM(cnt) AS BIGINT) AS sm FROM c),
         |d AS (SELECT ix, iy, nc * cnt - sm AS dv FROM c, s),
         |nb AS (SELECT ix + 1 AS ix, iy, dv AS nd FROM d
         |  UNION ALL SELECT ix - 1, iy, dv FROM d
         |  UNION ALL SELECT ix, iy + 1, dv FROM d
         |  UNION ALL SELECT ix, iy - 1, dv FROM d),
         |lg AS (SELECT ix, iy, CAST(SUM(nd) AS BIGINT) AS lag,
         |    COUNT(*) AS wn FROM nb GROUP BY 1, 2)
         |SELECT d.ix, d.iy, dv AS d,
         |  COALESCE(wn, 0) AS wn, COALESCE(lag, 0) AS lag,
         |  CAST(CAST(dv AS HUGEINT) * COALESCE(lag, 0) AS VARCHAR) AS ii,
         |  CASE WHEN dv > 0 AND COALESCE(lag, 0) > 0 THEN 'HH'
         |       WHEN dv < 0 AND COALESCE(lag, 0) < 0 THEN 'LL'
         |       WHEN dv > 0 AND COALESCE(lag, 0) < 0 THEN 'HL'
         |       WHEN dv < 0 AND COALESCE(lag, 0) > 0 THEN 'LH'
         |       ELSE 'NS' END AS cls
         |FROM d LEFT JOIN lg USING (ix, iy)""".stripMargin
    },
    // the straddle-sign predicate keeps LEAST/GREATEST out of the join
    // condition (flat CTE projections — q113's DuckDB caveat)
    "q149_segment_intersect" ->
      s"""WITH ${SynthSql.waysCte},
         |diag AS (SELECT way_id, x0 AS ax, y0 AS ay,
         |  x0 + w AS bx, y0 + h AS by FROM ways),
         |seg0 AS (SELECT event_id AS seg_id,
         |  CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS px,
         |  CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS py
         |  FROM events),
         |seg1 AS (SELECT seg_id, px, py,
         |  px + (CAST(seg_id*31 % 200 AS DOUBLE) / 100.0 - 1.0) AS qx,
         |  py + (CAST(seg_id*37 % 200 AS DOUBLE) / 100.0 - 1.0) AS qy
         |  FROM seg0),
         |seg AS (SELECT seg_id, px, py, qx, qy,
         |  LEAST(px, qx) AS sminx, GREATEST(px, qx) AS smaxx,
         |  LEAST(py, qy) AS sminy, GREATEST(py, qy) AS smaxy FROM seg1),
         |cand AS (
         |  SELECT seg_id, way_id,
         |    (s.qx - s.px)*(d.ay - s.py) - (s.qy - s.py)*(d.ax - s.px) AS d1,
         |    (s.qx - s.px)*(d.by - s.py) - (s.qy - s.py)*(d.bx - s.px) AS d2,
         |    (d.bx - d.ax)*(s.py - d.ay) - (d.by - d.ay)*(s.px - d.ax) AS d3,
         |    (d.bx - d.ax)*(s.qy - d.ay) - (d.by - d.ay)*(s.qx - d.ax) AS d4
         |  FROM seg s JOIN diag d
         |    ON s.sminx <= d.bx AND d.ax <= s.smaxx
         |   AND s.sminy <= d.by AND d.ay <= s.smaxy)
         |SELECT seg_id, way_id FROM cand
         |WHERE LEAST(d1, d2) <= 0 AND GREATEST(d1, d2) >= 0
         |  AND LEAST(d3, d4) <= 0 AND GREATEST(d3, d4) >= 0""".stripMargin,
    "q153_rasterize_coverage" -> {
      val n = graft.geo.CellIndex.width(RasterRes)
      s"""WITH ${SynthSql.waysCte},
         |c AS (SELECT way_id, x0, y0, w, h,
         |    unnest(range(CAST(FLOOR((x0 + 180.0) / 360.0 * $n) AS BIGINT),
         |                 CAST(FLOOR((x0 + w + 180.0) / 360.0 * $n) AS BIGINT) + 1)) AS ix
         |  FROM ways),
         |cc AS (SELECT way_id, x0, y0, w, h, ix,
         |    unnest(range(CAST(FLOOR((y0 + 90.0) / 180.0 * $n) AS BIGINT),
         |                 CAST(FLOOR((y0 + h + 90.0) / 180.0 * $n) AS BIGINT) + 1)) AS iy
         |  FROM c),
         |o AS (SELECT way_id,
         |    ((${RasterRes.toLong << graft.geo.CellIndex.ResShift}::BIGINT)
         |      | (ix << ${graft.geo.CellIndex.XShift}) | iy) AS cell,
         |    LEAST(x0 + w, ix / $n.0 * 360.0 - 180.0 + 360.0 / $n)
         |      - GREATEST(x0, ix / $n.0 * 360.0 - 180.0) AS ow,
         |    LEAST(y0 + h, iy / $n.0 * 180.0 - 90.0 + 180.0 / $n)
         |      - GREATEST(y0, iy / $n.0 * 180.0 - 90.0) AS oh
         |  FROM cc)
         |SELECT way_id, cell,
         |  CAST(ROUND(ow * oh / (360.0 / $n) / (180.0 / $n) * 1000000.0, 0) AS BIGINT)
         |    AS coverage_ppm
         |FROM o WHERE ow > 0.0 AND oh > 0.0""".stripMargin
    },
    "q157_compact_cover" -> {
      import graft.geo.CellIndex.{ResShift, XShift}
      val n9 = graft.geo.CellIndex.width(CompactBase)
      def pack(r: Int) =
        s"((${r.toLong << ResShift}::BIGINT) | (ix << $XShift) | iy)"
      // one CTE stage per promotion round, mirroring the Spark loop
      val rounds = (CompactBase until 6 by -1).map { r =>
        s"""p$r AS (SELECT way_id, ix >> 1 AS px, iy >> 1 AS py,
           |    COUNT(*) AS nc
           |  FROM c$r GROUP BY 1, 2, 3),
           |k$r AS (SELECT c$r.way_id, ${pack(r)} AS cell
           |  FROM c$r JOIN p$r ON c$r.way_id = p$r.way_id
           |    AND (c$r.ix >> 1) = p$r.px AND (c$r.iy >> 1) = p$r.py
           |  WHERE p$r.nc < 4),
           |c${r - 1} AS (SELECT way_id, px AS ix, py AS iy
           |  FROM p$r WHERE nc = 4)""".stripMargin
      }.mkString(",\n")
      val keeps = (CompactBase until 6 by -1)
        .map(r => s"SELECT way_id, cell FROM k$r").mkString("\nUNION ALL\n")
      s"""WITH ${SynthSql.waysCte},
         |cx AS (SELECT way_id, y0, h,
         |    unnest(range(CAST(FLOOR((x0 + 180.0) / 360.0 * $n9) AS BIGINT),
         |      CAST(FLOOR((x0 + w + 180.0) / 360.0 * $n9) AS BIGINT) + 1)) AS ix
         |  FROM ways),
         |c$CompactBase AS (SELECT way_id, ix,
         |    unnest(range(CAST(FLOOR((y0 + 90.0) / 180.0 * $n9) AS BIGINT),
         |      CAST(FLOOR((y0 + h + 90.0) / 180.0 * $n9) AS BIGINT) + 1)) AS iy
         |  FROM cx),
         |$rounds
         |SELECT way_id, cell, CAST(cell >> $ResShift AS INT) AS res FROM (
         |$keeps
         |UNION ALL
         |SELECT way_id, ${pack(6)} AS cell FROM c6)""".stripMargin
    },
    "q158_cotraveler_pairs" ->
      s"""WITH pos AS (SELECT user_id,
         |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
         |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
         |  FROM events),
         |t AS (SELECT DISTINCT user_id,
         |    ${GeoFunctions.cellAtSql("lon", "lat", TileRes)} AS tile
         |  FROM pos),
         |sz AS (SELECT user_id, COUNT(*) AS nt FROM t GROUP BY 1),
         |p AS (SELECT a.user_id AS user_a, b.user_id AS user_b,
         |    COUNT(*) AS n_shared
         |  FROM t a JOIN t b ON a.tile = b.tile AND a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 20)
         |SELECT user_a, user_b, n_shared,
         |  n_shared * 10000 // (sa.nt + sb.nt - n_shared) AS jaccard_bp
         |FROM p JOIN sz sa ON p.user_a = sa.user_id
         |       JOIN sz sb ON p.user_b = sb.user_id""".stripMargin,
    // venue doubles are exact (6.0/1.0/1.5-degree steps), so the cell
    // encode folds bit-identically; floor(epoch/3600) == Spark's
    // truncate-then-div (a sub-second fraction cannot cross an hour)
    "q269_spacetime_contact" ->
      s"""WITH pos AS (
         |  SELECT user_id, CAST(FLOOR(epoch(ts)/3600) AS BIGINT) AS slot
         |  FROM events),
         |p2 AS (
         |  SELECT user_id, slot,
         |    -150.0 + (user_id % 10) * 6.0 + (slot % 5) * 1.0 AS lon,
         |    10.0 + (user_id % 10) * 1.5 AS lat
         |  FROM pos),
         |t AS (SELECT DISTINCT user_id, slot,
         |    ${GeoFunctions.cellAtSql("lon", "lat", 9)} AS tile
         |  FROM p2)
         |SELECT a.user_id AS user_a, b.user_id AS user_b,
         |  COUNT(*) AS n_contacts
         |FROM t a JOIN t b ON a.tile = b.tile AND a.slot = b.slot
         |  AND a.user_id < b.user_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3""".stripMargin,
    "q159_spatial_balance" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |c AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
         |    COUNT(*) AS cnt
         |  FROM points GROUP BY 1, 2),
         |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, ix, iy) AS i
         |  FROM c),
         |s AS (SELECT COUNT(*) AS n_cells, CAST(SUM(cnt) AS BIGINT) AS total_points,
         |    MAX(cnt) AS max_cnt, CAST(SUM(i * cnt) AS BIGINT) AS s2
         |  FROM r)
         |SELECT n_cells, total_points, max_cnt,
         |  max_cnt * n_cells * 10000 // total_points AS max_mean_bp,
         |  20000 * s2 // (n_cells * total_points)
         |    - 10000 * (n_cells + 1) // n_cells AS gini_bp
         |FROM s""".stripMargin
    },
    // the oracle prefilters pairs by the version-independent y-extent
    // and the all-version x-ENVELOPE (a superset of every version's
    // range, so the MAX(v) pick sees exactly the valid versions);
    // final containment tests the CHOSEN version only — mirroring the
    // Spark plan's cell-join superset + post-aggregate refine
    "q156_temporal_pip" ->
      s"""WITH ${SynthSql.waysCte},
         |pos AS (SELECT event_id, ts,
         |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
         |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
         |  FROM events),
         |cand AS (SELECT p.event_id, p.ts, p.lon, w.way_id, w.x0, w.w
         |  FROM pos p JOIN ways w
         |    ON p.lat >= w.y0 AND p.lat <= w.y0 + w.h
         |   AND p.lon >= w.x0 AND p.lon <= w.x0 + 0.5 + w.w),
         |vv AS (SELECT event_id, way_id, lon, x0, w, MAX(v) AS version
         |  FROM cand,
         |    LATERAL unnest(generate_series(1, 1 + way_id % 3)) AS g(v)
         |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'
         |    + (way_id % 86400 + (v - 1) * 604800) * INTERVAL 1 SECOND
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT event_id, way_id, version FROM vv
         |WHERE lon >= x0 + (version - 1) * 0.25
         |  AND lon <= x0 + (version - 1) * 0.25 + w""".stripMargin,
    "q154_contours" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |c AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
         |    COUNT(*) AS cnt
         |  FROM points GROUP BY 1, 2),
         |t AS (SELECT SUM(cnt) // COUNT(*) AS thr FROM c),
         |blocks AS (
         |  SELECT ix - dx AS bx, iy - dy AS by,
         |    CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1
         |                  WHEN dx = 1 AND dy = 0 THEN 2
         |                  WHEN dx = 1 AND dy = 1 THEN 4 ELSE 8 END) AS BIGINT) AS mcase
         |  FROM c, t, range(0, 2) a(dx), range(0, 2) b(dy)
         |  WHERE c.cnt >= t.thr GROUP BY 1, 2)
         |SELECT bx, by, mcase,
         |  CASE WHEN mcase IN (5, 10) THEN 2::BIGINT ELSE 1::BIGINT END AS n_segs
         |FROM blocks WHERE mcase BETWEEN 1 AND 14""".stripMargin
    },
    // cluster labels via full transitive closure + MIN — the small-scale
    // truth the alternating-star plan must reproduce exactly (the
    // abs<=1 self-pair keeps singleton core cells labeled with their
    // own key, mirroring the Spark side's coalesce)
    "q141_grid_cluster" ->
      s"""WITH RECURSIVE ${SynthSql.pointsCte},
         |cells AS (
         |  SELECT CAST(FLOOR(lon/2.0) AS BIGINT) AS cx,
         |    CAST(FLOOR(lat/2.0) AS BIGINT) AS cy, COUNT(*) AS n_points
         |  FROM points GROUP BY 1, 2),
         |core AS (
         |  SELECT cx, cy, n_points, (cx+1000)*100000 + cy + 1000 AS k
         |  FROM cells WHERE n_points >= 40),
         |edges AS (
         |  SELECT a.k AS src, b.k AS dst FROM core a JOIN core b
         |  ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |labels AS (SELECT src AS k, MIN(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT c.cx, c.cy, CAST(c.n_points AS BIGINT) AS n_points, l.cluster_id
         |FROM core c JOIN labels l ON c.k = l.k""".stripMargin,
    "q29_extract_entities" ->
      s"""WITH ${SynthSql.pointsCte}
         |SELECT doc_id, entity,
         |  CAST(ROUND(lon*10000000,0) AS BIGINT) AS lon_e7,
         |  CAST(ROUND(lat*10000000,0) AS BIGINT) AS lat_e7
         |FROM points""".stripMargin,
    "q30_pip_join" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte}
         |SELECT doc_id, entity, way_id
         |FROM points JOIN ways
         |  ON lon BETWEEN x0 AND x0 + w AND lat BETWEEN y0 AND y0 + h""".stripMargin,
    "q30b_pip_join_salted" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte}
         |SELECT doc_id, entity, way_id
         |FROM points JOIN ways
         |  ON lon BETWEEN x0 AND x0 + w AND lat BETWEEN y0 AND y0 + h""".stripMargin,
    "q144_pip_anti" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte}
         |SELECT doc_id, entity,
         |  CAST(ROUND(lon*10000000,0) AS BIGINT) AS lon_e7,
         |  CAST(ROUND(lat*10000000,0) AS BIGINT) AS lat_e7
         |FROM points p
         |WHERE NOT EXISTS (SELECT 1 FROM ways
         |  WHERE p.lon BETWEEN x0 AND x0 + w AND p.lat BETWEEN y0 AND y0 + h)""".stripMargin,
    "q31b_knn_rings" -> knnOracle,
    "q31_knn" -> knnOracle,
    "q86_bbox_overlap" ->
      s"""WITH ${SynthSql.waysCte}
         |SELECT a.way_id AS a_id, b.way_id AS b_id
         |FROM ways a JOIN ways b ON a.way_id < b.way_id
         | AND a.x0 <= b.x0 + b.w AND b.x0 <= a.x0 + a.w
         | AND a.y0 <= b.y0 + b.h AND b.y0 <= a.y0 + a.h""".stripMargin,
    // the JTS overlay must reproduce the closed-form rectangle areas
    // exactly — one truth, general machinery vs closed form
    "q128_poly_overlay_area" ->
      s"""WITH ${SynthSql.waysCte},
         |boxes AS (SELECT way_id, x0 AS minx, y0 AS miny,
         |  x0 + w AS maxx, y0 + h AS maxy FROM ways)
         |SELECT a.way_id AS a_id, b.way_id AS b_id,
         |  CAST(ROUND(((LEAST(a.maxx, b.maxx) - GREATEST(a.minx, b.minx)) *
         |    (LEAST(a.maxy, b.maxy) - GREATEST(a.miny, b.miny))) * 10000000.0, 0)
         |    AS BIGINT) AS area_e7
         |FROM boxes a JOIN boxes b ON a.way_id < b.way_id
         | AND a.minx <= b.maxx AND b.minx <= a.maxx
         | AND a.miny <= b.maxy AND b.miny <= a.maxy""".stripMargin,
    "q92_overlap_area" ->
      s"""WITH ${SynthSql.waysCte},
         |boxes AS (SELECT way_id, x0 AS minx, y0 AS miny,
         |  x0 + w AS maxx, y0 + h AS maxy FROM ways)
         |SELECT a.way_id AS a_id, b.way_id AS b_id,
         |  CAST(ROUND(((LEAST(a.maxx, b.maxx) - GREATEST(a.minx, b.minx)) *
         |    (LEAST(a.maxy, b.maxy) - GREATEST(a.miny, b.miny))) * 10000000.0, 0)
         |    AS BIGINT) AS area_e7
         |FROM boxes a JOIN boxes b ON a.way_id < b.way_id
         | AND a.minx <= b.maxx AND b.minx <= a.maxx
         | AND a.miny <= b.maxy AND b.miny <= a.maxy""".stripMargin,
    "q91_trajectory_length" ->
      """WITH pos AS (
        |  SELECT event_id, ts, user_id,
        |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
        |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
        |  FROM events),
        |seg AS (
        |  SELECT user_id,
        |    lon - LAG(lon) OVER w AS dx, lat - LAG(lat) OVER w AS dy
        |  FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(COALESCE(SUM(CAST(ROUND(sqrt(dx*dx + dy*dy) * 10000000.0, 0)
        |    AS BIGINT)), 0) AS BIGINT) AS dist_e7
        |FROM seg GROUP BY user_id""".stripMargin,
    "q81_incremental_knn" ->
      s"""WITH ${SynthSql.changesCte}, ${SynthSql.winnersCte}, ${SynthSql.waysCte},
         |  ${SynthSql.pointsCte},
         |cents AS (
         |  SELECT way_id, (x0 + (x0 + w)) / 2.0 AS cx, (y0 + (y0 + h)) / 2.0 AS cy
         |  FROM ways WHERE way_id % 40 = 0
         |    AND way_id NOT IN (SELECT id FROM winners
         |      WHERE kind = 'way' AND action = 'delete'))
         |SELECT doc_id, entity, rank, way_id AS nearest_way,
         |  CAST(ROUND(d2*1000000000,0) AS BIGINT) AS d2_e9
         |FROM (
         |  SELECT p.doc_id, p.entity, c.way_id,
         |    (p.lon - c.cx)*(p.lon - c.cx) + (p.lat - c.cy)*(p.lat - c.cy) AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY p.doc_id, p.entity
         |      ORDER BY (p.lon - c.cx)*(p.lon - c.cx) + (p.lat - c.cy)*(p.lat - c.cy) ASC,
         |               c.way_id ASC) AS rank
         |  FROM points p, cents c)
         |WHERE rank <= 3""".stripMargin,
    "q56_multipolygon_pip" -> multiPipOracle,
    "q56b_multipolygon_salted" -> multiPipOracle,
    "q72_multipolygon_evenodd" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte}, ${SynthSql.relMembersCte}
         |SELECT doc_id, entity, rel_id FROM (
         |  SELECT p.doc_id, p.entity, rm.rel_id, COUNT(*) AS hits
         |  FROM points p, rel_members rm
         |  JOIN ways w ON rm.member_id = w.way_id
         |  WHERE p.lon BETWEEN w.x0 AND w.x0 + w.w
         |    AND p.lat BETWEEN w.y0 AND w.y0 + w.h
         |  GROUP BY 1, 2, 3)
         |WHERE hits % 2 = 1""".stripMargin,
    "q71_incremental_multipip" ->
      s"""WITH ${SynthSql.changesCte}, ${SynthSql.winnersCte}, ${SynthSql.waysCte},
         |  ${SynthSql.pointsCte}, ${SynthSql.relMembersCte}
         |SELECT DISTINCT p.doc_id, p.entity, r.rel_id
         |FROM points p, (
         |  SELECT rm.rel_id, w.x0, w.y0, w.w, w.h
         |  FROM rel_members rm JOIN ways w ON rm.member_id = w.way_id
         |  WHERE rm.role = 'outer' AND rm.rel_id % 4 = 3) r
         |WHERE p.lon BETWEEN r.x0 AND r.x0 + r.w
         |  AND p.lat BETWEEN r.y0 AND r.y0 + r.h
         |  AND NOT EXISTS (
         |    SELECT 1 FROM rel_members rm2 JOIN ways w2 ON rm2.member_id = w2.way_id
         |    WHERE rm2.rel_id = r.rel_id AND rm2.role = 'inner'
         |      AND p.lon BETWEEN w2.x0 AND w2.x0 + w2.w
         |      AND p.lat BETWEEN w2.y0 AND w2.y0 + w2.h)
         |  AND r.rel_id NOT IN
         |    (SELECT id FROM winners WHERE kind = 'relation' AND action = 'delete')""".stripMargin,
    "q57_multipolygon_wkt" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.relMembersCte},
         |rings AS (
         |  SELECT rm.rel_id, rm.pos,
         |    CASE WHEN rm.role = 'outer' THEN 0 ELSE 1 END AS ord,
         |    '(' || printf('%.7f %.7f', w.x0, w.y0)
         |        || ', ' || printf('%.7f %.7f', w.x0 + w.w, w.y0)
         |        || ', ' || printf('%.7f %.7f', w.x0 + w.w, w.y0 + w.h)
         |        || ', ' || printf('%.7f %.7f', w.x0, w.y0 + w.h)
         |        || ', ' || printf('%.7f %.7f', w.x0, w.y0) || ')' AS r
         |  FROM rel_members rm JOIN ways w ON rm.member_id = w.way_id)
         |SELECT rel_id, 'POLYGON(' || STRING_AGG(r, ',' ORDER BY ord, pos) || ')' AS wkt
         |FROM rings GROUP BY rel_id""".stripMargin,
    "q60_incremental_pip" ->
      s"""WITH ${SynthSql.changesCte}, ${SynthSql.winnersCte}, ${SynthSql.waysCte},
         |  ${SynthSql.pointsCte}
         |SELECT doc_id, entity, way_id
         |FROM points JOIN ways
         |  ON lon BETWEEN x0 AND x0 + w AND lat BETWEEN y0 AND y0 + h
         |WHERE way_id NOT IN
         |  (SELECT id FROM winners WHERE kind = 'way' AND action = 'delete')""".stripMargin,
    "q80_incremental_tiles" ->
      s"""WITH ${SynthSql.changesCte}, ${SynthSql.winnersCte}, ${SynthSql.waysCte},
         |  ${SynthSql.pointsCte},
         |j AS (
         |  SELECT lon, lat FROM points JOIN ways
         |    ON lon BETWEEN x0 AND x0 + w AND lat BETWEEN y0 AND y0 + h
         |  WHERE way_id NOT IN
         |    (SELECT id FROM winners WHERE kind = 'way' AND action = 'delete'))
         |SELECT ${GeoFunctions.cellAtSql("lon", "lat", TileRes)} AS tile,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM j GROUP BY 1""".stripMargin,
    "q58_simplify_ring" ->
      s"""WITH ${SynthSql.waysCte}
         |SELECT way_id,
         |  'LINESTRING(' || printf('%.7f %.7f', x0, y0)
         |    || ', ' || printf('%.7f %.7f', x0 + w, y0)
         |    || ', ' || printf('%.7f %.7f', x0 + w, y0 + h)
         |    || ', ' || printf('%.7f %.7f', x0, y0 + h)
         |    || ', ' || printf('%.7f %.7f', x0, y0) || ')' AS wkt
         |FROM ways""".stripMargin,
    "q59_tile_pyramid" ->
      s"""WITH ${SynthSql.pointsCte}
         |SELECT ${GeoFunctions.cellAtSql("lon", "lat", TileRes - 1)} AS tile,
         |  COUNT(*) AS n_points
         |FROM points GROUP BY 1""".stripMargin,
    // NB: seg bbox + SAT sides must be FLAT columns (CTE projections) —
    // LEAST/GREATEST composed inside the join condition trips a DuckDB
    // internal "flat vector" assertion.
    "q113_segment_box_join" ->
      s"""WITH ${SynthSql.waysCte},
         |boxes AS (SELECT way_id, x0 AS bx0, y0 AS by0,
         |  x0 + w AS bx1, y0 + h AS by1 FROM ways),
         |seg0 AS (SELECT event_id AS seg_id,
         |  CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS px,
         |  CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS py
         |  FROM events),
         |seg1 AS (SELECT seg_id, px, py,
         |  px + (CAST(seg_id*31 % 200 AS DOUBLE) / 100.0 - 1.0) AS qx,
         |  py + (CAST(seg_id*37 % 200 AS DOUBLE) / 100.0 - 1.0) AS qy
         |  FROM seg0),
         |seg AS (SELECT seg_id, px, py, qx, qy,
         |  LEAST(px, qx) AS sminx, GREATEST(px, qx) AS smaxx,
         |  LEAST(py, qy) AS sminy, GREATEST(py, qy) AS smaxy FROM seg1),
         |cand AS (
         |  SELECT seg_id, way_id,
         |    (s.qx - s.px)*(b.by0 - s.py) - (s.qy - s.py)*(b.bx0 - s.px) AS s1,
         |    (s.qx - s.px)*(b.by0 - s.py) - (s.qy - s.py)*(b.bx1 - s.px) AS s2,
         |    (s.qx - s.px)*(b.by1 - s.py) - (s.qy - s.py)*(b.bx1 - s.px) AS s3,
         |    (s.qx - s.px)*(b.by1 - s.py) - (s.qy - s.py)*(b.bx0 - s.px) AS s4
         |  FROM seg s JOIN boxes b
         |    ON s.sminx <= b.bx1 AND b.bx0 <= s.smaxx
         |   AND s.sminy <= b.by1 AND b.by0 <= s.smaxy)
         |SELECT seg_id, way_id FROM cand
         |WHERE LEAST(s1, s2, s3, s4) <= 0 AND GREATEST(s1, s2, s3, s4) >= 0""".stripMargin,
    // the bounded-state aggregate must reproduce the window plan's
    // rows exactly — one truth, two plans (cf. q09/q09b)
    "q116b_tile_terms_agg" ->
      s"""WITH ${SynthSql.pointsCte},
         |t AS (SELECT ${GeoFunctions.cellAtSql("lon", "lat", TileRes)} AS tile,
         |    entity, COUNT(*) AS n
         |  FROM points GROUP BY 1, 2)
         |SELECT tile, entity, n, rank FROM (
         |  SELECT tile, entity, n, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY tile ORDER BY n DESC, entity ASC) AS INT) AS rank
         |  FROM t)
         |WHERE rank <= 3""".stripMargin,
    "q136_incremental_pyramid" -> {
      val sel = PyramidLevels.map(l =>
        s"""SELECT CAST($l AS INT) AS level,
           |  ${GeoFunctions.cellAtSql("lon", "lat", l)} AS tile,
           |  COUNT(*) AS n_points
           |FROM points GROUP BY 1, 2""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |${SynthSql.pointsCte.replace("FROM documents", "FROM final")}
         |$sel""".stripMargin
    },
    "q134_heading_hist" ->
      """WITH pos AS (SELECT event_id, ts, user_id,
        |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
        |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
        |  FROM events),
        |d AS (SELECT user_id,
        |    lon - LAG(lon) OVER w AS dx, lat - LAG(lat) OVER w AS dy
        |  FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |o AS (SELECT user_id,
        |    CASE WHEN dx = 0.0 AND dy = 0.0 THEN -1
        |         WHEN ABS(dx) >= ABS(dy) AND dx > 0 THEN
        |           CASE WHEN dy >= 0 THEN 0 ELSE 7 END
        |         WHEN ABS(dx) >= ABS(dy) THEN
        |           CASE WHEN dy >= 0 THEN 3 ELSE 4 END
        |         WHEN dy > 0 THEN CASE WHEN dx >= 0 THEN 1 ELSE 2 END
        |         ELSE CASE WHEN dx >= 0 THEN 6 ELSE 5 END END AS octant
        |  FROM d WHERE dx IS NOT NULL)
        |SELECT user_id, CAST(octant AS INT) AS octant, COUNT(*) AS n_steps
        |FROM o GROUP BY 1, 2""".stripMargin,
    "q131_tile_pyramid" -> {
      val sel = PyramidLevels.map(l =>
        s"""SELECT CAST($l AS INT) AS level,
           |  ${GeoFunctions.cellAtSql("lon", "lat", l)} AS tile,
           |  COUNT(*) AS n_points
           |FROM points GROUP BY 1, 2""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH ${SynthSql.pointsCte}
         |$sel""".stripMargin
    },
    "q275_raster_peaks" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |b AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy
         |  FROM points),
         |c AS (SELECT ix, iy, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         |nb AS (SELECT ix + dx AS tx, iy + dy AS ty, MAX(cnt) AS nb_max
         |  FROM c, range(-1, 2) t1(dx), range(-1, 2) t2(dy)
         |  WHERE NOT (dx = 0 AND dy = 0)
         |    AND ix + dx BETWEEN 0 AND ${n - 1}
         |    AND iy + dy BETWEEN 0 AND ${n - 1}
         |  GROUP BY 1, 2)
         |SELECT c.ix, c.iy, c.cnt,
         |  CAST(CASE WHEN c.cnt > COALESCE(nb.nb_max, 0) THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_peak
         |FROM c LEFT JOIN nb ON nb.tx = c.ix AND nb.ty = c.iy""".stripMargin
    },
    "q287_entity_conflation" -> conflateSql(SynthSql.pointsCte),
    // full recompute over the post-change corpus's mention set — the
    // IVM union must reproduce it row-for-row
    "q289_incremental_conflation" -> conflateSql(
      s"""final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |      ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |${SynthSql.pointsCte.replace("FROM documents", "FROM final")}""".stripMargin),
    "q290_comention_jaccard" ->
      s"""WITH ${SynthSql.pointsCte},
         |ec AS (SELECT DISTINCT entity, doc_id FROM points),
         |sz AS (SELECT entity, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM ec GROUP BY 1),
         |i AS (
         |  SELECT x.entity AS ent_a, y.entity AS ent_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM ec x JOIN ec y ON x.doc_id = y.doc_id
         |    AND x.entity < y.entity
         |  GROUP BY 1, 2)
         |SELECT ent_a, ent_b, a.n_docs AS na, b.n_docs AS nb, n_inter,
         |  CAST((1000000 * n_inter) // (a.n_docs + b.n_docs - n_inter)
         |    AS BIGINT) AS jac_ppm
         |FROM i JOIN sz a ON a.entity = i.ent_a
         |JOIN sz b ON b.entity = i.ent_b""".stripMargin,
    // independent formulation: four explicit neighbor LEFT JOINs
    // instead of the engine's scatter
    "q288_gradient_aspect" ->
      """WITH cells AS (
        |  SELECT (event_id*17 % 320000) // 4000 AS cx,
        |         (event_id*23 % 150000) // 4000 AS cy, COUNT(*) AS z
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT c.cx, c.cy, c.z,
        |    CAST(COALESCE(e.z, 0) - COALESCE(w.z, 0) AS BIGINT) AS gx,
        |    CAST(COALESCE(n.z, 0) - COALESCE(s.z, 0) AS BIGINT) AS gy
        |  FROM cells c
        |  LEFT JOIN cells e ON e.cx = c.cx + 1 AND e.cy = c.cy
        |  LEFT JOIN cells w ON w.cx = c.cx - 1 AND w.cy = c.cy
        |  LEFT JOIN cells n ON n.cx = c.cx AND n.cy = c.cy + 1
        |  LEFT JOIN cells s ON s.cx = c.cx AND s.cy = c.cy - 1)
        |SELECT cx, cy, CAST(z AS BIGINT) AS z, gx, gy,
        |  CASE
        |    WHEN gx = 0 AND gy = 0 THEN 'flat'
        |    WHEN abs(gx) > abs(gy) THEN CASE WHEN gx > 0 THEN 'w' ELSE 'e' END
        |    WHEN abs(gy) > abs(gx) THEN CASE WHEN gy > 0 THEN 's' ELSE 'n' END
        |    WHEN gx > 0 THEN CASE WHEN gy > 0 THEN 'sw' ELSE 'nw' END
        |    ELSE CASE WHEN gy > 0 THEN 'se' ELSE 'ne' END
        |  END AS aspect
        |FROM g""".stripMargin,
    // the oracle walks 8 SINGLE steps through the totalized pointer —
    // the doubling loop must land on the identical 8-step ancestor
    "q286_watershed" -> {
      val steps = (2 to 8).map(i =>
        s"p$i AS (SELECT a.cx, a.cy, b.px, b.py FROM p${i - 1} a " +
          s"JOIN p0 b ON a.px = b.cx AND a.py = b.cy)").mkString(",\n")
      s"""WITH cells AS (
         |  SELECT (event_id*17 % 320000) // 4000 AS cx,
         |         (event_id*23 % 150000) // 4000 AS cy, COUNT(*) AS z
         |  FROM events GROUP BY 1, 2),
         |nbr AS (
         |  SELECT c.cx, c.cy, n.cx AS nx, n.cy AS ny, n.z AS nz
         |  FROM cells c JOIN cells n
         |    ON abs(n.cx - c.cx) <= 1 AND abs(n.cy - c.cy) <= 1
         |   AND NOT (n.cx = c.cx AND n.cy = c.cy)
         |   AND n.z < c.z),
         |flow AS (
         |  SELECT cx, cy, nx, ny FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cx, cy
         |      ORDER BY nz, nx, ny) AS rn FROM nbr)
         |  WHERE rn = 1),
         |p1 AS (
         |  SELECT c.cx, c.cy, COALESCE(f.nx, c.cx) AS px,
         |    COALESCE(f.ny, c.cy) AS py
         |  FROM cells c LEFT JOIN flow f ON c.cx = f.cx AND c.cy = f.cy),
         |p0 AS (SELECT * FROM p1),
         |$steps
         |SELECT p8.cx, p8.cy, p8.px AS bx, p8.py AS by,
         |  CAST(CASE WHEN q.px = p8.px AND q.py = p8.py THEN 1 ELSE 0 END
         |    AS BIGINT) AS settled
         |FROM p8 JOIN p0 q ON p8.px = q.cx AND p8.py = q.cy""".stripMargin
    },
    "q285_tile_lang_diversity" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |p AS (
         |  SELECT pt.doc_id, d.lang,
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy
         |  FROM points pt JOIN documents d ON d.doc_id = pt.doc_id),
         |pl AS (SELECT ix, iy, lang, COUNT(*) AS nl FROM p GROUP BY 1, 2, 3),
         |c AS (
         |  SELECT ix, iy, CAST(SUM(nl) AS BIGINT) AS n_points,
         |    CAST(COUNT(*) AS BIGINT) AS n_langs,
         |    CAST(SUM(nl * (nl - 1)) AS BIGINT) AS num
         |  FROM pl GROUP BY 1, 2)
         |SELECT ix, iy, n_points, n_langs,
         |  CAST(CASE WHEN n_points < 2 THEN 1000000
         |    ELSE (1000000 * num) // (n_points * (n_points - 1)) END
         |    AS BIGINT) AS conc_ppm
         |FROM c""".stripMargin
    },
    "q283_dwell_time" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH e AS (
         |  SELECT user_id, ts, event_id, epoch_us(ts) AS t,
         |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
         |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
         |  FROM events),
         |g AS (
         |  SELECT user_id, t,
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
         |    LEAD(t) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2
         |  FROM e)
         |SELECT ix, iy, CAST(COUNT(*) AS BIGINT) AS n_pings,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(COALESCE(SUM(t2 - t), 0) AS BIGINT) AS dwell_us
         |FROM g GROUP BY 1, 2""".stripMargin
    },
    // closed-form Chebyshev minimum over per-source (2K+1)² windows —
    // independent of the engine's BFS wavefront loop
    "q280_distance_transform" -> {
      val n = graft.geo.CellIndex.width(ContourRes)
      s"""WITH ${SynthSql.pointsCte},
         |b AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy
         |  FROM points),
         |c AS (SELECT ix, iy, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         |t AS (SELECT SUM(cnt) AS total, COUNT(*) AS nc FROM c),
         |s AS (SELECT ix, iy FROM c, t WHERE 2 * cnt * t.nc >= 3 * t.total),
         |d AS (SELECT s.ix + dx AS ix, s.iy + dy AS iy,
         |    MIN(GREATEST(abs(dx), abs(dy))) AS dist
         |  FROM s, range(-3, 4) a(dx), range(-3, 4) b2(dy)
         |  WHERE s.ix + dx BETWEEN 0 AND ${n - 1}
         |    AND s.iy + dy BETWEEN 0 AND ${n - 1}
         |  GROUP BY 1, 2)
         |SELECT ix, iy, CAST(dist AS BIGINT) AS dist FROM d""".stripMargin
    },
    "q125_focal_smooth" -> {
      val n = graft.geo.CellIndex.width(TileRes)
      s"""WITH ${SynthSql.pointsCte},
         |b AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy
         |  FROM points),
         |c AS (SELECT ix, iy, COUNT(*) AS cnt FROM b GROUP BY 1, 2)
         |SELECT ix + dx AS tx, iy + dy AS ty, CAST(SUM(cnt) AS BIGINT) AS n_focal
         |FROM c, range(-1, 2) t1(dx), range(-1, 2) t2(dy)
         |WHERE ix + dx BETWEEN 0 AND ${n - 1} AND iy + dy BETWEEN 0 AND ${n - 1}
         |GROUP BY 1, 2""".stripMargin
    },
    "q126_stop_detect" ->
      s"""WITH pos AS (SELECT event_id, ts, user_id,
         |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
         |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
         |  FROM events),
         |d AS (SELECT user_id, event_id, ts,
         |    lon - LAG(lon) OVER w AS dx, lat - LAG(lat) OVER w AS dy
         |  FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |f AS (SELECT user_id, event_id, ts,
         |    CASE WHEN dx IS NULL OR dx*dx + dy*dy > ${StopR * StopR}
         |         THEN 1 ELSE 0 END AS new_run
         |  FROM d),
         |r AS (SELECT user_id, event_id, ts,
         |    SUM(new_run) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_id
         |  FROM f)
         |SELECT user_id, MIN(event_id) AS first_event,
         |  COUNT(*) AS n_points,
         |  CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
         |FROM r GROUP BY user_id, run_id HAVING COUNT(*) >= 2""".stripMargin,
    "q122_od_matrix" ->
      s"""WITH pos AS (SELECT event_id, ts, user_id,
         |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
         |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
         |  FROM events),
         |r AS (SELECT user_id, lon, lat,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY ts ASC, event_id ASC) AS ra,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rd
         |  FROM pos),
         |od AS (SELECT user_id,
         |    MAX(CASE WHEN ra = 1
         |      THEN ${GeoFunctions.cellAtSql("lon", "lat", TileRes)} END) AS otile,
         |    MAX(CASE WHEN rd = 1
         |      THEN ${GeoFunctions.cellAtSql("lon", "lat", TileRes)} END) AS dtile
         |  FROM r WHERE ra = 1 OR rd = 1 GROUP BY user_id)
         |SELECT otile, dtile, COUNT(*) AS n_users FROM od GROUP BY 1, 2""".stripMargin,
    "q123_geofence_transitions" ->
      s"""WITH ${SynthSql.waysCte},
         |pos AS (SELECT event_id, ts, user_id,
         |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
         |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
         |  FROM events),
         |steps0 AS (SELECT user_id, event_id, lon, lat,
         |    LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat
         |  FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |steps AS (SELECT user_id, event_id, lon, lat, plon, plat,
         |    LEAST(lon, plon) AS sminx, GREATEST(lon, plon) AS smaxx,
         |    LEAST(lat, plat) AS sminy, GREATEST(lat, plat) AS smaxy
         |  FROM steps0 WHERE plon IS NOT NULL),
         |cand AS (SELECT s.user_id, s.event_id, w.way_id,
         |    (s.plon BETWEEN w.x0 AND w.x0 + w.w
         |      AND s.plat BETWEEN w.y0 AND w.y0 + w.h) AS ins_prev,
         |    (s.lon BETWEEN w.x0 AND w.x0 + w.w
         |      AND s.lat BETWEEN w.y0 AND w.y0 + w.h) AS ins_curr
         |  FROM steps s JOIN ways w
         |    ON s.sminx <= w.x0 + w.w AND s.smaxx >= w.x0
         |   AND s.sminy <= w.y0 + w.h AND s.smaxy >= w.y0)
         |SELECT user_id, event_id, way_id,
         |  CASE WHEN ins_curr THEN 'enter' ELSE 'exit' END AS direction
         |FROM cand WHERE ins_prev <> ins_curr""".stripMargin,
    "q117_distance_within" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte},
         |cents AS (
         |  SELECT way_id, (x0 + (x0 + w)) / 2.0 AS cx, (y0 + (y0 + h)) / 2.0 AS cy
         |  FROM ways),
         |cand AS (
         |  SELECT p.doc_id, p.entity, c.way_id,
         |    (p.lon - c.cx)*(p.lon - c.cx) + (p.lat - c.cy)*(p.lat - c.cy) AS d2
         |  FROM points p JOIN cents c
         |    ON p.lon BETWEEN c.cx - $DistR AND c.cx + $DistR
         |   AND p.lat BETWEEN c.cy - $DistR AND c.cy + $DistR)
         |SELECT doc_id, entity, way_id,
         |  CAST(ROUND(d2*1000000000,0) AS BIGINT) AS d2_e9
         |FROM cand WHERE d2 <= ${DistR * DistR}""".stripMargin,
    // point-to-segment projection stays in FLAT CTE projections (the
    // same DuckDB flat-vector caveat as q113's SAT sides)
    "q118_map_match" ->
      s"""WITH ${SynthSql.pointsCte},
         |seg0 AS (SELECT event_id AS seg_id,
         |  CAST(event_id*7919 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS px,
         |  CAST(event_id*6101 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS py
         |  FROM events),
         |seg AS (SELECT seg_id, px, py,
         |  px + (CAST(seg_id*31 % 200 AS DOUBLE) / 100.0 - 1.0) AS qx,
         |  py + (CAST(seg_id*37 % 200 AS DOUBLE) / 100.0 - 1.0) AS qy
         |  FROM seg0),
         |sb AS (SELECT seg_id, px, py, qx, qy,
         |  LEAST(px, qx) AS minx, GREATEST(px, qx) AS maxx,
         |  LEAST(py, qy) AS miny, GREATEST(py, qy) AS maxy FROM seg),
         |cand AS (
         |  SELECT p.doc_id, p.entity, p.lon, p.lat, s.seg_id, s.px, s.py,
         |    s.qx - s.px AS abx, s.qy - s.py AS aby,
         |    (p.lon - s.px)*(s.qx - s.px) + (p.lat - s.py)*(s.qy - s.py) AS dot,
         |    (s.qx - s.px)*(s.qx - s.px) + (s.qy - s.py)*(s.qy - s.py) AS len2
         |  FROM points p JOIN sb s
         |    ON p.lon BETWEEN s.minx - $MatchR AND s.maxx + $MatchR
         |   AND p.lat BETWEEN s.miny - $MatchR AND s.maxy + $MatchR),
         |tt AS (SELECT doc_id, entity, lon, lat, seg_id, px, py, abx, aby,
         |  CASE WHEN len2 = 0.0 THEN 0.0
         |       ELSE LEAST(GREATEST(dot/len2, 0.0), 1.0) END AS t
         |  FROM cand),
         |dd AS (SELECT doc_id, entity, seg_id,
         |  (lon - (px + t*abx))*(lon - (px + t*abx)) +
         |  (lat - (py + t*aby))*(lat - (py + t*aby)) AS d2 FROM tt)
         |SELECT doc_id, entity, seg_id,
         |  CAST(ROUND(d2*1000000000,0) AS BIGINT) AS d2_e9
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, entity
         |        ORDER BY d2 ASC, seg_id ASC) AS rank
         |      FROM dd WHERE d2 <= ${MatchR * MatchR})
         |WHERE rank = 1""".stripMargin,
    "q114_decimate_track" ->
      s"""WITH pos AS (SELECT event_id, ts, user_id,
         |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
         |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
         |  FROM events),
         |n AS (SELECT user_id, event_id, lon, lat,
         |    LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat,
         |    LEAD(lon) OVER w AS nlon, LEAD(lat) OVER w AS nlat
         |  FROM pos WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |a AS (SELECT user_id, event_id, plon, nlon,
         |    CAST(ROUND(ABS((lon - plon)*(nlat - plat) - (lat - plat)*(nlon - plon))
         |      * 10000000.0, 0) AS BIGINT) AS area2_e7 FROM n)
         |SELECT user_id, event_id, COALESCE(area2_e7, -1) AS area2_e7
         |FROM a WHERE plon IS NULL OR nlon IS NULL OR area2_e7 >= $DecimateT""".stripMargin,
    "q116_tile_terms" ->
      s"""WITH ${SynthSql.pointsCte},
         |t AS (SELECT ${GeoFunctions.cellAtSql("lon", "lat", TileRes)} AS tile,
         |    entity, COUNT(*) AS n
         |  FROM points GROUP BY 1, 2)
         |SELECT tile, entity, n, rank FROM (
         |  SELECT tile, entity, n, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY tile ORDER BY n DESC, entity ASC) AS INT) AS rank
         |  FROM t)
         |WHERE rank <= 3""".stripMargin,
    // exact integer milli-degree coords → d² is a closed-form BIGINT;
    // min-then-max per direction mirrors the tagged single-pass fold
    "q177_hausdorff" ->
      s"""WITH pos AS (SELECT DISTINCT user_id,
         |    event_id*17 % 320000 - 160000 AS x,
         |    event_id*23 % 150000 - 75000 AS y
         |  FROM events),
         |t AS (SELECT DISTINCT user_id,
         |    ((5::BIGINT << ${graft.geo.CellIndex.ResShift})
         |      | (((x + 180000) * 32 // 360000) << ${graft.geo.CellIndex.XShift})
         |      | ((y + 90000) * 32 // 180000)) AS tile
         |  FROM pos),
         |p AS (SELECT a.user_id AS user_a, b.user_id AS user_b
         |  FROM t a JOIN t b ON a.tile = b.tile AND a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 30),
         |j AS (SELECT p.user_a, p.user_b,
         |    a.x AS ax, a.y AS ay, b.x AS qx, b.y AS qy,
         |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
         |  FROM p JOIN pos a ON a.user_id = p.user_a
         |         JOIN pos b ON b.user_id = p.user_b),
         |ma AS (SELECT user_a, user_b, ax, ay, MIN(d2) AS md
         |  FROM j GROUP BY 1, 2, 3, 4),
         |ha AS (SELECT user_a, user_b, MAX(md) AS h2_ab FROM ma GROUP BY 1, 2),
         |mb AS (SELECT user_a, user_b, qx, qy, MIN(d2) AS md
         |  FROM j GROUP BY 1, 2, 3, 4),
         |hb AS (SELECT user_a, user_b, MAX(md) AS h2_ba FROM mb GROUP BY 1, 2)
         |SELECT user_a, user_b, h2_ab, h2_ba,
         |  GREATEST(h2_ab, h2_ba) AS h2_sym
         |FROM ha JOIN hb USING (user_a, user_b)""".stripMargin,
    // exact eps-graph via the same 3x3 grid prefilter; clusters by
    // recursive reachability over core-core edges (self-loops on ALL
    // cores make isolated cores label themselves)
    "q179_dbscan" ->
      s"""WITH RECURSIVE $quadCloudSql,
        |pr AS (SELECT id, x, y, (x // 100) + dx.g AS cx, (y // 100) + dy.g AS cy
        |  FROM p, generate_series(-1, 1) dx(g), generate_series(-1, 1) dy(g)),
        |cand AS (SELECT a.id AS ida, b.id AS idb
        |  FROM pr a JOIN p b
        |    ON a.cx = (b.x // 100) AND a.cy = (b.y // 100) AND a.id <> b.id
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 10000),
        |core AS (SELECT ida AS id FROM cand GROUP BY 1 HAVING COUNT(*) >= 3),
        |e0 AS (SELECT c.ida AS u, c.idb AS v FROM cand c
        |  JOIN core ka ON ka.id = c.ida JOIN core kb ON kb.id = c.idb
        |  WHERE c.ida < c.idb),
        |edges AS (SELECT u AS src, v AS dst FROM e0
        |  UNION SELECT v, u FROM e0
        |  UNION SELECT id, id FROM core),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |lab AS (SELECT src AS id, MIN(dst) AS cid FROM reach GROUP BY 1),
        |bord AS (SELECT c.ida AS id, MIN(l.cid) AS cid
        |  FROM cand c JOIN core k ON k.id = c.idb JOIN lab l ON l.id = c.idb
        |  WHERE c.ida NOT IN (SELECT id FROM core)
        |  GROUP BY 1)
        |SELECT p.id AS event_id,
        |  CASE WHEN lab.cid IS NOT NULL THEN 'core'
        |       WHEN bord.cid IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  COALESCE(lab.cid, bord.cid, -1) AS cluster_id
        |FROM p LEFT JOIN lab ON lab.id = p.id
        |  LEFT JOIN bord ON bord.id = p.id""".stripMargin,
    // publish >= k, roll < k into 2x2 parent, residual keeps the sum
    "q185_kanon_tiles" ->
      s"""WITH $quadCloudSql,
        |fine AS (SELECT x // 400 AS fx, y // 400 AS fy, COUNT(*) AS cnt
        |  FROM p GROUP BY 1, 2),
        |pub AS (SELECT 'fine' AS level, fx AS cx, fy AS cy, cnt AS n
        |  FROM fine WHERE cnt >= 10),
        |rolled AS (SELECT fx // 2 AS cx, fy // 2 AS cy,
        |    CAST(SUM(cnt) AS BIGINT) AS n
        |  FROM fine WHERE cnt < 10 GROUP BY 1, 2),
        |pp AS (SELECT 'parent' AS level, cx, cy, n FROM rolled WHERE n >= 10),
        |res AS (SELECT 'residual' AS level, -1 AS cx, -1 AS cy,
        |    CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n
        |  FROM rolled WHERE n < 10)
        |SELECT * FROM pub UNION ALL SELECT * FROM pp
        |UNION ALL SELECT * FROM res""".stripMargin,
    "q187_getis_hotspot" -> giStarOracle(SynthSql.pointsCte),
    // identical Gi* formulation over the POST-change corpus — the
    // incremental plan must reproduce every flag byte-for-byte
    "q241_incremental_hotspot" -> giStarOracle(
      s"""final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |${SynthSql.pointsCte.replace("FROM documents", "FROM final")}""".stripMargin),
    "q189_adaptive_tiles" -> {
      val n12 = graft.geo.CellIndex.width(12)
      def pack(r: Int, x: String, y: String): String =
        s"((${r.toLong << graft.geo.CellIndex.ResShift}::BIGINT) | (($x) << ${graft.geo.CellIndex.XShift}) | ($y))"
      val ups = (11 to 7 by -1).map { r =>
        val sh = 12 - r
        s"c$r AS (SELECT x12 >> $sh AS x, y12 >> $sh AS y, CAST(SUM(cnt) AS BIGINT) AS cnt$r FROM c12 GROUP BY 1, 2)"
      }.mkString(",\n")
      val joins = (7 to 11).map { r =>
        val sh = 12 - r
        s"JOIN c$r ON c12.x12 >> $sh = c$r.x AND c12.y12 >> $sh = c$r.y"
      }.mkString("\n")
      val resCase = (7 to 11).map(r => s"WHEN cnt$r <= 16 THEN $r").mkString(" ")
      val cellCase = (7 to 11).map { r =>
        s"WHEN cnt$r <= 16 THEN ${pack(r, s"x12 >> ${12 - r}", s"y12 >> ${12 - r}")}"
      }.mkString(" ")
      s"""WITH ${SynthSql.pointsCte},
         |b AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n12) AS BIGINT), 0), ${n12 - 1}) AS x12,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n12) AS BIGINT), 0), ${n12 - 1}) AS y12
         |  FROM points),
         |c12 AS (SELECT x12, y12, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         |$ups,
         |d AS (SELECT c12.x12, c12.y12, c12.cnt,
         |    CASE $resCase ELSE 12 END AS leaf_res,
         |    CASE $cellCase ELSE ${pack(12, "x12", "y12")} END AS cell
         |  FROM c12
         |$joins)
         |SELECT CAST(leaf_res AS BIGINT) AS leaf_res, cell,
         |  CAST(SUM(cnt) AS BIGINT) AS n_points
         |FROM d GROUP BY 1, 2""".stripMargin
    },
    "q193_hilbert_order" -> {
      val n = graft.geo.CellIndex.width(8)
      val grid =
        s"""(SELECT
           |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n) AS BIGINT), 0), ${n - 1}) AS ix,
           |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n) AS BIGINT), 0), ${n - 1}) AS iy,
           |    COUNT(*) AS n_points
           |  FROM points GROUP BY 1, 2)""".stripMargin
      s"""WITH ${SynthSql.pointsCte}
         |SELECT ix, iy, hd AS hkey, n_points
         |FROM ${graft.geo.Hilbert.xy2dSql(8, "ix", "iy", grid)}""".stripMargin
    },
    // the full 12x12 DP grid as 144 CHAINED MATERIALIZED CTEs, one per
    // cell (each adds one column referencing only materialized ones).
    // A single SELECT with 144 lateral aliases is NOT usable: DuckDB
    // inlines lateral column aliases textually, so the 3-way LEAST
    // chain explodes to ~3^22 expression nodes and the planner hangs.
    "q199_dtw" -> trackDpOracle(frechet = false),
    "q271_lcss" -> lcssOracle(100000000L),
    "q204_frechet" -> trackDpOracle(frechet = true),
    // same discrete-line sampling formula (the definition both engines
    // share); floor division is spelled with a positive-mod adjustment
    // because BOTH Spark's `div` and DuckDB's `//` truncate toward 0.
    "q208_viewshed" ->
      """WITH cells AS (
        |  SELECT (event_id*17 % 320000) // 4000 AS cx,
        |         (event_id*23 % 150000) // 4000 AS cy, COUNT(*) AS z
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT SUM(z) AS sz, COUNT(*) AS nc FROM cells),
        |obst AS (SELECT cx AS sx, cy AS sy FROM cells, tot
        |         WHERE z*2*nc > 3*sz),
        |vp AS (SELECT cx AS vx, cy AS vy FROM cells
        |       ORDER BY z DESC, cx, cy LIMIT 5),
        |pr AS (
        |  SELECT vx, vy, cx AS tx, cy AS ty,
        |    GREATEST(abs(cx-vx), abs(cy-vy)) AS n
        |  FROM cells, vp
        |  WHERE abs(cx-vx) <= 6 AND abs(cy-vy) <= 6
        |    AND NOT (cx = vx AND cy = vy)),
        |smp AS (
        |  SELECT vx, vy, tx, ty,
        |    vx + (2*k*(tx-vx) + n
        |      - ((((2*k*(tx-vx) + n) % (2*n)) + 2*n) % (2*n))) // (2*n) AS sx,
        |    vy + (2*k*(ty-vy) + n
        |      - ((((2*k*(ty-vy) + n) % (2*n)) + 2*n) % (2*n))) // (2*n) AS sy
        |  FROM pr, UNNEST(range(1, n)) AS t(k)
        |  WHERE n >= 2),
        |blk AS (SELECT DISTINCT vx, vy, tx, ty
        |        FROM smp JOIN obst USING (sx, sy))
        |SELECT p.vx, p.vy, p.tx, p.ty,
        |  CAST(CASE WHEN b.vx IS NULL THEN 1 ELSE 0 END AS BIGINT) AS visible
        |FROM pr p LEFT JOIN blk b
        |  ON p.vx = b.vx AND p.vy = b.vy AND p.tx = b.tx AND p.ty = b.ty""".stripMargin,
    "q216_cell_churn" ->
      """WITH f AS (
        |  SELECT (event_id*17 % 320000) // 4000 AS cx,
        |    (event_id*23 % 150000) // 4000 AS cy, user_id,
        |    MAX(CASE WHEN CAST(ts AS DATE) - DATE '2024-01-01' < 15
        |        THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN CAST(ts AS DATE) - DATE '2024-01-01' >= 15
        |        THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT cx, cy, CAST(SUM(a*b) AS BIGINT) AS inter,
        |  CAST(COUNT(*) AS BIGINT) AS uni,
        |  CAST(SUM(a*b) * 1000000 // COUNT(*) AS BIGINT) AS jaccard_ppm
        |FROM f GROUP BY 1, 2""".stripMargin,
    "q210_gyration" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(COUNT(*)*SUM(x*x + y*y) - SUM(x)*SUM(x) - SUM(y)*SUM(y)
        |    AS BIGINT) AS disp
        |FROM (SELECT user_id, (event_id*17 % 320000) // 100 AS x,
        |        (event_id*23 % 150000) // 100 AS y FROM events)
        |GROUP BY 1""".stripMargin,
    // brute-force all-pairs max — the hull-based engine path must agree
    "q212_track_diameter" ->
      """WITH pos AS (
        |  SELECT user_id, event_id*17 % 320000 AS x, event_id*23 % 150000 AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |pts AS (SELECT user_id, x, y FROM pos WHERE rn <= 12)
        |SELECT a.user_id,
        |  CAST(MAX((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) AS BIGINT) AS diam2
        |FROM pts a JOIN pts b USING (user_id) GROUP BY 1""".stripMargin,
    // brute-force extreme-point predicate (Caratheodory): a point is a
    // hull vertex iff it is NOT on a segment of two others and NOT
    // inside-or-on a proper (ccw-ordered) triangle of three others.
    "q201_convex_hull" ->
      """WITH pos AS (
        |  SELECT user_id, event_id*17 % 320000 AS x, event_id*23 % 150000 AS y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |pts AS (SELECT DISTINCT user_id, x, y FROM pos WHERE rn <= 12),
        |vtx AS (
        |  SELECT p.user_id, p.x, p.y FROM pts p
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM pts a, pts b
        |    WHERE a.user_id = p.user_id AND b.user_id = p.user_id
        |      AND (a.x, a.y) <> (p.x, p.y) AND (b.x, b.y) <> (p.x, p.y)
        |      AND (a.x, a.y) < (b.x, b.y)
        |      AND (b.x - a.x)*(p.y - a.y) - (b.y - a.y)*(p.x - a.x) = 0
        |      AND p.x BETWEEN LEAST(a.x, b.x) AND GREATEST(a.x, b.x)
        |      AND p.y BETWEEN LEAST(a.y, b.y) AND GREATEST(a.y, b.y))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM pts a, pts b, pts c
        |    WHERE a.user_id = p.user_id AND b.user_id = p.user_id
        |      AND c.user_id = p.user_id
        |      AND (a.x, a.y) <> (p.x, p.y) AND (b.x, b.y) <> (p.x, p.y)
        |      AND (c.x, c.y) <> (p.x, p.y)
        |      AND (b.x - a.x)*(c.y - a.y) - (b.y - a.y)*(c.x - a.x) > 0
        |      AND (b.x - a.x)*(p.y - a.y) - (b.y - a.y)*(p.x - a.x) >= 0
        |      AND (c.x - b.x)*(p.y - b.y) - (c.y - b.y)*(p.x - b.x) >= 0
        |      AND (a.x - c.x)*(p.y - c.y) - (a.y - c.y)*(p.x - c.x) >= 0))
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_hull,
        |  CAST(SUM(x) AS BIGINT) AS hull_sum_x, CAST(SUM(y) AS BIGINT) AS hull_sum_y
        |FROM vtx GROUP BY 1""".stripMargin,
    // independent definition: quadratic cell×cell neighbor join (the
    // Spark side scatters 8 offsets instead) + a depth-bounded
    // recursive path enumeration (out-degree <= 1 keeps it linear).
    "q203_flow_accum" ->
      """WITH RECURSIVE cells AS (
        |  SELECT (event_id*17 % 320000) // 4000 AS cx,
        |         (event_id*23 % 150000) // 4000 AS cy, COUNT(*) AS z
        |  FROM events GROUP BY 1, 2),
        |nbr AS (
        |  SELECT c.cx, c.cy, n.cx AS nx, n.cy AS ny, n.z AS nz
        |  FROM cells c JOIN cells n
        |    ON abs(n.cx - c.cx) <= 1 AND abs(n.cy - c.cy) <= 1
        |   AND NOT (n.cx = c.cx AND n.cy = c.cy)
        |   AND n.z < c.z),
        |flow AS (
        |  SELECT cx, cy, nx, ny FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cx, cy
        |      ORDER BY nz, nx, ny) AS rn FROM nbr)
        |  WHERE rn = 1),
        |rr(acx, acy, cx, cy, k) AS (
        |  SELECT cx, cy, nx, ny, 1 FROM flow
        |  UNION ALL
        |  SELECT rr.acx, rr.acy, f.nx, f.ny, rr.k + 1
        |  FROM rr JOIN flow f ON rr.cx = f.cx AND rr.cy = f.cy
        |  WHERE rr.k < 6),
        |r AS (SELECT cx, cy, COUNT(*) AS acc FROM rr GROUP BY 1, 2)
        |SELECT c.cx, c.cy, CAST(c.z AS BIGINT) AS z, f.nx AS fx, f.ny AS fy,
        |  CAST(COALESCE(r.acc, 0) AS BIGINT) AS acc
        |FROM cells c
        |LEFT JOIN flow f ON c.cx = f.cx AND c.cy = f.cy
        |LEFT JOIN r ON c.cx = r.cx AND c.cy = r.cy""".stripMargin,
    "q197_zonal_stats" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte}
         |SELECT way_id, COUNT(*) AS n_points,
         |  COUNT(DISTINCT doc_id) AS n_docs,
         |  COUNT(DISTINCT entity) AS n_entities,
         |  MAX(doc_id) AS max_doc
         |FROM points JOIN ways
         |  ON lon BETWEEN x0 AND x0 + w AND lat BETWEEN y0 AND y0 + h
         |GROUP BY 1""".stripMargin,
    "q198_incremental_adaptive" -> {
      val n12 = graft.geo.CellIndex.width(12)
      def pack(r: Int, x: String, y: String): String =
        s"((${r.toLong << graft.geo.CellIndex.ResShift}::BIGINT) | (($x) << ${graft.geo.CellIndex.XShift}) | ($y))"
      val ups = (11 to 7 by -1).map { r =>
        val sh = 12 - r
        s"c$r AS (SELECT x12 >> $sh AS x, y12 >> $sh AS y, CAST(SUM(cnt) AS BIGINT) AS cnt$r FROM c12 GROUP BY 1, 2)"
      }.mkString(",\n")
      val joins = (7 to 11).map { r =>
        val sh = 12 - r
        s"JOIN c$r ON c12.x12 >> $sh = c$r.x AND c12.y12 >> $sh = c$r.y"
      }.mkString("\n")
      val resCase = (7 to 11).map(r => s"WHEN cnt$r <= 16 THEN $r").mkString(" ")
      val cellCase = (7 to 11).map { r =>
        s"WHEN cnt$r <= 16 THEN ${pack(r, s"x12 >> ${12 - r}", s"y12 >> ${12 - r}")}"
      }.mkString(" ")
      s"""WITH final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 89 <> 5),
         |${SynthSql.pointsCte.replace("FROM documents", "FROM final")},
         |b AS (SELECT
         |    LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 360.0 * $n12) AS BIGINT), 0), ${n12 - 1}) AS x12,
         |    LEAST(GREATEST(CAST(FLOOR((lat + 90.0) / 180.0 * $n12) AS BIGINT), 0), ${n12 - 1}) AS y12
         |  FROM points),
         |c12 AS (SELECT x12, y12, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
         |$ups,
         |d AS (SELECT c12.x12, c12.y12, c12.cnt,
         |    CASE $resCase ELSE 12 END AS leaf_res,
         |    CASE $cellCase ELSE ${pack(12, "x12", "y12")} END AS cell
         |  FROM c12
         |$joins)
         |SELECT CAST(leaf_res AS BIGINT) AS leaf_res, cell,
         |  CAST(SUM(cnt) AS BIGINT) AS n_points
         |FROM d GROUP BY 1, 2""".stripMargin
    },
  ) ++ tileOracles

  /** One oracle for both kNN paths — the ring path must reproduce the
    * brute-force rows exactly. */
  private lazy val knnOracle: String =
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.pointsCte},
         |cents AS (
         |  SELECT way_id, (x0 + (x0 + w)) / 2.0 AS cx, (y0 + (y0 + h)) / 2.0 AS cy
         |  FROM ways WHERE way_id % 40 = 0)
         |SELECT doc_id, entity, rank, way_id AS nearest_way,
         |  CAST(ROUND(d2*1000000000,0) AS BIGINT) AS d2_e9
         |FROM (
         |  SELECT p.doc_id, p.entity, c.way_id,
         |    (p.lon - c.cx)*(p.lon - c.cx) + (p.lat - c.cy)*(p.lat - c.cy) AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY p.doc_id, p.entity
         |      ORDER BY (p.lon - c.cx)*(p.lon - c.cx) + (p.lat - c.cy)*(p.lat - c.cy) ASC,
         |               c.way_id ASC) AS rank
         |  FROM points p, cents c)
         |WHERE rank <= 3""".stripMargin

  private val tileOracles: Map[String, String] = Map(
    "q258_geohash_codec" -> {
      import graft.geo.ZOrder
      val enc = (0 until 4).map(k =>
        s"substr('$GeohashAlphabet', CAST((z >> ${15 - 5 * k}) & 31 AS INT) + 1, 1)")
        .mkString(" || ")
      val dec = (0 until 4).map(k =>
        s"((strpos('$GeohashAlphabet', substr(gh, ${k + 1}, 1)) - 1)::BIGINT << ${15 - 5 * k})")
        .mkString(" + ")
      s"""WITH ${SynthSql.pointsCte},
         |q AS (SELECT
         |    ${ZOrder.quantSql("lon", ZOrder.LonLo, ZOrder.LonSpan, 10)} AS ix,
         |    ${ZOrder.quantSql("lat", ZOrder.LatLo, ZOrder.LatSpan, 10)} AS iy
         |  FROM points),
         |c AS (SELECT ${ZOrder.interleaveSql("ix", "iy", 10)} AS z,
         |    COUNT(*) AS n_points
         |  FROM q GROUP BY 1),
         |g AS (SELECT z, n_points, $enc AS gh FROM c),
         |r AS (SELECT z, gh, $dec AS z_rt, n_points FROM g)
         |SELECT z, gh, z_rt,
         |  CAST(CASE WHEN z_rt = z THEN 1 ELSE 0 END AS BIGINT) AS ok,
         |  n_points
         |FROM r""".stripMargin
    },
    "q259_reverse_nn" -> {
      def d2(hx: Long, hy: Long): String = {
        val ex = s"($hx / 1000.0 - 160.0)"
        val ey = s"($hy / 1000.0 - 75.0)"
        s"((lon - $ex) * (lon - $ex) + (lat - $ey) * (lat - $ey))"
      }
      val ds = GazetteerSites.map { case (e, hx, hy) => (e, d2(hx, hy)) }
      val best = ds.map(_._2).mkString("LEAST(", ", ", ")")
      val pick = ds.map { case (e, d) => s"WHEN $d = best THEN '$e'" }
        .mkString("CASE ", " ", " END")
      s"""WITH ${SynthSql.pointsCte},
         |b AS (SELECT lon, lat, $best AS best FROM points)
         |SELECT $pick AS entity, COUNT(*) AS catchment
         |FROM b GROUP BY 1""".stripMargin
    },
    // identical Morton/bbox contract over the POST-change corpus —
    // the merge-on-read chain must resolve to exactly these rows
    "q257_zorder_mor_scan" -> {
      import graft.geo.ZOrder
      s"""WITH final AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN text || ' merge stream merge'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % 13 <> 5),
         |${SynthSql.pointsCte.replace("FROM documents", "FROM final")},
         |b AS (
         |  SELECT doc_id, entity,
         |    ${ZOrder.quantSql("lon", ZOrder.LonLo, ZOrder.LonSpan, ZBits)} AS ix,
         |    ${ZOrder.quantSql("lat", ZOrder.LatLo, ZOrder.LatSpan, ZBits)} AS iy
         |  FROM points
         |  WHERE lon >= ${Q82Box._1} AND lon <= ${Q82Box._2}
         |    AND lat >= ${Q82Box._3} AND lat <= ${Q82Box._4})
         |SELECT doc_id, entity, ${ZOrder.interleaveSql("ix", "iy", ZBits)} AS zval
         |FROM b""".stripMargin
    },
    "q82_zorder_scan" -> {
      import graft.geo.ZOrder
      s"""WITH ${SynthSql.pointsCte},
         |b AS (
         |  SELECT doc_id, entity,
         |    ${ZOrder.quantSql("lon", ZOrder.LonLo, ZOrder.LonSpan, ZBits)} AS ix,
         |    ${ZOrder.quantSql("lat", ZOrder.LatLo, ZOrder.LatSpan, ZBits)} AS iy
         |  FROM points
         |  WHERE lon >= ${Q82Box._1} AND lon <= ${Q82Box._2}
         |    AND lat >= ${Q82Box._3} AND lat <= ${Q82Box._4})
         |SELECT doc_id, entity, ${ZOrder.interleaveSql("ix", "iy", ZBits)} AS zval
         |FROM b""".stripMargin
    },
    "q32_raster_tiles" ->
      s"""WITH ${SynthSql.pointsCte}
         |SELECT ${GeoFunctions.cellAtSql("lon", "lat", TileRes)} AS tile,
         |  COUNT(*) AS n_points, COUNT(DISTINCT doc_id) AS n_docs
         |FROM points GROUP BY 1""".stripMargin,
    "q32b_vector_tiles" ->
      s"""WITH ${SynthSql.waysCte},
         |cents AS (
         |  SELECT way_id, (x0 + (x0 + w)) / 2.0 AS cx, (y0 + (y0 + h)) / 2.0 AS cy
         |  FROM ways)
         |SELECT ${GeoFunctions.cellAtSql("cx", "cy", TileRes)} AS tile,
         |  COUNT(*) AS n_polys,
         |  STRING_AGG(CAST(way_id AS VARCHAR), ';' ORDER BY way_id) AS poly_ids
         |FROM cents GROUP BY 1""".stripMargin,
    // independent mechanism: the engine folds the assembled ring
    // arrays; the oracle pairs consecutive vertices by a pos→pos+1
    // self-join — same shoelace math, different decomposition
    "q221_poly_centroid" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.nodesCte}, ${SynthSql.wayMembersCte},
         |ring AS (
         |  SELECT wm.way_id, wm.pos,
         |    CAST(round(n.lon * 1e5) AS BIGINT) AS xe,
         |    CAST(round(n.lat * 1e5) AS BIGINT) AS ye
         |  FROM way_members wm JOIN nodes n USING (node_id)),
         |off AS (SELECT way_id, MIN(xe) AS mx, MIN(ye) AS my
         |        FROM ring GROUP BY 1),
         |lr AS (SELECT r.way_id, r.pos, r.xe - o.mx AS lx, r.ye - o.my AS ly
         |       FROM ring r JOIN off o USING (way_id)),
         |pairs AS (
         |  SELECT a.way_id, a.lx AS x1, a.ly AS y1, b.lx AS x2, b.ly AS y2
         |  FROM lr a JOIN lr b ON a.way_id = b.way_id AND b.pos = a.pos + 1),
         |sums AS (SELECT way_id,
         |    SUM(x1*y2 - x2*y1) AS a2,
         |    SUM((x1 + x2) * (x1*y2 - x2*y1)) AS cx_num,
         |    SUM((y1 + y2) * (x1*y2 - x2*y1)) AS cy_num
         |  FROM pairs GROUP BY 1)
         |SELECT s.way_id, CAST(a2 AS BIGINT) AS a2,
         |  CAST(o.mx + cx_num // (3 * a2) AS BIGINT) AS cx_e5,
         |  CAST(o.my + cy_num // (3 * a2) AS BIGINT) AS cy_e5
         |FROM sums s JOIN off o USING (way_id) WHERE a2 <> 0""".stripMargin,
    // independent mechanism: the engine folds non-adjacent segment
    // pairs inside the ring arrays; the oracle enumerates them with a
    // pos-join — same sign arithmetic
    "q225_ring_validity" ->
      s"""WITH ${SynthSql.waysCte}, ${SynthSql.nodesCte}, ${SynthSql.wayMembersCte},
         |ring AS (
         |  SELECT wm.way_id,
         |    CASE WHEN wm.way_id % 11 = 0 AND wm.pos = 1 THEN 2
         |         WHEN wm.way_id % 11 = 0 AND wm.pos = 2 THEN 1
         |         ELSE wm.pos END AS pos,
         |    CAST(round(n.lon * 1e7) AS BIGINT) AS x,
         |    CAST(round(n.lat * 1e7) AS BIGINT) AS y
         |  FROM way_members wm JOIN nodes n USING (node_id)),
         |seg AS (
         |  SELECT a.way_id, a.pos AS i, a.x AS x1, a.y AS y1,
         |    b.x AS x2, b.y AS y2
         |  FROM ring a JOIN ring b ON a.way_id = b.way_id
         |    AND b.pos = a.pos + 1),
         |nseg AS (SELECT way_id, COUNT(*) AS ns FROM seg GROUP BY 1),
         |pr AS (
         |  SELECT s.way_id,
         |    (s.x2 - s.x1)*(t.y1 - s.y1) - (s.y2 - s.y1)*(t.x1 - s.x1) AS d1,
         |    (s.x2 - s.x1)*(t.y2 - s.y1) - (s.y2 - s.y1)*(t.x2 - s.x1) AS d2,
         |    (t.x2 - t.x1)*(s.y1 - t.y1) - (t.y2 - t.y1)*(s.x1 - t.x1) AS d3,
         |    (t.x2 - t.x1)*(s.y2 - t.y1) - (t.y2 - t.y1)*(s.x2 - t.x1) AS d4
         |  FROM seg s JOIN seg t ON s.way_id = t.way_id AND t.i >= s.i + 2
         |  JOIN nseg n ON n.way_id = s.way_id
         |    AND NOT (s.i = 0 AND t.i = n.ns - 1)),
         |c AS (
         |  SELECT way_id,
         |    SUM(CASE WHEN ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
         |          AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
         |        THEN 1 ELSE 0 END) AS n_cross
         |  FROM pr GROUP BY 1)
         |SELECT r.way_id, CAST(COALESCE(c.n_cross, 0) AS BIGINT) AS n_cross,
         |  CAST(CASE WHEN COALESCE(c.n_cross, 0) = 0 THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_simple
         |FROM (SELECT DISTINCT way_id FROM ring) r LEFT JOIN c USING (way_id)""".stripMargin,
  )
}
