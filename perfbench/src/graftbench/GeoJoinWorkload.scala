package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlShim
import graft.geo.GeoFunctions
import graft.spatial.{CoverCellsExpr, PointInRingExpr, SpatialJoin}
import graft.synth.SynthUniverse

/** Output of one pass: total hits and the tile histogram. */
final case class PassOut(hits: Long, tiles: Map[Long, Long])

object GeoJoinWorkload extends Workload {
  val name = "geojoin"
  val why: String =
    "page text -> geo-entities -> cell-prefiltered PIP join against concave star rings " +
      "-> tile rollup: the bbox test passes points the ring then rejects, so cover, " +
      "salted cell join, shuffle AND the refine kernel all do real work"

  val BaseDocs = 250
  val Replicas = 64
  val Ways = 5000
  val Res = 8
  val TileRes = 5
  val Salt = 16
  /** Untimed passes before measuring: pass times fall for several
    * passes while the JIT compiles the join path. */
  val WarmPasses = 6
  /** One sampled page in this many is checked against the JTS reference. */
  val SampleEvery = 200
  private val RepStride = 10000000L

  /** Set-ups per run; setup_s is their median. The first runs on a
    * cold JVM, so the median is a warm set-up's wall. Each set-up drops
    * the previous one's cached frames first, or it would reuse them. */
  val SetupReps = 3

  /** The join's inputs: the polygon layer, the replicated pages and the
    * hot-cell threshold derived from them. */
  private final case class JoinInputs(polys: DataFrame, docs: DataFrame, replDocs: DataFrame,
      hot: Long)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val inDir = s"$workDir/input"
    val (dx, dy) = Inputs.replicaShifts(seed, Replicas)
    def points(d: DataFrame): DataFrame = {
      val rep = (col("doc_id") / RepStride).cast("int") + 1
      SynthUniverse.pointsOf(d).select(col("doc_id"), col("entity"),
        (col("lon") + element_at(typedLit(dx.toSeq), rep)).as("lon"),
        (col("lat") + element_at(typedLit(dy.toSeq), rep)).as("lat"))
    }

    // input generation, polygon build and the hot-cell count
    def setUp(): JoinInputs = {
      Inputs.orders(spark, Ways).write.mode("overwrite").parquet(s"$inDir/orders.parquet")
      val wayRows = SynthUniverse.ways(spark, inDir).collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
      val polys = Inputs.starRings(spark, seed, wayRows).repartition(cores).cache()
      polys.count()
      val docs = Inputs.documents(spark, seed, BaseDocs).repartition(cores).cache()
      docs.count()
      val replDocs = docs.crossJoin(broadcast(spark.range(Replicas).select(col("id").as("rep"))))
        .select((col("doc_id") + col("rep") * RepStride).as("doc_id"), col("text"))
      // hot-cell threshold as graft.Bench derives it: 1/4096 of the stream
      JoinInputs(polys, docs, replDocs, math.max(1000L, points(replDocs).count() / 4096L))
    }
    val setups = ArrayBuffer[Double]()
    var in: JoinInputs = null
    (1 to SetupReps).foreach { _ =>
      if (in != null) Seq(in.polys, in.docs).foreach(_.unpersist(true))
      val (w, x) = Timer.time(setUp())
      setups += w
      in = x
    }
    val setupS = Stats.median(setups.toSeq)
    val JoinInputs(polys, _, replDocs, hot) = in

    def join(pts: DataFrame): DataFrame =
      SpatialJoin.pipJoin(pts, polys, res = Res, mode = "partitioned", salt = Salt,
        hotThreshold = hot, ringDict = "inline")
    def tilesOf(pip: DataFrame): Map[Long, Long] =
      pip.withColumn("tile", GeoFunctions.cellAt(col("lon"), col("lat"), TileRes))
        .groupBy(col("tile")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def pass(tr: Trace): PassOut = tr.span("pass", "bench") {
      val pts = tr.span("synth.extract", "synth")(tr.boundary(points(replDocs), "points"))
      val pip = tr.span("spatial.pip_join", "spatial")(tr.boundary(join(pts), "hits"))
      val tiles = tr.span("geo.tiles", "geo") {
        val t = tilesOf(pip)
        tr.note("tile_rows", t.size)
        t
      }
      if (tr.on) { pip.unpersist(); pts.unpersist() }
      PassOut(tiles.values.sum, tiles)
    }

    // warm-up: JIT, codegen and the salt histogram path; its output is
    // the reference every measured pass must reproduce exactly
    val (w0, ref) = Timer.time(pass(Trace.Off))
    val warm = ArrayBuffer(w0)
    var failed = 0
    (2 to WarmPasses).foreach { _ =>
      val (w, out) = Timer.time(pass(Trace.Off))
      warm += w
      if (Checks.samePass(ref, out).nonEmpty) failed += 1
    }

    // a traced run follows each traced pass with an untraced one, the
    // baseline of the trace-overhead ratio, and makes at least 3 of each
    val walls = ArrayBuffer[Double]()
    val plain = ArrayBuffer[Double]()
    val minPasses = if (trace.on) 3 else 1
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (walls.size < minPasses || System.nanoTime() < deadline) {
      val (w, out) = Timer.time(pass(trace))
      walls += w
      if (Checks.samePass(ref, out).nonEmpty) failed += 1
      if (trace.on) plain += Timer.time(pass(Trace.Off))._1
    }
    def fmt(ws: Iterable[Double]) = ws.map(w => f"$w%.2f").mkString(" ")
    System.err.println(s"[graftbench] setups ${fmt(setups)} s, warm-up passes ${fmt(warm)} s, passes ${fmt(walls)} s")
    heap.sample()

    // independent reference on a seeded sample of pages
    val sampleDocs = replDocs.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(SampleEvery)) === 0)
    val samplePts = points(sampleDocs).cache()
    val pts = samplePts.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSeq
    val samplePip = join(samplePts).cache()
    val got = samplePip.select("doc_id", "entity", "way_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val gotTiles = tilesOf(samplePip)
    val rings = polys.collect().map(r => (r.getLong(0),
      r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray)).toSeq
    val want = Checks.jtsPairs(pts, rings)
    val sampleErr = Checks.samePairs(got, want)
      .orElse(Checks.sameTiles(gotTiles, Checks.referenceTiles(pts, want, TileRes)))
    sampleErr.foreach(e => System.err.println(s"[graftbench] sample check failed: $e"))
    val probe = trace match {
      case t: Tracer => Some(Probe.run(t, polys, points(replDocs), hot))
      case _ => None
    }
    val probeErr = probe.flatMap(p => Checks.candidateCounts(p.bboxPass, p.hits, p.kernelRows, ref.hits))
    probeErr.foreach(e => System.err.println(s"[graftbench] candidate probe check failed: $e"))
    val correct = sampleErr.isEmpty && probeErr.isEmpty && failed == 0
    if (!correct) failed = walls.size

    val docsN = BaseDocs.toLong * Replicas
    val p50 = Stats.median(walls.toSeq)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("step_p50_s", p50, "s"),
      Metric("rows_per_s", docsN / p50, "rows/s"),
      Metric("heap_peak_mb", heap.peak, "MB"))
    val layers = (trace, probe) match {
      case (t: Tracer, Some(p)) => layerMetrics(t, p, plain.toSeq, walls.toSeq, cores)
      case _ => Nil
    }
    Outcome(walls.size, failed, correct, e2e, layers)
  }

  private def layerMetrics(t: Tracer, probe: ProbeOut, plain: Seq[Double],
      traced: Seq[Double], cores: Int): Seq[Metric] = {
    t.drain()
    val passes = t.spans.filter(_.name == "pass").toSeq
    def child(p: Span, n: String): Span = t.spans.find(s => s.parent == p.id && s.name == n).get
    def med(f: Span => Double): Double = Stats.median(passes.map(f))
    def joinOf(p: Span): Span = child(p, "spatial.pip_join")
    val joinAggs = passes.map(p => TaskAgg.of(t.tasksOf(joinOf(p))))
    def jmed(f: TaskAgg => Double): Double = Stats.median(joinAggs.map(f))
    val joinWall = med(joinOf(_).wallS)
    val hits = med(joinOf(_).counts("hits"))
    val layerShare = passes.map(p =>
      t.subtree(p).filter(_.layer != "bench").map(t.selfS).sum / p.wallS)
    Seq(
      Metric("synth.extract_s", med(child(_, "synth.extract").wallS), "s"),
      Metric("synth.points", med(child(_, "synth.extract").counts("points")), "count"),
      Metric("spatial.cover_rows", probe.coverRows, "count"),
      Metric("spatial.candidates", probe.candidates, "count"),
      Metric("spatial.bbox_pass", probe.bboxPass.toDouble, "count"),
      Metric("spatial.hits", hits, "count"),
      Metric("spatial.hit_ratio", hits / math.max(1.0, probe.candidates), "ratio"),
      Metric("spatial.join_s", joinWall, "s"),
      Metric("spatial.celljoin_s", math.max(0.0, joinWall - probe.refineS), "s"),
      Metric("spatial.refine_s", probe.refineS, "s"),
      Metric("spatial.task_cpu_s", jmed(_.cpuS), "s"),
      Metric("spatial.core_util", Stats.median(passes.zip(joinAggs).map { case (p, a) =>
        a.coreUtil(joinOf(p).wallS, cores) }), "ratio"),
      Metric("spatial.task_skew", jmed(_.skew), "ratio"),
      Metric("spatial.shuffle_write_mb", jmed(_.shuffleWriteMb), "MB"),
      Metric("spatial.spill_mb", jmed(_.spillMb), "MB"),
      Metric("geo.tiles_s", med(child(_, "geo.tiles").wallS), "s"),
      Metric("geo.tile_rows", med(child(_, "geo.tiles").counts("tile_rows")), "count"),
      Metric("trace.layer_share", Stats.median(layerShare), "ratio"),
      Metric("trace_overhead_frac", Stats.median(traced) / Stats.median(plain) - 1.0, "ratio"))
  }
}

/** What the candidate probe measured. `kernelRows` is the number of
  * rows the refine kernel was timed on. */
final case class ProbeOut(coverRows: Double, candidates: Double, bboxPass: Long,
    hits: Long, kernelRows: Long, refineS: Double)

/** The counts pipJoin's inline plan does not expose, taken from the
  * program's own candidate path, plus a timing of the refine kernel
  * alone on the rows pipJoin refines. */
object Probe {
  private val Reps = 3
  private val KernelCopies = 20

  def run(t: Tracer, polys: DataFrame, points: DataFrame, hot: Long): ProbeOut = {
    import GeoJoinWorkload.{Res, Salt}
    val pts = points.withColumn("cell", GeoFunctions.cellAt(col("lon"), col("lat"), Res)).persist()
    pts.count()
    val cover = polys.select(col("way_id"), col("xs"), col("ys"),
      explode(GraftSqlShim.column(CoverCellsExpr(GraftSqlShim.expression(col("xs")),
        GraftSqlShim.expression(col("ys")), Res))).as("cell"))
    val coverRows = cover.count()
    // the cell join's row count, whatever its strategy: salting sends
    // each point to one shard and each hot cover row to all of them
    val candidates = pts.groupBy("cell").count().withColumnRenamed("count", "np")
      .join(cover.groupBy("cell").count().withColumnRenamed("count", "nc"), "cell")
      .agg(sum(col("np") * col("nc"))).head().getLong(0)

    // pipJoin with the pass's mode, salt and threshold, but a slim cell
    // join: the bbox test is the cell join's condition and the refine
    // the ring-dictionary join's, so their output rows are bbox passes
    // and hits
    t.span("spatial.candidate_probe", "probe") {
      SpatialJoin.pipJoin(points, polys, res = Res, mode = "partitioned", salt = Salt,
        hotThreshold = hot, ringDict = "broadcast").write.format("noop").mode("overwrite").save()
    }
    t.drain()
    val probeSpan = t.spans.findLast(_.name == "spatial.candidate_probe").get
    val joins = t.execsOf(probeSpan).flatMap(_._1.joins)
    def rowsOf(keys: Set[String]): Long = joins.filter(_._1.toSet == keys).map(_._2).sum
    val bboxPass = rowsOf(Set("cell", "s"))
    val probeHits = rowsOf(Set("way_id"))

    // the refine kernel alone, on the bbox-passing candidates, against
    // a scan of the same cached columns. One pass's refine takes a few
    // ms, so each query runs it over KernelCopies copies of every row;
    // `+ r * 0.0` keeps the filter above the copies.
    val inBox = col("lon") >= array_min(col("xs")) && col("lon") <= array_max(col("xs")) &&
      col("lat") >= array_min(col("ys")) && col("lat") <= array_max(col("ys"))
    val cand = pts.join(cover, "cell").filter(inBox).select("xs", "ys", "lon", "lat").persist()
    val candRows = cand.count()
    val copies = cand.withColumn("r", explode(sequence(lit(1), lit(KernelCopies))))
    val lon = col("lon") + col("r") * 0.0
    def med(f: => Long): Double = Stats.median((1 to Reps).map(_ => Timer.time(f)._1))
    val scanS = med(copies.filter(lon.isNotNull && size(col("xs")) > 0 &&
      size(col("ys")) > 0).count())
    val kernelS = med(copies.filter(
      PointInRingExpr.pipContains(col("xs"), col("ys"), lon, col("lat"))).count())
    Seq(cand, pts).foreach(_.unpersist())

    ProbeOut(coverRows.toDouble, candidates.toDouble, bboxPass, probeHits, candRows,
      math.max(0.0, kernelS - scanS) / KernelCopies)
  }
}

object Timer {

  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }
}
