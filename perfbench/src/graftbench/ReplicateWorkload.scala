package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.osm.{ChangePipeline, Replicator}
import graft.rdf.TripleDerive
import graft.synth.SynthUniverse
import graft.tables.SnapshotTable

/** Wall times and outputs of one applied change batch. */
final case class BatchRec(lo: Long, hi: Long, applyS: Double, readS: Double, rows: Long,
    compacted: Boolean, chainLen: Int, probeErr: Option[String])

object ReplicateWorkload extends Workload {
  val name = "replicate"
  val why: String =
    "the live replication loop: each seq window is W1-deduped and committed by " +
      "Replicator.applyOps into the 4-layer store, then the batch's objects are read back " +
      "through the merge-on-read triple store's delta chain"

  val Orders = 2500
  val Events = 10000
  val BatchEvents = 1000
  val Buckets = 16
  /** Delta-chain cap in traced runs: the third batch of a traced run
    * compacts the triple store, so the compaction's cost is measured. */
  val TraceCompactEvery = 2
  val Tables: Seq[String] = Seq("nodes", "ways", "rels", "triples")

  /** The 4-layer snapshot store the loop maintains, as a deployment
    * would hold it before the first batch: node, way and relation
    * layers with ts/tags metadata and the owner-keyed triple store. */
  def buildStore(s: SparkSession, dir: String, root: String, buckets: Int): Unit = {
    val nodes = SynthUniverse.nodesMeta(s, dir).cache()
    SnapshotTable.create(s, s"$root/nodes", nodes, Seq("node_id"), buckets)
    val wm = SynthUniverse.wayMembers(s, dir)
    val ways = ChangePipeline.reconstructWays(wm.select(col("way_id")).distinct(), wm, nodes)
      .withColumn("ts", SynthUniverse.synthTs(col("way_id")))
      .withColumn("tags", SynthUniverse.wayTagMap(col("way_id")))
      .cache()
    SnapshotTable.create(s, s"$root/ways", ways, Seq("way_id"), buckets)
    val rels = ChangePipeline.serializeRelMembers(
        SynthUniverse.relMembers(s, dir).withColumnRenamed("member_kind", "mtype"))
      .withColumn("ts", SynthUniverse.synthTs(col("rel_id")))
      .withColumn("tags", SynthUniverse.relTagMap(col("rel_id")))
      .cache()
    SnapshotTable.create(s, s"$root/rels", rels, Seq("rel_id"), buckets)
    SnapshotTable.create(s, s"$root/triples", derivedTriples(nodes, ways, rels),
      Seq("subj_key"), buckets)
    Seq(nodes, ways, rels).foreach(_.unpersist())
  }

  /** The owner-keyed triple store a full re-derivation gives (the q70
    * invariant's right-hand side). */
  def derivedTriples(nodes: DataFrame, ways: DataFrame, rels: DataFrame): DataFrame =
    TripleDerive.ownedNodeTriplesFull(nodes)
      .unionByName(TripleDerive.ownedWayTriplesFull(ways))
      .unionByName(TripleDerive.ownedRelTriplesFull(rels))
      .select(col("subj_key"), col("s"), col("p"), col("o"))

  private def keyOf(kind: String, id: Long): String = kind match {
    case "node" => s"node:$id"
    case "way" => s"way:$id"
    case _ => s"rel:$id"
  }

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val t0 = System.nanoTime()
    val inDir = s"$workDir/input"
    val root = s"$workDir/store"
    Inputs.orders(spark, Orders).write.mode("overwrite").parquet(s"$inDir/orders.parquet")
    Inputs.events(spark, seed, Events).write.mode("overwrite").parquet(s"$inDir/events.parquet")
    trace.span("setup.store", "setup")(buildStore(spark, inDir, root, Buckets))
    val changes = SynthUniverse.changesFull(spark, inDir).cache()
    changes.count()
    val bounds = Inputs.batchBounds(seed, Events, BatchEvents)
    val table = Tables.map(t => t -> SnapshotTable.load(spark, s"$root/$t")).toMap
    val initial = Tables.map(t => t -> table(t).currentSnapshot.get).toMap

    def window(lo: Long, hi: Long): DataFrame =
      changes.filter(col("seq") >= lo && col("seq") < hi)

    def batch(lo: Long, hi: Long, trace: Trace): BatchRec = trace.span("batch", "bench") {
      val winners = trace.span("osm.dedup", "osm")(
        trace.boundary(ChangePipeline.dedupLatest(window(lo, hi)), "winners"))
      val before = table("triples").currentSnapshot
      val (applyS, rows) = Timer.time(trace.span("osm.apply", "osm")(
        new Replicator(spark, root).applyOps(winners)))
      // newest first: (id, operation, is_delta) of the triple store
      val snaps = table("triples").snapshotsMeta.orderBy(col("snapshot_id").desc)
        .select("snapshot_id", "operation", "is_delta").collect()
      val compacted = snaps.exists(r => r.getLong(0) > before.get && r.getString(1) == "compact")
      val chainLen = snaps.takeWhile(_.getBoolean(2)).length
      val ops = winners.select("kind", "id", "action").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      if (trace.on) winners.unpersist()
      val keys = ops.map { case (k, id, _) => keyOf(k, id) }.toSeq
      val (readS, found) = Timer.time(trace.span("tables.read", "tables") {
        table("triples").read().filter(col("subj_key").isin(keys: _*))
          .groupBy(col("subj_key")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      })
      val probeErr = Checks.probe(found,
        ops.collect { case ("node", id, a) if a != "delete" => keyOf("node", id) }.toSeq,
        ops.collect { case (k, id, "delete") => keyOf(k, id) }.toSeq)
      probeErr.foreach(e => System.err.println(s"[graftbench] batch [$lo,$hi): $e"))
      System.err.println(f"[graftbench] batch [$lo,$hi) apply $applyS%.2f s read $readS%.2f s rows $rows compacted $compacted")
      BatchRec(lo, hi, applyS, readS, rows, compacted, chainLen, probeErr)
    }

    val it = bounds.iterator
    def next(tr: Trace): BatchRec = { val (lo, hi) = it.next(); batch(lo, hi, tr) }
    val setupS = (System.nanoTime() - t0) / 1e9
    // closed loop, one batch in flight; at the default delta-chain cap
    // every measured batch is an O(batch) delta commit
    val recs = ArrayBuffer[BatchRec]()
    val plain = ArrayBuffer[BatchRec]()
    trace match {
      case Trace.Off =>
        val deadline = System.nanoTime() + seconds * 1000000000L
        while (it.hasNext && (recs.isEmpty || System.nanoTime() < deadline)) recs += next(trace)
      case _ =>
        // untraced baseline batch, then a traced delta commit and a
        // traced compaction (the chain cap is lowered to 2 for this run)
        spark.conf.set("spark.graft.triplesCompactEvery", TraceCompactEvery.toString)
        plain += next(Trace.Off)
        recs += next(trace)
        recs += next(trace)
    }
    heap.sample()

    val tCheck = System.nanoTime()
    val applied = (plain ++ recs).toSeq
    val (foldErr, closure) = foldCheck(spark, table, initial,
      applied.map(r => ChangePipeline.dedupLatest(window(r.lo, r.hi))))
    val endErr = Checks.sameRows("triple store vs re-derivation", table("triples").read(),
        derivedTriples(table("nodes").read(), table("ways").read(), table("rels").read()))
      .orElse(foldErr)
    endErr.foreach(e => System.err.println(s"[graftbench] end-of-run check failed: $e"))
    System.err.println(f"[graftbench] setup $setupS%.1f s, end-of-run checks ${(System.nanoTime() - tCheck) / 1e9}%.1f s")
    val correct = endErr.isEmpty && applied.forall(r => r.probeErr.isEmpty && r.rows > 0)
    val failed = if (endErr.nonEmpty) recs.size else recs.count(r => r.probeErr.nonEmpty || r.rows == 0)

    val steps = recs.map(r => r.applyS + r.readS).toSeq
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("step_p50_s", Stats.median(steps), "s"),
      Metric("rows_per_s", recs.map(_.rows).sum / recs.map(_.applyS).sum, "rows/s"),
      Metric("heap_peak_mb", heap.peak, "MB"))
    val layers = trace match {
      case t: Tracer => layerMetrics(t, table, recs.toSeq, plain.toSeq, closure, cores)
      case _ => Nil
    }
    Outcome(recs.size, failed, correct, e2e, layers)
  }

  /** Fold the pure ChangePipeline apply functions over the same batches,
    * starting from the store's first snapshots, and compare every layer
    * with what applyOps committed. Relation members compare in the
    * `member_id/role` form the pure functions produce. */
  def foldCheck(spark: SparkSession, table: Map[String, SnapshotTable],
      initial: Map[String, Long], batches: Seq[DataFrame]): (Option[String], Seq[(Long, Long)]) = {
    val stripKind = (c: org.apache.spark.sql.Column) => regexp_replace(c, "(^|;)[^/;]+/", "$1")
    var nodes = table("nodes").readAt(initial("nodes")).select("node_id", "lon", "lat")
    var ways = table("ways").readAt(initial("ways")).select("way_id", "members", "wkt")
    var rels = table("rels").readAt(initial("rels"))
      .select(col("rel_id"), stripKind(col("members")).as("members"))
    val closure = batches.map { w0 =>
      val w = w0.localCheckpoint()
      val wm = ways.select(col("way_id"),
          posexplode(split(col("members"), ";")).as(Seq("pos", "nid")))
        .select(col("way_id"), col("pos"), col("nid").cast("long").as("node_id"))
      val stale = ChangePipeline.staleWays(w, wm).localCheckpoint()
      val newNodes = ChangePipeline.applyNodeOps(nodes, w).localCheckpoint()
      val wayMembership = w.filter(col("kind") === "way" && col("action").isin("create", "modify"))
        .select(col("id").as("way_id"), posexplode(col("nodeRefs")).as(Seq("pos", "node_id")))
        .unionByName(wm.join(stale, Seq("way_id"), "left_semi"))
      val rm = rels.select(col("rel_id"),
          posexplode(split(col("members"), ";")).as(Seq("pos", "m")))
        .select(col("rel_id"), col("pos"),
          split_part(col("m"), lit("/"), lit(1)).cast("long").as("member_id"),
          split_part(col("m"), lit("/"), lit(2)).as("role"))
      val staleR = ChangePipeline.staleRels(w, rm, stale).localCheckpoint()
      val relMembership = w.filter(col("kind") === "relation" && col("action").isin("create", "modify"))
        .select(col("id").as("rel_id"), posexplode(col("members")).as(Seq("pos", "m")))
        .select(col("rel_id"), col("pos"), col("m.ref").as("member_id"), col("m.role").as("role"))
        .unionByName(rm.join(staleR, Seq("rel_id"), "left_semi"))
      ways = ChangePipeline.applyWayOps(ways, w, wayMembership, newNodes, stale).localCheckpoint()
      rels = ChangePipeline.applyRelOps(rels, w, relMembership, staleR).localCheckpoint()
      nodes = newNodes
      (stale.count(), staleR.count())
    }
    val err = Checks.sameRows("nodes layer vs fold",
        table("nodes").read().select("node_id", "lon", "lat"), nodes)
      .orElse(Checks.sameRows("ways layer vs fold",
        table("ways").read().select("way_id", "members", "wkt"), ways))
      .orElse(Checks.sameRows("rels layer vs fold", table("rels").read()
        .select(col("rel_id"), stripKind(col("members")).as("members")), rels))
    (err, closure)
  }

  private def layerMetrics(t: Tracer, table: Map[String, SnapshotTable], recs: Seq[BatchRec],
      plain: Seq[BatchRec], closure: Seq[(Long, Long)], cores: Int): Seq[Metric] = {
    t.drain()
    val batches = t.spans.filter(_.name == "batch").toSeq
    def child(p: Span, n: String): Span = t.spans.find(s => s.parent == p.id && s.name == n).get
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    val applies = batches.map(child(_, "osm.apply"))
    val aggs = applies.map(a => TaskAgg.of(t.tasksOf(a)))
    val reads = batches.map(child(_, "tables.read"))
    // merges attributed to their table by the write's output path
    def tableOf(path: String): Option[String] =
      Tables.find(tb => path.contains(s"/store/$tb/"))
    val perBatch = applies.map { a =>
      val ex = t.execsOf(a)
      Tables.map { tb =>
        val writes = ex.filter(_._1.writePath.exists(p => tableOf(p).contains(tb)))
        val scans = ex.flatMap(_._1.scans).filter(sc => tableOf(sc.path).contains(tb))
        tb -> Map(
          "merge_s" -> writes.map { case (_, s, e) => (e - s) / 1000.0 }.sum,
          "bytes_read_mb" -> scans.map(_.bytes).sum / 1e6,
          "rows_written" -> writes.map(_._1.writeRows).sum.toDouble,
          "bytes_written_mb" -> writes.map(_._1.writeBytes).sum / 1e6,
          "files_written" -> writes.map(_._1.writeFiles).sum.toDouble,
          "buckets_touched" -> writes.map(_._1.writeParts).sum.toDouble)
      }.toMap
    }
    val writeSpans = applies.map(a => TaskAgg.unionS(t.execsOf(a)
      .filter(_._1.writePath.flatMap(tableOf).nonEmpty).map { case (_, s, e) => (s, e) }))
    val readEx = reads.map(t.execsOf)
    val compactS = recs.filter(_.compacted).map(_.applyS)
    val deltaBatches = recs.zip(perBatch).filterNot(_._1.compacted)
    val live = Tables.map(tb => table(tb).filesMeta().agg(sum("bytes")).head().getLong(0)).sum
    val tableMetrics = for (tb <- Tables; k <- Seq("merge_s", "bytes_read_mb", "rows_written",
        "bytes_written_mb", "files_written", "buckets_touched")) yield
      Metric(s"tables.$tb.$k", med(perBatch.map(_(tb)(k))),
        if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count")
    // per-batch rows of the apply leg, into the trace file
    batches.zip(aggs).zip(perBatch).foreach { case ((b, a), pb) =>
      val ap = child(b, "osm.apply")
      ap.counts("core_util") = a.coreUtil(ap.wallS, cores)
      ap.counts("idle_s") = math.max(0.0, ap.wallS - a.busyS)
      pb.foreach { case (tb, m) => m.foreach { case (k, v) => ap.counts(s"$tb.$k") = v } }
    }
    Seq(
      Metric("osm.dedup_s", med(batches.map(child(_, "osm.dedup").wallS)), "s"),
      Metric("osm.winners", med(batches.map(child(_, "osm.dedup").counts("winners"))), "count"),
      Metric("osm.apply_p50_s", med(recs.map(_.applyS)), "s"),
      Metric("osm.closure_ways", med(closure.map(_._1.toDouble)), "count"),
      Metric("osm.closure_rels", med(closure.map(_._2.toDouble)), "count"),
      Metric("osm.ops_per_s", recs.map(_.rows).sum / recs.map(_.applyS).sum, "rows/s"),
      Metric("osm.orchestration_s", med(applies.zip(writeSpans).map { case (a, w) =>
        math.max(0.0, a.wallS - w) }), "s"),
      Metric("osm.apply_jobs", med(applies.map(a => t.jobsOf(a).toDouble)), "count"),
      Metric("osm.apply_tasks", med(aggs.map(_.tasks.toDouble)), "count"),
      Metric("osm.apply_task_cpu_s", med(aggs.map(_.cpuS)), "s"),
      Metric("osm.apply_core_util", med(applies.zip(aggs).map { case (a, g) =>
        g.coreUtil(a.wallS, cores) }), "ratio"),
      Metric("osm.apply_idle_s", med(applies.zip(aggs).map { case (a, g) =>
        math.max(0.0, a.wallS - g.busyS) }), "s"),
      Metric("rdf.triples_derived", med(deltaBatches.map(_._2("triples")("rows_written"))), "count"),
      Metric("tables.write_s", med(writeSpans), "s"),
      Metric("tables.compactions", recs.count(_.compacted).toDouble, "count"),
      Metric("tables.compact_s", med(compactS), "s"),
      Metric("tables.read_p50_s", med(recs.map(_.readS)), "s"),
      Metric("tables.read.files", med(readEx.map(_.flatMap(_._1.scans).map(_.files).sum.toDouble)), "count"),
      Metric("tables.read.bytes_mb", med(readEx.map(_.flatMap(_._1.scans).map(_.bytes).sum / 1e6)), "MB"),
      Metric("tables.read.delta_chain_len", med(recs.map(_.chainLen.toDouble)), "count"),
      Metric("tables.live_store_mb", live / 1e6, "MB"),
      Metric("trace.layer_share", med(batches.map(b =>
        t.subtree(b).filter(_.layer != "bench").map(t.selfS).sum / b.wallS)), "ratio"),
      Metric("trace_overhead_frac",
        med(recs.filterNot(_.compacted).map(r => r.applyS + r.readS)) /
          med(plain.map(r => r.applyS + r.readS)) - 1.0,
        "ratio")) ++
      tableMetrics
  }
}
