package graft.osm

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.SnapshotTable

/** The replication catch-up loop (reference entry point 2,
  * /root/reference/src/osm/OsmUpdater.cpp:41-115) over snapshot tables:
  *
  *  - ST1 start-offset resolution: user seq ▸ user timestamp (as-of
  *    lookup on the server-state table) ▸ last applied seq + 1;
  *  - ST2 batch-collapse: ALL pending change files merge into one
  *    logical batch, W1 dedup-to-latest applied across the window —
  *    only the final version of each object is applied;
  *  - ST3 up-to-date short-circuit (no pending files → no-op);
  *  - ST4 exactly-once application: MERGE INTO is idempotent by key and
  *    the applied-seq checkpoint commits AFTER the merge;
  *  - ST5 duplicate/late ops collapse inside the W1 window.
  */
class Replicator(spark: SparkSession, root: String) {

  val nodes: SnapshotTable = SnapshotTable.load(spark, s"$root/nodes")
  /** Way layer in reconstructed snapshot form (way_id, members, wkt) —
    * members = ';'-joined ordered node refs. Merged only when the table
    * has an initial snapshot (a node-only deployment stays node-only). */
  val ways: SnapshotTable = SnapshotTable.load(spark, s"$root/ways")
  /** Relation layer (rel_id, members) — members = ';'-joined ordered
    * `mtype/ref/role` entries (the kind is kept so stale-relation
    * detection can restrict to way members, J3 semantics). */
  val rels: SnapshotTable = SnapshotTable.load(spark, s"$root/rels")
  /** Optional in-loop RDF store (subj_key, s, p, o) keyed by OWNING
    * object — maintained per batch when an initial snapshot exists.
    * Owner-keying turns the reference's two-hop SPARQL DELETE into a
    * per-object bucket replace (see TripleDerive owner-keyed faces).
    * Families maintained: node link+geometry, way members+WKT, relation
    * members, PLUS — when the layers carry ts/tags columns — the full
    * J10 meta families (rdf:type / osmmeta:timestamp / osmkey:* /
    * osm2rdf:facts, the q39/q54/q55 shapes) per
    * /root/reference/src/osm/OsmDataFetcher.cpp:333-395 and
    * src/sparql/QueryWriter.cpp:242-255. */
  val triples: SnapshotTable = SnapshotTable.load(spark, s"$root/triples")
  private val ckpt = Paths.get(root, "applied_seq")

  def appliedSeq: Option[Int] =
    if (Files.exists(ckpt))
      Some(new String(Files.readAllBytes(ckpt), StandardCharsets.UTF_8).trim.toInt)
    else None

  /** ST1: resolve the first sequence number to apply.
    * `serverStates` is (seq INT, ts TIMESTAMP) — cf. state.txt parsing
    * (/root/reference/src/osm/OsmDataFetcher.cpp:163-202). */
  def decideStartSeq(userSeq: Option[Int], userTs: Option[java.sql.Timestamp],
      serverStates: DataFrame): Int =
    userSeq.getOrElse {
      userTs.flatMap { t =>
        // backward walk becomes a degenerate as-of join: max seq at ts<=t
        val r = serverStates.filter(col("ts") <= lit(t)).agg(max(col("seq"))).head()
        if (r.isNullAt(0)) None else Some(r.getInt(0))
      }.orElse(appliedSeq.map(_ + 1)).getOrElse(0)
    }

  /** Apply every pending change file under `changeDir` as ONE merged
    * batch across all three layers (nodes, then ways, then relations —
    * the reference's delete+insert for every kind,
    * /root/reference/src/osm/OsmChangeHandler.cpp:442-575). Returns the
    * number of winning ops applied (0 = up to date). */
  def catchUp(changeDir: String): Long = {
    import spark.implicits._
    val from = appliedSeq.map(_ + 1).getOrElse(0)
    val all = OscReader.read(spark, s"$changeDir/*.osc*")
      .filter(col("seq") >= from)
    if (all.isEmpty) return 0L // ST3

    val ops = all.toDF()
    val applied = applyOps(ChangePipeline.dedupLatest(ops))
    val maxSeq = ops.agg(max(col("seq"))).head().getInt(0)
    Files.createDirectories(ckpt.getParent)
    Files.write(ckpt, maxSeq.toString.getBytes(StandardCharsets.UTF_8))
    applied
  }

  /** Apply ONE already-deduped winner set across all three layers —
    * the shared body of batch [[catchUp]] and a streaming
    * `foreachBatch` sink (the per-trigger GroupState winners of
    * [[graft.streaming.ChangeStream.latestPerKey]] feed here directly,
    * so both faces share the exact same MERGE logic). Does NOT advance
    * the sequence checkpoint. */
  def applyOps(winnersIn: DataFrame): Long = {
    // AQE is scoped OFF for the batch apply: the delta DAGs are bounded
    // by batch size (small, statically well-planned), and AQE turns
    // each of their many exchanges into a separate sequentially
    // materialized query stage — measured ~1.6x wall overhead per
    // merge on the bench batch with zero plan improvement.
    val aqeWas = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try applyOpsInner(winnersIn)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas.getOrElse("true"))
  }

  /** Build every layer's delta from PRE-merge snapshots + winners, then
    * commit the four MERGEs concurrently.
    *
    * The batch's ids go to the driver once: the winners' (kind, id,
    * action), then the J1 stale-way, J3 stale-relation and (under
    * `spark.graft.relsOfRels`) J4 parent-relation ids, one job each.
    * Every semi- or anti-join of a layer against those sets is an
    * `InSet` predicate on the layer's scan instead of a broadcast job.
    * The driver holds only these ids (8 B of payload each), so its
    * state is bounded by what the batch touches.
    *
    * The node layer ways rebuild against is computed IN-PLAN
    * ([[ChangePipeline.applyNodeIds]], the node table the node merge
    * commits), and the triple upserts for an object are exactly its
    * delta rows, so no merge needs another merge's committed files.
    * Each table commits its own snapshot independently; a partial
    * failure leaves some layers advanced, which the idempotent MERGE +
    * post-batch seq checkpoint (ST4) makes safe to re-apply. */
  private def applyOpsInner(winnersIn: DataFrame): Long = {
    import ChangePipeline.in
    val winners = winnersIn.cache() // ST2+ST5, read by every layer's delta
    val ids = ChangePipeline.batchIds(winners) // also materializes the cache
    // J10 metadata: a layer whose snapshot carries ts/tags columns
    // maintains the full type/timestamp/tag/facts triple families;
    // changed objects take the change file's values, stale rebuilds
    // carry the stored ones forward (the reference re-fetches exactly
    // these, OsmDataFetcher.cpp:333-395). The LAYER schema is
    // authoritative: a change stream missing ts/tags contributes nulls
    // (the delta must still union with the kept base rows), never a
    // silent schema mismatch.
    def wcol(name: String, tpe: String): org.apache.spark.sql.Column =
      if (winners.columns.contains(name)) col(name)
      else lit(null).cast(tpe).as(name)
    def hasMeta(base: DataFrame): Boolean =
      Seq("ts", "tags").forall(base.columns.contains)
    val baseNodes = nodes.read()
    val nodeMeta = hasMeta(baseNodes)
    val metaCols: Seq[org.apache.spark.sql.Column] =
      if (nodeMeta) Seq(wcol("ts", "timestamp").as("ts"),
        wcol("tags", "map<string,string>").as("tags"))
      else Nil
    val nodeOps = winners.filter(col("kind") === "node")
      .select(Seq(col("id").as("node_id"),
        col("lon").as("lon"), col("lat").as("lat")) ++ metaCols :+
        (col("action") === "delete").as("deleted"): _*)
    val nodeUpserts = winners
      .filter(col("kind") === "node" && col("action").isin("create", "modify"))
      .select(Seq(col("id").as("node_id"), col("lon"), col("lat")) ++ metaCols: _*)
    // in-plan merged node layer (== the node table post-merge)
    val mergedNodes = ChangePipeline.applyNodeIds(baseNodes, winners, ids)

    // enrich a reconstructed upsert set with ts/tags: change-file values
    // win, stale rebuilds keep the stored layer values
    def withMeta(upserts: DataFrame, base: DataFrame, kind: String,
        idCol: String, upsertIds: Set[Long]): DataFrame = {
      val wm = winners.filter(col("kind") === kind && col("action").isin("create", "modify"))
        .select(col("id").as(idCol), wcol("ts", "timestamp").as("__wts"),
          wcol("tags", "map<string,string>").as("__wtags"))
      val bm = base.filter(in(col(idCol), upsertIds))
        .select(col(idCol), col("ts").as("__bts"), col("tags").as("__btags"))
      upserts.join(wm, Seq(idCol), "left").join(bm, Seq(idCol), "left")
        .withColumn("ts", coalesce(col("__wts"), col("__bts")))
        .withColumn("tags", coalesce(col("__wtags"), col("__btags")))
        .drop("__wts", "__wtags", "__bts", "__btags")
    }

    // ---- way delta ----
    // stale detection reads the PRE-merge way snapshot; the change file
    // itself supplies member lists for created/modified ways.
    def wayMembers(ws: DataFrame): DataFrame = ws
      .select(col("way_id"), posexplode(split(col("members"), ";")).as(Seq("pos", "nid")))
      .select(col("way_id"), col("pos"), col("nid").cast("long").as("node_id"))
    val wayBase = ways.currentSnapshot.map(_ => ways.read())
    val staleW = wayBase.fold(Set.empty[Long])(b => ChangePipeline.staleWayIds(ids, wayMembers(b)))
    val wayDelta: Option[(DataFrame, DataFrame)] = wayBase.map { base => // (delta, upserts)
      val changeMembers = winners
        .filter(col("kind") === "way" && col("action").isin("create", "modify"))
        .select(col("id").as("way_id"), posexplode(col("nodeRefs")).as(Seq("pos", "node_id")))
      val upserts0 = ChangePipeline.assembleWays(
        changeMembers.unionByName(wayMembers(base.filter(in(col("way_id"), staleW)))),
        mergedNodes)
      // cached: the way merge and the triple merge both consume it
      val upserts = (if (hasMeta(base)) withMeta(upserts0, base, "way", "way_id",
          ids("way", "create", "modify") ++ staleW)
        else upserts0).cache()
      val dels = winners.filter(col("kind") === "way" && col("action") === "delete")
        .select(col("id").as("way_id"), lit(null).cast("string").as("members"),
          lit(null).cast("string").as("wkt"))
      val delsM =
        if (hasMeta(base))
          dels.withColumn("ts", lit(null).cast("timestamp"))
            .withColumn("tags", lit(null).cast("map<string,string>"))
        else dels
      (upserts.withColumn("deleted", lit(false))
        .unionByName(delsM.withColumn("deleted", lit(true))), upserts)
    }

    // ---- relation delta ----
    val relDelta: Option[(DataFrame, DataFrame)] = rels.currentSnapshot.map { _ =>
      val base = rels.read()
      def relMembers(rs: DataFrame): DataFrame = rs
        .select(col("rel_id"), posexplode(split(col("members"), ";")).as(Seq("pos", "m")))
        .select(col("rel_id"), col("pos"),
          split_part(col("m"), lit("/"), lit(1)).as("mtype"),
          split_part(col("m"), lit("/"), lit(2)).cast("long").as("member_id"),
          split_part(col("m"), lit("/"), lit(3)).as("role"))
      val snapRm = relMembers(base)
      val staleR0 = ChangePipeline.staleRelIds(ids,
        snapRm.filter(col("mtype") === "way"), staleW)
      // J4 closure leg (empty unless spark.graft.relsOfRels=true —
      // reference-disabled parity): parents of modified/stale
      // relations also re-reconstruct
      val staleR = staleR0 ++ ChangePipeline.staleRelsOfRelIds(ids,
        snapRm.select(col("rel_id"), col("member_id"), col("mtype").as("member_kind")),
        staleR0)
      val changeRm = winners
        .filter(col("kind") === "relation" && col("action").isin("create", "modify"))
        .select(col("id").as("rel_id"), posexplode(col("members")).as(Seq("pos", "m")))
        .select(col("rel_id"), col("pos"),
          col("m.mtype").as("mtype"), col("m.ref").as("member_id"), col("m.role").as("role"))
      // the membership holds exactly the upsert ids' members
      val upserts = ChangePipeline.serializeRelMembers(
        changeRm.unionByName(relMembers(base.filter(in(col("rel_id"), staleR)))))
      val upsertsC = (if (hasMeta(base)) withMeta(upserts, base, "relation", "rel_id",
          ids("relation", "create", "modify") ++ staleR)
        else upserts).cache() // shared: rel merge + triple merge
      val dels = winners.filter(col("kind") === "relation" && col("action") === "delete")
        .select(col("id").as("rel_id"), lit(null).cast("string").as("members"))
      val delsM =
        if (hasMeta(base))
          dels.withColumn("ts", lit(null).cast("timestamp"))
            .withColumn("tags", lit(null).cast("map<string,string>"))
        else dels
      (upsertsC.withColumn("deleted", lit(false))
        .unionByName(delsM.withColumn("deleted", lit(true))), upsertsC)
    }

    // ---- triple delta (optional) — derived from the layer DELTAS, no
    // post-merge reads: an upserted owner's merged rows ARE its delta
    // rows, and owners absent from a layer delta keep their triples
    // because their subj_key never enters this merge. ----
    val tripleDelta: Option[DataFrame] =
      if (triples.currentSnapshot.isEmpty) None
      else {
        val nodeT = graft.rdf.TripleDerive.ownedNodeTriplesFull(nodeUpserts)
        val wayT = wayDelta.map { case (_, ups) =>
          graft.rdf.TripleDerive.ownedWayTriplesFull(ups) }
        val relT = relDelta.map { case (_, ups) =>
          graft.rdf.TripleDerive.ownedRelTriplesFull(ups) }
        val ups = (Seq(nodeT) ++ wayT ++ relT).reduce(_ unionByName _)
          .select(col("subj_key"), col("s"), col("p"), col("o"))
          .withColumn("deleted", lit(false))
        // upserted owners replace implicitly through the merge key;
        // only deleted objects need explicit markers
        def delKeys(kind: String, pfx: String): DataFrame = winners
          .filter(col("kind") === kind && col("action") === "delete")
          .select(concat(lit(pfx), col("id")).as("subj_key"),
            lit(null).cast("string").as("s"), lit(null).cast("string").as("p"),
            lit(null).cast("string").as("o"), lit(true).as("deleted"))
        Some(ups
          .unionByName(delKeys("node", "node:"))
          .unionByName(delKeys("way", "way:"))
          .unionByName(delKeys("relation", "rel:")))
      }

    // ---- commit all four MERGEs concurrently (ST4) ----
    // applied counts come back from the merges' own touched-bucket
    // histograms — the delta DAGs run exactly ONCE (inside the merge
    // write), never a second time for a count() action. The triple
    // merge is bookkeeping, not an applied op count.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val merges: Seq[() => Long] =
      Seq(() => nodes.mergeInto(nodeOps, Seq("node_id"),
        deleteMarker = Some("deleted")).updateRows) ++
      wayDelta.map { case (d, _) => () =>
        ways.mergeInto(d, Seq("way_id"), deleteMarker = Some("deleted")).updateRows } ++
      relDelta.map { case (d, _) => () =>
        rels.mergeInto(d, Seq("rel_id"), deleteMarker = Some("deleted")).updateRows } ++
      tripleDelta.map { d => () =>
        // the triple store is written EVERY batch but never scanned in
        // the loop — merge-on-read delta commits keep the per-batch
        // write O(batch); the chain compacts every
        // spark.graft.triplesCompactEvery (default 8) batches
        val every = spark.conf.getOption("spark.graft.triplesCompactEvery")
          .map(_.toInt).getOrElse(8)
        triples.mergeIntoDelta(d, Seq("subj_key"),
          deleteMarker = Some("deleted"), compactEvery = every); 0L }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(merges.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val applied =
      try Await.result(Future.sequence(merges.map(m => Future(m()))), Duration.Inf).sum
      finally pool.shutdown()

    wayDelta.foreach { case (_, u) => u.unpersist() }
    relDelta.foreach { case (_, u) => u.unpersist() }
    winners.unpersist()
    applied
  }
}
