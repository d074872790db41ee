package graft.osm

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The OsmChange delta pipeline re-expressed as one declarative Spark
  * DAG (SURVEY.md §3.1): the reference's nine id-sets, SPARQL semi-join
  * round-trips and VALUES batching collapse into filters and in-plan
  * joins — Catalyst picks broadcast vs shuffled hash per stage, and the
  * W1 dedup window replaces the osmium merge-sort.
  *
  * Reference semantics donors:
  *  - dedupLatest: comparator object_order_type_id_reverse_version_delete
  *    (/root/reference/src/osm/OsmUpdater.cpp:117-168) — newest version
  *    wins across a whole catch-up window.
  *  - classify: storeIdsOfElementsInChangeFile
  *    (/root/reference/src/osm/OsmChangeHandler.cpp:153-197).
  *  - staleWays / staleRels: J1/J3 closure semi-joins
  *    (/root/reference/src/sparql/QueryWriter.cpp:169-220) with the
  *    "not already in change file" anti-join guards
  *    (OsmChangeHandler.cpp:224-262).
  *  - reconstructWays: J8 ordered GROUP_CONCAT reconstruction
  *    (QueryWriter.cpp:115-134, OsmDataFetcher.cpp:281-330).
  *  - deleteSet: two-hop delete id-set union
  *    (OsmChangeHandler.cpp:442-491).
  *  - applyNodeOps: SPARQL UPDATE replaced by an idempotent MERGE
  *    (upsert ∪ anti-delete) per the north rule.
  */
object ChangePipeline {

  /** W1: one winning op per (kind, id) — newest version, then (per the
    * reference comparator's `_delete` suffix) the DELETED op wins a
    * same-version tie, then newest ts (NULLS LAST, Spark's desc
    * default), then highest seq. Idempotent and order-insensitive;
    * bit-identical to the streaming comparator
    * [[graft.streaming.ChangeStream.newerThan]]. */
  def dedupLatest(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("kind"), col("id"))
      .orderBy(col("version").desc,
        when(col("action") === "delete", 0).otherwise(1).asc,
        col("ts").desc, col("seq").desc)
    changes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** P1/A6: batch statistics per (kind, action). */
  def classify(changes: DataFrame): DataFrame =
    changes.groupBy(col("kind"), col("action")).agg(count(lit(1)).as("n"))

  /** P2 area routing: a relation is a (multipolygon) area iff its tag
    * map carries type=multipolygon — the predicate the reference uses
    * to decide which stale relations re-enter the geometry pipeline
    * (/root/reference/src/util/OsmObjectHelper.cpp:12-23, consumed at
    * src/osm/OsmChangeHandler.cpp:168-170 `_modifiedAreas`). The
    * snapshot layers store tags, so the routing reads the stored map. */
  def isMultipolygon(tags: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(tags, "type") === "multipolygon"

  private def idsOf(winners: DataFrame, kind: String, actions: String*): DataFrame = {
    val base = winners.filter(col("kind") === kind)
    (if (actions.isEmpty) base else base.filter(col("action").isin(actions: _*)))
      .select(col("id"))
  }

  /** J1: distinct ways with >=1 modified member node, excluding ways
    * already present in the change file. */
  def staleWays(winners: DataFrame, wayMembers: DataFrame): DataFrame =
    wayMembers
      .join(idsOf(winners, "node", "modify"), col("node_id") === col("id"), "left_semi")
      .select(col("way_id")).distinct()
      .join(idsOf(winners, "way"), col("way_id") === col("id"), "left_anti")

  /** J3: distinct relations referencing a modified or stale way,
    * excluding relations already in the change file. */
  def staleRels(winners: DataFrame, relMembers: DataFrame, stale: DataFrame): DataFrame = {
    val probeWays = idsOf(winners, "way", "modify")
      .union(stale.select(col("way_id").as("id"))).distinct()
    relMembers
      .join(probeWays, col("member_id") === col("id"), "left_semi")
      .select(col("rel_id")).distinct()
      .join(idsOf(winners, "relation"), col("rel_id") === col("id"), "left_anti")
  }

  /** J4 relations-of-relations — the closure leg the reference SHIPS
    * DISABLED (/root/reference/src/osm/OsmChangeHandler.cpp:84-85,
    * 264-297; query shape src/sparql/QueryWriter.cpp:223-240): relations
    * referencing a modified or stale RELATION. Gated on
    * `spark.graft.relsOfRels` (default false = reference parity);
    * returns an empty id set when off. `relMembers` needs
    * (rel_id, member_id, member_kind). */
  def staleRelsOfRels(winners: DataFrame, relMembers: DataFrame,
      staleR: DataFrame): DataFrame = {
    if (!relsOfRels(winners)) staleR.select(col("rel_id")).limit(0)
    else {
      val probeRels = idsOf(winners, "relation", "modify")
        .union(staleR.select(col("rel_id").as("id"))).distinct()
      relMembers.filter(col("member_kind") === "relation")
        .join(probeRels, col("member_id") === col("id"), "left_semi")
        .select(col("rel_id")).distinct()
        .join(idsOf(winners, "relation"), col("rel_id") === col("id"), "left_anti")
    }
  }

  /** J8: ordered member reconstruction + LINESTRING derivation for the
    * geometry-stale ways. */
  def reconstructWays(stale: DataFrame, wayMembers: DataFrame, nodes: DataFrame): DataFrame =
    assembleWays(wayMembers.join(stale, Seq("way_id"), "left_semi"), nodes)

  /** The J8 formula over a membership already restricted to the ways to
    * rebuild. */
  private[osm] def assembleWays(wayMembers: DataFrame, nodes: DataFrame): DataFrame =
    wayMembers
      .join(nodes, "node_id")
      .groupBy(col("way_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("node_id"), col("lon"), col("lat"))))
        .as("ring"))
      .select(col("way_id"),
        array_join(transform(col("ring"), r => r.getField("node_id").cast("string")), ";")
          .as("members"),
        concat(lit("LINESTRING("),
          array_join(transform(col("ring"),
            r => format_string("%.7f %.7f", r.getField("lon"), r.getField("lat"))), ", "),
          lit(")")).as("wkt"))

  /** J9: ordered relation-member reconstruction — the reference's
    * GROUP_CONCAT(uri/role/pos) + client-side std::map reorder
    * (/root/reference/src/sparql/QueryWriter.cpp:90-112,
    * OsmDataFetcher.cpp:205-278) as one collect_list + sort_array. */
  def reconstructRels(staleR: DataFrame, relMembers: DataFrame): DataFrame =
    relMembers
      .join(staleR, Seq("rel_id"), "left_semi")
      .groupBy(col("rel_id"))
      .agg(sort_array(collect_list(struct(col("pos"), col("member_id"), col("role"))))
        .as("ms"))
      .select(col("rel_id"),
        array_join(transform(col("ms"),
          m => concat(m.getField("member_id").cast("string"), lit("/"), m.getField("role"))),
          ";").as("members"))

  /** Snapshot-layer serialization of TYPED relation members: ordered
    * `mtype/ref/role` entries ';'-joined — the rels layer's storage
    * format (kind kept so stale detection can restrict to way members,
    * J3). One definition shared by the live loop, the store build, and
    * the q70 oracle query. `rm` needs (rel_id, pos, mtype, member_id,
    * role). */
  def serializeRelMembers(rm: DataFrame): DataFrame =
    rm.groupBy(col("rel_id"))
      .agg(sort_array(collect_list(struct(
        col("pos"), col("mtype"), col("member_id"), col("role")))).as("ms"))
      .select(col("rel_id"),
        array_join(transform(col("ms"), m =>
          concat(m.getField("mtype"), lit("/"),
            m.getField("member_id").cast("string"), lit("/"), m.getField("role"))),
          ";").as("members"))

  /** J5 + SO2 guard: distinct member nodes of geometry-stale ways that
    * are NOT themselves in the change file
    * (/root/reference/src/osm/OsmChangeHandler.cpp:325-341, 688-699). */
  def referencedNodes(stale: DataFrame, wayMembers: DataFrame, winners: DataFrame): DataFrame =
    wayMembers
      .join(stale, Seq("way_id"), "left_semi")
      .select(col("node_id")).distinct()
      .join(winners.filter(col("kind") === "node").select(col("id")),
        col("node_id") === col("id"), "left_anti")

  /** J11/A4: the full delete id-set — deleted ∪ modified ∪ stale per
    * kind (stale objects are deleted then re-inserted). */
  def deleteSet(winners: DataFrame, stale: DataFrame, staleR: DataFrame): DataFrame =
    winners.filter(col("action").isin("delete", "modify"))
      .select(col("kind"), col("id"))
      .union(stale.select(lit("way").as("kind"), col("way_id").as("id")))
      .union(staleR.select(lit("relation").as("kind"), col("rel_id").as("id")))
      .distinct()

  /** MERGE INTO ways — the reference applies delete-then-insert for ALL
    * three kinds (/root/reference/src/osm/OsmChangeHandler.cpp:442-575);
    * this is the way layer's merge in snapshot form. Base and output
    * rows are the reconstructed (way_id, members, wkt) shape of
    * [[reconstructWays]].
    *
    * @param membership POST-change (way_id, pos, node_id) rows for every
    *        way that may need (re)construction — change-file member
    *        lists for created/modified ways, current membership for
    *        geometry-stale ways.
    * @param mergedNodes node layer AFTER [[applyNodeOps]] — stale ways
    *        rebuild against the moved node coordinates; members whose
    *        node was deleted drop out of the reconstruction.
    */
  def applyWayOps(baseWays: DataFrame, winners: DataFrame, membership: DataFrame,
      mergedNodes: DataFrame, stale: DataFrame): DataFrame = {
    val upsertIds = idsOf(winners, "way", "create", "modify")
      .select(col("id").as("way_id"))
      .union(stale.select(col("way_id"))).distinct()
    val upserts = reconstructWays(upsertIds, membership, mergedNodes)
    // delete-set for the layer: deleted ∪ re-inserted (stale objects are
    // deleted then re-inserted, J11 semantics)
    val gone = idsOf(winners, "way", "delete").select(col("id").as("way_id"))
      .union(upsertIds).distinct()
    baseWays.join(gone, Seq("way_id"), "left_anti").unionByName(upserts)
  }

  /** MERGE INTO relations — same delete-then-insert contract over the
    * reconstructed (rel_id, members) shape of [[reconstructRels]].
    * `membership` is the post-change (rel_id, pos, member_id, role)
    * rows; stale relations re-insert with their current members. */
  def applyRelOps(baseRels: DataFrame, winners: DataFrame, membership: DataFrame,
      staleR: DataFrame): DataFrame = {
    val upsertIds = idsOf(winners, "relation", "create", "modify")
      .select(col("id").as("rel_id"))
      .union(staleR.select(col("rel_id"))).distinct()
    val upserts = reconstructRels(upsertIds, membership)
    val gone = idsOf(winners, "relation", "delete").select(col("id").as("rel_id"))
      .union(upsertIds).distinct()
    baseRels.join(gone, Seq("rel_id"), "left_anti").unionByName(upserts)
  }

  /** MERGE INTO nodes: upsert created/modified, drop deleted.
    * Idempotent by (id) — re-applying the same winner set is a no-op. */
  def applyNodeOps(nodes: DataFrame, winners: DataFrame): DataFrame = {
    val upserts = winners.filter(col("kind") === "node" &&
        col("action").isin("create", "modify"))
      .select(col("id"), col("lon").as("new_lon"), col("lat").as("new_lat"))
    val deletes = idsOf(winners, "node", "delete")
    nodes
      .join(deletes, col("node_id") === col("id"), "left_anti")
      .join(upserts, col("node_id") === col("id"), "left")
      .select(col("node_id"),
        coalesce(col("new_lon"), col("lon")).as("lon"),
        coalesce(col("new_lat"), col("lat")).as("lat"))
      .unionByName(
        // winners are unique per (kind,id), so an upsert id can never
        // also be in the delete set — no extra guard needed here.
        upserts.join(nodes, col("id") === col("node_id"), "left_anti")
          .select(col("id").as("node_id"),
            col("new_lon").as("lon"), col("new_lat").as("lat")))
  }

  private def relsOfRels(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("spark.graft.relsOfRels").exists(_.toBoolean)

  // ---- the closure over a driver-held winner id set -------------------
  // The functions above express every closure leg as a semi- or
  // anti-join against the winner frame. At batch scale each such join
  // plans as a broadcast, and each broadcast is a Spark job of its own.
  // The live loop instead collects the batch's ids once and filters the
  // layer scans with them: an `InSet` predicate, as the reference sends
  // each id set to the store as a VALUES list (OsmChangeHandler.cpp,
  // doInBatches). The sets these return equal the frames above.

  /** The (kind, id, action) of every winning op of a batch — the only
    * batch state the driver holds (8 B of payload per id). */
  private[osm] final case class BatchIds(ops: Seq[(String, Long, String)]) {
    private val byKind = ops.groupBy(_._1)
    /** Ids of the `kind` winners, restricted to `actions` when given. */
    def apply(kind: String, actions: String*): Set[Long] =
      byKind.getOrElse(kind, Nil).collect {
        case (_, id, a) if actions.isEmpty || actions.contains(a) => id
      }.toSet
  }

  /** Collect a winner frame's ids: one job. */
  private[osm] def batchIds(winners: DataFrame): BatchIds =
    BatchIds(winners.select(col("kind"), col("id"), col("action")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq)

  private[osm] def in(c: Column, ids: Set[Long]): Column =
    GraftSqlShim.inSet(c.cast("long"), ids)

  /** Owners of member rows that hit `probe`, minus the owners already in
    * the batch: one scan job, deduplicated on the driver. */
  private def closureIds(members: DataFrame, memberCol: String, probe: Set[Long],
      owner: String, inBatch: Set[Long]): Set[Long] =
    members.filter(in(col(memberCol), probe) && !in(col(owner), inBatch))
      .select(col(owner)).collect().map(_.getLong(0)).toSet

  /** [[staleWays]] as a collected set. */
  private[osm] def staleWayIds(ids: BatchIds, wayMembers: DataFrame): Set[Long] =
    closureIds(wayMembers, "node_id", ids("node", "modify"), "way_id", ids("way"))

  /** [[staleRels]] as a collected set. */
  private[osm] def staleRelIds(ids: BatchIds, relMembers: DataFrame,
      stale: Set[Long]): Set[Long] =
    closureIds(relMembers, "member_id", ids("way", "modify") ++ stale,
      "rel_id", ids("relation"))

  /** [[staleRelsOfRels]] as a collected set (empty, and no job, when the
    * flag is off). */
  private[osm] def staleRelsOfRelIds(ids: BatchIds, relMembers: DataFrame,
      staleR: Set[Long]): Set[Long] =
    if (!relsOfRels(relMembers)) Set.empty
    else closureIds(relMembers.filter(col("member_kind") === "relation"), "member_id",
      ids("relation", "modify") ++ staleR, "rel_id", ids("relation"))

  /** [[applyNodeOps]] without a join: the node layer minus every node
    * winner, plus the created/modified nodes. Row-identical to
    * applyNodeOps whenever the created/modified nodes carry both
    * coordinates, as OsmChange requires; it is also exactly the node
    * table a merge of the same winners commits. */
  private[osm] def applyNodeIds(nodes: DataFrame, winners: DataFrame,
      ids: BatchIds): DataFrame =
    nodes.filter(!in(col("node_id"), ids("node")))
      .select(col("node_id"), col("lon"), col("lat"))
      .unionByName(winners
        .filter(col("kind") === "node" && col("action").isin("create", "modify"))
        .select(col("id").as("node_id"), col("lon"), col("lat")))
}
