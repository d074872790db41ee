package graft.synth

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Tables
import graft.text.TextFunctions

/** Deterministic OSM-style universe + web-page geo-entities derived
  * ARITHMETICALLY from the driver's testdata tables (no external data,
  * per BASELINE.json). Every derivation is a pure integer/double
  * formula mirrored verbatim in [[SynthSql]] so the DuckDB oracle can
  * reproduce the exact universe — this makes the whole spatial +
  * OsmChange delta pipeline oracle-checkable end-to-end.
  *
  * Shapes (cf. /root/repo/FIXTURES.md and SURVEY.md §1):
  *  - ways: one axis-aligned rectangle per order (the polygon layer);
  *  - nodes: the 4 corner nodes of each way (id = wayId*10 + corner);
  *  - way_members: closed 5-vertex ring (pos 0..4);
  *  - relations: 10 consecutive ways per relation, multipolygon every
  *    4th (exercises P2, /root/reference/src/util/OsmObjectHelper.cpp:12-23);
  *  - points: geo-entities extracted from documents.text via a
  *    deterministic gazetteer (north-rule "geo-entities extracted from
  *    page text", md5-hash-placed);
  *  - changes: OsmChange-style (action × kind) ops derived from events
  *    (the replication stream of /root/reference/src/osm/OsmUpdater.cpp).
  */
object SynthUniverse {

  val Gazetteer: Seq[String] =
    Seq("table", "row", "scan", "merge", "join", "window", "stream", "vector")

  /** ways(way_id, x0, y0, w, h): one rectangle per order. */
  def ways(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey").as("way_id"),
      ((col("o_orderkey") * 13 % 320).cast("double") - 160.0).as("x0"),
      ((col("o_orderkey") * 29 % 150).cast("double") - 75.0).as("y0"),
      (lit(1.5) + (col("o_orderkey") % 16) * 0.2).as("w"),
      (lit(1.5) + (col("o_orderkey") * 3 % 16) * 0.2).as("h"))

  /** nodes(node_id, lon, lat): 4 corners per way, ccw from (x0,y0). */
  def nodes(s: SparkSession, dir: String): DataFrame = {
    val c = explode(sequence(lit(0), lit(3))).as("corner")
    ways(s, dir).select(col("way_id"), col("x0"), col("y0"), col("w"), col("h"), c)
      .select(
        (col("way_id") * 10 + col("corner")).as("node_id"),
        when(col("corner") === 1 || col("corner") === 2, col("x0") + col("w"))
          .otherwise(col("x0")).as("lon"),
        when(col("corner") >= 2, col("y0") + col("h"))
          .otherwise(col("y0")).as("lat"))
  }

  /** way_members(way_id, pos, node_id): closed ring, pos 0..4. */
  def wayMembers(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey").as("way_id"),
        explode(sequence(lit(0), lit(4))).as("pos"))
      .select(col("way_id"), col("pos"),
        (col("way_id") * 10 + col("pos") % 4).as("node_id"))

  /** relations(rel_id, is_multipolygon) + rel_members(rel_id, pos,
    * member_id, member_kind, role). 10 consecutive ways per relation. */
  def relMembers(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      (col("o_orderkey") - col("o_orderkey") % 10).divide(10).cast("long").as("rel_id"),
      (col("o_orderkey") % 10).cast("int").as("pos"),
      col("o_orderkey").as("member_id"),
      lit("way").as("member_kind"),
      when(col("o_orderkey") % 10 === 0, "outer").otherwise("inner").as("role"))

  /** tags(kind, id, k, v): synthetic tag rows (one per node, two per way). */
  def tags(s: SparkSession, dir: String): DataFrame = {
    val nodeTags = nodes(s, dir).select(
      lit("node").as("kind"), col("node_id").as("id"),
      concat(lit("k"), col("node_id") % 5).as("k"),
      concat(lit("v"), col("node_id") % 7).as("v"))
    val wayName = ways(s, dir).select(
      lit("way").as("kind"), col("way_id").as("id"),
      lit("name").as("k"), concat(lit("way_"), col("way_id")).as("v"))
    val wayArea = ways(s, dir).filter(col("way_id") % 4 === 0).select(
      lit("way").as("kind"), col("way_id").as("id"),
      lit("type").as("k"), lit("multipolygon").as("v"))
    nodeTags.union(wayName).union(wayArea)
  }

  /** points(doc_id, entity, lon, lat): geo-entity extraction from
    * documents.text — distinct gazetteer tokens, md5-hash-placed plus a
    * per-document jitter. */
  def points(s: SparkSession, dir: String): DataFrame =
    pointsOf(Tables.documents(s, dir))

  /** The same extraction over an arbitrary (doc_id, text) frame — lets
    * the IVM queries re-extract only a change batch's documents. */
  def pointsOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"),
      explode(array_distinct(TextFunctions.tokens(col("text")))).as("entity"))
      .filter(col("entity").isin(Gazetteer: _*))
    toks
      .withColumn("hlon", TextFunctions.hash60(col("entity")))
      .withColumn("hlat", TextFunctions.hash60(concat(lit("lat:"), col("entity"))))
      .select(col("doc_id"), col("entity"),
        ((col("hlon") % 320000) / 1000.0 - 160.0 + (col("doc_id") % 97) * 0.03).as("lon"),
        ((col("hlat") % 150000) / 1000.0 - 75.0 + (col("doc_id") * 7 % 89) * 0.03).as("lat"))
  }

  /** An event's track point on the integer milli-degree lattice:
    * x in [0, 320000), y in [0, 150000), offset by (160, 75) degrees. */
  val eventX: Column = col("event_id") * 17 % 320000
  val eventY: Column = col("event_id") * 23 % 150000

  /** [[eventX]]/[[eventY]] as degrees — the position of an event. */
  val eventLon: Column = eventX.cast("double") / 1000.0 - 160.0
  val eventLat: Column = eventY.cast("double") / 1000.0 - 75.0

  /** tracks(event_id, ts, user_id, lon, lat): every event as a point of
    * its user's track. */
  def tracks(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_id"), col("ts"), col("user_id"),
      eventLon.as("lon"), eventLat.as("lat"))

  /** An updated document's text: the old text plus " merge stream
    * merge", which adds mentions of two gazetteer entities. */
  val updatedText: Column = concat(col("text"), lit(" merge stream merge"))

  /** The standard document change batch the IVM queries maintain
    * against: doc_id % 7 = 3 is updated ([[updatedText]], other columns
    * kept), doc_id % 13 = 5 is deleted, and a document both updated and
    * deleted is gone. */
  final case class DocChanges(
      updated: DataFrame,      // every updated document, post-change text
      deletedIds: DataFrame,   // (doc_id) of every deleted document
      updatedLive: DataFrame,  // updated less deleted: the rows to re-derive
      touched: DataFrame)      // distinct (doc_id) whose base rows go

  def docChanges(docs: DataFrame): DocChanges = {
    val updated = docs.filter(col("doc_id") % 7 === 3).withColumn("text", updatedText)
    val deletedIds = docs.filter(col("doc_id") % 13 === 5).select(col("doc_id"))
    DocChanges(updated, deletedIds,
      updated.join(deletedIds, Seq("doc_id"), "left_anti"),
      updated.select(col("doc_id")).union(deletedIds).distinct())
  }

  /** changes: OsmChange-style ops derived from events. Columns:
    * (seq=event_id, ts, kind, action, id, version, lon, lat). */
  def changes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id").as("seq"), col("ts"),
      when(col("event_id") % 3 === 0, "node")
        .when(col("event_id") % 3 === 1, "way")
        .otherwise("relation").as("kind"),
      when(col("user_id") % 3 === 0, "create")
        .when(col("user_id") % 3 === 1, "modify")
        .otherwise("delete").as("action"),
      when(col("event_id") % 3 === 0,
          (col("event_id") * 7919 % 15000) * 10 + col("event_id") % 4)
        .when(col("event_id") % 3 === 1, col("event_id") * 104729 % 15000)
        .otherwise(col("event_id") * 31 % 1500).as("id"),
      (lit(1) + col("user_id") % 5).cast("int").as("version"),
      eventLon.as("lon"), eventLat.as("lat"))

  // ---- layer metadata formulas (mirrored in [[SynthSql]]) ------------

  /** Deterministic layer timestamp: 2024-01-01T00:00:00Z + (id % 86400)
    * seconds — gives every stored object a stable, oracle-expressible
    * osmmeta:timestamp. */
  def synthTs(id: Column): Column =
    timestamp_seconds(lit(1704067200L) + pmod(id, lit(86400)))

  /** Node tag map — same key/value formula as the [[tags]] table. */
  def nodeTagMap(id: Column): Column =
    map(concat(lit("k"), pmod(id, lit(5))), concat(lit("v"), pmod(id, lit(7))))

  /** Way tag map — name always, type=multipolygon every 4th way (the
    * [[tags]] table's formula). */
  def wayTagMap(id: Column): Column =
    when(pmod(id, lit(4)) === 0,
      map(lit("name"), concat(lit("way_"), id),
        lit("type"), lit("multipolygon")))
      .otherwise(map(lit("name"), concat(lit("way_"), id)))

  /** Relation tag map — carries the routing `type` tag (multipolygon
    * every 4th relation, else route), the tag the reference's
    * isMultipolygon predicate reads
    * (/root/reference/src/util/OsmObjectHelper.cpp:12-23). */
  def relTagMap(id: Column): Column =
    map(lit("type"),
      when(pmod(id, lit(4)) === 3, "multipolygon").otherwise("route"))

  /** relations(rel_id, rel_type): the typed relation table — rel_type
    * is READ FROM the tag map (the snapshot layers store tags; type is
    * not a separate column, matching how OSM models it). */
  def relations(s: SparkSession, dir: String): DataFrame =
    relMembers(s, dir).select(col("rel_id")).distinct()
      .select(col("rel_id"),
        element_at(relTagMap(col("rel_id")), "type").as("rel_type"))

  /** [[nodes]] + the ts/tags metadata columns a full snapshot layer
    * carries (drives the J10 meta triple families). */
  def nodesMeta(s: SparkSession, dir: String): DataFrame =
    nodes(s, dir)
      .withColumn("ts", synthTs(col("node_id")))
      .withColumn("tags", nodeTagMap(col("node_id")))

  /** [[changes]] + the member payloads a real OsmChange file carries
    * (the `<nd ref>`/`<member>`/`<tag>` children OscReader parses): way
    * ops list their node refs (the closed-ring formula of
    * [[wayMembers]]), relation ops their typed members (the
    * [[relMembers]] formula), and create/modify ops carry the tag map
    * (same formulas as the base layers, so the post-merge tag state
    * stays closed-form for the oracle) — so
    * [[graft.osm.Replicator.applyOps]] exercises the change-file
    * membership and tag paths, not only the stale-rebuild path. */
  def changesFull(s: SparkSession, dir: String): DataFrame =
    changes(s, dir)
      .withColumn("nodeRefs",
        when(col("kind") === "way" && col("action").isin("create", "modify"),
          transform(sequence(lit(0), lit(4)), p => col("id") * 10 + p % 4))
          .otherwise(lit(null).cast("array<bigint>")))
      .withColumn("members",
        when(col("kind") === "relation" && col("action").isin("create", "modify"),
          transform(sequence(lit(0), lit(9)), p => struct(
            lit("way").as("mtype"), (col("id") * 10 + p).as("ref"),
            when(p === 0, "outer").otherwise("inner").as("role"))))
          .otherwise(lit(null)
            .cast("array<struct<mtype:string,ref:bigint,role:string>>")))
      .withColumn("tags",
        when(col("kind") === "node" && col("action").isin("create", "modify"),
          nodeTagMap(col("id")))
          .when(col("kind") === "way" && col("action").isin("create", "modify"),
            wayTagMap(col("id")))
          .when(col("kind") === "relation" && col("action").isin("create", "modify"),
            relTagMap(col("id")))
          .otherwise(lit(null).cast("map<string,string>")))
}

/** DuckDB CTE mirrors of [[SynthUniverse]] — exact same arithmetic,
  * same operation order (FP determinism). */
object SynthSql {
  val waysCte: String =
    """ways AS (
      |  SELECT o_orderkey AS way_id,
      |    CAST(o_orderkey*13 % 320 AS DOUBLE) - 160.0 AS x0,
      |    CAST(o_orderkey*29 % 150 AS DOUBLE) - 75.0 AS y0,
      |    1.5 + (o_orderkey % 16) * 0.2 AS w,
      |    1.5 + (o_orderkey*3 % 16) * 0.2 AS h
      |  FROM orders)""".stripMargin

  val nodesCte: String =
    """nodes AS (
      |  SELECT way_id*10 + corner AS node_id,
      |    CASE WHEN corner IN (1,2) THEN x0 + w ELSE x0 END AS lon,
      |    CASE WHEN corner >= 2 THEN y0 + h ELSE y0 END AS lat
      |  FROM ways, range(0,4) t(corner))""".stripMargin

  val wayMembersCte: String =
    """way_members AS (
      |  SELECT o_orderkey AS way_id, pos, o_orderkey*10 + pos % 4 AS node_id
      |  FROM orders, range(0,5) t(pos))""".stripMargin

  val pointsCte: String =
    """points AS (
      |  SELECT doc_id, entity,
      |    (CAST('0x' || substr(md5(entity),1,15) AS BIGINT) % 320000) / 1000.0
      |      - 160.0 + (doc_id % 97) * 0.03 AS lon,
      |    (CAST('0x' || substr(md5('lat:' || entity),1,15) AS BIGINT) % 150000) / 1000.0
      |      - 75.0 + (doc_id*7 % 89) * 0.03 AS lat
      |  FROM (SELECT DISTINCT doc_id, t AS entity
      |        FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t
      |              FROM documents)
      |        WHERE t IN ('table','row','scan','merge','join','window','stream','vector')))""".stripMargin

  val changesCte: String =
    """changes AS (
      |  SELECT event_id AS seq, ts,
      |    CASE WHEN event_id % 3 = 0 THEN 'node'
      |         WHEN event_id % 3 = 1 THEN 'way' ELSE 'relation' END AS kind,
      |    CASE WHEN user_id % 3 = 0 THEN 'create'
      |         WHEN user_id % 3 = 1 THEN 'modify' ELSE 'delete' END AS action,
      |    CASE WHEN event_id % 3 = 0 THEN (event_id*7919 % 15000)*10 + event_id % 4
      |         WHEN event_id % 3 = 1 THEN event_id*104729 % 15000
      |         ELSE event_id*31 % 1500 END AS id,
      |    CAST(1 + user_id % 5 AS INT) AS version,
      |    CAST(event_id*17 % 320000 AS DOUBLE) / 1000.0 - 160.0 AS lon,
      |    CAST(event_id*23 % 150000 AS DOUBLE) / 1000.0 - 75.0 AS lat
      |  FROM events)""".stripMargin

  /** DuckDB mirror of [[SynthUniverse.synthTs]]. */
  def synthTsSql(id: String): String =
    s"TIMESTAMP '2024-01-01 00:00:00' + ($id % 86400) * INTERVAL 1 SECOND"

  /** W1 winners — the ONE definition of the dedup-to-latest tie-break,
    * mirrored by [[graft.osm.ChangePipeline.dedupLatest]] and the
    * streaming comparator: version DESC, deleted-first at equal
    * version, ts DESC (DuckDB default NULLS LAST = Spark desc), seq
    * DESC. */
  val winnersCte: String =
    """winners AS (
      |  SELECT * FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY kind, id
      |      ORDER BY version DESC,
      |        CASE WHEN action = 'delete' THEN 0 ELSE 1 END,
      |        ts DESC, seq DESC) AS rn FROM changes)
      |  WHERE rn = 1)""".stripMargin

  val relMembersCte: String =
    """rel_members AS (
      |  SELECT (o_orderkey - o_orderkey % 10) // 10 AS rel_id,
      |    CAST(o_orderkey % 10 AS INT) AS pos, o_orderkey AS member_id,
      |    'way' AS member_kind,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'outer' ELSE 'inner' END AS role
      |  FROM orders)""".stripMargin
}
