package graft.osm

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.zip.GZIPOutputStream
import graft.SparkTestBase
import graft.tables.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

class ReplicatorSpec extends SparkTestBase {
  import spark.implicits._

  private def fresh(name: String): String = {
    val p = Paths.get(s"target/test-repl/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private def osc(body: String): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<osmChange version="0.6" generator="t">$body</osmChange>""".stripMargin

  private def gz(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos); g.write(s.getBytes(StandardCharsets.UTF_8)); g.close()
    bos.toByteArray
  }

  private def node(id: Long, v: Int, lon: Double, lat: Double): String =
    s"""<node id="$id" version="$v" timestamp="2024-01-0${v}T00:00:00Z" lat="$lat" lon="$lon"/>"""

  val batch1: String = osc(
    s"""<modify>${node(1, 2, 10.5, 20.5)}</modify>
       |<create>${node(5, 1, 1.0, 2.0)}</create>""".stripMargin)
  // seq 2: node 1 bumped again (v3), node 2 deleted, node 5 deleted
  val batch2: String = osc(
    s"""<modify>${node(1, 3, 11.0, 21.0)}</modify>
       |<delete><node id="2" version="2" timestamp="2024-02-01T00:00:00Z" visible="false"/>
       |${node(5, 2, 0, 0).replace("<node", "<node visible=\"false\"").replace("/>", "/>")}</delete>""".stripMargin)

  private def baseNodes = Seq(
    (1L, 0.0, 0.0), (2L, 5.0, 5.0), (3L, 7.0, 7.0)).toDF("node_id", "lon", "lat")

  private def finalState(root: String): Map[Long, (Double, Double)] =
    SnapshotTable.load(spark, s"$root/nodes").read()
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("incremental catch-up equals one-shot merged application (ST2/W1)") {
    // incremental: apply seq 1, then seq 2
    val rootA = fresh("inc")
    SnapshotTable.create(spark, s"$rootA/nodes", baseNodes, Seq("node_id"))
    val replA = new Replicator(spark, rootA)
    val dirA = fresh("inc-changes")
    Files.write(Paths.get(dirA, "000000001.osc.gz"), gz(batch1))
    assert(replA.catchUp(dirA) > 0)
    assert(replA.appliedSeq === Some(1))
    Files.write(Paths.get(dirA, "000000002.osc.gz"), gz(batch2))
    assert(replA.catchUp(dirA) > 0)
    assert(replA.appliedSeq === Some(2))

    // one-shot: both files present from the start
    val rootB = fresh("oneshot")
    SnapshotTable.create(spark, s"$rootB/nodes", baseNodes, Seq("node_id"))
    val replB = new Replicator(spark, rootB)
    val dirB = fresh("oneshot-changes")
    Files.write(Paths.get(dirB, "000000001.osc.gz"), gz(batch1))
    Files.write(Paths.get(dirB, "000000002.osc.gz"), gz(batch2))
    assert(replB.catchUp(dirB) > 0)

    val expect = Map(1L -> (11.0, 21.0), 3L -> (7.0, 7.0))
    assert(finalState(rootA) === expect)
    assert(finalState(rootB) === expect)
  }

  test("up-to-date short-circuit (ST3) and idempotent re-apply (ST4)") {
    val root = fresh("noop")
    SnapshotTable.create(spark, s"$root/nodes", baseNodes, Seq("node_id"))
    val repl = new Replicator(spark, root)
    val dir = fresh("noop-changes")
    Files.write(Paths.get(dir, "000000001.osc.gz"), gz(batch1))
    assert(repl.catchUp(dir) > 0)
    val state = finalState(root)
    assert(repl.catchUp(dir) === 0L) // nothing pending -> no-op
    assert(finalState(root) === state)
  }

  private def wayXml(id: Long, v: Int, refs: Seq[Long]): String =
    s"""<way id="$id" version="$v" timestamp="2024-01-0${v}T00:00:00Z">""" +
      refs.map(r => s"""<nd ref="$r"/>""").mkString + "</way>"

  private def relXml(id: Long, v: Int, members: Seq[(String, Long, String)]): String =
    s"""<relation id="$id" version="$v" timestamp="2024-01-0${v}T00:00:00Z">""" +
      members.map { case (t, r, ro) => s"""<member type="$t" ref="$r" role="$ro"/>""" }
        .mkString + "</relation>"

  test("all three layers merge: stale way/rel rebuild, create, delete") {
    val root = fresh("threelayer")
    SnapshotTable.create(spark, s"$root/nodes", baseNodes, Seq("node_id"))
    SnapshotTable.create(spark, s"$root/ways", Seq(
      (10L, "1;2;3",
        "LINESTRING(0.0000000 0.0000000, 5.0000000 5.0000000, 7.0000000 7.0000000)"))
      .toDF("way_id", "members", "wkt"), Seq("way_id"))
    SnapshotTable.create(spark, s"$root/rels",
      Seq((100L, "way/10/outer")).toDF("rel_id", "members"), Seq("rel_id"))
    val repl = new Replicator(spark, root)
    val dir = fresh("threelayer-changes")

    // seq 1: node 1 moves (way 10 geometry-stale -> rel 100 stale);
    // way 20 + relation 200 created from change-file member lists
    val b1 = osc(
      s"""<modify>${node(1, 2, 10.5, 20.5)}</modify>
         |<create>${wayXml(20, 1, Seq(2, 3))}${relXml(200, 1, Seq(("way", 20L, "a")))}</create>""".stripMargin)
    Files.write(Paths.get(dir, "000000001.osc.gz"), gz(b1))
    assert(repl.catchUp(dir) > 0)

    import spark.implicits._
    val ways1 = repl.ways.read().as[(Long, String, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(ways1(10L) === ("1;2;3",
      "LINESTRING(10.5000000 20.5000000, 5.0000000 5.0000000, 7.0000000 7.0000000)"))
    assert(ways1(20L) === ("2;3", "LINESTRING(5.0000000 5.0000000, 7.0000000 7.0000000)"))
    val rels1 = repl.rels.read().as[(Long, String)].collect().toMap
    assert(rels1 === Map(100L -> "way/10/outer", 200L -> "way/20/a"))

    // seq 2: delete the created way and relation; untouched rows carry
    val b2 = osc(
      """<delete><way id="20" version="2" timestamp="2024-02-01T00:00:00Z" visible="false"/>
        |<relation id="200" version="2" timestamp="2024-02-01T00:00:00Z" visible="false"/></delete>""".stripMargin)
    Files.write(Paths.get(dir, "000000002.osc.gz"), gz(b2))
    assert(repl.catchUp(dir) > 0)
    assert(repl.ways.read().as[(Long, String, String)].collect().map(_._1).toSet === Set(10L))
    assert(repl.rels.read().as[(Long, String)].collect().toMap === Map(100L -> "way/10/outer"))
    // node layer still merged alongside
    assert(finalState(root)(1L) === ((10.5, 20.5)))
  }

  test("in-loop triple store: incremental maintenance == full re-derivation (full J10 families)") {
    import spark.implicits._
    import graft.rdf.TripleDerive._
    import org.apache.spark.sql.functions.{lit, map, to_timestamp}
    val root = fresh("triples")
    // layers carry ts/tags -> the live loop maintains the FULL J10
    // family (type / timestamp / osmkey tags / facts), not just
    // link+geometry+members
    val baseNodesM = baseNodes
      .withColumn("ts", to_timestamp(lit("2023-12-01 00:00:00")))
      .withColumn("tags", map(lit("amenity"), lit("bench")))
    val baseWays = Seq(
      (10L, "1;2;3",
        "LINESTRING(0.0000000 0.0000000, 5.0000000 5.0000000, 7.0000000 7.0000000)"))
      .toDF("way_id", "members", "wkt")
      .withColumn("ts", to_timestamp(lit("2023-12-02 00:00:00")))
      .withColumn("tags", map(lit("highway"), lit("residential")))
    val baseRels = Seq((100L, "way/10/outer")).toDF("rel_id", "members")
      .withColumn("ts", to_timestamp(lit("2023-12-03 00:00:00")))
      .withColumn("tags", lit(null).cast("map<string,string>"))
    SnapshotTable.create(spark, s"$root/nodes", baseNodesM, Seq("node_id"))
    SnapshotTable.create(spark, s"$root/ways", baseWays, Seq("way_id"))
    SnapshotTable.create(spark, s"$root/rels", baseRels, Seq("rel_id"))
    SnapshotTable.create(spark, s"$root/triples",
      ownedNodeTriplesFull(baseNodesM)
        .unionByName(ownedWayTriplesFull(baseWays))
        .unionByName(ownedRelTriplesFull(baseRels))
        .select(col("subj_key"), col("s"), col("p"), col("o")),
      Seq("subj_key"))
    val repl = new Replicator(spark, root)
    val dir = fresh("triples-changes")
    // node 1 moves WITH a new tag (stales way 10), node 2 deleted,
    // way 20 + rel 200 created, then way 20 deleted in a later batch
    val node1Tagged =
      """<node id="1" version="2" timestamp="2024-01-02T00:00:00Z" lat="20.5" lon="10.5">""" +
        """<tag k="name" v="moved"/></node>"""
    Files.write(Paths.get(dir, "000000001.osc.gz"), gz(osc(
      s"""<modify>$node1Tagged</modify>
         |<delete><node id="2" version="2" timestamp="2024-02-01T00:00:00Z" visible="false"/></delete>
         |<create>${wayXml(20, 1, Seq(1, 3))}${relXml(200, 1, Seq(("way", 20L, "a")))}</create>""".stripMargin)))
    assert(repl.catchUp(dir) > 0)
    Files.write(Paths.get(dir, "000000002.osc.gz"), gz(osc(
      """<delete><way id="20" version="2" timestamp="2024-03-01T00:00:00Z" visible="false"/></delete>""")))
    assert(repl.catchUp(dir) > 0)

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("subj_key"), col("s"), col("p"), col("o"))
      .as[(String, String, String, String)].collect().toSet
    val got = rows(repl.triples.read())
    val want = rows(ownedNodeTriplesFull(repl.nodes.read())
      .unionByName(ownedWayTriplesFull(repl.ways.read()))
      .unionByName(ownedRelTriplesFull(repl.rels.read())))
    assert(got === want)
    // the moved node's geometry triple reflects the new position
    assert(got.exists { case (k, _, p, o) =>
      k == "node:1" && p == "geo:asWKT" && o == "POINT(10.5000000 20.5000000)" })
    // ...its tag family was REPLACED by the change file's tags (modify
    // carries the full tag set) and its timestamp updated
    assert(got.exists { case (k, _, p, o) =>
      k == "node:1" && p == "osmkey:name" && o == "moved" })
    assert(!got.exists { case (k, _, p, _) => k == "node:1" && p == "osmkey:amenity" })
    assert(got.exists { case (k, _, p, o) =>
      k == "node:1" && p == "osmmeta:timestamp" && o == "2024-01-02T00:00:00" })
    assert(got.exists { case (k, _, p, o) =>
      k == "node:1" && p == "osm2rdf:facts" && o == "1" })
    // the stale-rebuilt way kept its STORED tags and timestamp (no way
    // op in the change file; the rebuild re-derives geometry only)
    assert(got.exists { case (k, _, p, o) =>
      k == "way:10" && p == "osmkey:highway" && o == "residential" })
    assert(got.exists { case (k, _, p, o) =>
      k == "way:10" && p == "osmmeta:timestamp" && o == "2023-12-02T00:00:00" })
    // untouched node 3 keeps its base tag family
    assert(got.exists { case (k, _, p, o) =>
      k == "node:3" && p == "osmkey:amenity" && o == "bench" })
    // type triples exist for every kind
    assert(got.exists { case (k, _, p, o) =>
      k == "rel:100" && p == "rdf:type" && o == "osm:relation" })
    // deleted node 2 and way 20 left no triples behind
    assert(!got.exists(_._1 == "node:2") && !got.exists(_._1 == "way:20"))
  }

  /** A four-layer store with J10 metadata under `root`, and one batch of
    * winners over it: node 1 moves (way 10 and relation 100 go stale),
    * node 2 is deleted, way 20 and relation 200 are created. */
  private def metaStoreBatch(root: String): DataFrame = {
    import graft.rdf.TripleDerive._
    import org.apache.spark.sql.functions.{lit, map, to_timestamp}
    val bn = baseNodes
      .withColumn("ts", to_timestamp(lit("2023-12-01 00:00:00")))
      .withColumn("tags", map(lit("amenity"), lit("bench")))
    val bw = Seq((10L, "1;2;3",
        "LINESTRING(0.0000000 0.0000000, 5.0000000 5.0000000, 7.0000000 7.0000000)"))
      .toDF("way_id", "members", "wkt")
      .withColumn("ts", to_timestamp(lit("2023-12-02 00:00:00")))
      .withColumn("tags", map(lit("highway"), lit("residential")))
    val br = Seq((100L, "way/10/outer")).toDF("rel_id", "members")
      .withColumn("ts", to_timestamp(lit("2023-12-03 00:00:00")))
      .withColumn("tags", lit(null).cast("map<string,string>"))
    SnapshotTable.create(spark, s"$root/nodes", bn, Seq("node_id"))
    SnapshotTable.create(spark, s"$root/ways", bw, Seq("way_id"))
    SnapshotTable.create(spark, s"$root/rels", br, Seq("rel_id"))
    SnapshotTable.create(spark, s"$root/triples",
      ownedNodeTriplesFull(bn).unionByName(ownedWayTriplesFull(bw))
        .unionByName(ownedRelTriplesFull(br))
        .select(col("subj_key"), col("s"), col("p"), col("o")),
      Seq("subj_key"))
    val ts = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    ChangePipeline.dedupLatest(Seq(
      ChangeOp(1, "modify", "node", 1L, 2, ts, true, Some(10.5), Some(20.5), Nil, Nil, Map.empty),
      ChangeOp(1, "delete", "node", 2L, 2, ts, false, None, None, Nil, Nil, Map.empty),
      ChangeOp(1, "create", "way", 20L, 1, ts, true, None, None, Seq(1L, 3L), Nil, Map.empty),
      ChangeOp(1, "create", "relation", 200L, 1, ts, true, None, None, Nil,
        Seq(RelMember(20L, "way", "a")), Map.empty)).toDF())
  }

  test("one applyOps launches a bounded number of Spark jobs") {
    val root = fresh("jobs")
    val winners = metaStoreBatch(root)
    val (applied, n) = org.apache.spark.JobCounter(spark.sparkContext)(
      new Replicator(spark, root).applyOps(winners))
    assert(applied === 6L) // 2 nodes + stale way 10 + way 20 + rels 100, 200
    // the batch's ids are collected once (winners, J1, J3: 3 jobs) and
    // every layer join against them is a scan predicate. Each merge is
    // handed its key set, so it is its write alone: three layer merges
    // and the triple delta commit (4). The rest are the five
    // batch-sized broadcasts of the way and relation reconstructions (5).
    info(s"applyOps launched $n")
    assert(n.jobs <= 12, s"applyOps launched $n")
  }

  test("a warm applyOps runs interpreted: at most 10 Janino compiles") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = fresh("codegen")
    val winners = metaStoreBatch(root)
    val r = new Replicator(spark, root)
    r.applyOps(winners)
    // the same batch again: the store has moved on, the plans have not
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(r.applyOps(winners) === 6L)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    info(s"warm applyOps compiled $compiles classes")
    assert(compiles <= 10, s"warm applyOps compiled $compiles classes")
  }

  test("applyOps puts the caller's SQL confs back, after a return and after a throw") {
    val root = fresh("confs")
    val winners = metaStoreBatch(root)
    val keys = Replicator.BatchConfs.map(_._1)
    def state: Seq[Option[String]] = keys.map(spark.conf.getAll.get)
    def set(s: Seq[Option[String]]): Unit = keys.zip(s).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val saved = state
    try {
      // every key once set to a value of the caller's and once unset
      for (caller <- Seq(
          Seq(Some("true"), None, Some("CODEGEN_ONLY")),
          Seq(None, Some("true"), None))) {
        set(caller)
        new Replicator(spark, root).applyOps(winners)
        assert(state === caller, "after a return")
        // no kind/id/action columns: fails inside the scope, after
        // applyOps has cached its input
        val bad = Seq(1).toDF("not_a_winner")
        intercept[org.apache.spark.sql.AnalysisException](
          new Replicator(spark, root).applyOps(bad))
        assert(state === caller, "after a throw")
      }
    } finally set(saved)
  }

  test("a throwing applyOps leaves nothing cached") {
    val root = fresh("throw-cache")
    metaStoreBatch(root)
    // no kind/id/action columns: fails after applyOps has cached its input
    val bad = Seq(1).toDF("not_a_winner")
    intercept[org.apache.spark.sql.AnalysisException](
      new Replicator(spark, root).applyOps(bad))
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    assert(spark.sharedState.cacheManager.lookupCachedData(castToImpl(bad)).isEmpty,
      "applyOps left its input cached after a throw")
  }

  test("applyOps leaves an input the caller cached still cached") {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val root = fresh("caller-cache")
    val winners = metaStoreBatch(root).cache()
    try {
      assert(new Replicator(spark, root).applyOps(winners) === 6L)
      assert(spark.sharedState.cacheManager.lookupCachedData(castToImpl(winners)).isDefined,
        "applyOps un-cached the caller's winners")
    } finally winners.unpersist()
  }

  test("a modify whose rebuild is empty removes the object: layers == fold, triples == derivation") {
    import graft.rdf.TripleDerive._
    import org.apache.spark.sql.functions.{lit, map, posexplode, regexp_replace, split,
      split_part, to_timestamp}
    val root = fresh("empty-rebuild")
    val bn = baseNodes
      .withColumn("ts", to_timestamp(lit("2023-12-01 00:00:00")))
      .withColumn("tags", map(lit("amenity"), lit("bench")))
    val bw = Seq(
      (10L, "1;2;3",
        "LINESTRING(0.0000000 0.0000000, 5.0000000 5.0000000, 7.0000000 7.0000000)"),
      (11L, "2;3", "LINESTRING(5.0000000 5.0000000, 7.0000000 7.0000000)"))
      .toDF("way_id", "members", "wkt")
      .withColumn("ts", to_timestamp(lit("2023-12-02 00:00:00")))
      .withColumn("tags", map(lit("highway"), lit("residential")))
    val br = Seq((100L, "way/10/outer"), (101L, "way/11/outer")).toDF("rel_id", "members")
      .withColumn("ts", to_timestamp(lit("2023-12-03 00:00:00")))
      .withColumn("tags", map(lit("type"), lit("multipolygon")))
    SnapshotTable.create(spark, s"$root/nodes", bn, Seq("node_id"))
    SnapshotTable.create(spark, s"$root/ways", bw, Seq("way_id"))
    SnapshotTable.create(spark, s"$root/rels", br, Seq("rel_id"))
    SnapshotTable.create(spark, s"$root/triples",
      ownedNodeTriplesFull(bn).unionByName(ownedWayTriplesFull(bw))
        .unionByName(ownedRelTriplesFull(br))
        .select(col("subj_key"), col("s"), col("p"), col("o")),
      Seq("subj_key"))
    val ts = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    // node 1 moves (way 10 and relation 100 go stale); way 11 now lists
    // only nodes the layer does not hold; relation 101 loses every member
    val winners = ChangePipeline.dedupLatest(Seq(
      ChangeOp(1, "modify", "node", 1L, 2, ts, true, Some(10.5), Some(20.5), Nil, Nil, Map.empty),
      ChangeOp(1, "modify", "way", 11L, 2, ts, true, None, None, Seq(98L, 99L), Nil,
        Map("highway" -> "path")),
      ChangeOp(1, "modify", "relation", 101L, 2, ts, true, None, None, Nil, Nil,
        Map("type" -> "route"))).toDF()).localCheckpoint()
    val repl = new Replicator(spark, root)
    repl.applyOps(winners)

    // the fold of the pure delete-then-insert functions over the base
    val wm = bw.select(col("way_id"), posexplode(split(col("members"), ";")).as(Seq("pos", "nid")))
      .select(col("way_id"), col("pos"), col("nid").cast("long").as("node_id"))
    val stale = ChangePipeline.staleWays(winners, wm)
    val foldWays = ChangePipeline.applyWayOps(bw.select("way_id", "members", "wkt"), winners,
      winners.filter(col("kind") === "way" && col("action").isin("create", "modify"))
        .select(col("id").as("way_id"), posexplode(col("nodeRefs")).as(Seq("pos", "node_id")))
        .unionByName(wm.join(stale, Seq("way_id"), "left_semi")),
      ChangePipeline.applyNodeOps(bn.select("node_id", "lon", "lat"), winners), stale)
    // relation members compare in the `member_id/role` form of the fold
    val stripKind = (c: org.apache.spark.sql.Column) => regexp_replace(c, "(^|;)[^/;]+/", "$1")
    val rm = br.select(col("rel_id"), posexplode(split(col("members"), ";")).as(Seq("pos", "m")))
      .select(col("rel_id"), col("pos"),
        split_part(col("m"), lit("/"), lit(2)).cast("long").as("member_id"),
        split_part(col("m"), lit("/"), lit(3)).as("role"))
    val staleR = ChangePipeline.staleRels(winners, rm, stale)
    val foldRels = ChangePipeline.applyRelOps(
      br.select(col("rel_id"), stripKind(col("members")).as("members")), winners,
      winners.filter(col("kind") === "relation" && col("action").isin("create", "modify"))
        .select(col("id").as("rel_id"), posexplode(col("members")).as(Seq("pos", "m")))
        .select(col("rel_id"), col("pos"), col("m.ref").as("member_id"), col("m.role").as("role"))
        .unionByName(rm.join(staleR, Seq("rel_id"), "left_semi")),
      staleR)

    def ways(df: DataFrame) = df.select("way_id", "members", "wkt")
      .as[(Long, String, String)].collect().toSet
    def rels(df: DataFrame) = df.select(col("rel_id"), col("members"))
      .as[(Long, String)].collect().toSet
    assert(ways(repl.ways.read()) === ways(foldWays))
    assert(ways(foldWays).map(_._1) === Set(10L))
    assert(rels(repl.rels.read().withColumn("members", stripKind(col("members")))) ===
      rels(foldRels))
    assert(rels(foldRels) === Set((100L, "10/outer")))
    def tripleRows(df: DataFrame) = df.select(col("subj_key"), col("s"), col("p"), col("o"))
      .as[(String, String, String, String)].collect().toSet
    val got = tripleRows(repl.triples.read())
    assert(got === tripleRows(ownedNodeTriplesFull(repl.nodes.read())
      .unionByName(ownedWayTriplesFull(repl.ways.read()))
      .unionByName(ownedRelTriplesFull(repl.rels.read()))))
    assert(!got.exists(t => t._1 == "way:11" || t._1 == "rel:101"))
  }

  test("J4 flag propagates staleness to parent relations in catchUp") {
    import spark.implicits._
    def run(flag: Boolean): (Long, Map[Long, String]) = {
      val root = fresh(s"j4-$flag")
      SnapshotTable.create(spark, s"$root/nodes", baseNodes, Seq("node_id"))
      SnapshotTable.create(spark, s"$root/ways", Seq(
        (10L, "1;2;3",
          "LINESTRING(0.0000000 0.0000000, 5.0000000 5.0000000, 7.0000000 7.0000000)"))
        .toDF("way_id", "members", "wkt"), Seq("way_id"))
      SnapshotTable.create(spark, s"$root/rels",
        Seq((100L, "way/10/outer"), (300L, "relation/100/sub"))
          .toDF("rel_id", "members"), Seq("rel_id"))
      val dir = fresh(s"j4-changes-$flag")
      // node 1 moves -> way 10 stale -> rel 100 stale -> (J4 only) rel 300
      Files.write(Paths.get(dir, "000000001.osc.gz"),
        gz(osc(s"<modify>${node(1, 2, 10.5, 20.5)}</modify>")))
      if (flag) spark.conf.set("spark.graft.relsOfRels", "true")
      try {
        val n = new Replicator(spark, root).catchUp(dir)
        (n, new Replicator(spark, root).rels.read().as[(Long, String)].collect().toMap)
      } finally spark.conf.unset("spark.graft.relsOfRels")
    }
    val (nOff, sOff) = run(false)
    val (nOn, sOn) = run(true)
    assert(sOff === Map(100L -> "way/10/outer", 300L -> "relation/100/sub"))
    assert(sOn === sOff)      // re-reconstruction is content-preserving
    assert(nOn === nOff + 1)  // the parent relation re-applies ONLY under the flag
  }

  test("multi-batch soak: 7 batches across MOR compaction, kill/restart + lost-checkpoint resume") {
    // the reference's real workload is hundreds of sequential diffs
    // (/root/reference/src/osm/OsmUpdater.cpp:136-168 loops over the
    // replication directory) — drive 7 batches with
    // triplesCompactEvery=2 so the triple store's delta chain compacts
    // mid-soak, simulate a process kill after batch 3 (fresh
    // Replicator resumes from the seq checkpoint) and a kill BETWEEN
    // merge and checkpoint write after batch 5 (checkpoint deleted ->
    // the idempotent MERGEs re-apply batches 1..5 merged with 6), and
    // assert the end state equals a one-shot application of all 7
    // files AND a full re-derivation of the triple store.
    import spark.implicits._
    import graft.rdf.TripleDerive._
    import org.apache.spark.sql.functions.{lit, map, to_timestamp}

    def nodeTagged(id: Long, v: Int, day: Int, lon: Double, lat: Double,
        tag: (String, String)): String =
      s"""<node id="$id" version="$v" timestamp="2024-02-%02dT00:00:00Z" lat="$lat" lon="$lon">"""
        .format(day) + s"""<tag k="${tag._1}" v="${tag._2}"/></node>"""
    def delNode(id: Long, day: Int): String =
      s"""<node id="$id" version="9" timestamp="2024-02-%02dT00:00:00Z" visible="false"/>""".format(day)
    def delWay(id: Long, day: Int): String =
      s"""<way id="$id" version="9" timestamp="2024-02-%02dT00:00:00Z" visible="false"/>""".format(day)
    def delRel(id: Long, day: Int): String =
      s"""<relation id="$id" version="9" timestamp="2024-02-%02dT00:00:00Z" visible="false"/>""".format(day)

    // batch i: move node ((i-1)%6)+1 (stales way 10 or 11 -> rel 100),
    // create node 50+i, delete node 50+i-2 (i>=3), create way 21 (i=1,
    // kept) / way 20+i (i%3==0, deleted at i+1), rel 200 created at 3,
    // deleted at 6
    def batchXml(i: Int): String = {
      val m = ((i - 1) % 6) + 1
      val mods = nodeTagged(m, if (i > 6) 3 else 2, i, i + 0.5, i + 0.25, ("name", s"b$i"))
      val creates = new StringBuilder(nodeTagged(50 + i, 1, i, i * 0.1, i * 0.2, ("n", s"c$i")))
      if (i == 1) creates ++= wayXml(21, 1, Seq(4, 5))
      if (i % 3 == 0) creates ++= wayXml(20 + i, 1, Seq(1, 2))
      if (i == 3) creates ++= relXml(200, 1, Seq(("way", 10L, "x")))
      val dels = new StringBuilder
      if (i >= 3) dels ++= delNode(50 + i - 2, i)
      if (i % 3 == 1 && i >= 4) dels ++= delWay(20 + i - 1, i)
      if (i == 6) dels ++= delRel(200, i)
      osc(s"<modify>$mods</modify><create>$creates</create>" +
        (if (dels.nonEmpty) s"<delete>$dels</delete>" else ""))
    }

    def mkBase(root: String): Unit = {
      val bn = Seq((1L, 0.0, 0.0), (2L, 5.0, 5.0), (3L, 7.0, 7.0),
        (4L, 1.0, 1.0), (5L, 2.0, 2.0), (6L, 3.0, 3.0)).toDF("node_id", "lon", "lat")
        .withColumn("ts", to_timestamp(lit("2023-12-01 00:00:00")))
        .withColumn("tags", map(lit("amenity"), lit("bench")))
      val bw = Seq(
        (10L, "1;2;3",
          "LINESTRING(0.0000000 0.0000000, 5.0000000 5.0000000, 7.0000000 7.0000000)"),
        (11L, "4;5;6",
          "LINESTRING(1.0000000 1.0000000, 2.0000000 2.0000000, 3.0000000 3.0000000)"))
        .toDF("way_id", "members", "wkt")
        .withColumn("ts", to_timestamp(lit("2023-12-02 00:00:00")))
        .withColumn("tags", map(lit("highway"), lit("residential")))
      val br = Seq((100L, "way/10/outer")).toDF("rel_id", "members")
        .withColumn("ts", to_timestamp(lit("2023-12-03 00:00:00")))
        .withColumn("tags", lit(null).cast("map<string,string>"))
      SnapshotTable.create(spark, s"$root/nodes", bn, Seq("node_id"))
      SnapshotTable.create(spark, s"$root/ways", bw, Seq("way_id"))
      SnapshotTable.create(spark, s"$root/rels", br, Seq("rel_id"))
      SnapshotTable.create(spark, s"$root/triples",
        ownedNodeTriplesFull(bn).unionByName(ownedWayTriplesFull(bw))
          .unionByName(ownedRelTriplesFull(br))
          .select(col("subj_key"), col("s"), col("p"), col("o")),
        Seq("subj_key"))
    }

    def tripleRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("subj_key"), col("s"), col("p"), col("o"))
      .as[(String, String, String, String)].collect().toSet

    spark.conf.set("spark.graft.triplesCompactEvery", "2")
    try {
      // ---- incremental soak with kills ----
      val rootA = fresh("soak-inc"); mkBase(rootA)
      val dirA = fresh("soak-inc-changes")
      var repl = new Replicator(spark, rootA)
      for (i <- 1 to 7) {
        Files.write(Paths.get(dirA, f"00000000$i%02d.osc.gz"), gz(batchXml(i)))
        assert(repl.catchUp(dirA) > 0, s"batch $i applied nothing")
        assert(repl.appliedSeq === Some(i))
        if (i == 3) repl = new Replicator(spark, rootA) // process restart
        if (i == 5) { // kill between merge and checkpoint write
          Files.delete(Paths.get(rootA, "applied_seq"))
          repl = new Replicator(spark, rootA)
          assert(repl.appliedSeq === None)
        }
      }
      assert(repl.appliedSeq === Some(7))

      // ---- one-shot: all 7 files present from the start ----
      val rootB = fresh("soak-oneshot"); mkBase(rootB)
      val dirB = fresh("soak-oneshot-changes")
      for (i <- 1 to 7)
        Files.write(Paths.get(dirB, f"00000000$i%02d.osc.gz"), gz(batchXml(i)))
      val replB = new Replicator(spark, rootB)
      assert(replB.catchUp(dirB) > 0)
      assert(replB.appliedSeq === Some(7))

      // every layer row-identical between soak and one-shot
      def nodesOf(r: Replicator) = r.nodes.read()
        .as[(Long, Double, Double, java.sql.Timestamp, Map[String, String])]
        .collect().toSet
      def waysOf(r: Replicator) = r.ways.read()
        .as[(Long, String, String, java.sql.Timestamp, Map[String, String])]
        .collect().toSet
      def relsOf(r: Replicator) = r.rels.read()
        .as[(Long, String, java.sql.Timestamp, Map[String, String])]
        .collect().toSet
      assert(nodesOf(repl) === nodesOf(replB))
      assert(waysOf(repl) === waysOf(replB))
      assert(relsOf(repl) === relsOf(replB))
      // surviving objects are the expected ones
      assert(nodesOf(repl).map(_._1) === Set(1L, 2L, 3L, 4L, 5L, 6L, 56L, 57L))
      assert(waysOf(repl).map(_._1) === Set(10L, 11L, 21L))
      assert(relsOf(repl).map(_._1) === Set(100L))

      // triple store: soak == one-shot == full re-derivation (q70 shape)
      val gotA = tripleRows(repl.triples.read())
      assert(gotA === tripleRows(replB.triples.read()))
      assert(gotA === tripleRows(
        ownedNodeTriplesFull(repl.nodes.read())
          .unionByName(ownedWayTriplesFull(repl.ways.read()))
          .unionByName(ownedRelTriplesFull(repl.rels.read()))))

      // MOR compaction really fired mid-soak: the triple table's
      // history holds delta commits AND a compact commit above them
      val metaA = SnapshotTable.load(spark, s"$rootA/triples").snapshotsMeta
        .as[(Long, String, Long, Long, Long, Option[Long], Boolean)].collect()
      val deltaIds = metaA.filter(_._7).map(_._1)
      val compactIds = metaA.filter(_._2 == "compact").map(_._1)
      assert(deltaIds.nonEmpty, "no delta commits recorded")
      assert(compactIds.exists(c => deltaIds.exists(_ < c)),
        s"no compaction above a delta commit: ${metaA.map(m => (m._1, m._2, m._7)).toSeq}")
    } finally spark.conf.unset("spark.graft.triplesCompactEvery")
  }

  test("ST1 start-offset resolution: user seq > user ts as-of > checkpoint") {
    val root = fresh("offset")
    val repl = new Replicator(spark, root)
    val states = Seq(
      (100, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (200, java.sql.Timestamp.valueOf("2024-02-01 00:00:00")),
      (300, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))).toDF("seq", "ts")
    assert(repl.decideStartSeq(Some(42), None, states) === 42)
    assert(repl.decideStartSeq(None,
      Some(java.sql.Timestamp.valueOf("2024-02-15 00:00:00")), states) === 200)
    assert(repl.decideStartSeq(None, None, states) === 0)
  }
}
