package graftbench

import org.apache.spark.sql.functions._
import graft.osm.{ChangePipeline, Replicator}
import graft.synth.SynthUniverse
import graft.tables.SnapshotTable

/** The benchmark's own tests: every output check accepts a right output
  * and rejects a corrupted one. Run with `python3 perfbench/run.py
  * --selftest`; exits non-zero on the first check that fails to trip. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    pureChecks()
    val spark = Main.session(2, workDir)
    try storeChecks(spark, workDir) finally spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failures")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def pureChecks(): Unit = {
    val ref = PassOut(3, Map(1L -> 2L, 2L -> 1L))
    expect("same pass accepted", Checks.samePass(ref, ref).isEmpty)
    expect("changed hit count rejected", Checks.samePass(ref, ref.copy(hits = 4)).nonEmpty)
    expect("moved tile rejected",
      Checks.samePass(ref, ref.copy(tiles = Map(1L -> 1L, 2L -> 2L))).nonEmpty)
    expect("empty reference pass rejected", Checks.samePass(PassOut(0, Map()), PassOut(0, Map())).nonEmpty)

    // unit square and a concave star: inside, outside, on the edge, in
    // the star's bbox but outside its ring
    val sq = (1L, Array(0.0, 1.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 1.0, 0.0))
    // a 4-point star around (50, 40), in another tile than the square
    val star = (2L, Array(50.0, 50.2, 51.0, 50.2, 50.0, 49.8, 49.0, 49.8, 50.0),
      Array(39.0, 39.8, 40.0, 40.2, 41.0, 40.2, 40.0, 39.8, 39.0))
    val pts = Seq((10L, "in", 0.5, 0.5), (11L, "out", 2.0, 2.0), (12L, "edge", 1.0, 0.5),
      (13L, "starin", 50.0, 40.0), (14L, "starcorner", 50.9, 40.9))
    val want = Checks.jtsPairs(pts, Seq(sq, star))
    expect("JTS reference covers inside, edge and star centre only",
      want == Set((10L, "in", 1L), (12L, "edge", 1L), (13L, "starin", 2L)))
    expect("same pairs accepted", Checks.samePairs(want, want).isEmpty)
    expect("missing hit rejected", Checks.samePairs(want - ((12L, "edge", 1L)), want).nonEmpty)
    expect("extra hit rejected", Checks.samePairs(want + ((14L, "starcorner", 2L)), want).nonEmpty)
    expect("empty reference rejected", Checks.samePairs(Set(), Set()).nonEmpty)
    val tiles = Checks.referenceTiles(pts, want, 5)
    expect("same tiles accepted", Checks.sameTiles(tiles, tiles).isEmpty)
    expect("shifted tile count rejected",
      Checks.sameTiles(tiles.map { case (k, v) => k -> (v + 1) }, tiles).nonEmpty)

    expect("matching candidate probe accepted", Checks.candidateCounts(50, 20, 50, 20).isEmpty)
    expect("kernel rows off pipJoin's bbox passes rejected",
      Checks.candidateCounts(50, 20, 49, 20).nonEmpty)
    expect("probe hits off the pass's rejected", Checks.candidateCounts(50, 20, 50, 21).nonEmpty)
    expect("plan without join rows rejected", Checks.candidateCounts(0, 0, 0, 0).nonEmpty)

    val rows = Map("node:1" -> 3L, "way:2" -> 5L)
    expect("right probe accepted", Checks.probe(rows, Seq("node:1"), Seq("rel:9")).isEmpty)
    expect("upserted node without triples rejected",
      Checks.probe(rows, Seq("node:1", "node:7"), Nil).nonEmpty)
    expect("deleted object with triples rejected", Checks.probe(rows, Nil, Seq("way:2")).nonEmpty)
    expect("empty probe rejected", Checks.probe(Map(), Nil, Nil).nonEmpty)
  }

  /** A small store, two applied batches, then the end-of-run checks on
    * the right store and on stores with one corrupted table each. */
  private def storeChecks(spark: org.apache.spark.sql.SparkSession, workDir: String): Unit = {
    val inDir = s"$workDir/input"
    val root = s"$workDir/store"
    Inputs.orders(spark, ReplicateWorkload.Orders).write.mode("overwrite").parquet(s"$inDir/orders.parquet")
    Inputs.events(spark, 7L, 600).write.mode("overwrite").parquet(s"$inDir/events.parquet")
    ReplicateWorkload.buildStore(spark, inDir, root, 4)
    val table = ReplicateWorkload.Tables.map(t => t -> SnapshotTable.load(spark, s"$root/$t")).toMap
    val initial = ReplicateWorkload.Tables.map(t => t -> table(t).currentSnapshot.get).toMap
    val changes = SynthUniverse.changesFull(spark, inDir)
    val batches = Seq((0L, 300L), (300L, 600L)).map { case (lo, hi) =>
      ChangePipeline.dedupLatest(changes.filter(col("seq") >= lo && col("seq") < hi))
    }
    batches.foreach(b => new Replicator(spark, root).applyOps(b))
    def invariant() = Checks.sameRows("triples", table("triples").read(),
      ReplicateWorkload.derivedTriples(table("nodes").read(), table("ways").read(),
        table("rels").read()))
    def fold() = ReplicateWorkload.foldCheck(spark, table, initial, batches)._1
    expect("triple invariant holds after applyOps", invariant().isEmpty)
    expect("layers equal the pure fold after applyOps", fold().isEmpty)

    val ways = table("ways").read().localCheckpoint()
    table("ways").commit(ways.withColumn("wkt",
      when(col("way_id") === ways.agg(min("way_id")).head().getLong(0), lit("LINESTRING(0 0, 1 1)"))
        .otherwise(col("wkt"))), "corrupt")
    expect("corrupted way geometry trips the fold check", fold().nonEmpty)
    expect("corrupted way geometry trips the triple invariant", invariant().nonEmpty)
    table("ways").commit(ways, "restore")
    expect("restored ways pass again", fold().isEmpty && invariant().isEmpty)

    val triples = table("triples").read().localCheckpoint()
    table("triples").commit(triples.limit(triples.count().toInt - 1), "corrupt")
    expect("a dropped triple trips the triple invariant", invariant().nonEmpty)
  }
}
