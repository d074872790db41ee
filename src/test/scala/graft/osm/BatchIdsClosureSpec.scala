package graft.osm

import scala.util.Random
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The live loop's closure over a driver-held winner id set (InSet scan
  * predicates) must equal the join-based ChangePipeline closure the
  * oracle queries use: the J1 stale-way, J3 stale-relation and J4
  * parent-relation sets, and the in-plan merged node layer. */
class BatchIdsClosureSpec extends SparkTestBase {
  import spark.implicits._

  private val nNodes = 60
  private val nWays = 25
  private val nRels = 12

  /** A random layer state plus a random winner set over it: creates of
    * new ids, modifies and deletes of existing ones, for every kind. */
  private def scenario(seed: Long): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val rnd = new Random(seed)
    val nodes = (1 to nNodes).map(i => (i.toLong, rnd.nextDouble(), rnd.nextDouble()))
      .toDF("node_id", "lon", "lat")
    val wayMembers = (1 to nWays).flatMap { w =>
      Seq.fill(2 + rnd.nextInt(4))(1L + rnd.nextInt(nNodes)).zipWithIndex
        .map { case (n, pos) => (w.toLong, pos, n) }
    }.toDF("way_id", "pos", "node_id")
    val relMembers = (1 to nRels).flatMap { r =>
      Seq.fill(1 + rnd.nextInt(4)) {
        if (rnd.nextInt(3) == 0) ("relation", 1L + rnd.nextInt(nRels))
        else ("way", 1L + rnd.nextInt(nWays))
      }.map { case (k, m) => (r.toLong, m, k) }
    }.toDF("rel_id", "member_id", "member_kind")
    def ops(kind: String, existing: Int): Seq[ChangeOp] = {
      val touched = rnd.shuffle((1 to existing).toList).take(existing / 3)
      val created = (existing + 1 to existing + 1 + rnd.nextInt(3)).map(_ -> "create")
      (touched.map(i => i -> (if (rnd.nextBoolean()) "modify" else "delete")) ++ created)
        .map { case (id, action) =>
          val node = kind == "node" && action != "delete"
          ChangeOp(1, action, kind, id.toLong, 2, null, action != "delete",
            if (node) Some(rnd.nextDouble()) else None,
            if (node) Some(rnd.nextDouble()) else None,
            Nil, Nil, Map.empty)
        }
    }
    val winners = (ops("node", nNodes) ++ ops("way", nWays) ++ ops("relation", nRels)).toDF()
    (nodes, wayMembers, relMembers, winners)
  }

  private def ids(df: DataFrame, c: String): Set[Long] =
    df.select(col(c)).as[Long].collect().toSet

  for (seed <- 1L to 4L; j4 <- Seq(false, true))
    test(s"collected closure sets and merged nodes equal the join forms (seed $seed, relsOfRels $j4)") {
      val (nodes, wm, rm, winners) = scenario(seed)
      spark.conf.set("spark.graft.relsOfRels", j4.toString)
      try {
        val batch = ChangePipeline.batchIds(winners)
        val staleW = ChangePipeline.staleWays(winners, wm)
        val staleWIds = ChangePipeline.staleWayIds(batch, wm)
        assert(staleWIds === ids(staleW, "way_id"))

        val rmWay = rm.filter(col("member_kind") === "way")
        val staleR0 = ChangePipeline.staleRels(winners, rmWay, staleW)
        val staleR0Ids = ChangePipeline.staleRelIds(batch, rmWay, staleWIds)
        assert(staleR0Ids === ids(staleR0, "rel_id"))

        val parents = ChangePipeline.staleRelsOfRelIds(batch, rm, staleR0Ids)
        assert(parents === ids(ChangePipeline.staleRelsOfRels(winners, rm, staleR0), "rel_id"))

        def rows(df: DataFrame) = df.select("node_id", "lon", "lat")
          .as[(Long, Double, Double)].collect().sorted.toSeq
        assert(rows(ChangePipeline.applyNodeIds(nodes, winners, batch)) ===
          rows(ChangePipeline.applyNodeOps(nodes, winners)))
      } finally spark.conf.unset("spark.graft.relsOfRels")
    }

  test("the scenarios exercise every closure leg") {
    spark.conf.set("spark.graft.relsOfRels", "true")
    try {
      val sizes = (1L to 4L).map { seed =>
        val (_, wm, rm, winners) = scenario(seed)
        val batch = ChangePipeline.batchIds(winners)
        val w = ChangePipeline.staleWayIds(batch, wm)
        val r = ChangePipeline.staleRelIds(batch, rm.filter(col("member_kind") === "way"), w)
        (w.size, r.size, ChangePipeline.staleRelsOfRelIds(batch, rm, r).size)
      }
      assert(sizes.forall { case (w, r, p) => w > 0 && r > 0 && p > 0 },
        s"a scenario leaves a closure leg empty: $sizes")
    } finally spark.conf.unset("spark.graft.relsOfRels")
  }
}
