package graft.tables

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Merge-on-read over a z-ordered base, through the same
  * `mergeIntoDelta` chain a hash-bucketed table takes. Must (a) equal a
  * from-scratch z-table of the merged content under every bbox —
  * including rows MOVED across z-buckets (old copy suppressed by key,
  * wherever it sits) and deletes; (b) keep the base's manifest/file
  * pruning; (c) compact back to a clean z-layout with identical
  * results; (d) be idempotent per batch; (e) report its delta head as
  * a delta in the metadata tables. */
class SnapshotZMergeSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val p = Paths.get(s"target/test-zmerge/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    p.toString
  }

  private val pts = (0 until 4096).map { i =>
    val lon = -180.0 + (i % 64) * 5.625 + 0.1
    val lat = -90.0 + (i / 64) * 2.8125 + 0.1
    (i.toLong, lon, lat)
  }

  private def bboxSet(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), col("lon"), col("lat"))
      .as[(Long, Double, Double)].collect().toSet

  test("z-merge-on-read: moves, deletes, inserts; equals fresh z-table; pruning kept; compaction folds") {
    val root = freshRoot("zmor")
    val t = SnapshotTable.createZOrdered(spark, root,
      pts.toDF("id", "lon", "lat"), Seq("id"), "lon", "lat", zBits = 12,
      numBuckets = 32)
    // batch: id=100 MOVES far across buckets (into the query box),
    // id=200 moves OUT of the box, id=300 is deleted, id=9999 inserts
    val batch = Seq(
      (100L, 25.0, 30.0, false),
      (200L, -170.0, -80.0, false),
      (300L, 0.0, 0.0, true),
      (9999L, 15.0, 25.0, false)
    ).toDF("id", "lon", "lat", "deleted")
    val r = t.mergeIntoDelta(batch, Seq("id"), Some("deleted"))
    assert(r.updateRows === 4)
    // the metadata tables see the delta head: flagged as a delta, its
    // own files (bucket -1) listed next to the base's bucket files
    val head = t.currentSnapshot.get
    assert(t.snapshotsMeta.filter(col("snapshot_id") === head)
      .select("is_delta").as[Boolean].collect().toSeq === Seq(true))
    val files = t.filesMeta().collect()
    val deltaFiles = files.filter(_.getInt(1) == -1).map(_.getString(2))
    assert(deltaFiles.nonEmpty && deltaFiles.forall(_.contains(s"/data/$head/")),
      deltaFiles.toSeq)
    assert(files.exists(_.getInt(1) >= 0))

    // expected content, built independently
    val post = pts.filterNot(p => Seq(100L, 200L, 300L).contains(p._1)) ++
      Seq((100L, 25.0, 30.0), (200L, -170.0, -80.0), (9999L, 15.0, 25.0))
    val fresh = SnapshotTable.createZOrdered(spark, freshRoot("zmor-ref"),
      post.toDF("id", "lon", "lat"), Seq("id"), "lon", "lat", zBits = 12,
      numBuckets = 32)

    for ((lo, hi, la, lb) <- Seq((10.0, 40.0, 20.0, 45.0),
        (-180.0, -160.0, -90.0, -70.0), (-5.0, 5.0, -5.0, 5.0))) {
      assert(bboxSet(t.readBbox(lo, hi, la, lb)) ===
        bboxSet(fresh.readBbox(lo, hi, la, lb)), s"bbox ($lo,$hi,$la,$lb)")
    }
    // full read resolves too
    assert(bboxSet(t.read()) === post.map(p => (p._1, p._2, p._3)).toSet)

    // pruning: the base scan under the chain still reads fewer files
    // than the base's full file set
    val baseFiles = t.readAt(1L).inputFiles.length
    val prunedFiles = t.readBbox(10.0, 40.0, 20.0, 45.0).inputFiles.length
    assert(prunedFiles < baseFiles + 1, // +1 delta dir file
      s"no pruning under z-delta: $prunedFiles vs base $baseFiles")

    // idempotent: same batch again changes nothing
    t.mergeIntoDelta(batch, Seq("id"), Some("deleted"))
    assert(bboxSet(t.read()) === post.map(p => (p._1, p._2, p._3)).toSet)

    // compaction (the same batch a third time, past a chain cap of 1)
    // folds the chain into a clean z-layout
    val cid = t.mergeIntoDelta(batch, Seq("id"), Some("deleted"), compactEvery = 1).snapshotId
    assert(t.snapshotInfo(cid)("operation") === "compact")
    assert(!t.snapshotInfo(cid).contains("deltaParent"))
    assert(t.snapshotInfo(cid).contains("zorder"))
    assert(bboxSet(t.readBbox(10.0, 40.0, 20.0, 45.0)) ===
      bboxSet(fresh.readBbox(10.0, 40.0, 20.0, 45.0)))
    // post-compaction pruning is back to manifest-only
    assert(t.readBbox(10.0, 40.0, 20.0, 45.0).inputFiles.length <
      t.read().inputFiles.length)

    // empty batch never commits
    val before = t.currentSnapshot.get
    val r0 = t.mergeIntoDelta(
      Seq.empty[(Long, Double, Double, Boolean)]
        .toDF("id", "lon", "lat", "deleted"), Seq("id"), Some("deleted"))
    assert(r0.updateRows === 0L && t.currentSnapshot.get === before)
  }

  test("z-merge auto-compacts past compactEvery; bucketed merges still refused on z tables") {
    val root = freshRoot("zmor2")
    val t = SnapshotTable.createZOrdered(spark, root,
      pts.take(256).toDF("id", "lon", "lat"), Seq("id"), "lon", "lat",
      zBits = 12, numBuckets = 32)
    for (k <- 1 to 4)
      t.mergeIntoDelta(Seq((k.toLong, 1.0 * k, 1.0 * k, false))
        .toDF("id", "lon", "lat", "deleted"), Seq("id"), Some("deleted"),
        compactEvery = 2)
    // with compactEvery = 2, merge #3 must have folded the chain
    // (later merges legitimately open a fresh chain on top)
    val ops = t.snapshots.map(id => t.snapshotInfo(id)("operation"))
    assert(ops.contains("compact"), s"chain never compacted: $ops")
    // result correct after the mixed chain/compaction history
    val got = t.read().select(col("id"), col("lon"))
      .as[(Long, Double)].collect().toMap
    for (k <- 1 to 4) assert(got(k.toLong) === 1.0 * k)
    // a z compaction with a delta row outside the key set fails before
    // it commits
    val (head, rows) = (t.currentSnapshot, t.read().collect().toSet)
    val stray = intercept[IllegalArgumentException](t.mergeIntoDelta(
      Seq((5L, 5.0, 5.0, false)).toDF("id", "lon", "lat", "deleted"), Seq("id"),
      Some("deleted"), compactEvery = 1, keys = Some(Set(6L))))
    assert(stray.getMessage.contains("outside the merge's key set"))
    assert(t.currentSnapshot === head && t.read().collect().toSet === rows)
    // the eager bucketed merge still refuses (z layout), pointing at MOR
    val ex = intercept[IllegalArgumentException] {
      t.mergeInto(Seq((1L, 0.0, 0.0)).toDF("id", "lon", "lat"), Seq("id"))
    }
    assert(ex.getMessage.contains("mergeIntoDelta"))
  }
}
