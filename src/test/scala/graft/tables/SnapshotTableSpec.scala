package graft.tables

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import java.util.Comparator
import scala.jdk.CollectionConverters._

class SnapshotTableSpec extends SparkTestBase {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val p = Paths.get(s"target/test-tables/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    p.toString
  }

  test("create / read / snapshot metadata") {
    val root = freshRoot("basic")
    val t = SnapshotTable.create(spark,
      root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    assert(t.currentSnapshot === Some(1L))
    assert(t.read().count() === 2)
    val info = t.snapshotInfo(1L)
    assert(info("operation") === "create" && info("rowCount") === "2")
    assert(info("bytes").toLong > 0)
    // every table is keyed
    intercept[IllegalArgumentException](SnapshotTable.create(spark,
      freshRoot("basic-keyless"), Seq((1L, "a")).toDF("id", "v"), Nil))
  }

  test("mergeInto upserts, deletes, and is idempotent; time travel sees history") {
    val root = freshRoot("merge")
    val t = SnapshotTable.create(spark,
      root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val updates = Seq((2L, "B", false), (3L, "x", true), (4L, "d", false))
      .toDF("id", "v", "deleted")
    t.mergeInto(updates, Seq("id"), deleteMarker = Some("deleted"))
    val now = t.read().as[(Long, String)].collect().toMap
    assert(now === Map(1L -> "a", 2L -> "B", 4L -> "d"))
    // idempotent: same merge again -> same table
    t.mergeInto(updates, Seq("id"), deleteMarker = Some("deleted"))
    assert(t.read().as[(Long, String)].collect().toMap === now)
    // time travel: snapshot 1 still shows the original rows
    assert(t.readAt(1L).as[(Long, String)].collect().toMap ===
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(t.snapshots === Seq(1L, 2L, 3L))
  }

  test("bucketed merge rewrites only touched buckets; untouched carry by reference") {
    val root = freshRoot("bucketed")
    val base = (0L until 64L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = SnapshotTable.create(spark, root, base, keyCols = Seq("id"), numBuckets = 8)
    val s1 = t.currentSnapshot.get
    val paths1 = t.bucketPaths(s1)
    assert(paths1.nonEmpty, "bucketed create must produce a bucket manifest")

    val updates = Seq((1L, "ONE", false), (999L, "new", false), (2L, "x", true))
      .toDF("id", "v", "deleted")
    t.mergeInto(updates, Seq("id"), Some("deleted"))
    val s2 = t.currentSnapshot.get
    val paths2 = t.bucketPaths(s2)
    val touched = Seq(1L, 999L, 2L).toDF("id")
      .select(pmod(hash(col("id")), lit(8))).collect().map(_.getInt(0)).toSet
    paths1.keySet.foreach { b =>
      if (!touched(b))
        assert(paths2(b) === paths1(b),
          s"untouched bucket $b must keep the SAME data path (carried by reference)")
    }
    touched.foreach { b =>
      assert(!paths1.get(b).contains(paths2(b)), s"touched bucket $b must move")
    }
    val now = t.read().as[(Long, String)].collect().toMap
    assert(now.size === 64) // one delete (2), one insert (999)
    assert(now(1L) === "ONE" && !now.contains(2L) && now(999L) === "new")
    // idempotent: same merge again -> identical table, untouched still shared
    t.mergeInto(updates, Seq("id"), Some("deleted"))
    assert(t.read().as[(Long, String)].collect().toMap === now)
    // time travel across the bucketed history
    assert(t.readAt(s1).count() === 64)
    assert(t.readAt(s1).as[(Long, String)].collect().toMap.apply(2L) === "v2")
  }
  test("snapshot reads take the manifest schema: no Spark job, old manifests still read") {
    import org.apache.spark.JobCounter
    val root = freshRoot("schema-read")
    val t = SnapshotTable.create(spark, root,
      (0L until 32L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "v", "x"), Seq("id"), numBuckets = 4)
    t.mergeInto(Seq((1L, "ONE", 9.0, false)).toDF("id", "v", "x", "deleted"),
      Seq("id"), Some("deleted"))
    val (bucketed, n1) = JobCounter(spark.sparkContext)(t.read())
    assert(n1.jobs === 0, s"bucketed read launched $n1")
    val want = bucketed.as[(Long, String, Double)].collect().toSet
    assert(want.size === 32 && want((1L, "ONE", 9.0)))
    // a delta chain on top resolves lazily too
    t.mergeIntoDelta(Seq((2L, "TWO", 8.0, false)).toDF("id", "v", "x", "deleted"),
      Seq("id"), Some("deleted"))
    val (chained, n2) = JobCounter(spark.sparkContext)(t.read())
    assert(n2.jobs === 0, s"delta-chain read launched $n2")
    assert(chained.as[(Long, String, Double)].collect().toSet ===
      want - ((2L, "v2", 1.0)) + ((2L, "TWO", 8.0)))
    // manifests written before the schema was recorded fall back to
    // schema inference
    val meta = Paths.get(root, "meta")
    Files.list(meta).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("snapshot-")).foreach { f =>
        val txt = new String(Files.readAllBytes(f), "UTF-8")
        Files.write(f, txt.replaceAll("\"schema\": \"[^\"]*\",", "").getBytes("UTF-8"))
      }
    assert(!t.snapshotInfo(t.currentSnapshot.get).contains("schema"))
    assert(t.read().as[(Long, String, Double)].collect().toSet ===
      want - ((2L, "v2", 1.0)) + ((2L, "TWO", 8.0)))
  }

  test("repeated merges keep one file per touched bucket") {
    val root = freshRoot("files-per-bucket")
    val t = SnapshotTable.create(spark, root,
      (0L until 64L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), numBuckets = 4)
    for (round <- 1 to 5)
      t.mergeInto((0L until 64L by 3).map(i => (i + round, s"r$round", false))
        .toDF("id", "v", "deleted"), Seq("id"), Some("deleted"))
    val files = t.filesMeta().select("bucket").as[Int].collect()
    assert(files.sorted.toSeq === (0 until 4), s"files per bucket: ${files.sorted.toSeq}")
    assert(t.read().count() === 69)
  }

  /** Runs `f` with AQE off, as `Replicator.applyOps` runs its merges
    * (AQE would launch each shuffle stage as a job of its own). */
  private def withoutAqe[A](f: => A): A = {
    val was = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", was.getOrElse("true"))
  }

  test("a key's driver-side bucket equals Spark's pmod(hash(k), n)") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val t = SnapshotTable.create(spark, freshRoot("bucket-of"),
      Seq((1L, "a")).toDF("id", "v"), Seq("id"), numBuckets = 4)
    val rnd = new scala.util.Random(17)
    val longs = Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++ Seq.fill(300)(rnd.nextLong())
    val strings = Seq("", "node:1", "way:-7", "\u00fc\u2202\u6f22\ud83d\ude00") ++
      Seq.fill(300)(rnd.alphanumeric.take(rnd.nextInt(24)).mkString)
    for (n <- Seq(1, 7, 16, 64)) {
      // RDD-backed rows, so Spark evaluates the expression in its tasks
      val wantL = spark.sparkContext.parallelize(longs.zipWithIndex, 3).toDF("k", "i")
        .select(col("i"), pmod(hash(col("k")), lit(n))).as[(Int, Int)].collect().toMap
      val gotL = t.bucketOf(StructField("k", LongType), n)
      assert(longs.indices.forall(i => gotL(longs(i)) == wantL(i)), s"Long keys, n=$n")
      val wantS = spark.sparkContext.parallelize(strings.zipWithIndex, 3).toDF("k", "i")
        .select(col("i"), pmod(hash(col("k")), lit(n))).as[(Int, Int)].collect().toMap
      val gotS = t.bucketOf(StructField("k", StringType), n)
      assert(strings.indices.forall(i => gotS(strings(i)) == wantS(i)), s"String keys, n=$n")
    }
  }

  test("a keyed merge is one Spark job; a key with no delta row is deleted") {
    import org.apache.spark.JobCounter
    val base = (0L until 64L).map(i => (i, s"v$i"))
    val keyed = SnapshotTable.create(spark, freshRoot("keyed"), base.toDF("id", "v"),
      Seq("id"), numBuckets = 8)
    val plain = SnapshotTable.create(spark, freshRoot("keyed-plain"), base.toDF("id", "v"),
      Seq("id"), numBuckets = 8)
    val updates = Seq((1L, "ONE", false), (999L, "new", false), (2L, "x", true))
      .toDF("id", "v", "deleted")
    // key 3 has no delta row: the set removes it
    val keys = Set(1L, 2L, 3L, 999L)
    val s1 = keyed.currentSnapshot.get
    val (r, n) = JobCounter(spark.sparkContext)(withoutAqe(
      keyed.mergeInto(updates, Seq("id"), Some("deleted"), keys = Some(keys))))
    assert(n.jobs === 1, s"keyed merge launched $n")
    assert(r.updateRows === 3)
    val want = base.toMap - 2L - 3L + (1L -> "ONE") + (999L -> "new")
    assert(keyed.read().as[(Long, String)].collect().toMap === want)
    // the same delta without a key set, plus an explicit delete of 3
    plain.mergeInto(updates.unionByName(Seq((3L, "", true)).toDF("id", "v", "deleted")),
      Seq("id"), Some("deleted"))
    assert(plain.read().as[(Long, String)].collect().toMap === want)
    // exactly the keys' buckets moved; the rest carry by reference
    val touched = keys.toSeq.toDF("id").select(pmod(hash(col("id")), lit(8)))
      .as[Int].collect().toSet
    val (p1, p2) = (keyed.bucketPaths(s1), keyed.bucketPaths(keyed.currentSnapshot.get))
    p1.keySet.foreach(b => assert((p2(b) != p1(b)) === touched(b), s"bucket $b"))
    // a delta row outside the key set fails the merge before it commits
    val e = intercept[IllegalArgumentException](keyed.mergeInto(
      Seq((5L, "five", false)).toDF("id", "v", "deleted"), Seq("id"), Some("deleted"),
      keys = Some(Set(6L))))
    assert(e.getMessage.contains("outside the merge's key set"))
    assert(keyed.read().as[(Long, String)].collect().toMap === want)
  }

  test("a key set is authoritative in delta commits and compactions too") {
    val root = freshRoot("keyed-mor")
    val t = SnapshotTable.create(spark, root,
      Seq((1L, "a1"), (1L, "a2"), (2L, "b1"), (3L, "c1")).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    def state(): Map[Long, Set[String]] = t.read().as[(Long, String)]
      .collect().groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    // delta commit: key 1's rows win over its tombstone, key 2 goes
    t.mergeIntoDelta(Seq((1L, "a9", false)).toDF("k", "v", "deleted"), Seq("k"),
      Some("deleted"), keys = Some(Set(1L, 2L)))
    assert(t.snapshotInfo(t.currentSnapshot.get)("operation") === "delta")
    assert(state() === Map(1L -> Set("a9"), 3L -> Set("c1")))
    // a delta commit or a compaction with a delta row outside the key
    // set fails before it commits: the head and the resolved rows stay
    // as they were, and the refused delta leaves no data dir
    val (head, rows) = (t.currentSnapshot, state())
    val stray = intercept[IllegalArgumentException](t.mergeIntoDelta(
      Seq((5L, "e1", false)).toDF("k", "v", "deleted"), Seq("k"), Some("deleted"),
      compactEvery = 8, keys = Some(Set(6L))))
    assert(stray.getMessage.contains("outside the merge's key set"))
    assert(t.currentSnapshot === head && state() === rows)
    assert(!Files.exists(Paths.get(root, "data", (head.get + 1).toString)))
    val e = intercept[IllegalArgumentException](t.mergeIntoDelta(
      Seq((5L, "e1", false)).toDF("k", "v", "deleted"), Seq("k"), Some("deleted"),
      compactEvery = 1, keys = Some(Set(6L))))
    assert(e.getMessage.contains("outside the merge's key set"))
    assert(t.currentSnapshot === head && state() === rows)
    // compaction: key 3 goes, key 4 arrives
    val r = t.mergeIntoDelta(Seq((4L, "d1", false)).toDF("k", "v", "deleted"), Seq("k"),
      Some("deleted"), compactEvery = 1, keys = Some(Set(3L, 4L)))
    assert(t.snapshotInfo(t.currentSnapshot.get)("operation") === "compact")
    assert(r.updateRows === 1)
    assert(state() === Map(1L -> Set("a9"), 4L -> Set("d1")))
    // an empty delta with keys still deletes them
    t.mergeInto(Seq.empty[(Long, String, Boolean)].toDF("k", "v", "deleted"), Seq("k"),
      Some("deleted"), keys = Some(Set(4L)))
    assert(state() === Map(1L -> Set("a9")))
  }

  test("write tasks sized to the cores still leave one file per bucket") {
    val buckets = 16
    assert(spark.sparkContext.defaultParallelism < buckets)
    val t = SnapshotTable.create(spark, freshRoot("files-per-bucket-wide"),
      (0L until 256L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"), numBuckets = buckets)
    def filesPerBucket(): Seq[Int] = t.filesMeta().select("bucket").as[Int].collect().sorted.toSeq
    assert(filesPerBucket() === (0 until buckets))
    t.mergeInto((0L until 256L by 5).map(i => (i, "m", false)).toDF("id", "v", "deleted"),
      Seq("id"), Some("deleted"))
    assert(filesPerBucket() === (0 until buckets))
    t.mergeInto((0L until 256L by 3).map(i => (i, "k", false)).toDF("id", "v", "deleted"),
      Seq("id"), Some("deleted"), keys = Some((0L until 256L by 3).toSet))
    assert(filesPerBucket() === (0 until buckets))
    assert(t.read().count() === 256)
  }

  test("snapshot writes go through NioLocalFileSystem and keep Hadoop's modes") {
    import org.apache.hadoop.fs.FileSystem
    import java.nio.file.attribute.PosixFilePermissions
    def nioBytes: Long =
      FileSystem.getStatistics("file", classOf[NioLocalFileSystem.Raw]).getBytesWritten
    def viaNio[A](site: String)(f: => A): A = {
      val before = nioBytes
      val a = f
      assert(nioBytes > before, s"the $site wrote no bytes through NioLocalFileSystem")
      a
    }
    // the three write paths: the bucketed layout, the z layout, a delta
    val bucketed = freshRoot("perm-bucketed")
    val b = SnapshotTable.create(spark, bucketed,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    viaNio("bucketed merge")(b.mergeInto(Seq((2L, "B")).toDF("id", "v"), Seq("id")))
    val z = freshRoot("perm-z")
    val zt = viaNio("z-ordered create")(SnapshotTable.createZOrdered(spark, z,
      Seq((1L, 1.0, 2.0), (2L, -50.0, 40.0)).toDF("id", "lon", "lat"), Seq("id"), "lon", "lat",
      zBits = 8, numBuckets = 4))
    viaNio("z delta")(zt.mergeIntoDelta(Seq((3L, 3.0, 4.0)).toDF("id", "lon", "lat"), Seq("id")))
    // Hadoop's defaults under its 022 umask, as its chmod path leaves
    // them: directories rwxr-xr-x; parquet, .crc and _SUCCESS rw-r--r--
    for (root <- Seq(bucketed, z)) {
      val paths = SnapshotTable.closing(Files.walk(Paths.get(root, "data")))(_.iterator().asScala.toList)
      assert(paths.exists(_.toString.endsWith(".parquet")))
      assert(paths.exists(_.toString.endsWith(".crc")))
      for (p <- paths) {
        val want = if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"
        assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(p)) === want, p)
      }
    }
  }

  test("merge-on-read delta commits: latest-wins resolution, tombstones, compaction") {
    val root = freshRoot("mor")
    // owner-keyed family table: multiple rows per key, a merge replaces
    // the key's whole family (the triple-store shape)
    val t = SnapshotTable.create(spark, root,
      Seq((1L, "a1"), (1L, "a2"), (2L, "b1"), (3L, "c1"))
        .toDF("k", "v"), Seq("k"), numBuckets = 4)

    // delta 1: replace family of 1, delete 2
    val d1 = Seq((1L, Some("a1v2"), false), (1L, Some("a2v2"), false),
      (2L, None, true)).toDF("k", "v", "deleted")
      .select(col("k"), col("v"), col("deleted"))
    val r1 = t.mergeIntoDelta(d1, Seq("k"), Some("deleted"), compactEvery = 3)
    assert(r1.updateRows === 3)
    def state(): Map[Long, Set[String]] = t.read().as[(Long, String)]
      .collect().groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    assert(state() === Map(1L -> Set("a1v2", "a2v2"), 3L -> Set("c1")))
    assert(t.snapshotInfo(t.currentSnapshot.get)("operation") === "delta")

    // delta 2: re-create key 2, shrink family of 1 to one row
    val d2 = Seq((2L, Some("b1v3"), false), (1L, Some("a-only"), false))
      .toDF("k", "v", "deleted")
    t.mergeIntoDelta(d2, Seq("k"), Some("deleted"), compactEvery = 3)
    assert(state() === Map(1L -> Set("a-only"), 2L -> Set("b1v3"), 3L -> Set("c1")))

    // delta 3 exceeds compactEvery=2 -> full compaction; content identical
    val d3 = Seq((3L, Option.empty[String], true)).toDF("k", "v", "deleted")
    t.mergeIntoDelta(d3, Seq("k"), Some("deleted"), compactEvery = 2)
    assert(state() === Map(1L -> Set("a-only"), 2L -> Set("b1v3")))
    assert(t.snapshotInfo(t.currentSnapshot.get)("operation") === "compact")
    // post-compaction the table is a plain bucketed layout again: a
    // copy-on-write merge works directly on it
    t.mergeInto(Seq((2L, Some("b1v4"), false)).toDF("k", "v", "deleted"),
      Seq("k"), Some("deleted"))
    assert(state() === Map(1L -> Set("a-only"), 2L -> Set("b1v4")))
  }

  test("expireSnapshots never deletes dirs still carried by reference or in a delta chain") {
    val root = freshRoot("expire")
    val base = (0L until 64L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = SnapshotTable.create(spark, root, base, Seq("id"), numBuckets = 8)
    // two COW merges touch the SAME key -> the second rewrite orphans
    // snapshot 2's bucket dir; snapshot 1's dirs stay referenced (they
    // back every untouched bucket of the current manifest)
    t.mergeInto(Seq((1L, "x", false)).toDF("id", "v", "deleted"), Seq("id"), Some("deleted"))
    t.mergeInto(Seq((1L, "y", false)).toDF("id", "v", "deleted"), Seq("id"), Some("deleted"))
    // an open delta chain on top
    t.mergeIntoDelta(Seq((3L, Some("z"), false)).toDF("id", "v", "deleted"),
      Seq("id"), Some("deleted"), compactEvery = 8)
    val before = t.read().as[(Long, String)].collect().toMap
    val expired = t.expireSnapshots(keepLast = 1)
    // the chain needs snapshots 3+4 and snapshot 1 is carried by
    // reference — only the overwritten COW snapshot 2 is reclaimable
    assert(expired === Seq(2L))
    assert(t.read().as[(Long, String)].collect().toMap === before)
    assert(before(1L) === "y" && before(3L) === "z")
    // compaction frees the ancestry: everything except the compacted
    // snapshot goes
    t.mergeInto(Seq((4L, "w", false)).toDF("id", "v", "deleted"), Seq("id"), Some("deleted"))
    val expired2 = t.expireSnapshots(keepLast = 1)
    assert(expired2.nonEmpty && !expired2.contains(t.currentSnapshot.get))
    val after = t.read().as[(Long, String)].collect().toMap
    assert(after === before + (4L -> "w"))
  }

  test("snapshots/files metadata tables expose commit history and data files") {
    val root = freshRoot("meta-tables")
    val t = SnapshotTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), numBuckets = 2)
    t.mergeInto(Seq((1L, "A", false)).toDF("id", "v", "deleted"), Seq("id"), Some("deleted"))
    t.mergeIntoDelta(Seq((2L, Some("B"), false)).toDF("id", "v", "deleted"),
      Seq("id"), Some("deleted"))
    val snaps = t.snapshotsMeta.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(6))).toMap
    assert(snaps(1L) === (("create", false)))
    assert(snaps(2L) === (("merge", false)))
    assert(snaps(3L) === (("delta", true)))
    val files = t.filesMeta().collect()
    assert(files.nonEmpty && files.forall(_.getString(2).endsWith(".parquet")))
    assert(files.forall(_.getLong(3) > 0))
    // the delta snapshot's file set includes both chain files (bucket
    // -1) and the base layout's bucket dirs
    assert(files.exists(_.getInt(1) == -1) && files.exists(_.getInt(1) >= 0))
  }

  test("an empty delta batch commits nothing and never poisons later reads") {
    val root = freshRoot("mor-empty")
    val t = SnapshotTable.create(spark, root,
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    val empty = Seq.empty[(Long, Option[String], Boolean)].toDF("k", "v", "deleted")
    val r = t.mergeIntoDelta(empty, Seq("k"), Some("deleted"))
    assert(r.updateRows === 0L && t.currentSnapshot === Some(1L))
    // a real delta afterwards still resolves (streaming sees empty
    // micro-batches routinely; they must not leave a data-less commit)
    t.mergeIntoDelta(Seq((1L, Some("a2"), false)).toDF("k", "v", "deleted"),
      Seq("k"), Some("deleted"))
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "a2")))
  }

  test("copy-on-write merge atop an open delta chain folds the chain in") {
    val root = freshRoot("mor-cow")
    val t = SnapshotTable.create(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), numBuckets = 2)
    t.mergeIntoDelta(Seq((1L, Some("a2"), false)).toDF("k", "v", "deleted"),
      Seq("k"), Some("deleted"), compactEvery = 8)
    val r = t.mergeInto(Seq((2L, Some("b2"), false)).toDF("k", "v", "deleted"),
      Seq("k"), Some("deleted"))
    assert(r.updateRows === 1)
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "a2"), (2L, "b2")))
    assert(t.snapshotInfo(t.currentSnapshot.get)("operation") === "compact")
  }

  test("z-ordered table: bbox read prunes bucket dirs AND files, result exact") {
    val root = freshRoot("zorder")
    // deterministic spread across the whole lon/lat domain: 4096 points
    // on a grid, plus the query box's own cluster
    val pts = (0 until 4096).map { i =>
      val lon = -180.0 + (i % 64) * 5.625 + 0.1
      val lat = -90.0 + (i / 64) * 2.8125 + 0.1
      (i.toLong, lon, lat)
    }.toDF("id", "lon", "lat")
    val t = SnapshotTable.createZOrdered(spark, root, pts,
      Seq("id"), "lon", "lat", zBits = 12, numBuckets = 32)
    val (minLon, maxLon, minLat, maxLat) = (10.0, 40.0, 20.0, 45.0)
    val got = t.readBbox(minLon, maxLon, minLat, maxLat)
    // exact: equals the brute filter over the full table
    val want = pts.filter(col("lon") >= minLon && col("lon") <= maxLon &&
        col("lat") >= minLat && col("lat") <= maxLat)
      .as[(Long, Double, Double)].collect().toSet
    assert(got.select(col("id"), col("lon"), col("lat"))
      .as[(Long, Double, Double)].collect().toSet === want)
    assert(want.nonEmpty)
    // pruned: the bbox scan reads strictly fewer files than a full read
    val allFiles = t.read().inputFiles.length
    val bboxFiles = got.inputFiles.length
    assert(bboxFiles < allFiles,
      s"no pruning: bbox read lists $bboxFiles of $allFiles files")
    // empty box outside the domain -> empty frame, same schema, no scan
    assert(t.readBbox(170.0, 171.0, 80.0, 81.0).count() === 0)
    // layout survives a full-replace commit (still z-ordered + pruned)
    t.commit(pts.filter(col("id") < 2048), "overwrite")
    assert(t.readBbox(minLon, maxLon, minLat, maxLat).inputFiles.length <
      t.read().inputFiles.length)
    // merges are refused with a clear message (read-optimized layout)
    val ex = intercept[IllegalArgumentException] {
      t.mergeInto(Seq((1L, 0.0, 0.0)).toDF("id", "lon", "lat"), Seq("id"))
    }
    assert(ex.getMessage.contains("z-ordered"))
  }
}

class LineageSpec extends SparkTestBase {
  import spark.implicits._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def freshRoot(name: String): String = {
    val p = Paths.get(s"target/test-lineage/$name")
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    p.toString
  }

  val outSchema = StructType(Seq(
    StructField("id", LongType), StructField("doubled", LongType)))

  test("killed stage resumes at partition granularity without recompute") {
    val root = freshRoot("resume")
    val lin = new Lineage(spark, root)
    val input = spark.range(0, 100, 1, numPartitions = 4).toDF("id")

    // first run: partition 2 blows up mid-stage (simulated kill)
    val boom = intercept[Exception] {
      lin.runStage("double", input, outSchema) { it =>
        it.map { r =>
          val id = r.getLong(0)
          if (id == 60) {
            // die SLOWLY so sibling tasks commit first — models a long
            // task killed mid-stage while the rest of the job completes
            Thread.sleep(2000)
            throw new RuntimeException("simulated task kill")
          }
          Row(id, id * 2)
        }
      }
    }
    assert(boom.getMessage != null)
    val done1 = lin.completedPartitions("double")
    assert(done1.nonEmpty && done1.size < 4, s"expected partial progress, got $done1")

    // resume: count how many partitions actually re-execute
    val ran = spark.sparkContext.longAccumulator("ran")
    val out = lin.runStage("double", input, outSchema) { it =>
      ran.add(1)
      it.map(r => Row(r.getLong(0), r.getLong(0) * 2))
    }
    assert(ran.value === (4 - done1.size), "completed partitions must not re-run")
    assert(out.count() === 100)
    assert(out.agg(sum(col("doubled"))).head().getLong(0) === (0L until 100L).map(_ * 2).sum)
    // metrics: per-partition row counts sum to the total; bytes recorded
    assert(lin.metrics("double").values.sum === 100L)
    assert(lin.rowByteMetrics("double").values.forall(_._2 > 0L),
      "per-partition byte metric missing")
    // full re-run is a no-op
    val ran2 = spark.sparkContext.longAccumulator("ran2")
    lin.runStage("double", input, outSchema) { it => ran2.add(1); it.map(r => Row(r.getLong(0), 0L)) }
    assert(ran2.value === 0)
  }

  test("task-side writer round-trips string/double/bool/int and nulls") {
    val root = freshRoot("types")
    val lin = new Lineage(spark, root)
    val input = spark.range(0, 8, 1, numPartitions = 2).toDF("id")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("x", DoubleType), StructField("flag", BooleanType),
      StructField("small", IntegerType)))
    val out = lin.runStage("typed", input, schema) { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, if (id % 3 == 0) null else s"n$id", id * 1.5, id % 2 == 0, id.toInt)
      }
    }
    assert(out.schema === schema)
    val rows = out.collect().map(r => r.getLong(0) ->
      (Option(r.getString(1)), r.getDouble(2), r.getBoolean(3), r.getInt(4))).toMap
    assert(rows(3L) === ((None, 4.5, false, 3)))
    assert(rows(4L) === ((Some("n4"), 6.0, true, 4)))
    assert(rows.size === 8)
  }
}
