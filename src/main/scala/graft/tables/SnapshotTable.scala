package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.BindReferences
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import scala.jdk.CollectionConverters._

/** Minimal Iceberg-style table: immutable Parquet data files + JSON
  * snapshot metadata + an atomically-swapped `current` pointer.
  * Provides append / MERGE INTO / delete-by-key / snapshot time travel,
  * and per-snapshot row/byte metrics — the storage layer the north
  * rule's "Iceberg MERGE INTO row-level deletes/upserts" and "metadata
  * tables" sit on. No Iceberg jar exists in this environment, so the
  * table format is built from scratch (layout documented here, nothing
  * proprietary).
  *
  * One contract: every table is KEYED, and its layout is hash-bucketed
  * on the keys ([[SnapshotTable.create]]) or z-ordered on two
  * coordinate columns ([[SnapshotTable.createZOrdered]]). Either way:
  * {{{
  *   <root>/data/<snapshotId>/__b=<bucket>/part-*.parquet
  *   <root>/meta/snapshot-<id>.json   (bucketSrc/bucketRows manifests)
  *   <root>/meta/current              (text: latest id)
  * }}}
  * Three writes: [[commit]] rewrites the table through its layout;
  * [[mergeInto]] (hash layout only) is copy-on-write of the touched
  * buckets; [[mergeIntoDelta]] (both layouts) is merge-on-read, one
  * `deltaParent` chain resolved latest-wins per key.
  *
  * MERGE INTO rewrites ONLY the buckets containing update keys; every
  * other bucket is carried forward BY REFERENCE in the new snapshot's
  * `bucketSrc` manifest (bucket -> snapshotId owning its current data
  * dir). Write amplification per delta batch is O(touched buckets),
  * not O(table). A merge's driver state is the
  * delta's keys and the buckets they hash to — never table rows. A
  * caller that holds its keys passes them, and the merge is one Spark
  * job; otherwise a stats pass collects them (under a size gate; past
  * it the keep side anti-joins the delta instead).
  *
  * Every manifest records the table's schema DDL, and every scan of
  * committed files passes it, so reads launch no schema-inference job.
  *
  * INVARIANT: snapshot data dirs are IMMUTABLE once committed. Because
  * newer snapshots reference older snapshots' bucket dirs in their
  * `bucketSrc` manifests, a data dir may only be removed once NO live
  * snapshot's manifest points at it (i.e. expire snapshots oldest-first
  * and delete a dir only after every manifest referencing it is gone).
  *
  * Replaces the reference's SPARQL UPDATE sink
  * (/root/reference/src/sparql/SparqlWrapper.cpp:88-110): the endpoint
  * IS the table store; `clearCache` becomes unpersist-on-commit.
  */
class SnapshotTable(val spark: SparkSession, val root: String) {
  private def metaDir: Path = Paths.get(root, "meta")
  private def dataDir(snap: Long): Path = Paths.get(root, "data", snap.toString)
  private def bucketDir(snap: Long, b: Int): Path =
    dataDir(snap).resolve(s"__b=$b")

  import SnapshotTable.closing

  def currentSnapshot: Option[Long] = {
    val p = metaDir.resolve("current")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong)
    else None
  }

  def snapshotInfo(id: Long): Map[String, String] = {
    val txt = new String(Files.readAllBytes(metaDir.resolve(s"snapshot-$id.json")),
      StandardCharsets.UTF_8)
    // flat string-valued json, parsed without a json lib (none available)
    "\"(\\w+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** A `bucket:value;...` manifest entry of a parsed snapshot (the
    * inverse of [[serBuckets]]): `bucketSrc` (bucket -> snapshotId
    * owning its data dir), `bucketRows`, or `bucketBytes` (carried so a
    * merge never walks untouched buckets' data dirs for byte metrics). */
  private def buckets(info: Map[String, String], entry: String): Map[Int, Long] =
    info.getOrElse(entry, "").split(";").iterator.filter(_.nonEmpty).map { e =>
      val Array(b, v) = e.split(":"); b.toInt -> v.toLong
    }.toMap

  /** bucket -> data dir of a snapshot — untouched buckets resolve to a
    * PARENT snapshot's dir. */
  def bucketPaths(id: Long): Map[Int, Path] = bucketPaths(snapshotInfo(id))

  private def bucketPaths(info: Map[String, String]): Map[Int, Path] =
    buckets(info, "bucketSrc").map { case (b, s) => b -> bucketDir(s, b) }

  private def current: Long = currentSnapshot.getOrElse(
    throw new IllegalStateException(s"no current snapshot at $root"))

  /** The table's key columns, as every manifest records them. */
  private def tableKeys(info: Map[String, String]): Seq[String] =
    info.get("keyCols").filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(
      throw new IllegalStateException(s"snapshot manifest at $root records no key columns"))

  private def requireKeys(info: Map[String, String], keyCols: Seq[String]): Unit =
    require(tableKeys(info) == keyCols, s"table keyed on [${tableKeys(info).mkString(",")}], " +
      s"merge keyed on [${keyCols.mkString(",")}]")

  /** Per-bucket bytes of a freshly written snapshot data dir (one walk
    * of only THIS snapshot's files). */
  private def writtenBucketBytes(dir: Path): Map[Int, Long] =
    if (!Files.exists(dir)) Map.empty
    else closing(Files.list(dir))(_.iterator().asScala
      .filter(_.getFileName.toString.startsWith("__b="))
      .map(d => d.getFileName.toString.stripPrefix("__b=").toInt -> dirBytes(d))
      .toMap)

  def read(): DataFrame = readAt(current)

  /** Manifest key linking a merge-on-read delta commit to its parent. */
  private val DeltaParent = "deltaParent"

  /** Manifest entries a delta commit carries forward from its parent:
    * the keys and the layout its chain resolves over. */
  private val LayoutEntries =
    Set("keyCols", "numBuckets", "schema", "bucketSrc", "bucketRows", "bucketBytes", "zorder", "zbits")

  /** The chain snapshot `id` (with manifest `info`) resolves over: its
    * base and the delta ids above it, oldest first; `(id, Nil)` when
    * `id` is no delta. */
  private def chainOf(id: Long, info: Map[String, String]): (Long, Seq[Long]) =
    info.get(DeltaParent) match {
      case Some(p) =>
        val (base, deltas) = chainOf(p.toLong, snapshotInfo(p.toLong))
        (base, deltas :+ id)
      case None => (id, Nil)
    }

  /** Merge-on-read overlay: `base` ∪ the `deltas`' files, LATEST commit
    * wins per key (a delta replaces the key's whole row family; `__del`
    * tombstones drop it). One shuffle on the key. A delta's files are
    * scanned with the schema of the head manifest `info` (every chain
    * manifest carries the same one forward) plus the `__del` flag; the
    * `__b` partition column the dir layout adds is dropped. */
  private def overlay(info: Map[String, String], base: DataFrame, deltas: Seq[Long]): DataFrame = {
    val all = deltas.zipWithIndex.map { case (d, i) =>
      scan(info, Seq(dataDir(d).toString), ", __del BOOLEAN").drop("__b").withColumn("__c", lit(i + 1))
    }.foldLeft(base.withColumn("__del", lit(false)).withColumn("__c", lit(0)))(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(tableKeys(info).map(col): _*)
    all.withColumn("__mc", max(col("__c")).over(w))
      .filter(col("__c") === col("__mc") && !col("__del"))
      .drop("__del", "__c", "__mc")
  }

  /** Time travel: read the table as of a given snapshot id. A delta
    * snapshot resolves its chain over the base layout its manifest
    * carries forward.
    *
    * A snapshot whose every row was deleted has an EMPTY bucket
    * manifest and no data dirs of its own — that case reads as an
    * empty frame with the schema recorded in the snapshot metadata
    * instead of pointing spark.read at a dir with no parquet files. */
  def readAt(id: Long): DataFrame = {
    val info = snapshotInfo(id)
    val paths = bucketPaths(info).values.map(_.toString).toSeq.sorted
    val base = if (paths.nonEmpty) scan(info, paths) else empty(info)
    chainOf(id, info)._2 match {
      case Nil => base
      case deltas => overlay(info, base, deltas)
    }
  }

  /** An empty frame of the table schema a manifest records. */
  private def empty(info: Map[String, String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(
      info.getOrElse("schema", throw new IllegalStateException(
        s"snapshot ${info.getOrElse("snapshotId", "")} at $root is empty and records no schema"))))

  /** Scan committed parquet files with the schema their manifest
    * records, so no schema-inference job runs (Spark otherwise reads a
    * footer in a one-task job per scan). `extra` appends columns the
    * files carry beyond the table schema. Manifests that record no
    * schema fall back to inference. */
  private def scan(info: Map[String, String], paths: Seq[String],
      extra: String = ""): DataFrame =
    info.get("schema").filter(_.nonEmpty) match {
      case Some(ddl) => spark.read.schema(ddl + extra).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** CDC read between two snapshots (Delta `table_changes` analogue):
    * one row per key whose state differs, tagged insert / update /
    * delete, with the `to`-side payload (NULLs for deletes). Computed
    * as ONE full outer join on the key — at scale both sides are
    * bucket-clustered scans of the same layout, and keys untouched
    * between the snapshots drop out with no per-key state kept. Works
    * across delta chains (either side resolves through [[readAt]]).
    *
    * PRECONDITION: at most one row per key on each side. A
    * multi-row-per-key table (e.g. the owner-keyed triple store, whose
    * MERGE replaces whole row families) would pair rows many-to-many
    * here — the plan groups each side per key and raises a clear
    * runtime error on the first key with >1 row instead of emitting
    * arbitrary duplicate "update" rows. Family-keyed tables should
    * diff via an aggregated view (collect the family per key first). */
  def changesBetween(from: Long, to: Long, keyCols: Seq[String]): DataFrame = {
    val payload = (df: DataFrame) =>
      struct(df.columns.filterNot(keyCols.contains).map(col).toSeq: _*)
    // groupBy on the join key adds no exchange beyond the join's own
    // (the aggregate's hash partitioning is reused by the join)
    def oneRowPerKey(df: DataFrame, pCol: String, flag: String): DataFrame =
      df.groupBy(keyCols.map(col): _*)
        .agg(collect_list(payload(df)).as("__fam"))
        .select(keyCols.map(col) :+
          when(size(col("__fam")) > lit(1), raise_error(concat(
            lit(s"changesBetween at $root requires unique keys; key ("),
            concat_ws(",", keyCols.map(k => col(k).cast("string")): _*),
            lit(s") has multiple rows — diff an aggregated family view instead"))))
            .otherwise(element_at(col("__fam"), 1)).as(pCol) :+
          lit(true).as(flag): _*)
    val av = oneRowPerKey(readAt(from), "__pa", "__ina")
    val bv = oneRowPerKey(readAt(to), "__pb", "__inb")
    av.join(bv, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("__ina").isNull, "insert")
          .when(col("__inb").isNull, "delete")
          .when(col("__pa") =!= col("__pb"), "update"))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(col) :+ col("change_type") :+
        col("__pb").as("payload"): _*)
  }

  def snapshots: Seq[Long] =
    if (!Files.exists(metaDir)) Nil
    else closing(Files.list(metaDir))(_.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("snapshot-") =>
        s.stripPrefix("snapshot-").stripSuffix(".json").toLong }
      .toSeq.sorted)

  private def dirBytes(d: Path): Long =
    if (!Files.exists(d)) 0L
    else closing(Files.walk(d))(_.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).map(Files.size).sum)

  private def writeMeta(id: Long, operation: String, rows: Long, bytes: Long,
      extra: Map[String, String]): Long = {
    Files.createDirectories(metaDir)
    val parent = currentSnapshot.map(_.toString).getOrElse("")
    val extraJson = extra.map { case (k, v) => s""" "$k": "$v",""" }.mkString("\n")
    val json =
      s"""{"snapshotId": "$id", "parent": "$parent", "operation": "$operation",
         |$extraJson "rowCount": "$rows", "bytes": "$bytes",
         | "committedAtMs": "${System.currentTimeMillis()}"}""".stripMargin
    Files.write(metaDir.resolve(s"snapshot-$id.json"),
      json.getBytes(StandardCharsets.UTF_8))
    SnapshotTable.writeAtomically(metaDir.resolve("current"), id.toString)
    id
  }

  private def serBuckets(m: Map[Int, Long]): String =
    m.toSeq.sortBy(_._1).map { case (b, v) => s"$b:$v" }.mkString(";")

  /** Full-replace commit through the table's layout: re-bucketed on the
    * stored keys, or re-clustered on the z-curve of a z-ordered table. */
  def commit(df: DataFrame, operation: String): Long =
    commitAs(snapshotInfo(current), df, operation)

  /** [[commit]] under the layout of the parsed manifest `info`;
    * `beforeCommit` runs after the data write and before the manifest
    * is written, so a check that throws there commits nothing. */
  private def commitAs(info: Map[String, String], df: DataFrame, operation: String,
      beforeCommit: () => Unit = () => ()): Long = {
    val numBuckets = info("numBuckets").toInt
    zCols(info) match {
      case Some((lonCol, latCol)) => commitZOrdered(df, operation, tableKeys(info),
        lonCol, latCol, info("zbits").toInt, numBuckets, beforeCommit)
      case None => commitBucketed(df, operation, tableKeys(info), numBuckets, beforeCommit)
    }
  }

  /** The (lon, lat) columns of a z-ordered table's manifest. */
  private def zCols(info: Map[String, String]): Option[(String, String)] =
    info.get("zorder").map { zc => val Array(lon, lat) = zc.split(","); (lon, lat) }

  private def bucketExpr(keyCols: Seq[String], numBuckets: Int) =
    pmod(hash(keyCols.map(col): _*), lit(numBuckets))

  /** The bucket of one key value, computed on the driver: [[bucketExpr]]
    * is analyzed over a one-column schema and evaluated on each key, so
    * it is the very expression a write assigns `__b` with. Keys are
    * external Scala values of the column's type. No Spark job runs. */
  private[tables] def bucketOf(key: StructField, numBuckets: Int): Any => Int = {
    val plan = spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(Seq(key)))
      .select(bucketExpr(Seq(key.name), numBuckets)).queryExecution.analyzed
    val e = BindReferences.bindReference(plan.expressions.head, plan.children.head.output)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(key.dataType)
    k => e.eval(InternalRow(toCatalyst(k))).asInstanceOf[Int]
  }

  /** Cluster rows on `__b` before a partitionBy("__b") write: without
    * it every task writes one file PER BUCKET it happens to hold
    * (tasks × buckets tiny files — measured 1024 files per small merge,
    * and every later read/list/footer-count pays for them). One
    * shuffle of only the written rows yields one file per bucket;
    * `maxRecordsPerFile` re-splits oversized buckets at real scale.
    * Hash partitioning on `__b` puts each bucket in exactly one task, so
    * the shuffle needs no more tasks than the cores: a task past them
    * only adds its own scheduling and deserialization. */
  private def clusterByBucket(df: DataFrame, numBuckets: Int): DataFrame =
    df.repartition(math.min(numBuckets, spark.sparkContext.defaultParallelism), col("__b"))

  /** Write a bucketed frame and return its per-bucket row counts from
    * OBSERVED metrics riding the write action itself — commits are ONE
    * Spark job, with no read-back listing/footer pass over the files
    * just written (each saved driver round trip is core-count-invariant
    * batch latency). Falls back to a footer scan for very wide bucket
    * counts, where per-bucket conditional sums stop being sensible. */
  private def writeCounted(df: DataFrame, dir: Path, numBuckets: Int): Map[Int, Long] = {
    def write(d: DataFrame): Unit = d.write.options(NioLocalFileSystem.writeOptions).mode("overwrite")
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("__b").parquet(dir.toString)
    if (numBuckets <= 64) {
      val obs = org.apache.spark.sql.Observation()
      val metrics = (0 until numBuckets).map(b =>
        sum(when(col("__b") === b, 1L).otherwise(0L)).as(s"b$b"))
      write(df.observe(obs, metrics.head, metrics.tail: _*))
      val m = obs.get
      (0 until numBuckets).flatMap { b =>
        m.get(s"b$b").collect { case n: Number if n.longValue() > 0 =>
          b -> n.longValue() }
      }.toMap
    } else {
      write(df)
      val hasData = Files.exists(dir) && closing(Files.list(dir))(
        _.iterator().asScala.exists(_.getFileName.toString.startsWith("__b=")))
      if (!hasData) Map.empty
      else spark.read.parquet(dir.toString)
        .groupBy(col("__b")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
  }

  /** Full bucketed write: every bucket dir lands under this snapshot.
    * Per-bucket counts ride the write as observed metrics — the commit
    * is ONE Spark job. */
  private def commitBucketed(df: DataFrame, operation: String,
      keyCols: Seq[String], numBuckets: Int, beforeCommit: () => Unit = () => ()): Long = {
    val id = currentSnapshot.getOrElse(0L) + 1
    val counts = writeBucketed(df, keyCols, numBuckets, id)
    beforeCommit()
    commitLayout(id, operation, keyCols, numBuckets, df.schema,
      counts.keys.map(_ -> id).toMap, counts, writtenBucketBytes(dataDir(id)))
  }

  /** Write every row of `df` into snapshot `id`'s bucket dirs; returns
    * the per-bucket row counts. */
  private def writeBucketed(df: DataFrame, keyCols: Seq[String], numBuckets: Int,
      id: Long): Map[Int, Long] =
    writeCounted(clusterByBucket(df.withColumn("__b", bucketExpr(keyCols, numBuckets)),
      numBuckets), dataDir(id), numBuckets)

  /** Commit a bucket layout: bucket -> owning snapshot, rows, bytes;
    * `extra` carries a z-ordered table's curve entries. */
  private def commitLayout(id: Long, operation: String, keyCols: Seq[String],
      numBuckets: Int, schema: StructType, src: Map[Int, Long], rows: Map[Int, Long],
      bytes: Map[Int, Long], extra: Map[String, String] = Map.empty): Long =
    writeMeta(id, operation, rows.values.sum, bytes.values.sum, extra ++ Map(
      "keyCols" -> keyCols.mkString(","), "numBuckets" -> numBuckets.toString,
      "schema" -> schema.toDDL,
      "bucketSrc" -> serBuckets(src),
      "bucketRows" -> serBuckets(rows),
      "bucketBytes" -> serBuckets(bytes)))

  /** Write `df` z-clustered: `__b` bucket dirs are TOP Z-PREFIX ranges
    * (not key hashes), rows range-sorted by the persisted `zval` column
    * inside each bucket so parquet row-group min/max stats on
    * zval/lon/lat stay tight. The bucket id encodes its z-range, so
    * [[readBbox]] prunes whole directories from the manifest alone —
    * the interval decomposition never lists files it skips. This is the
    * read-optimized mode for spatial layers scanned by bbox (Delta
    * OPTIMIZE ZORDER BY / Iceberg spatial-partition-transform analogue);
    * merges reach it only merge-on-read ([[mergeIntoDelta]]). */
  private def commitZOrdered(df: DataFrame, operation: String, keyCols: Seq[String],
      lonCol: String, latCol: String, zBits: Int, numBuckets: Int,
      beforeCommit: () => Unit = () => ()): Long = {
    require(Integer.bitCount(numBuckets) == 1 && numBuckets > 1,
      s"numBuckets must be a power of two, got $numBuckets")
    val shift = 2 * zBits - Integer.numberOfTrailingZeros(numBuckets)
    require(shift > 0, s"numBuckets $numBuckets too fine for zBits $zBits")
    val id = currentSnapshot.getOrElse(0L) + 1
    val dir = dataDir(id)
    val withZ = withZval(df, lonCol, latCol, zBits)
      .withColumn("__b", shiftright(col("zval"), shift).cast("int"))
    val counts = writeCounted(
      withZ.repartition(numBuckets, col("__b"))
        .sortWithinPartitions(col("__b"), col("zval")), dir, numBuckets)
    beforeCommit()
    commitLayout(id, operation, keyCols, numBuckets, withZ.drop("__b").schema,
      counts.keys.map(_ -> id).toMap, counts, writtenBucketBytes(dir),
      Map("zorder" -> s"$lonCol,$latCol", "zbits" -> zBits.toString))
  }

  /** `df` with its (re-)derived Morton `zval` column. */
  private def withZval(df: DataFrame, lonCol: String, latCol: String, zBits: Int): DataFrame =
    df.drop("zval").withColumn("zval", graft.geo.ZOrder.zValue(col(lonCol), col(latCol), zBits))

  /** Bbox scan of a z-ordered table with manifest-level pruning: the
    * box decomposes into exact-cover z-intervals
    * ([[graft.geo.ZOrder.zIntervals]]), bucket dirs whose z-prefix
    * range misses every interval are never read (or even listed), the
    * literal zval intervals push down to parquet row-group min/max
    * skipping inside the surviving files, and the trailing exact
    * lon/lat predicate removes the curve's jumps. */
  def readBbox(minLon: Double, maxLon: Double,
      minLat: Double, maxLat: Double): DataFrame = {
    require(minLon <= maxLon && minLat <= maxLat,
      s"degenerate bbox [$minLon,$maxLon]x[$minLat,$maxLat]: min must not " +
        "exceed max (split antimeridian-crossing boxes at +-180)")
    val cur = current
    val info = snapshotInfo(cur)
    val (lonCol, latCol) = zCols(info).getOrElse(throw new IllegalStateException(
      s"table at $root is not z-ordered; write it with createZOrdered"))
    val bits = info("zbits").toInt
    val shift = 2 * bits - Integer.numberOfTrailingZeros(info("numBuckets").toInt)
    val bboxPred =
      col(lonCol) >= minLon && col(lonCol) <= maxLon &&
        col(latCol) >= minLat && col(latCol) <= maxLat
    val chain = chainOf(cur, info)._2
    val ivs = graft.geo.ZOrder.zIntervals(minLon, maxLon, minLat, maxLat, bits)
    // a delta manifest carries its base's bucket layout forward
    val all = bucketPaths(info)
    val baseScan: Option[DataFrame] =
      if (ivs.isEmpty || all.isEmpty) None
      else {
        val keep = all.filter { case (b, _) =>
          val bLo = b.toLong << shift; val bHi = ((b.toLong + 1) << shift) - 1
          ivs.exists { case (lo, hi) => bLo <= hi && bHi >= lo }
        }
        if (keep.isEmpty) None
        else {
          val zPred = ivs.map { case (lo, hi) =>
            col("zval") >= lo && col("zval") <= hi }.reduce(_ || _)
          Some(scan(info, keep.values.map(_.toString).toSeq.sorted)
            .filter(zPred && bboxPred))
        }
      }
    if (chain.isEmpty) return baseScan.getOrElse(empty(info))
    // merge-on-read: the pruned base still enjoys the manifest skip;
    // delta rows join UNFILTERED so a row moved OUT of the box still
    // suppresses its stale base copy — the bbox re-applies at the end
    // (the schema DDL of `empty` already carries zval)
    overlay(info, baseScan.getOrElse(empty(info)), chain)
      .filter(bboxPred)
  }

  /** MERGE INTO: upsert by key — rows in `updates` replace same-key
    * rows, others are kept; `deleteMarker` rows (when the column is
    * true) delete instead of upsert. Idempotent: merging the same
    * updates twice yields an identical table.
    *
    * Hash layout only: just the buckets containing update keys are
    * rewritten; untouched buckets carry forward by reference. Returns
    * the new snapshot id AND the number of update rows applied, which
    * the merge counts as it writes, so callers never pay a second pass
    * over the delta DAG just to count it.
    *
    * `keys`, when the caller already holds them (one key column only),
    * are the delta's keys and are AUTHORITATIVE: every stored row whose
    * key is in the set is replaced by that key's delta rows, so a key
    * with no delta row is deleted. The touched buckets are computed on
    * the driver, the keep side filters the keys as a scan predicate, and
    * the merge is ONE Spark job — its write. A delta row whose key is
    * outside the set fails the merge before it commits. Without `keys`
    * a stats pass over the delta collects them first. */
  def mergeInto(updates: DataFrame, keyCols: Seq[String],
      deleteMarker: Option[String] = None,
      keys: Option[Iterable[Any]] = None): MergeResult = {
    val cur = current
    val info = snapshotInfo(cur)
    require(!info.contains("zorder"),
      s"table at $root is z-ordered (read-optimized): a row's bucket is a " +
        "function of its coordinates, so a key-merge cannot locate a moved " +
        "row's old copy without a table scan — merge via mergeIntoDelta " +
        "(merge-on-read) or rewrite via commit()")
    requireKeys(info, keyCols)
    if (info.contains(DeltaParent))
      // a copy-on-write merge atop a delta chain folds the chain in:
      // resolve once, rewrite fully (compaction + merge in one)
      compactWith(info, updates, keyCols, deleteMarker, keys)
    else mergeBucketed(cur, info, updates, keyCols, deleteMarker, keys)
  }

  /** The rows a merge inserts: the delta minus its delete markers. */
  private def inserts(upd: DataFrame, deleteMarker: Option[String]): DataFrame =
    deleteMarker match {
      case Some(m) => upd.filter(!col(m)).drop(m)
      case None => upd
    }

  /** Key bytes of a delta group: fixed-width key columns at Catalyst's
    * defaultSize, string/binary key columns MEASURED (defaultSize is a
    * constant 20 for strings, so a genuinely wide key would otherwise
    * always pass the key gate). */
  private def keyBytes(df: DataFrame, keyCols: Seq[String]): Column = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val (varW, fixedW) = df.schema.fields.filter(f => keyCols.contains(f.name))
      .partition(f => f.dataType == StringType || f.dataType == BinaryType)
    varW.map(f => sum(coalesce(octet_length(col(f.name)).cast("long"), lit(0L))))
      .foldLeft(count(lit(1)) * fixedW.map(_.dataType.defaultSize.toLong).sum)(_ + _)
  }

  /** A merge's `__b`-tagged delta rows and what the merge knows of their
    * keys: the buckets they touch and how the keep side drops them.
    * `applied()` is the delta's row count once the write has run (it
    * also checks the rows against a caller's key set); `release()`
    * frees what the delta holds. */
  private final class Delta(val rows: DataFrame, val touched: Set[Int],
      val dropKeys: DataFrame => DataFrame, val applied: () => Long, val release: () => Unit)

  /** The one key column a merge key set is keyed on. */
  private def setKey(keyCols: Seq[String]): String = {
    require(keyCols.size == 1,
      s"a merge key set needs one key column, got [${keyCols.mkString(",")}]")
    keyCols.head
  }

  private def delta(updates: DataFrame, keyCols: Seq[String], numBuckets: Int,
      keys: Option[Iterable[Any]]): Delta =
    keys.fold(statsDelta(updates, keyCols, numBuckets))(keyedDelta(updates, keyCols, numBuckets, _))

  /** The caller's keys: buckets from [[bucketOf]], an `InSet` keep-side
    * filter, and the applied count observed on the delta rows inside the
    * write. Nothing is cached and no query runs before the write. */
  private def keyedDelta(updates: DataFrame, keyCols: Seq[String], numBuckets: Int,
      keys: Iterable[Any]): Delta = {
    val key = setKey(keyCols)
    val hit = inKeys(keyCols, keys)
    val (rows, applied) = observeKeys(GraftSqlShim.inSession(spark, updates)
      .withColumn("__b", bucketExpr(keyCols, numBuckets)), hit)
    new Delta(rows, keys.iterator.map(bucketOf(updates.schema(key), numBuckets)).toSet,
      _.filter(!hit), applied, () => ())
  }

  /** Whether a row's key is in a caller's key set. */
  private def inKeys(keyCols: Seq[String], keys: Iterable[Any]): Column =
    coalesce(GraftSqlShim.inSet(col(setKey(keyCols)), keys), lit(false))

  /** `rows` (a frame of this table's session, which runs the write)
    * observed against a key set: once a write over them has run, the
    * returned check yields their count and fails if any row's key is
    * outside the set (`hit` false). */
  private def observeKeys(rows: DataFrame, hit: Column): (DataFrame, () => Long) = {
    val obs = Observation()
    (rows.observe(obs, count(lit(1)).as("n"), count_if(!hit).as("strays")), () => {
      val strays = obs.get("strays").asInstanceOf[Long]
      require(strays == 0L, s"$strays delta rows at $root have keys outside the merge's key set")
      obs.get("n").asInstanceOf[Long]
    })
  }

  /** ONE aggregate over a cached, `__b`-tagged delta returns its
    * per-bucket row counts (the touched-bucket histogram, which doubles
    * as the applied-row count) and the way a merge drops the delta's
    * keys from the rows it keeps. The same pass ships each bucket's
    * distinct keys to the driver while the bucket stays within its
    * 1/numBuckets share of the key gate (5M rows, 256 MB of key bytes).
    * The keep side then filters them as an `InSet` scan predicate,
    * which costs no broadcast job. A delta past the gate keeps its keys
    * on the executors and is anti-joined with a shuffle-hash join. */
  private def statsDelta(updates: DataFrame, keyCols: Seq[String],
      numBuckets: Int): Delta = {
    val upd = updates.withColumn("__b", bucketExpr(keyCols, numBuckets)).cache()
    val key = if (keyCols.size == 1) col(keyCols.head) else struct(keyCols.map(col): _*)
    val n = count(lit(1))
    val small = n <= 5000000L / numBuckets &&
      keyBytes(upd, keyCols) <= (256L << 20) / numBuckets
    val stats = upd.groupBy(col("__b"))
      .agg(n.as("n"), when(small, collect_set(key)).as("keys"))
      .collect()
    val keys = stats.map(r => Option(r.getSeq[Any](2)))
    val dropKeys: DataFrame => DataFrame =
      if (keys.forall(_.isDefined)) {
        val hit = GraftSqlShim.inSet(key, keys.flatMap(_.get))
        _.filter(!coalesce(hit, lit(false)))
      } else _.join(upd.select(keyCols.map(col): _*).distinct().hint("shuffle_hash"),
        keyCols, "left_anti")
    val applied = stats.map(_.getLong(1)).sum
    new Delta(upd, stats.map(_.getInt(0)).toSet, dropKeys, () => applied, () => upd.unpersist())
  }

  private def mergeBucketed(cur: Long, info: Map[String, String], updates: DataFrame,
      keyCols: Seq[String], deleteMarker: Option[String],
      keys: Option[Iterable[Any]]): MergeResult = {
    val numBuckets = info("numBuckets").toInt
    val d = delta(updates, keyCols, numBuckets, keys)
    val srcMap = buckets(info, "bucketSrc")
    val touchedDirs = d.touched.toSeq.sorted
      .flatMap(b => srcMap.get(b).map(s => bucketDir(s, b).toString))
    // the touched buckets' kept rows; __b is re-derived from the keys
    // as a pure projection since the scan targets the bucket dirs
    val keep =
      if (touchedDirs.isEmpty) None
      else Some(d.dropKeys(scan(info, touchedDirs))
        .withColumn("__b", bucketExpr(keyCols, numBuckets)))
    val ins = inserts(d.rows, deleteMarker)
    val rows = keep.map(_.unionByName(ins)).getOrElse(ins)
    val id = cur + 1
    val dir = dataDir(id)
    // ONE write job. Kept and inserted rows are clustered on __b
    // together, so every touched bucket is rewritten as ONE file (kept
    // rows left in their old split would add a file per bucket every
    // batch); the shuffle moves only the touched buckets' rows.
    // Per-bucket counts ride the write as observed metrics; a fully
    // deleted bucket counts zero and drops out of the manifest.
    val (written, applied) =
      try {
        val w = writeCounted(clusterByBucket(rows, numBuckets), dir, numBuckets)
        (w, d.applied())
      } finally d.release()
    val newSrc = (srcMap -- d.touched) ++ written.keys.map(_ -> id)
    val newRows = (buckets(info, "bucketRows") -- d.touched) ++ written
    // untouched buckets' bytes come from the parent manifest (legacy
    // snapshots without one fall back to a dir walk)
    val bytesMap = buckets(info, "bucketBytes")
    val untouched = (srcMap -- d.touched).map { case (b, s) =>
      b -> bytesMap.getOrElse(b, dirBytes(bucketDir(s, b))) }
    val sid = commitLayout(id, "merge", keyCols, numBuckets, rows.drop("__b").schema,
      newSrc, newRows, untouched ++ writtenBucketBytes(dir))
    MergeResult(sid, applied)
  }

  /** Merge-on-read MERGE INTO: commits ONLY the delta (upserts +
    * `__del` tombstones, hash-bucketed on the key) — per-batch write
    * cost is O(batch), never O(table). Reads resolve the chain
    * latest-commit-wins per key ([[overlay]]); once the chain
    * exceeds `compactEvery` deltas the merge compacts (resolve + full
    * rewrite through the layout), bounding read amplification. This is
    * the mode for tables that are WRITTEN every batch but rarely scanned
    * in the hot loop (the owner-keyed triple store): a 100 TB table
    * cannot afford a copy-on-write rewrite per replication batch.
    *
    * It is also the one merge a z-ordered table takes: a key-merge
    * cannot locate a moved row's old copy in the z-layout without a
    * table scan (the bucket is a function of the coordinates), but
    * merge-on-read never needs to — the old copy is SUPPRESSED at read
    * by the key, wherever it sits, and [[readBbox]]'s manifest pruning
    * still applies to the base. The delta rows get their `zval` from
    * the table's lon/lat columns, which the updates must carry.
    *
    * `keys` mean what they mean to [[mergeInto]]: a key with no delta
    * row is deleted, and a delta row whose key is outside the set fails
    * the merge before it commits. The delta commit carries a tombstone
    * for every key (a key's upsert rows in the same commit win over it),
    * and a compaction drops the keys without a stats pass. */
  def mergeIntoDelta(updates: DataFrame, keyCols: Seq[String],
      deleteMarker: Option[String] = None, compactEvery: Int = 8,
      keys: Option[Iterable[Any]] = None): MergeResult = {
    val cur = current
    val info = snapshotInfo(cur)
    requireKeys(info, keyCols)
    val numBuckets = info("numBuckets").toInt
    val rows = zCols(info).fold(updates) { case (lonCol, latCol) =>
      withZval(updates, lonCol, latCol, info("zbits").toInt) }
    if (chainOf(cur, info)._2.length + 1 > compactEvery)
      compactWith(info, rows, keyCols, deleteMarker, keys)
    else {
      val marked = deleteMarker match {
        case Some(m) => rows.withColumnRenamed(m, "__del")
        case None => rows.withColumn("__del", lit(false))
      }
      val (observed, checkKeys) = keys.fold((marked, () => 0L))(ks =>
        observeKeys(GraftSqlShim.inSession(spark, marked), inKeys(keyCols, ks)))
      val withDel = keys.fold(observed)(ks => observed.unionByName(tombstones(marked.schema, keyCols, ks)))
        .withColumn("__b", bucketExpr(keyCols, numBuckets))
      val id = cur + 1
      val dir = dataDir(id)
      // the delta commit is ONE Spark job: the write carries its own
      // observed per-bucket counts and the key-set check
      val counts = writeCounted(clusterByBucket(withDel, numBuckets), dir, numBuckets)
      // a delta row outside the key set refuses the commit before any
      // manifest names the data dir
      try checkKeys()
      catch { case e: IllegalArgumentException => SnapshotTable.deleteRecursively(dir); throw e }
      val updateRows = counts.values.sum
      if (updateRows == 0L) {
        // an empty batch must not commit: a delta snapshot whose data
        // dir holds no parquet files would poison every later
        // chain/compaction read (streaming foreachBatch sees
        // empty micro-batches routinely) — drop the fileless dir and
        // leave the table untouched
        SnapshotTable.deleteRecursively(dir)
        return MergeResult(cur, 0L)
      }
      // manifest carries the parent's layout forward untouched;
      // rowCount stays the parent's (resolution-exact counting would
      // defeat the O(batch) write) and is marked approximate
      val sid = writeMeta(id, "delta",
        info.get("rowCount").map(_.toLong).getOrElse(0L),
        dirBytes(dir), info.filter { case (k, _) => LayoutEntries(k) } ++ Map(
          "rowCountApprox" -> "true",
          DeltaParent -> cur.toString))
      MergeResult(sid, updateRows)
    }
  }

  /** One `__del` tombstone row per key, every other column null (a
    * local relation: no job). */
  private def tombstones(schema: StructType, keyCols: Seq[String],
      keys: Iterable[Any]): DataFrame = {
    val key = schema(setKey(keyCols))
    spark.createDataFrame(keys.map(Row(_)).toSeq.asJava, StructType(Seq(key)))
      .select(schema.fields.toSeq.map {
        case f if f.name == key.name => col(f.name)
        case f if f.name == "__del" => lit(true).as(f.name)
        case f => lit(null).cast(f.dataType).as(f.name)
      }: _*)
  }

  // ---- maintenance + metadata tables ---------------------------------

  /** Snapshot ids whose data dirs are still REFERENCED by any kept
    * snapshot — via bucketSrc manifests (carried-by-reference buckets)
    * or delta chains (a delta needs its whole ancestry, and each chain
    * member's bucketSrc in turn). */
  private def referencedBy(keep: Seq[Long]): Set[Long] =
    keep.flatMap { id =>
      val info = snapshotInfo(id)
      val (base, deltas) = chainOf(id, info)
      // every chain member carries the base's bucketSrc forward
      (id +: base +: deltas) ++ buckets(info, "bucketSrc").values
    }.toSet

  /** Expire snapshots older than the newest `keepLast`, deleting ONLY
    * data dirs no retained snapshot references (the immutability
    * invariant: a bucket dir carried by reference, or a delta chain
    * ancestor, must survive as long as any retained manifest points at
    * it). Retained snapshots' time travel keeps working; expired ids
    * lose their metadata and data. Returns the deleted snapshot ids. */
  def expireSnapshots(keepLast: Int = 2): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val all = snapshots
    val keep = all.takeRight(keepLast)
    val needed = referencedBy(keep)
    val expired = all.dropRight(keepLast).filterNot(needed)
    expired.foreach { id =>
      SnapshotTable.deleteRecursively(dataDir(id))
      Files.deleteIfExists(metaDir.resolve(s"snapshot-$id.json"))
    }
    expired
  }

  /** Iceberg-style `snapshots` metadata table: one row per snapshot
    * with operation / rowCount / bytes / commit time / parent. */
  def snapshotsMeta: DataFrame = {
    val rows = snapshots.map { id =>
      val i = snapshotInfo(id)
      Row(id, i.getOrElse("operation", ""),
        i.get("rowCount").map(_.toLong).getOrElse(0L),
        i.get("bytes").map(_.toLong).getOrElse(0L),
        i.get("committedAtMs").map(_.toLong).getOrElse(0L),
        i.get("parent").filter(_.nonEmpty).map(_.toLong).orNull,
        i.contains(DeltaParent))
    }
    spark.createDataFrame(rows.asJava, StructType.fromDDL(
      "snapshot_id BIGINT, operation STRING, row_count BIGINT, bytes BIGINT," +
        " committed_at_ms BIGINT, parent BIGINT, is_delta BOOLEAN"))
  }

  /** Iceberg-style `files` metadata table for a snapshot (default:
    * current): one row per data file with its bucket and size. */
  def filesMeta(id: Option[Long] = None): DataFrame = {
    val snap = id.getOrElse(current)
    val info = snapshotInfo(snap)
    // a delta chain's files (bucket -1), then the base layout's buckets
    val dirs: Seq[(Int, Path)] =
      chainOf(snap, info)._2.map(d => -1 -> dataDir(d)) ++ bucketPaths(info).toSeq
    val rows = dirs.flatMap { case (b, d) =>
      if (!Files.exists(d)) Nil
      else closing(Files.walk(d))(_.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(f => Row(snap, b, f.toString, Files.size(f)))
        .toSeq)
    }
    spark.createDataFrame(rows.asJava, StructType.fromDDL(
      "snapshot_id BIGINT, bucket INT, path STRING, bytes BIGINT"))
  }

  /** Resolve the current state (delta chains folded in) and rewrite it
    * through the layout of `info` with `updates` applied — the
    * compaction face shared by [[mergeIntoDelta]]'s chain cap and
    * [[mergeInto]]-atop-a-chain. */
  private def compactWith(info: Map[String, String], updates: DataFrame,
      keyCols: Seq[String], deleteMarker: Option[String],
      keys: Option[Iterable[Any]]): MergeResult = {
    val d = delta(updates, keyCols, info("numBuckets").toInt, keys)
    val rows = d.dropKeys(read()).unionByName(inserts(d.rows, deleteMarker).drop("__b"))
    // the applied count, and a key set's stray-row check, are read once
    // the rows are written and before the manifest commits them
    var applied = 0L
    val id =
      try commitAs(info, rows, "compact", () => applied = d.applied())
      finally d.release()
    MergeResult(id, applied)
  }
}

/** Result of a [[SnapshotTable.mergeInto]]: the committed snapshot id
  * plus the number of update rows applied (upserts + delete markers). */
case class MergeResult(snapshotId: Long, updateRows: Long)

object SnapshotTable {
  /** nio directory streams hold an open FD until close() — iterate
    * them only through this closing bracket (a replication loop runs
    * thousands of merges per session; leaked FDs accumulate). */
  private[graft] def closing[A <: java.util.stream.BaseStream[_, _], R](st: A)(f: A => R): R =
    try f(st) finally st.close()

  /** Replace the content of `target` with `text` through a sibling temp
    * file and an atomic move, so a crash leaves the old content or the
    * new one, never a truncated file. */
  private[graft] def writeAtomically(target: Path, text: String): Unit = {
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** THE recursive directory delete (walk, reverse-sort, delete),
    * FD-safe; no-op on a missing path. Every rm -rf in the codebase
    * goes through here. */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      closing(Files.walk(p))(_.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f)))

  /** Create a hash-bucketed table on `keyCols`, with O(touched-buckets)
    * MERGE. Every table is keyed: empty `keyCols` are rejected. */
  def create(spark: SparkSession, root: String, df: DataFrame,
      keyCols: Seq[String], numBuckets: Int = 16): SnapshotTable = {
    require(keyCols.nonEmpty, s"a table needs key columns: $root")
    val t = new SnapshotTable(spark, root)
    t.commitBucketed(df, "create", keyCols, numBuckets)
    t
  }

  def load(spark: SparkSession, root: String): SnapshotTable =
    new SnapshotTable(spark, root)

  /** Create a z-ordered (read-optimized) table keyed on `keyCols`:
    * bucket dirs are top z-prefix ranges, rows z-sorted inside each
    * bucket, `zval` persisted. Scan it with [[SnapshotTable.readBbox]];
    * merge it with [[SnapshotTable.mergeIntoDelta]]; rewrite with
    * commit() (the layout is preserved). `numBuckets` must be a power
    * of two (the bucket id IS the z-prefix). */
  def createZOrdered(spark: SparkSession, root: String, df: DataFrame,
      keyCols: Seq[String], lonCol: String, latCol: String, zBits: Int,
      numBuckets: Int = 32): SnapshotTable = {
    require(keyCols.nonEmpty, s"a table needs key columns: $root")
    val t = new SnapshotTable(spark, root)
    require(t.currentSnapshot.isEmpty, s"table already exists at $root")
    t.commitZOrdered(df, "create", keyCols, lonCol, latCol, zBits, numBuckets)
    t
  }
}
