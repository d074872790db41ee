package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The small-graph module: every bounded DRIVER fast path of the
  * iterative graph operators and queries goes through it. Eight paths
  * use it: [[ConnectedComponents.alternatingStar]],
  * [[KCore.membership]], [[Mis.of]], [[IncrementalBfs.maintain]], and
  * GraphQueries' `bfsHops` (q161, q253, q264), q251, q274 and q291.
  *
  * Each path has one shape. [[collectUnder]] returns `Some(rows)`, the
  * driver runs the IDENTICAL recurrence on those rows, and [[toDf]]
  * hands the result back as a small frame. `None` means the unchanged
  * distributed rounds run, with the same round bounds and the same
  * "did not converge" failures. The point is to skip rounds of
  * fixed-overhead Spark jobs (a join, a distinct and a checkpoint each,
  * 0.2–0.5 s of scheduling) that do microseconds of work on graphs of
  * thousands of edges.
  *
  * The cap is one session conf, `spark.graft.graphDriverEdgeCap`
  * (default 1e6 rows; 0 forces every distributed path), read only by
  * [[edgeCap]]. The gate IS the collect, `limit(cap + 1)`, so a frame
  * over the cap costs a bounded read, never a full `count()`, and
  * nothing collected scales with the corpus (see [[collectUnder]] for
  * its job count).
  * GraphFastPathSpec, KCoreSpec, MisSpec and ConnectedComponentsSpec
  * pin fast == distributed for every path.
  */
object DriverGraph {

  type Adjacency = mutable.LongMap[mutable.ArrayBuffer[Long]]

  /** Rows a fast path may collect from one frame. */
  def edgeCap(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.graphDriverEdgeCap")
      .map(_.toLong).getOrElse(1000000L)

  /** The rows of `frame` if it has at most [[edgeCap]] of them and only
    * LongType columns; `None` (take the distributed path) otherwise or
    * when the cap is 0.
    *
    * The collect runs Spark's incremental limit scan: one partition
    * first, then up to 4× the partitions scanned so far
    * (`spark.sql.limit.initialNumPartitions` 1, `scaleUpFactor` 4), each
    * round one job. So a frame of P partitions under the cap costs up to
    * 1 + ⌈log₅ P⌉ jobs: 1 for one partition, 2 for four, and 1 when
    * Spark knows the frame's row bound is within the limit and drops
    * it. Over the cap, the scan ends as soon as cap + 1 rows are in.
    * A one-job read would have every partition ship up to
    * cap + 1 rows, or one task read the whole input, so the extra jobs
    * stay. */
  def collectUnder(frame: DataFrame): Option[Array[Row]] = {
    val cap = edgeCap(frame.sparkSession)
    if (cap <= 0 || !frame.schema.fields.forall(_.dataType == LongType)) None
    else {
      val rows = frame.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
      if (rows.length <= cap) Some(rows) else None
    }
  }

  /** The first two columns of collected rows as (src, dst) pairs. */
  def pairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1)))

  def adjacency(edges: Iterable[(Long, Long)]): Adjacency = {
    val adj: Adjacency = new mutable.LongMap()
    edges.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d }
    adj
  }

  /** Multi-source K-bounded BFS — the driver mirror of the
    * frontier⋈links round loop: hops = first round a node is reached,
    * seeds at 0, unreached absent. */
  def bfs(seeds: Iterable[Long], adj: Adjacency, k: Int): mutable.LongMap[Long] = {
    val dist = new mutable.LongMap[Long]()
    var frontier = new mutable.ArrayBuffer[Long]()
    seeds.foreach { s => if (!dist.contains(s)) { dist.update(s, 0L); frontier += s } }
    var h = 1L
    while (h <= k && frontier.nonEmpty) {
      val next = new mutable.ArrayBuffer[Long]()
      frontier.foreach { u =>
        adj.get(u).foreach(_.foreach { v =>
          if (!dist.contains(v)) { dist.update(v, h); next += v }
        })
      }
      frontier = next
      h += 1
    }
    dist
  }

  /** Driver rows back to a small frame of nullable LongType columns.
    * Each slice ships as one primitive array: Java-serializing boxed
    * Rows into the tasks cost ~0.25 s per 150k rows (q291's registers
    * at sf0.1). */
  def toDf(spark: SparkSession, names: Seq[String], rows: Array[Row]): DataFrame = {
    val w = names.length
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      1 + rows.length / 10000))
    val flat = rows.grouped(math.max(1, (rows.length + slices - 1) / slices))
      .map(_.flatMap(r => Array.tabulate(w)(r.getLong))).toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(flat, math.max(1, flat.size))
        .flatMap(_.grouped(w).map(a => Row.fromSeq(a.toSeq))),
      StructType(names.map(StructField(_, LongType, nullable = true))))
  }

  /** (doc_id, hops) rows, the BFS family's result frame. */
  def toHopsDf(spark: SparkSession, rows: Iterable[(Long, Long)]): DataFrame =
    toDf(spark, Seq("doc_id", "hops"), rows.map { case (d, h) => Row(d, h) }.toArray)
}
