package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports: step counts for `attempted`/`failed`,
  * whether every output check held, and its metrics. */
final case class Outcome(attempted: Int, failed: Int, correct: Boolean,
    e2e: Seq[Metric], layers: Seq[Metric])

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, cores: Int,
    workDir: String, trace: Trace, heap: Heap)

trait Workload {
  def name: String
  /** Why the workload exists: the layer it stresses and the behaviour
    * it exposes. */
  def why: String
  def run(ctx: Ctx): Outcome
}

/** Post-GC old-generation use, sampled after explicit collections at
  * the end of the measured loop, so the figure is the live set rather
  * than GC timing. (A collection before the loop would slow its first
  * steps.) The second collection runs after Spark's ContextCleaner has
  * dropped the blocks the first one released. */
final class Heap {
  private var peakMb = 0.0
  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = old.map(p => Option(p.getCollectionUsage).map(_.getUsed)
      .getOrElse(p.getUsage.getUsed)).sum
    peakMb = math.max(peakMb, used / 1e6)
  }
  def peak: Double = peakMb
}

/** Every per-layer metric with its unit. A traced run reports all of
  * them; a layer the workload does not exercise reads 0. */
object LayerCatalog {
  private val tableKeys = Seq("merge_s" -> "s", "bytes_read_mb" -> "MB", "rows_written" -> "count",
    "bytes_written_mb" -> "MB", "files_written" -> "count", "buckets_touched" -> "count")

  val all: Seq[(String, String)] = Seq(
    "synth.extract_s" -> "s", "synth.points" -> "count",
    "spatial.cover_rows" -> "count", "spatial.candidates" -> "count",
    "spatial.bbox_pass" -> "count", "spatial.hits" -> "count", "spatial.hit_ratio" -> "ratio",
    "spatial.join_s" -> "s", "spatial.celljoin_s" -> "s", "spatial.refine_s" -> "s",
    "spatial.task_cpu_s" -> "s", "spatial.core_util" -> "ratio", "spatial.task_skew" -> "ratio",
    "spatial.shuffle_write_mb" -> "MB", "spatial.spill_mb" -> "MB",
    "geo.tiles_s" -> "s", "geo.tile_rows" -> "count",
    "osm.dedup_s" -> "s", "osm.winners" -> "count", "osm.apply_p50_s" -> "s",
    "osm.closure_ways" -> "count", "osm.closure_rels" -> "count", "osm.ops_per_s" -> "rows/s",
    "osm.orchestration_s" -> "s", "osm.apply_jobs" -> "count", "osm.apply_tasks" -> "count",
    "osm.apply_task_cpu_s" -> "s", "osm.apply_core_util" -> "ratio", "osm.apply_idle_s" -> "s",
    "rdf.triples_derived" -> "count",
    "tables.write_s" -> "s", "tables.compactions" -> "count", "tables.compact_s" -> "s",
    "tables.read_p50_s" -> "s", "tables.read.files" -> "count", "tables.read.bytes_mb" -> "MB",
    "tables.read.delta_chain_len" -> "count", "tables.live_store_mb" -> "MB") ++
    (for (t <- ReplicateWorkload.Tables; (k, u) <- tableKeys) yield s"tables.$t.$k" -> u) ++
    Seq("trace.layer_share" -> "ratio", "trace_overhead_frac" -> "ratio")

  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val unknown = ms.filterNot(m => all.contains(m.name -> m.unit))
    require(unknown.isEmpty, s"metrics missing from LayerCatalog: ${unknown.mkString(", ")}")
    val got = ms.map(m => m.name -> m).toMap
    all.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
  }
}

object Main {
  val workloads: Seq[Workload] = Seq(GeoJoinWorkload, ReplicateWorkload)

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val wName = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val traced = arg(args, "--trace") == "1"
    val workDir = arg(args, "--work")
    val traceOut = arg(args, "--trace-out")
    val w = workloads.find(_.name == wName).getOrElse {
      System.err.println(s"unknown workload '$wName'; known: ${workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    // host context: recorded with the run, never reported as a metric
    val probe = graft.Bench.hostProbe()
    val probeMt = graft.Bench.hostProbeMt()
    val spark = session(cores, workDir)
    val runId = f"$wName-s$seed-${System.currentTimeMillis()}%x"
    val trace: Trace = if (traced) new Tracer(spark, runId) else Trace.Off
    val out = w.run(Ctx(spark, seed, seconds, cores, workDir, trace, new Heap))
    val meta = Seq("run_id" -> runId, "workload" -> wName, "seed" -> seed.toString,
      "nproc" -> cores.toString, "spark_master" -> spark.sparkContext.master,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "host_probe_s" -> f"$probe%.4f", "host_probe_mt_s" -> f"$probeMt%.4f")
    trace match {
      case t: Tracer =>
        t.stop()
        Files.createDirectories(Paths.get(traceOut).getParent)
        Files.write(Paths.get(traceOut),
          Json.traceFile(meta, t.spans.toSeq, out.layers).getBytes(StandardCharsets.UTF_8))
      case _ =>
    }
    spark.stop()
    System.err.println(meta.map { case (k, v) => s"$k=$v" }.mkString("[graftbench] ", " ", ""))
    val metrics = if (traced) LayerCatalog.complete(out.layers) else out.e2e
    println(Json.result(out.correct, out.attempted, out.failed, metrics))
    System.out.flush()
    sys.exit(if (out.correct && out.failed == 0) 0 else 1)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      ms.map(m => s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}""")
        .mkString(", ") + "}}"

  def traceFile(meta: Seq[(String, String)], spans: Seq[Span], layers: Seq[Metric]): String = {
    val m = meta.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    val ss = spans.map { s =>
      val c = s.counts.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "layer": ${str(s.layer)}, "parent": ${s.parent}, """ +
        s""""run_id": ${str(s.runId)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "counts": $c}"""
    }.mkString("[\n  ", ",\n  ", "\n]")
    val ls = layers.map(x => s"${str(x.name)}: ${num(x.value)}").mkString("{", ", ", "}")
    s"""{"meta": $m, "layer_metrics": $ls, "spans": $ss}""" + "\n"
  }
}
