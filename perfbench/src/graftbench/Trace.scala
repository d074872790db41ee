package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region around one call into a layer. `parent` is -1 for a
  * root; spans of one benchmark run share `runId`. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    runId: String, startMs: Long) {
  var endMs: Long = -1L
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def wallS: Double = (endMs - startMs) / 1000.0
}

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, shuffleWriteB: Long, spillB: Long)

final case class ScanRec(path: String, files: Long, bytes: Long)

/** One SQL execution (by its execution id) as seen by the
  * QueryExecutionListener: the write it performed (if any), the files
  * it scanned, and each join's key names with its output rows. */
final case class ExecRec(id: Long, writePath: Option[String], writeRows: Long,
    writeBytes: Long, writeFiles: Long, writeParts: Long,
    scans: Seq[ScanRec], joins: Seq[(Seq[String], Long)])

/** Span recorder. The untraced run uses [[Trace.Off]], whose spans are
  * plain calls, so end-to-end timings carry no listener or
  * materialisation cost. */
sealed trait Trace {
  def on: Boolean
  def span[A](name: String, layer: String)(f: => A): A
  /** Attach a count to the innermost open span. */
  def note(key: String, value: Double): Unit
  /** Traced runs materialise a layer's output here (persist + count),
    * so the next layer's span times only its own work. */
  def boundary(df: DataFrame, countKey: String): DataFrame
}

object Trace {
  val SpanKey = "graftbench.span"

  object Off extends Trace {
    def on = false
    def span[A](name: String, layer: String)(f: => A): A = f
    def note(key: String, value: Double): Unit = ()
    def boundary(df: DataFrame, countKey: String): DataFrame = df
  }
}

final class Tracer(spark: SparkSession, val runId: String) extends Trace
    with AdaptiveSparkPlanHelper {
  import Trace.SpanKey
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]

  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execStart = new ConcurrentHashMap[Long, Long]()
  private val execEnd = new ConcurrentHashMap[Long, Long]()
  private val taskQ = new ConcurrentLinkedQueue[TaskRec]()
  private val execQ = new ConcurrentLinkedQueue[ExecRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      p.flatMap(x => Option(x.getProperty(SpanKey))).foreach(s => jobSpan.put(e.jobId, s.toInt))
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null)
        taskQ.add(TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execEnd.put(s.executionId, s.time)
        // the QueryExecutionListener saw this execution just before us
        pending.foreach(r => execQ.add(r.copy(id = s.executionId)))
        pending = None
      case _ =>
    }
  }

  // QueryExecution.id is not the SQL execution id jobs carry: the plan
  // described in onSuccess is paired with the execution-end event that
  // the same listener-bus thread delivers right after it
  @volatile private var pending: Option[ExecRec] = None
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pending = Some(describe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  // registering the QueryExecutionListener first puts the session's
  // execution-listener bus ahead of `listener` on the shared queue
  spark.listenerManager.register(qeListener)
  sc.addSparkListener(listener)

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  private def describe(qe: QueryExecution): ExecRec = {
    val plan = qe.executedPlan
    val write = collect(plan) { case w: DataWritingCommandExec => w }.headOption
    val path = write.flatMap(w => w.cmd match {
      case i: InsertIntoHadoopFsRelationCommand => Some(i.outputPath.toString)
      case _ => None
    })
    val scans = collect(plan) { case s: FileSourceScanExec =>
      ScanRec(s.relation.location.rootPaths.mkString(","),
        metric(s, "numFiles"), metric(s, "filesSize"))
    }
    val joins = collect(plan) { case j: BaseJoinExec =>
      (j.leftKeys.flatMap(_.references.map(_.name)), metric(j, "numOutputRows"))
    }
    def wm(k: String) = write.map(w => metric(w, k)).getOrElse(0L)
    ExecRec(-1L, path, wm("numOutputRows"), wm("numOutputBytes"), wm("numFiles"),
      wm("numParts"), scans, joins)
  }

  def on = true

  def span[A](name: String, layer: String)(f: => A): A = {
    val s = Span(spans.size, name, layer, open.headOption.map(_.id).getOrElse(-1),
      runId, System.currentTimeMillis())
    spans += s
    open = s :: open
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f
    finally {
      s.endMs = System.currentTimeMillis()
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def note(key: String, value: Double): Unit = open.headOption.foreach(_.counts(key) = value)

  def boundary(df: DataFrame, countKey: String): DataFrame = {
    val p = df.persist()
    note(countKey, p.count().toDouble)
    p
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = GraftBenchBus.drain(sc)

  // ---- queries over the recorded events (call drain() first) --------

  /** `root` and every span below it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    root +: kids.flatMap(subtree)
  }

  /** Wall of `s` not covered by its child spans (children run
    * sequentially on the driver thread). */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum

  private def spanIds(root: Span): Set[Int] = subtree(root).map(_.id).toSet

  def tasksOf(root: Span): Seq[TaskRec] = {
    val ids = spanIds(root)
    taskQ.asScala.filter { t =>
      Option(stageJob.get(t.stageId)).flatMap(j => Option(jobSpan.get(j)))
        .exists(s => ids(s))
    }.toSeq
  }

  def jobsOf(root: Span): Int = {
    val ids = spanIds(root)
    jobSpan.asScala.count { case (_, s) => ids(s) }
  }

  /** SQL executions that ran at least one job under `root`, with their
    * start/end wall-clock ms. */
  def execsOf(root: Span): Seq[(ExecRec, Long, Long)] = {
    val ids = spanIds(root)
    val execIds = jobSpan.asScala.collect { case (j, s) if ids(s) => jobExec.asScala.get(j) }
      .flatten.toSet
    execQ.asScala.filter(e => execIds(e.id)).toSeq.map { e =>
      (e, execStart.asScala.getOrElse(e.id, root.startMs), execEnd.asScala.getOrElse(e.id, root.endMs))
    }
  }
}

/** Aggregates of the tasks of one span. */
final case class TaskAgg(tasks: Int, runS: Double, cpuS: Double, shuffleWriteMb: Double,
    spillMb: Double, busyS: Double, skew: Double) {
  /** Task time over the wall-time × cores the span had. */
  def coreUtil(wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else runS / (wallS * cores)
}

object TaskAgg {
  /** Union length of [a, b) intervals, in seconds. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }

  def of(ts: Seq[TaskRec]): TaskAgg = {
    // skew of the stage with the most task time: max ÷ median task time
    val byStage = ts.groupBy(_.stageId)
    val skew = if (byStage.isEmpty) 0.0 else {
      val top = byStage.values.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble).sorted
      val med = Stats.median(top)
      if (med <= 0) 0.0 else top.last / med
    }
    TaskAgg(ts.size, ts.map(_.runMs).sum / 1000.0, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.shuffleWriteB).sum / 1e6, ts.map(_.spillB).sum / 1e6,
      unionS(ts.map(t => (t.launchMs, t.finishMs))), skew)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
