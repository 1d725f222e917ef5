package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A recorded call into one layer. Engine counters are the span's own
  * (jobs submitted under its job group, queries finished while it was the
  * innermost open span); [[Tracer]] sums them over subtrees on demand. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int) {
  var startMs = 0L
  var endMs = 0L
  var startNs = 0L
  var endNs = 0L
  var jobs = 0
  var tasks = 0L
  var failedTasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  var planMs = 0.0
  var queries = 0
  var scanRows = 0L
  var scanFiles = 0L
  var semiJoinRows = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine events as the listener bus delivers them, grouped by the job
  * group the tracer set for each span. */
private final class EngineListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  final class Group {
    var jobs = 0
    var tasks = 0L
    var failedTasks = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var cpuNs = 0L
    val intervals = ArrayBuffer[(Long, Long)]()
  }
  final case class Query(planMs: Double, scanRows: Long, scanFiles: Long, semiJoinRows: Long)

  val groups = mutable.HashMap[String, Group]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  val pendingQueries = ArrayBuffer[Query]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    groups.getOrElseUpdate(g, new Group).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      groups.getOrElseUpdate(g, new Group).intervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val gr = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Group)
    gr.tasks += 1
    if (!e.taskInfo.successful) gr.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      gr.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      gr.spillBytes += m.diskBytesSpilled
      gr.cpuNs += m.executorCpuTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    val semi = collectWithSubqueries(qe.executedPlan) {
      case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j.metrics("numOutputRows").value
    }
    val q = Query(planMs, scans.map(metric(_, "numOutputRows")).sum,
      scans.map(metric(_, "numFiles")).sum, semi.sum)
    synchronized { pendingQueries += q }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Records a span around each call the benchmark makes into a layer.
  * Disabled, [[span]] only runs its body and [[force]] returns its frame:
  * the untraced run pays nothing. Enabled, each span gets its own job
  * group, the listener bus is drained at every span boundary so that
  * finished queries land on the innermost open span, and [[force]]
  * executes a lazy frame to the `noop` sink so that the layer that built
  * it is charged for computing it. Spans stay in memory until [[dump]]. */
final class Tracer(val enabled: Boolean) {
  private var spark: SparkSession = _
  private val listener = new EngineListener
  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextOp = 0
  /** Time spent in the tracer's own boundary work: drains and forcing. */
  var ownNs = 0L

  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(listener)
    }
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Hand queries finished since the last boundary to the innermost span. */
  private def settle(): Unit = {
    val t0 = System.nanoTime()
    drain()
    listener.synchronized {
      stack.headOption.foreach { s =>
        listener.pendingQueries.foreach { q =>
          s.queries += 1; s.planMs += q.planMs; s.scanRows += q.scanRows
          s.scanFiles += q.scanFiles; s.semiJoinRows += q.semiJoinRows
        }
      }
      listener.pendingQueries.clear()
    }
    ownNs += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      settle()
      val parent = stack.headOption
      val op = parent.map(_.op).getOrElse { nextOp += 1; nextOp }
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), op)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        settle()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        listener.synchronized {
          listener.groups.remove(s"pb-${s.id}").foreach { g =>
            s.jobs = g.jobs; s.tasks = g.tasks; s.failedTasks = g.failedTasks
            s.shuffleWriteBytes = g.shuffleWriteBytes; s.spillBytes = g.spillBytes
            s.cpuNs = g.cpuNs; s.jobIntervals ++= g.intervals
          }
        }
      }
    }

  /** Under tracing, compute `df` here (to the `noop` sink) so its cost is
    * charged to the enclosing span rather than to whichever later call
    * happens to trigger it. */
  def force(df: DataFrame): DataFrame = {
    if (enabled) {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      ownNs += System.nanoTime() - t0
    }
    df
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq

  /** Span duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s).map(_.seconds).sum

  /** Wall of `s` not covered by any job its subtree submitted. */
  def outsideJobMs(s: Span): Double = {
    val iv = subtree(s).flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.endNs - s.startNs) / 1e6 - covered)
  }

  /** Spans as JSON lines: name, start, end, parent, operation id. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ms":${(s.endNs - s.startNs) / 1e6},""" +
        s""""jobs":${s.jobs},"tasks":${s.tasks},"queries":${s.queries},"plan_ms":${s.planMs},""" +
        s""""scan_rows":${s.scanRows},"scan_files":${s.scanFiles}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}
