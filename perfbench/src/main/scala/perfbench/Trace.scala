package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Benchmark spans wrap the benchmark's calls into the
  * program; job spans are Spark jobs, tagged with the module that fired
  * them. Times are epoch milliseconds. `parent` 0 means none. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, op: Int, module: String = "") {
  def duration: Double = end - start
}

object Spans {

  /** Total length covered by the intervals, overlaps counted once. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart, curEnd = Double.NegativeInfinity
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** The span's duration minus the part of it its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.duration - unionLength(children.map(c =>
      (math.max(c.start, span.start), math.min(c.end, span.end))))
}

/** Which of the repository's modules fired a Spark job. */
object Attribution {
  val Unattributed = "unattributed"

  /** The module of the first `graft.*` frame of a long-form call site.
    * A `perfbench.*` frame before any `graft.*` one is the benchmark's
    * own write or read of a result: the engine's execution. */
  def module(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case f if f.startsWith("graft.") => moduleOfFrame(f)
      case f if f.startsWith("perfbench.") => "engine"
    }.getOrElse(Unattributed)

  private def moduleOfFrame(frame: String): String =
    frame.takeWhile(_ != '(').split('.') match {
      case Array(_, pkg, _, _*) if Set("sources", "operators", "functions",
          "sinks", "streaming")(pkg) => pkg
      case Array(_, cls, _*) if cls.startsWith("Pipeline") ||
          cls.startsWith("TrainingDataPipeline") => "dag"
      case _ => "graft"
    }
}

/** Epoch milliseconds with sub-millisecond resolution, on the clock that
  * Spark stamps its listener events with. */
object Clock {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = base + (System.nanoTime() - nano0) / 1e6
}

/** Benchmark spans, opened on the client thread. The active span's id is
  * carried as a Spark local property, which Spark hands on to the
  * broadcast and adaptive-execution threads of the same query, so each
  * job can name the benchmark span it ran under. */
final class SpanRecorder(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  var enabled = false
  var op = -1
  private var nextId = 0L
  private var stack: List[Long] = Nil

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      val saved = sc.getLocalProperty(SpanRecorder.Key)
      sc.setLocalProperty(SpanRecorder.Key, id.toString)
      stack = id :: stack
      val start = Clock.nowMs
      try body
      finally {
        spans += Span(id, name, start, Clock.nowMs, parent, op)
        stack = stack.tail
        sc.setLocalProperty(SpanRecorder.Key, saved)
      }
    }
}

object SpanRecorder {
  val Key = "perfbench.span"
}

/** What one Spark job did. Mutated only on the listener bus thread. */
final class JobRec(val id: Int, val start: Double, val parentSpan: Long, val sqlId: Long) {
  var end = start
  var module = Attribution.Unattributed
  var stages, tasks = 0
  var runMs, gcMs, waitMs = 0L
  var shuffleRead, shuffleWrite, spill, inputBytes = 0L
}

/** Spark-side counters for the ops run while it is attached: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for planning time and write-command metrics. */
final class JobTracer extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val sqlCallSite = new ConcurrentHashMap[Long, String]()
  @volatile private var lastRootSql = -1L
  @volatile private var planMs = 0.0
  @volatile private var writes = Vector.empty[(String, Long, Long)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlCallSite.put(s.executionId, s.details)
      if (s.rootExecutionId.forall(_ == s.executionId)) lastRootSql = s.executionId
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val sqlId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val site = j.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val rec = new JobRec(j.jobId, j.time.toDouble,
      prop(SpanRecorder.Key).map(_.toLong).getOrElse(0L), sqlId)
    // a SQL job is attributed to the call site of its execution, so jobs
    // that run on broadcast or adaptive-execution threads follow it
    rec.module = Attribution.module(
      Option(sqlCallSite.get(sqlId)).filter(_ => sqlId >= 0).getOrElse(site))
    jobs.put(j.jobId, rec)
    j.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobs.get(j.jobId)).foreach(_.end = j.time.toDouble)

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    s.stageInfo.submissionTime.foreach(stageSubmitted.put(s.stageInfo.stageId, _))

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(s.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(t.stageId)).foreach { r =>
      r.tasks += 1
      Option(stageSubmitted.get(t.stageId)).foreach(s =>
        r.waitMs += math.max(0L, t.taskInfo.launchTime - s))
      Option(t.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planMs += Seq("optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    // the execution this callback reports on is the last root execution
    // started: the benchmark's one client thread runs them one at a time
    val module = Option(sqlCallSite.get(lastRootSql)).map(Attribution.module)
      .getOrElse(Attribution.Unattributed)
    // write commands sit inside adaptive plans, their query stages and
    // command results, none of which list their plans as children
    def visit(plan: SparkPlan): Unit = plan match {
      case w: DataWritingCommandExec =>
        def metric(k: String) = w.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        writes :+= ((module, metric("numFiles"), metric("numOutputBytes")))
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case q: QueryStageExec => visit(q.plan)
      case c: CommandResultExec => visit(c.commandPhysicalPlan)
      case p => p.children.foreach(visit)
    }
    visit(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drain the listener bus, detach, and hand over (and forget) what was
    * recorded since the last call. */
  def detach(spark: SparkSession): (Seq[JobRec], Double, Seq[(String, Long, Long)]) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    val out = (jobs.values.asScala.toSeq.sortBy(_.id), planMs, writes)
    jobs.clear(); stageJob.clear(); stageSubmitted.clear(); sqlCallSite.clear()
    planMs = 0.0; writes = Vector.empty
    out
  }
}
