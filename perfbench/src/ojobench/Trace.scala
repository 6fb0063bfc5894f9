package ojobench

import org.apache.spark.{BenchBridge, SparkContext, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Engine work counted for one span (its own share, not its children's). */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteBytes, spillBytes, inputBytes, outputBytes = 0L
  var planningMs = 0.0
  var rowsWritten = 0L
  /** (launch, finish) epoch millis of every task. */
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    planningMs += o.planningMs; rowsWritten += o.rowsWritten
    taskIntervals ++= o.taskIntervals
  }
}

/** Reads engine counts from Spark's own event streams, registered by the
  * benchmark only in a traced run.
  *
  * Jobs, stages and tasks are attributed to spans through job groups: the
  * tracer sets the job group to the open span's id, and a stage belongs to
  * the group of the job that submitted it. Query executions carry no job
  * group, so their planning time and written rows are held as pending and
  * claimed by the span that closes next, after the listener queue has been
  * drained.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val bySpan = mutable.HashMap.empty[Int, Counters]
  private var pendingPlanningMs = 0.0
  private var pendingRows = 0L

  private def at(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption).getOrElse(0)
    e.stageIds.foreach(stageSpan(_) = span)
    at(span).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { at(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageSpan.getOrElse(e.stageId, 0))
    c.tasks += 1
    if (e.reason != Success) c.taskFailures += 1
    c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    pendingPlanningMs += qe.tracker.phases.values.map(_.durationMs).sum
    def writes(p: SparkPlan): Seq[Long] = p match {
      case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numOutputRows").map(_.value).toSeq
      case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
      case other => other.children.flatMap(writes)
    }
    pendingRows += writes(qe.executedPlan).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Hands the span its job/task counters plus the pending query-level
    * counts; call only after the listener queue is drained.
    */
  def claim(span: Int): Counters = synchronized {
    val c = bySpan.remove(span).getOrElse(new Counters)
    c.planningMs += pendingPlanningMs
    c.rowsWritten += pendingRows
    pendingPlanningMs = 0.0
    pendingRows = 0L
    c
  }
}

final class Span(val id: Int, val parent: Int, val name: String,
    val round: String) {
  var t0, t1 = 0L // System.nanoTime
  var w0, w1 = 0L // epoch millis, comparable with task launch/finish times
  var codegenNs, codegenClasses = 0L // inclusive of children
  var self: Counters = new Counters
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spans around every call the benchmark makes into a program layer.
  * With tracing off, `span` is a plain call: untraced runs register no
  * listener, set no job group and drain nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val probe = new Probe
  if (enabled) {
    sc.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Label of the round that new spans belong to ("setup", "first", ...). */
  var round = "setup"

  private def codegenNow: (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        name, round)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      val (cg, cc) = codegenNow
      s.w0 = System.currentTimeMillis()
      s.t0 = System.nanoTime()
      try body
      finally {
        s.t1 = System.nanoTime()
        s.w1 = System.currentTimeMillis()
        val (cg1, cc1) = codegenNow
        s.codegenNs = cg1 - cg
        s.codegenClasses = cc1 - cc
        BenchBridge.drainListeners(sc)
        s.self = probe.claim(s.id)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name,
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attaches a value to the innermost open span (traced runs only). */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  // ---- post-run analysis -------------------------------------------------

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)

  def subtree(s: Span): Seq[Span] = s +: kids(s).flatMap(subtree)

  def inclusive(s: Span): Counters = {
    val c = new Counters
    subtree(s).foreach(x => c.add(x.self))
    c
  }

  /** Duration minus the time its child spans cover (children are serial). */
  def selfSeconds(s: Span): Double = s.seconds - kids(s).map(_.seconds).sum

  /** Wall millis within the span during which no task of its subtree ran. */
  def noTaskMs(s: Span): Double = {
    val iv = inclusive(s).taskIntervals
      .map { case (a, b) => (math.max(a, s.w0), math.min(b, s.w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.w1 - s.w0) - covered)
  }
}
