package graft.tools

import graft.{Q, Registry}
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The program's one timing loop: `graft.Bench`, this main and
  * [[graft.tools.Scale]] time registry queries through [[run]], in
  * pass-major order (each pass runs every query before the next starts):
  *   - `cold`: `count()` on each query's first run in the process (the
  *     caller clears the SharedCache root), so builds and codegen land here;
  *   - `pin`: an untimed noop-sink write, so the noop plan is compiled and
  *     a SharedCache build a failed task left without `_SUCCESS` is
  *     finished here, not in a timed pass (r07: d_dedup_clusters 0.9↔4.2 s);
  *   - `count<i>`, `noop<i>` for i = 1…3: three warm passes, each timing a
  *     `count()` and then a noop-sink write of every query. The noop sink
  *     computes every column; count lets Catalyst prune Window, Project
  *     and aggregate subtrees.
  * `System.gc()` runs only between passes: localCheckpointed blocks are
  * released only when a GC collects their references, and without it they
  * pile up and later queries pay eviction churn (+0.3–0.8 s, gone alone).
  *
  * A run goes under job group `probe/<query>/<pass>`; a stage belongs to
  * the group of its first job (streaming queries set their own groups, so
  * their stages are not attributed). Every non-Success task end, streaming
  * ones included, is counted against the (pass, query) that ran it, since
  * a retry costs time while the query still succeeds. A query that throws
  * keeps its error and sits out the later passes; the others run them all.
  * Each run prints a progress line (pass, query, seconds or error) to
  * stderr as it ends, so a run cut short still shows what it measured.
  *
  * The main prints per query the cold time, warm count and noop medians,
  * GC seconds over the warm passes, task failures and the slowest stages
  * of the last warm pass, flagging 1-task stages over 0.25 s (AQE's
  * byte-based coalescing serialising a fanout, SCALING.md "Runtime
  * planning"), then every query slowest first and the totals; a failing
  * query fails the run.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<scale-factor dir> runMain graft.tools.Probe [names...]
  * (no names: the whole registry)
  */
object Probe {
  final case class Stage(group: String, id: Int, tasks: Int, secs: Double,
      input: Long, shuffleRead: Long, shuffleWrite: Long) {
    def pass: String = group.substring(group.lastIndexOf('/') + 1)
  }

  /** `count` and `noop` hold one time per warm pass; `taskFailures` the
    * failed task ends per pass that saw any.
    */
  final case class Result(name: String, cold: Double, count: Seq[Double],
      noop: Seq[Double], gcSecs: Double, stages: Seq[Stage],
      taskFailures: Seq[(String, Long)], error: Option[String]) {
    def countMedian: Double = median(count)
    def noopMedian: Double = median(noop)
  }

  /** The results in query order, and the reason of the run's first
    * failed task ("" when none failed).
    */
  final case class Run(results: Seq[Result], firstTaskError: String)

  val WarmPasses = 3
  private val OneTaskFlagSecs = 0.25

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)

  /** Completed stages, keyed by the job group of their first job, and the
    * failed task ends since the last [[takeFailures]].
    */
  private final class Log extends SparkListener {
    private val groupOf = mutable.HashMap.empty[Int, String]
    private val byGroup = mutable.HashMap.empty[String, List[Stage]]
    private var failed = 0L
    private var first = ""

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("probe/")).foreach(g => e.stageIds.foreach(id => groupOf.getOrElseUpdate(id, g)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        for (g <- groupOf.remove(si.stageId); sub <- si.submissionTime;
            done <- si.completionTime)
          byGroup(g) = Stage(g, si.stageId, si.numTasks, (done - sub) / 1000.0,
            m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten) :: byGroup.getOrElse(g, Nil)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
      case Success => ()
      case r => synchronized {
        failed += 1
        if (first.isEmpty)
          first = r.toString.linesIterator.find(_.nonEmpty)
            .getOrElse(r.getClass.getSimpleName).take(200)
      }
    }

    /** The group's stages; call after the listener bus is drained. */
    def take(g: String): Seq[Stage] = synchronized {
      byGroup.remove(g).getOrElse(Nil).reverse
    }

    def takeFailures(): Long = synchronized { val n = failed; failed = 0; n }

    def firstFailure: String = synchronized(first)
  }

  private final class Acc(val q: Q) {
    var cold = 0.0
    val count, noop = mutable.ArrayBuffer.empty[Double]
    var gcMillis = 0L
    val stages = mutable.ArrayBuffer.empty[Stage]
    val failures = mutable.ArrayBuffer.empty[(String, Long)]
    var error: Option[String] = None

    def result: Result = Result(q.name, cold, count.toSeq, noop.toSeq,
      gcMillis / 1000.0, stages.toSeq, failures.toSeq, error)
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Runs the passes above over `qs` on the tables in `sfDir`. */
  def run(spark: SparkSession, sfDir: String, qs: Seq[Q]): Run = {
    val sc = spark.sparkContext
    val log = new Log
    sc.addSparkListener(log)
    // seconds of one run of `a` under `pass`; None once `a` has failed
    def timed(a: Acc, pass: String)(action: DataFrame => Unit): Option[Double] =
      if (a.error.isDefined) None
      else {
        val g = s"probe/${a.q.name}/$pass"
        sc.setJobGroup(g, g, interruptOnCancel = false)
        val t0 = System.nanoTime()
        try action(a.q.run(spark, sfDir))
        catch {
          // a deep plan's StackOverflowError or a LinkageError fails the
          // query, not the whole run
          case e @ (NonFatal(_) | _: StackOverflowError | _: LinkageError) => a.error =
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        } finally sc.clearJobGroup()
        val secs = (System.nanoTime() - t0) / 1e9
        Console.err.println(a.error.fold(f"[probe] $pass%-6s ${a.q.name} $secs%.2fs")(
          e => f"[probe] $pass%-6s ${a.q.name} ERROR $e"))
        Bridge.drainListeners(sc)
        a.stages ++= log.take(g)
        val failed = log.takeFailures()
        if (failed > 0) a.failures += pass -> failed
        if (a.error.isEmpty) Some(secs) else None
      }
    val count: DataFrame => Unit = _.count()
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    def sweep(): Unit = { System.gc(); Thread.sleep(500) }
    val accs = qs.map(new Acc(_))
    try {
      accs.foreach(a => timed(a, "cold")(count).foreach(a.cold = _))
      sweep()
      accs.foreach(a => timed(a, "pin")(noop))
      for (i <- 1 to WarmPasses) {
        sweep()
        accs.foreach { a =>
          val gc0 = gcMillis
          timed(a, s"count$i")(count).foreach(a.count += _)
          timed(a, s"noop$i")(noop).foreach(a.noop += _)
          a.gcMillis += gcMillis - gc0
        }
      }
      Run(accs.map(_.result), log.firstFailure)
    } finally sc.removeSparkListener(log)
  }

  /** The registry queries `names` names, in order; exits 2 with `usage`
    * when none is named or one is not in the registry.
    */
  def named(names: Seq[String], usage: String): Seq[Q] = {
    val unknown = names.filterNot(Registry.byName.contains)
    if (unknown.nonEmpty)
      Console.err.println(s"not in the registry: ${unknown.mkString(", ")}")
    if (names.isEmpty || unknown.nonEmpty) {
      Console.err.println(s"usage: $usage")
      sys.exit(2)
    }
    names.map(Registry.byName)
  }

  private def size(bytes: Long): String =
    if (bytes < 1048576) f"${bytes / 1024.0}%.1fKB" else f"${bytes / 1048576.0}%.1fMB"

  private def report(r: Result): Unit = r.error match {
    case Some(err) => println(s"\n===== ${r.name}  ERROR $err")
    case None =>
      val last = Set(s"count$WarmPasses", s"noop$WarmPasses")
      val warm = r.stages.filter(s => last(s.pass))
      val failures =
        if (r.taskFailures.isEmpty) ""
        else r.taskFailures.map { case (p, n) => s"$p:$n" }.mkString("  task failures ", " ", "")
      println(f"\n===== ${r.name}  cold=${r.cold}%6.2fs  count=${r.countMedian}%6.2fs" +
        f"  noop=${r.noopMedian}%6.2fs  gc=${r.gcSecs}%5.2fs  last warm stages=${warm.size}$failures")
      warm.sortBy(-_.secs).take(8).foreach { s =>
        val flag = if (s.tasks == 1 && s.secs > OneTaskFlagSecs) "  <== 1-TASK STAGE" else ""
        println(f"  ${s.pass}%-6s tasks=${s.tasks}%4d ${s.secs}%6.2fs  in=${size(s.input)}%9s" +
          f"  sr=${size(s.shuffleRead)}%9s  sw=${size(s.shuffleWrite)}%9s$flag")
      }
  }

  def main(args: Array[String]): Unit = {
    val usage = "SPARK_GRAFT_SF_DIR=<scale-factor dir> graft.tools.Probe [names...]"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", {
      Console.err.println(s"usage: $usage")
      sys.exit(2)
    })
    val qs = if (args.isEmpty) Registry.all else named(args.toSeq, usage)
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.domain.SharedCache.clear(spark)
    val rs = run(spark, sfDir, qs).results
    spark.stop()
    rs.foreach(report)
    val (ok, failed) = rs.partition(_.error.isEmpty)
    println("\n===== slowest first (warm count)")
    println(f"${"cold"}%8s ${"count"}%8s ${"noop"}%8s  query")
    ok.sortBy(-_.countMedian).foreach(r =>
      println(f"${r.cold}%7.2fs ${r.countMedian}%7.2fs ${r.noopMedian}%7.2fs  ${r.name}"))
    println(f"TOTAL cold=${ok.map(_.cold).sum}%.2fs count=${ok.map(_.countMedian).sum}%.2fs" +
      f" noop=${ok.map(_.noopMedian).sum}%.2fs queries=${ok.size} failed=${failed.size}")
    if (failed.nonEmpty) {
      Console.err.println(s"probe FAILED queries: ${failed.map(_.name).mkString(", ")}")
      sys.exit(1)
    }
  }
}
