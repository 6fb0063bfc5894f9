package graft.tools

import graft.Registry
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-query profiler on the program's session. For each named query (all
  * of `Registry.all` when none are named) it runs four passes:
  *   - `cold`: `count()` on its first run in the process, after the
  *     SharedCache root was cleared, so cache builds and codegen land here;
  *   - `pin`: an untimed noop-sink write, which compiles the noop plan;
  *   - `count`: warm `count()`, the bench's timed action;
  *   - `noop`: warm noop-sink write, which computes every column, so
  *     Catalyst cannot prune Window/Project subtrees as it can under count.
  *
  * Each pass runs under its own job group, `probe/<query>/<pass>`, and a
  * stage belongs to the group of the job that submitted it; stages of
  * jobs under another group (streaming queries set their own) are not
  * attributed. It prints the three timed passes, GC seconds over the warm
  * passes, and the slowest warm stages (tasks, seconds, input, shuffle
  * read/write), flagging 1-task stages over 0.25 s: AQE's byte-based
  * coalescing serialising a high-fanout stage (SCALING.md "Runtime
  * planning"). It ends with every query slowest first by warm count, and
  * the totals; a failing query is reported and fails the run.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<scale-factor dir> runMain graft.tools.Probe [names…]
  */
object Probe {
  final case class Stage(group: String, id: Int, tasks: Int, secs: Double,
      input: Long, shuffleRead: Long, shuffleWrite: Long) {
    def pass: String = group.substring(group.lastIndexOf('/') + 1)
  }

  final case class Result(name: String, cold: Double, count: Double,
      noop: Double, gcSecs: Double, stages: Seq[Stage],
      error: Option[String] = None)

  private val OneTaskFlagSecs = 0.25

  /** Completed stages, keyed by the job group of their first job. */
  private final class StageLog extends SparkListener {
    private val groupOf = mutable.HashMap.empty[Int, String]
    private val byGroup = mutable.HashMap.empty[String, List[Stage]]

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

    /** The group's stages; call after the listener bus is drained. */
    def take(g: String): Seq[Stage] = synchronized {
      byGroup.remove(g).getOrElse(Nil).reverse
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Probes `names` in order, handing each result to `each` as it lands. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String])
      (each: Result => Unit): Seq[Result] = {
    val sc = spark.sparkContext
    val log = new StageLog
    sc.addSparkListener(log)
    def pass(n: String, p: String)(action: => Unit): (Double, Seq[Stage]) = {
      val g = s"probe/$n/$p"
      sc.setJobGroup(g, g, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try action finally sc.clearJobGroup()
      val secs = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(sc)
      (secs, log.take(g))
    }
    def one(n: String): Result = {
      val q = Registry.byName(n)
      def count(): Unit = { q.run(spark, sfDir).count(); () }
      def noop(): Unit =
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val (cold, coldStages) = pass(n, "cold")(count())
      val (_, pinStages) = pass(n, "pin")(noop())
      val gc0 = gcMillis
      val (cnt, cntStages) = pass(n, "count")(count())
      val (nop, noopStages) = pass(n, "noop")(noop())
      Result(n, cold, cnt, nop, (gcMillis - gc0) / 1000.0,
        coldStages ++ pinStages ++ cntStages ++ noopStages)
    }
    try names.map { n =>
      val r = try one(n) catch {
        case NonFatal(e) =>
          Result(n, 0, 0, 0, 0, Nil, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      each(r)
      r
    } finally sc.removeSparkListener(log)
  }

  private def size(bytes: Long): String =
    if (bytes < 1048576) f"${bytes / 1024.0}%.1fKB" else f"${bytes / 1048576.0}%.1fMB"

  private def report(r: Result): Unit = r.error match {
    case Some(err) => println(s"\n===== ${r.name}  ERROR $err")
    case None =>
      val warm = r.stages.filter(s => s.pass == "count" || s.pass == "noop")
      println(f"\n===== ${r.name}  cold=${r.cold}%6.2fs  count=${r.count}%6.2fs" +
        f"  noop=${r.noop}%6.2fs  gc=${r.gcSecs}%5.2fs  warm stages=${warm.size}")
      warm.sortBy(-_.secs).take(8).foreach { s =>
        val flag = if (s.tasks == 1 && s.secs > OneTaskFlagSecs) "  <== 1-TASK STAGE" else ""
        println(f"  ${s.pass}%-5s tasks=${s.tasks}%4d ${s.secs}%6.2fs  in=${size(s.input)}%9s" +
          f"  sr=${size(s.shuffleRead)}%9s  sw=${size(s.shuffleWrite)}%9s$flag")
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", {
      Console.err.println(
        "usage: SPARK_GRAFT_SF_DIR=<scale-factor dir> graft.tools.Probe [names…]")
      sys.exit(2)
    })
    val names = if (args.nonEmpty) args.toSeq else Registry.all.map(_.name)
    val unknown = names.filterNot(Registry.byName.contains)
    if (unknown.nonEmpty) {
      Console.err.println(s"probe: not in the registry: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.domain.SharedCache.clear(spark)
    val (ok, failed) = run(spark, sfDir, names)(report).partition(_.error.isEmpty)
    spark.stop()
    println("\n===== slowest first (warm count)")
    println(f"${"cold"}%8s ${"count"}%8s ${"noop"}%8s  query")
    ok.sortBy(-_.count).foreach(r =>
      println(f"${r.cold}%7.2fs ${r.count}%7.2fs ${r.noop}%7.2fs  ${r.name}"))
    println(f"TOTAL cold=${ok.map(_.cold).sum}%.2fs count=${ok.map(_.count).sum}%.2fs" +
      f" noop=${ok.map(_.noop).sum}%.2fs queries=${ok.size} failed=${failed.size}")
    if (failed.nonEmpty) {
      Console.err.println(s"probe FAILED queries: ${failed.map(_.name).mkString(", ")}")
      sys.exit(1)
    }
  }
}
