package ojobench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, data: String, work: String,
    seed: Long, seconds: Double, tracer: Tracer, cores: Int) {
  def path(parts: String*): String = (work +: parts).mkString("/")
}

/** Counts of attempted and failed operations, e2e values and layer values
  * of one run.
  */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Extra JSON fields for the result file (check payloads, samples). */
  val extra = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]

  /** Runs one operation (a stage, read or query); a throw counts as a
    * failure and the run goes on.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
        None
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
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
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  /** One result value as JSON: numbers stay numbers, dates and
    * timestamps become ISO strings, arrays become arrays.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => d.toString
    case f: Float => f.toDouble.toString
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case s: scala.collection.Seq[_] => arr(s.map(value))
    case r: org.apache.spark.sql.Row => arr(r.toSeq.map(value))
    case other => str(other.toString)
  }
}

/** Entry point: one run of one workload.
  *
  * {{{
  * java ... ojobench.Main --workload pipeline --data DIR --work DIR
  *   --seed N --seconds S --trace 0|1 --out result.json [--sample FILE]
  * }}}
  *
  * The inputs under `--data` are made by `gen.py` from the seed; this
  * program only reads them. Every file it writes goes under `--work`.
  */
object Main {
  /** Setup is repeated this many times and its median reported. */
  val SetupReps = 3

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ojo-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = Ctx(spark, Paths.get(a("data")).toAbsolutePath.toString, work,
      a("seed").toLong, a("seconds").toDouble,
      new Tracer(spark, a("trace") == "1"), cores)
    val report = new Report

    val w: Workload = workload match {
      case "pipeline" => new PipelineWorkload(ctx, report)
      case "operator_mix" => new MixWorkload(ctx, report,
        Files.readAllLines(Paths.get(a("sample"))).toArray(Array.empty[String])
          .toSeq.map(_.trim.split("\\s+")).collect { case Array(f, n) => (f, n) })
      case other => sys.error(s"unknown workload $other")
    }

    val tr = ctx.tracer
    tr.round = "setup"
    val setupReps = tr.span("setup") {
      (1 to SetupReps).map { i =>
        val t0 = System.nanoTime()
        tr.span(s"setup.rep$i")(w.setup(i))
        (System.nanoTime() - t0) / 1e9
      }
    }
    report.e2e("setup_s") = sessionS + Stats.median(setupReps)

    val rounds = Rounds.measure(ctx, w)
    tr.round = "check"
    tr.span("check")(w.check())

    report.e2e("first_round_s") = rounds.first
    report.e2e("warm_round_s") = Stats.median(rounds.warm)
    if (tr.enabled) {
      Layers.fill(ctx, w, report)
      Files.write(Paths.get(a("out") + ".spans.jsonl"),
        Layers.spansJson(tr).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    // what the run leaves reachable once the session is gone: static memos
    // and anything they pin (in a traced run, the tracer's spans too)
    System.gc(); System.gc()
    report.e2e("retained_heap_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> report.attempted.toString,
      "failed" -> report.failed.toString,
      "errors" -> Json.arr(report.errors.map(Json.str)),
      "e2e" -> Json.obj(report.e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(report.layers.map { case (k, v) => k -> Json.num(v) }),
      "setup_reps_s" -> Json.arr(setupReps.map(Json.num)),
      "session_s" -> Json.num(sessionS),
      "rounds" -> Json.obj(Seq(
        "first_s" -> Json.num(rounds.first),
        "warm_s" -> Json.arr(rounds.warm.map(Json.num)))),
    ) ++ report.extra)
    Files.write(Paths.get(a("out")), out.getBytes(StandardCharsets.UTF_8))
  }
}

/** Wall seconds of the first round and of each warm round. */
final case class Rounds(first: Double, warm: Seq[Double])

/** A workload: repeatable setup, then rounds of ops, then an untimed
  * output check.
  */
trait Workload {
  /** Builds everything the rounds need, from a fresh state each time. */
  def setup(rep: Int): Unit
  /** One round, returning its wall seconds; `n` = 0 is the first round in
    * this JVM.
    */
  def round(n: Int): Double
  /** Writes what the output check needs; runs after all timed rounds. */
  def check(): Unit
  /** Fewest warm rounds a run measures, whatever `--seconds` says. */
  def minWarmRounds: Int
}

object Rounds {
  /** The first round, then warm rounds until `ctx.seconds` have passed
    * since the first warm round began (at least `minWarmRounds`).
    */
  def measure(ctx: Ctx, w: Workload): Rounds = {
    val tr = ctx.tracer
    tr.round = "first"
    val first = tr.span("round.first")(w.round(0))
    val t0 = System.nanoTime()
    val warm = ArrayBuffer.empty[Double]
    var n = 1
    while (warm.size < w.minWarmRounds ||
        (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      tr.round = s"warm$n"
      warm += tr.span(s"round.warm")(w.round(n))
      n += 1
    }
    Rounds(first, warm.toSeq)
  }
}
