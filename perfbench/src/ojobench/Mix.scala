package ojobench

import graft.{Registry, SparkEntry}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._

/** A seeded, family-stratified sample of registry queries, run pass after
  * pass: the first pass pays codegen and shared-cache builds, warm passes
  * show steady state. Each query is forced in full with the noop sink; an
  * observed row count and order-insensitive row hash ride along in the
  * same job, so every pass's answer can be compared with every other's.
  */
final class MixWorkload(ctx: Ctx, report: Report,
    val families: Seq[(String, String)]) extends Workload {
  /** Sampled query names in run order; `families` pairs each with its
    * name family.
    */
  val sample: Seq[String] = families.map(_._2)
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var tablesDir = ""
  /** name -> (rows, xor of row hashes, sum of high hash bits) per pass. */
  private val answers = mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]

  private val missing = sample.filterNot(Registry.byName.contains)
  require(missing.isEmpty,
    s"sampled queries missing from the registry: ${missing.mkString(", ")}")

  val minWarmRounds = 2

  def setup(rep: Int): Unit = tablesDir = Inputs.resolve(ctx, rep)

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Runs query `name` into `sink` with (rows, hash) observed on the way. */
  private def runOne(name: String, sink: DataFrame => Unit): String = {
    val df = Registry.byName(name).run(spark, tablesDir)
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(quoted(f.name))
        case _ => quoted(f.name)
      }
    }
    val h = xxhash64(cols: _*)
    val obs = Observation(s"mix_$name")
    sink(df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(shiftrightunsigned(h, 33)).as("s")))
    val r: Row = Await.result(obs.future, 120.seconds)
    Seq(0, 1, 2).map(i => if (r.isNullAt(i)) "0" else r.get(i).toString)
      .mkString("[", ",", "]")
  }

  def round(n: Int): Double = {
    val t0 = System.nanoTime()
    for (name <- sample)
      report.op(s"query.$name")(tr.span(s"query.$name")(
        runOne(name, _.write.format("noop").mode("overwrite").save())))
        .foreach(a => answers.getOrElseUpdate(name, ArrayBuffer.empty) += a)
    (System.nanoTime() - t0) / 1e9
  }

  /** One more pass over the queries that have a DuckDB oracle, writing
    * each answer as parquet for the comparison; its observed hash joins the
    * cross-pass comparison.
    */
  def check(): Unit = {
    val out = ctx.path("mix", "answers")
    for (name <- sample if SparkEntry.oracleSql.contains(name))
      report.op(s"answer.$name")(runOne(name, df =>
        Io.write(df, s"$out/$name")))
        .foreach(a => answers.getOrElseUpdate(name, ArrayBuffer.empty) += a)
    report.extra("mix") = Json.obj(Seq(
      "sample" -> Json.arr(sample.map(Json.str)),
      "answers_dir" -> Json.str(out),
      "observed" -> Json.obj(answers.map { case (k, v) => k -> Json.arr(v) }),
      "oracle" -> Json.obj(sample.flatMap(n =>
        SparkEntry.oracleSql.get(n).map(sql => n -> Json.str(sql)))),
    ))
  }
}
