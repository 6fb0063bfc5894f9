package ojobench

import graft.Tables
import graft.domain._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer

/** The DQA getters (dqa/data_getters.py) serving one analyst: short,
  * dedup-aware reads whose kind and window come from the seed. Each read
  * plans, runs and collects a small result; the results are kept for the
  * DuckDB replay. The shared-cache frames are passed by name, so every read
  * fetches them anew and pays its cache lookups.
  */
final class AnalystReads(ctx: Ctx, report: Report) {
  import AnalystReads._
  private val tr = ctx.tracer
  private val rng = new java.util.Random(ctx.seed)
  /** (kind, from, to, result rows) of every read, as JSON lines. */
  val results = ArrayBuffer.empty[String]

  private def read(kind: String, f: String, t: String, tables: Tables,
      silver: DataFrame, components: => DataFrame, split: => DataFrame,
      weekly: => DataFrame): Seq[Row] = {
    val ads = silver.select(AdsColumns.map(col): _*)
    val links = AdsFixture.links(tables)
    def salaries = silver.select("id", "min_annualised_salary",
      "max_annualised_salary", "rate")
    kind match {
      case "get_job_ads" =>
        Getters.getJobAds(ads, links, Some(f), Some(t),
            returnDescription = false, deduplicate = true,
            precomputedGraphs = Some(components))
          .select("id", "created", "job_location_raw", "raw_salary_unit")
          .collect().toSeq
      case "job_ads_features" =>
        val sal = salaries
        Getters.getJobAds(ads, links, Some(f), Some(t),
            returnDescription = false, deduplicate = true,
            precomputedGraphs = Some(components),
            features = Some(a => Getters.withFeatures(a, sal,
              AdsFixture.locationLinks(tables), AdsFixture.locations(tables),
              AdsFixture.socLinks(tables), AdsFixture.socs(tables),
              AdsFixture.skillLinks(tables))))
          .groupBy("nuts_2_code")
          .agg(count(lit(1)).as("n"),
            count(col("max_annualised_salary")).as("n_salaried"),
            min(col("min_annualised_salary")).as("min_salary"),
            max(col("max_annualised_salary")).as("max_salary"),
            count(col("skills")).as("n_with_skills"))
          .collect().toSeq
      case "snapshot_ads" =>
        DedupPipeline.snapshotAds(ads, links, f, t,
            precomputedGraphs = Some(split))
          .groupBy("job_location_raw").agg(count(lit(1)).as("n"))
          .collect().toSeq
      case "weekly_indicators" =>
        val slice = weekly.select("week_date", "id")
          .filter(col("week_date").between(f, t))
        val stock = Indicators.weeklyStock(slice, Indicators.stockIndex(slice))
          .collect().toSeq
        val spread = Indicators.weeklySalarySpread(slice.join(salaries, "id"))
          .collect().toSeq
        stock.map(r => Row("stock" +: r.toSeq: _*)) ++
          spread.map(r => Row("spread" +: r.toSeq: _*))
    }
  }

  /** One read of each kind, in seeded order, with seeded windows. */
  def session(tables: Tables, silver: DataFrame, components: => DataFrame,
      split: => DataFrame, weekly: => DataFrame): Unit =
    for (kind <- new scala.util.Random(rng).shuffle(Kinds)) {
      val from = FirstWeek.plusWeeks(6L + rng.nextInt(StartWeeks))
      val to = from.plusDays(7L * (1 + rng.nextInt(12)) - 1)
      report.op(s"read.$kind")(tr.span(s"read.$kind")(
        read(kind, from.toString, to.toString, tables, silver, components,
          split, weekly))).foreach { rows =>
        results += Json.obj(Seq("kind" -> Json.str(kind),
          "from" -> Json.str(from.toString), "to" -> Json.str(to.toString),
          "rows" -> Json.arr(rows.map(Json.value))))
      }
    }
}

object AnalystReads {
  val Kinds: Seq[String] =
    Seq("get_job_ads", "job_ads_features", "snapshot_ads", "weekly_indicators")
  val AdsColumns: Seq[String] = Seq("id", "created", "job_location_raw",
    "description", "raw_salary", "raw_min_salary", "raw_max_salary",
    "raw_salary_unit", "raw_salary_currency")
  /** The weekly table's Mondays span every order date the inputs hold. */
  val FirstWeek: LocalDate = LocalDate.parse("1995-01-02")
  val LastWeek: LocalDate = LocalDate.parse("2001-08-06")
  /** Window starts: any Monday from six weeks in to twelve weeks before
    * the end; windows last 1-12 weeks.
    */
  val StartWeeks: Int =
    (java.time.temporal.ChronoUnit.WEEKS.between(FirstWeek, LastWeek) - 18).toInt
}
