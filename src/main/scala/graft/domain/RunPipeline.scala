package graft.domain

import graft.operators.TimeWindows
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import java.time.LocalDate

/** Runnable end-to-end demonstration of the full reference workflow
  * (SURVEY §3): synthetic raw ads → salary enrichment → vector dedup
  * links → weekly dedup-aware snapshots → stock/salary indicators →
  * versioned JSON/CSV/datadict artifacts.
  *
  *   sbt "runMain graft.domain.RunPipeline /tmp/ojo_out"
  *
  * Everything is deterministic (seeded synthetic corpus), so repeated
  * runs produce identical artifacts.
  */
object RunPipeline {

  def main(args: Array[String]): Unit = {
    val outRoot = if (args.nonEmpty) args(0) else "/tmp/ojo_pipeline_out"
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // --- synthetic raw corpus: 26 weeks of ads, planted duplicates ---
    val dim = 16
    val start = LocalDate.parse("2021-02-01")
    // near-orthogonal deterministic vectors (one per content id);
    // duplicates share their source ad's vector exactly
    val pool = VectorDedup.hyperplanes(2000, dim)
    val ads = (0 until 2000).map { i =>
      val day = start.plusDays((i * 7L) % 182)
      val dupOf = if (i % 10 == 9) i - 1 else i // every 10th ad duplicates
      val vec = pool(dupOf).map(_.toFloat)
      val unit = Seq("YEAR", "DAY", "HOUR")(i % 3)
      val base = 15000.0 + (i % 50) * 1000.0
      val scale = unit match {
        case "DAY" => 260.0; case "HOUR" => 1950.0; case _ => 1.0
      }
      (s"ad$i", Timestamp.valueOf(day.atStartOfDay()),
        Seq("London", "Leeds", "York")(i % 3),
        s"description of role ${dupOf} with plenty of detail",
        Some(base / scale), Some(base / scale), Some(base * 1.3 / scale),
        Some(unit), Some("GBP"), vec)
    }.toDF("id", "created", "job_location_raw", "description",
      "raw_salary", "raw_min_salary", "raw_max_salary",
      "raw_salary_unit", "raw_salary_currency", "vector")

    // --- enrichment + dedup links (D1/D2) ---
    val enriched = Salaries.extractSalary(ads)
    // the expensive stage is materialised content-addressed (shared-cache
    // analog): a re-run with unchanged lineage reads parquet instead of
    // recomputing the ANN link search
    val links = SharedCache.materialise(
      VectorDedup.nearDuplicateLinks(
        ads.select("id", "created", "vector"), dim = dim,
        backgroundSample = 32),
      s"$outRoot/cache", "duplicate_links")
    // volume floors (ref update_cache.py:36-102): abort rather than
    // publish indicators from a truncated upstream
    Guardrails.assertFloors(Seq(
      ("ads", ads, 1000L),
      ("duplicate_links", links, 100L)))
    println(s"[pipeline] ads=${ads.count()} links=${links.count()}")

    // --- silver tables (S9/S10 shape) ---
    Schema.writeVersioned(enriched.drop("vector"),
      s"$outRoot/silver/ads", "0.1.0")
    Schema.writeVersioned(links, s"$outRoot/silver/duplicate_links", "0.1.0")

    // --- skills: clean text → detect surface forms → taxonomy (F6/J9/D7) ---
    val cleaned = ads.select(col("id"),
      graft.text.TextCleaning.cleanTextCol()(col("description"))
        .as("description"))
    // dictionary in cleaned form, as the reference cleans its labels too
    val dict = Seq("description role", "plenty detail", "role")
    val skills = Enrich.detectSkills(spark, cleaned, dict)
    Guardrails.assertFloor(skills, "detected_skills", 1000L)
    val skillClusters = graft.text.SkillClusters.clusters(
      skills.select(col("id").as("job_id"),
        col("surface_form").as("entity")), minCount = 100L)
    val skillDemand = skills.groupBy("surface_form")
      .agg(count(lit(1)).as("n_ads"))
      .join(skillClusters,
        col("surface_form") === col("entity"), "left")
      .select(col("surface_form"), col("cluster"), col("n_ads"))
    println(s"[pipeline] skills=${skills.count()} " +
      s"clusters=${skillClusters.select("cluster").distinct().count()}")

    // --- weekly dedup-aware snapshots (D6/W1) + indicators ---
    val weekly = Getters.weeklyAds(spark, enriched, links,
      start.plusWeeks(6), start.plusWeeks(25), splitByLocation = false)
      .persist()
    Guardrails.assertFloor(weekly, "weekly_ads", 1000L)
    val stockWindow = weekly.filter(col("week_date")
      .between("2021-04-05", "2021-05-03"))
    // the one-row index frame joins into the plan broadcast-side (same
    // shape as the registered a7_index_normalisation) — no driver-side
    // .head() fetch + literal re-injection
    val idx = Indicators.stockIndex(stockWindow)
    val stock = Indicators.weeklyStock(weekly, idx)
    val spread = Indicators.weeklySalarySpread(weekly)

    // --- publish (S8) ---
    Publisher.saveData(stock, outRoot, "weekly_stock", "0.1.0",
      "Weekly stock of live job adverts, indexed to April 2021")
    Publisher.saveData(spread, outRoot, "weekly_salary_spread", "0.1.0",
      "Weekly quartiles of annualised salaries (GBP thousands)")
    Publisher.saveData(skillDemand, outRoot, "skill_demand", "0.1.0",
      "Ads per detected skill surface form, with taxonomy cluster")
    println(s"[pipeline] published under $outRoot/{latest,0.1.0}/")

    spark.stop()
  }
}
