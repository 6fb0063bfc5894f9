package ojobench

import graft.{SparkEntry, Tables}
import graft.domain._
import graft.text.TextCleaning
import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.functions._


/** The reference's weekly batch as one run: extract → salaries → skills →
  * vector links → components → split → weekly → features → indicators →
  * publish, then an analyst's dedup-aware reads over what the run
  * persisted. Every stage persists its output (parquet, the shared cache,
  * or the publisher's JSON/CSV), as the reference persists to its database
  * and object store; downstream stages read what upstream stages
  * persisted. Each round starts from an empty output and cache root.
  */
final class PipelineWorkload(ctx: Ctx, report: Report) extends Workload {
  import PipelineWorkload._
  import AnalystReads.{FirstWeek, LastWeek}
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var tablesDir = ""
  private var pagesDir = ""
  private var lastRun = ""
  private val reads = new AnalystReads(ctx, report)

  /** One warm run is the least a run measures: a warm run outlasts a
    * run's measuring time.
    */
  val minWarmRounds = 1

  def setup(rep: Int): Unit = {
    tablesDir = Inputs.resolve(ctx, rep)
    pagesDir = ctx.path("pipeline", s"pages$rep")
    val ads = AdsFixture.ads(Tables(spark, tablesDir))
    tr.span("pages.write") {
      Io.write(ads.select(Pages.reed.as("text")), s"$pagesDir/reed")
      Io.write(ads.select(Pages.indeed.as("text")), s"$pagesDir/indeed")
    }
  }

  def round(n: Int): Double = {
    if (lastRun.nonEmpty) Io.deleteTree(lastRun)
    lastRun = ctx.path("pipeline", s"run$n")
    val out = s"$lastRun/out"
    val root = s"$lastRun/cache"
    val t = Tables(spark, tablesDir)
    def stage(name: String)(body: => Unit): Unit =
      report.op(s"pipeline.$name")(tr.span(s"stage.$name")(body))
    val t0 = System.nanoTime()
    stage("extract") {
      Io.write(Extract.reed(spark.read.parquet(s"$pagesDir/reed")),
        s"$out/raw_reed")
      Io.write(Extract.indeed(spark.read.parquet(s"$pagesDir/indeed"),
        ScrapeDate), s"$out/raw_indeed")
    }
    stage("salaries") {
      Io.write(Salaries.extractSalary(AdsFixture.ads(t)), s"$out/silver_ads")
    }
    stage("skills") {
      val docs = t.documents.select(col("doc_id").as("id"),
        TextCleaning.cleanTextCol()(col("text")).as("description"))
      Io.write(Enrich.detectSkills(spark, docs, SkillDict), s"$out/skills")
    }
    stage("vector_links") {
      Cache.cached(ctx, root, "vector_links") {
        VectorDedup.nearDuplicateLinks(vectors(t), dim = 64, nPlanes = 0,
            backgroundSample = 32, threshold = 0.25)
          .select(col("first_id"), col("second_id"),
            functions.round(col("weight"), 4).as("weight"))
      }
    }
    // later stages read the persisted silver ads and cache entries
    def silver: DataFrame = spark.read.parquet(s"$out/silver_ads")
    def comps: DataFrame = Cache.cached(ctx, root, "components") {
      DedupPipeline.duplicateSubgraphs(AdsFixture.links(t))
    }
    def split: DataFrame = Cache.cached(ctx, root, "split") {
      DedupPipeline.subgraphsByLocation(comps, silver)
    }
    def weekly: DataFrame = Cache.cached(ctx, root, "weekly") {
      Getters.weeklyAds(spark, silver, AdsFixture.links(t), FirstWeek, LastWeek,
        precomputedGraphs = Some(split))
    }
    stage("components")(comps)
    stage("split")(split)
    stage("weekly")(weekly)
    stage("features") {
      val ads = silver.select(AnalystReads.AdsColumns.map(col): _*)
      val sal = silver.select("id", "min_annualised_salary",
        "max_annualised_salary", "rate")
      Io.write(Getters.withFeatures(ads, sal, AdsFixture.locationLinks(t),
          AdsFixture.locations(t), AdsFixture.socLinks(t), AdsFixture.socs(t),
          AdsFixture.skillLinks(t))
        .select(col("id"), col("min_annualised_salary"),
          col("max_annualised_salary"), col("rate"), col("nuts_2_code"),
          col("nuts_2_name"), col("soc_code"), col("soc_title"),
          concat_ws("|", transform(col("skills"), x =>
            concat_ws(":", x.getField("surface_form"),
              x.getField("preferred_label"),
              x.getField("cluster_0").cast("string")))).as("skills_str")),
        s"$out/features")
    }
    stage("indicators") {
      val wk = weekly
      val loc = AdsFixture.locationLinks(t)
        .join(broadcast(AdsFixture.locations(t)),
          col("location_id") === col("ipn_18_code"), "left_outer")
        .select(col("job_id"), col("nuts_2_code"), col("nuts_2_name"))
        .distinct()
      def withLoc(df: DataFrame): DataFrame = Indicators.standardiseLocation(
        df.join(loc, col("id") === col("job_id"), "left_outer").drop("job_id"))
      val inStock: Column = col("week_date").between(StockFrom, StockTo)
      val index = Indicators.stockIndex(wk.filter(inStock))
      val std = withLoc(wk.select("week_date", "id"))
      Io.write(index, s"$out/gold/stock_index")
      Io.write(Indicators.weeklyStock(wk, index), s"$out/gold/weekly_stock")
      Io.write(Indicators.weeklySalarySpread(wk),
        s"$out/gold/weekly_salary_spread")
      Io.write(Indicators.weeklyLocVacancies(std,
          Indicators.stockIndexByCode(std.filter(inStock), "nuts_2_code")),
        s"$out/gold/weekly_loc_vacancies")
      Io.write(Indicators.aggregateSkills(
          withLoc(silver.select("id"))
            .join(AdsFixture.skillLinks(t), col("id") === col("job_id"))
            .drop("job_id"),
          "nuts_2_code", "nuts_2_name"),
        s"$out/gold/aggregate_skills")
    }
    stage("publish") {
      for ((title, about) <- Published)
        Publisher.saveData(spark.read.parquet(s"$out/gold/$title"),
          s"$out/publish", title, Version, about)
    }
    stage("reads")(reads.session(t, silver, comps, split, weekly))
    (System.nanoTime() - t0) / 1e9
  }

  def check(): Unit = {
    val readsFile = ctx.path("pipeline", "reads.jsonl")
    java.nio.file.Files.write(java.nio.file.Paths.get(readsFile),
      reads.results.mkString("", "\n", "\n").getBytes("UTF-8"))
    reads.results.clear()
    val oracles = Seq("dom_extract_reed", "dom_extract_indeed",
      "dom_salary_extract", "dom_clean_text", "dom_vector_dedup_links",
      "dom_dup_subgraphs", "dom_subgraphs_by_location", "dom_features",
      "dom_aggregate_skills")
    report.extra("pipeline") = Json.obj(Seq(
      "run_dir" -> Json.str(lastRun),
      "reads" -> Json.str(readsFile),
      "skill_dict" -> Json.arr(SkillDict.map(Json.str)),
      "week_start" -> Json.str(FirstWeek.toString),
      "week_end" -> Json.str(LastWeek.toString),
      "stock_from" -> Json.str(StockFrom),
      "stock_to" -> Json.str(StockTo),
      "published" -> Json.arr(Published.map(p => Json.str(p._1))),
      "version" -> Json.str(Version),
      "cte" -> Json.obj(AdsFixture.SQL.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }),
      "oracle" -> Json.obj(oracles.map(n => n -> Json.str(SparkEntry.oracleSql(n)))),
    ))
  }
}

object PipelineWorkload {
  val ScrapeDate = "2021-07-05"
  val Version = "0.1.0"
  /** Skill surface forms, already in cleaned form. */
  val SkillDict: Seq[String] =
    Seq("fast merge", "table value", "row scan", "hash value", "spark")
  /** The four weeks the stock index averages. */
  val StockFrom = "1996-04-01"
  val StockTo = "1996-04-22"
  val Published: Seq[(String, String)] = Seq(
    "stock_index" -> "Mean weekly stock over the index weeks",
    "weekly_stock" -> "Weekly stock of live job adverts, indexed",
    "weekly_salary_spread" -> "Weekly quartiles of annualised salaries (GBP thousands)",
    "weekly_loc_vacancies" -> "Weekly adverts per location, indexed per location",
    "aggregate_skills" -> "Share of a location's ads per skill cluster")

  /** (id, created, vector) over the embeddings table. */
  def vectors(t: Tables): DataFrame =
    t.embeddings.select(col("vec_id").as("id"),
      expr("timestamp'1995-01-01 00:00:00' + " +
        "make_interval(0, 0, 0, CAST(vec_id % 100 AS INT), 0, 0, 0)")
        .as("created"),
      col("embedding").as("vector"))
}

/** Job-board pages synthesized from the ads fixture, built exactly as the
  * registry's `dom_extract_reed` / `dom_extract_indeed` rows build theirs,
  * so those rows' DuckDB oracles predict what the extractors must return.
  */
object Pages {
  def reed: Column = {
    val k = col("id")
    val span = when(k % 23 === 0,
      lit("<span itemprop=\"baseSalary\">Competitive</span>"))
      .otherwise(concat(
        lit("<span itemprop=\"baseSalary\">" +
          "<meta itemprop=\"currency\" content=\"GBP\"/>" +
          "<meta itemprop=\"value\" content=\""),
        ((k * 7) % 90000).cast("string"), lit(".50\"/>" +
          "<meta itemprop=\"minValue\" content=\""),
        ((k * 3) % 80000).cast("string"), lit(".25\"/>" +
          "<meta itemprop=\"maxValue\" content=\""),
        ((k * 11) % 90000).cast("string"), lit(".75\"/>" +
          "<meta itemprop=\"unitText\" content=\""),
        when(k % 4 === 0 || k % 4 === 3, "YEAR").when(k % 4 === 1, "DAY")
          .otherwise("HOUR"),
        lit("\"/></span>")))
    concat(
      lit("<html><script>dataLayer = [{\n"),
      lit("jobId: '"), k.cast("string"), lit("',\n"),
      lit("jobPostedDate: '"), date_format(col("created"), "dd/MM/yyyy"),
      lit("',\n"),
      lit("jobTitle: 'Engineer "), (k % 50).cast("string"), lit("',\n"),
      lit("jobLocation: '"), col("job_location_raw"), lit("',\n"),
      lit("jobRecruiterName: 'Acme "), (k % 7).cast("string"), lit("',\n"),
      lit("jobType: 'Permanent',\n"),
      lit("}]</script><body>"),
      when(k % 29 =!= 0, span).otherwise(lit("")),
      lit("<span itemprop=\"description\">Role in <b>"),
      col("job_location_raw"), lit("</b> city</span></body></html>"))
  }

  def indeed: Column = {
    val k = col("id")
    concat(
      lit("<html><head><script>window._initialData={"),
      when(k % 31 =!= 0,
        concat(lit("\"jobKey\":\""), k.cast("string"), lit("\",")))
        .otherwise(lit("")),
      lit("\"jobTitle\":\"Engineer "), (k % 50).cast("string"), lit("\","),
      lit("\"jobLocation\":\""), col("job_location_raw"), lit("\","),
      lit("\"hiringCompanyName\":\"Acme "), (k % 7).cast("string"),
      lit("\","),
      lit("\"salaryText\":\"£"), ((k * 7) % 90000).cast("string"),
      lit(" per annum\","),
      lit("\"end\":1}</script></head><body>" +
        "<span class=\"indeed-apply-widget\" " +
        "data-indeed-apply-joburl=\"https://jobs.example/apply/"),
      k.cast("string"), lit("\"></span>" +
        "<div class=\"jobsearch-jobDescriptionText\"><p>Role in "),
      col("job_location_raw"), lit(".</p></div></body></html>"))
  }
}
