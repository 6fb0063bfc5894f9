package graft.plans

/** The opt-in COUNT(DISTINCT) → HLL++ rewrite: flag off = exact plan
  * untouched; flag on = sketch aggregation, estimate within the HLL
  * error bound, and the distinct's keyed exchange gone.
  */
class ApproxDistinctRewriteSpec extends graft.SparkSpec {

  private def df = {
    import spark.implicits._
    // per group g: v = i % 5000 over i ≡ g (mod 4) → 1250 distinct values
    (1 to 20000).map(i => (i % 4, i % 5000)).toDF("g", "v")
  }

  test("flag off: exact distinct, untouched plan") {
    spark.conf.set("spark.graft.approxDistinct", "false")
    val q = df.groupBy("g").agg(
      org.apache.spark.sql.functions.countDistinct("v"))
    val plan = q.queryExecution.executedPlan.toString()
    assert(!plan.contains("approx_count_distinct"), plan.take(500))
    assert(q.collect().map(_.getLong(1)).toSet == Set(1250L))
  }

  test("flag on: sketch aggregation, ±3σ estimate, no distinct expand") {
    spark.conf.set("spark.graft.approxDistinct", "true")
    try {
      val q = df.groupBy("g").agg(
        org.apache.spark.sql.functions.countDistinct("v").as("d"))
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.contains("approx_count_distinct"), plan.take(500))
      q.collect().foreach { r =>
        val est = r.getLong(1).toDouble
        // default relativeSD = 0.05 → allow 3σ
        assert(math.abs(est - 1250.0) / 1250.0 < 0.15, s"estimate $est")
      }
      // the exact form's keyed partial aggregate on (g, v) is gone: no
      // aggregate in the plan groups by the value column
      assert("keys=\\[[^\\]]*v#".r.findFirstIn(plan).isEmpty,
        "no (g, v)-keyed partial stage")
    } finally spark.conf.set("spark.graft.approxDistinct", "false")
  }

  test("guards: FILTER and multi-column distinct stay exact") {
    spark.conf.set("spark.graft.approxDistinct", "true")
    try {
      val multi = df.groupBy("g").agg(
        org.apache.spark.sql.functions.countDistinct("v", "g"))
      assert(!multi.queryExecution.executedPlan.toString()
        .contains("approx_count_distinct"))
      val filtered = spark.sql(
        "SELECT count(DISTINCT v) FILTER (WHERE v > 10) FROM " +
          "(SELECT explode(sequence(1, 100)) AS v)")
      assert(!filtered.queryExecution.executedPlan.toString()
        .contains("approx_count_distinct"))
      assert(filtered.head().getLong(0) == 90L)
    } finally spark.conf.set("spark.graft.approxDistinct", "false")
  }
}
