package graft.operators

import graft.{Q, Tables}
import graft.util.Stable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Gini coefficient of per-customer revenue — the canonical
  * inequality measure beside a81's Theil (Theil was added first
  * precisely because it needs no order statistics; Gini DOES, and
  * this row shows the sortless way to get them):
  *
  *   G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n
  *
  * Rather than globally sorting the fact table (or pulling |customers|
  * rows through one window task), revenues are bucketed into exact
  * 2-dp CENTS STRATA — the a84/e_conversion_lag count-table
  * discipline. Within a stratum of equal values the rank weights are
  * an arithmetic series, so with C = cumulative count below:
  *
  *   Σ_{i∈stratum} i·x₍ᵢ₎ = x·(n_c·C + n_c(n_c+1)/2)
  *
  * exactly. The cumulative window runs over |distinct revenue cents|
  * rows — bounded by the VALUE RANGE of a customer's revenue, not by
  * the corpus (at 100 TB the strata table still fits one task; the
  * per-term product is cast to double and folded decimal-stable,
  * scale 0 per [[graft.util.Stable]]'s rule for ~1e15 terms).
  *
  * Shape: customer-keyed fact agg → cents-strata agg → one spine
  * window → 1-row finale. One fact scan, two bounded shuffles.
  */
object Gini {

  /** Gini over per-customer revenue; orders needs o_custkey +
    * o_totalprice.
    */
  def compute(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val strata = orders
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(DecimalType(30, 2))).as("rev"))
      .groupBy(col("rev"))
      .agg(count(lit(1)).as("n_c"))
      val w = Window.orderBy("rev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = strata
        .withColumn("c_below", sum(col("n_c")).over(w) - col("n_c"))
      ranked.agg(
        sum(col("n_c")).as("n"),
        sum(col("rev") * col("n_c")).cast("double").as("t"),
        Stable.dsum(col("rev").cast("double") *
          (col("n_c").cast("double") * col("c_below").cast("double") +
            col("n_c").cast("double") * (col("n_c").cast("double") + 1.0)
              / 2.0), 0).as("srank"))
        .selectExpr("n",
          "round(t, 2) AS total_revenue",
          "round(2.0 * srank / (CAST(n AS DOUBLE) * t) " +
            "- CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini")
  }

  private val q = Q(
    "a90_gini_revenue",
    (s, d) => compute(Tables(s, d).orders),
    Some(
      s"""WITH per_cust AS (
         |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
         |  FROM orders GROUP BY 1),
         |strata AS (SELECT rev, count(*) AS n_c FROM per_cust GROUP BY 1),
         |ranked AS (
         |  SELECT rev, n_c,
         |    CAST(sum(n_c) OVER (ORDER BY rev
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      - n_c AS c_below
         |  FROM strata),
         |red AS (
         |  SELECT CAST(sum(n_c) AS BIGINT) AS n,
         |    CAST(sum(rev * n_c) AS DOUBLE) AS t,
         |    ${Stable.dsumSql(
             "CAST(rev AS DOUBLE) * (CAST(n_c AS DOUBLE) * CAST(c_below AS DOUBLE) " +
               "+ CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) + 1.0) / 2.0)", 0)} AS srank
         |  FROM ranked)
         |SELECT n, round(t, 2) AS total_revenue,
         |  round(2.0 * srank / (CAST(n AS DOUBLE) * t)
         |    - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini
         |FROM red""".stripMargin),
  )

  def all: Seq[Q] = Seq(q)
}
