package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cohort LTV curves — the revenue companion of a22's retention
  * matrix: customers cohorted by FIRST-order year, and for each
  * cohort the cumulative revenue per cohort member at each age
  * (years since acquisition). The payback-period question ("when
  * does a cohort's cumulative value cross acquisition cost?") reads
  * straight off the curve.
  *
  * Revenue stays exact DECIMAL through the cumulative window;
  * per-member division is the one IEEE op per cell, after rounding
  * the numerator to cents (so the display value is an exact cents
  * quotient in both engines).
  *
  * Shape: one customer agg (cohort assignment) joined back into the
  * fact scan on the customer key, one (cohort × age) agg — both
  * map-side combinable — then windows on the ≤|years|² cell frame.
  */
object CohortLtv {

  /** Cohort LTV over an orders frame. */
  def compute(orders: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    {
      val o = orders
        // long, not int: DuckDB year() is BIGINT and the compare is typed
        .select(col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("yr"),
          col("o_totalprice").cast(DecimalType(30, 2)).as("rev"))
      val cohorts = o.groupBy("o_custkey")
        .agg(min(col("yr")).as("cohort"))
      val cells = o.join(cohorts, "o_custkey")
        .groupBy(col("cohort"), (col("yr") - col("cohort")).as("age"))
        .agg(sum(col("rev")).as("rev"),
          countDistinct(col("o_custkey")).as("active"))
      val sizes = cohorts.groupBy("cohort")
        .agg(count(lit(1)).as("members"))
      val w = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(broadcast(sizes), "cohort")
        .withColumn("cum_rev", sum(col("rev")).over(w))
        .select(col("cohort"), col("age"), col("members"), col("active"),
          round(col("cum_rev").cast("double") /
            col("members").cast("double"), 2).as("ltv_per_member"))
    }
  }

  private val q = Q(
    "e_cohort_ltv",
    (s, d) => compute(Tables(s, d).orders),
    Some(
      """WITH o AS (
        |  SELECT o_custkey, year(o_orderdate) AS yr,
        |    CAST(o_totalprice AS DECIMAL(30,2)) AS rev
        |  FROM orders),
        |cohorts AS (
        |  SELECT o_custkey, min(yr) AS cohort FROM o GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort, o.yr - c.cohort AS age, sum(o.rev) AS rev,
        |    count(DISTINCT o.o_custkey) AS active
        |  FROM o JOIN cohorts c USING (o_custkey)
        |  GROUP BY 1, 2),
        |sizes AS (
        |  SELECT cohort, count(*) AS members FROM cohorts GROUP BY 1)
        |SELECT cohort, age, members, active,
        |  round(CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(members AS DOUBLE), 2) AS ltv_per_member
        |FROM cells JOIN sizes USING (cohort)""".stripMargin),
  )

  def all: Seq[Q] = Seq(q)
}
