package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile treatment effects — where the experiment rows so far
  * (a34 mean, a87 ratio) answer "did the average move", QTE answers
  * WHERE the distribution moved: the per-decile difference between
  * the treatment and control value distributions (heavy-tail
  * products routinely ship effects invisible in the mean).
  *
  * Exact nearest-rank quantiles per arm via the e_conversion_lag /
  * a84 count-table discipline: per-(arm, cents) strata, per-arm
  * cumulative windows over the value-range-bounded strata table,
  * boundary index ⌈q·n/100⌉ located by a broadcast 9-row spine
  * range join. No fact sort, no ntile.
  *
  * Shape: ONE fact agg to (arm × cents) strata; windows/joins on
  * strata only. One scan at any scale.
  */
object QuantileTreatment {

  /** QTE over an events frame (user_id, value). */
  def compute(s: org.apache.spark.sql.SparkSession,
      events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    {
      val strata = events
        .select((col("user_id") % 2).as("arm"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("arm", "cents").agg(count(lit(1)).as("n_c"))
      val w = Window.partitionBy("arm").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = strata
        .withColumn("cum", sum(col("n_c")).over(w))
        .localCheckpoint(false)
      val totals = cum.groupBy("arm").agg(max(col("cum")).as("n"))
      val spine = s.range(1, 10)
        .select((col("id") * 10).as("qq"))
        .crossJoin(broadcast(totals))
        // nearest-rank (ceil): idx = (q*n + 99) div 100
        .select(col("qq"), col("arm"),
          expr("(qq * n + 99) div 100").as("idx"))
      val quant = broadcast(spine).join(cum,
          Seq("arm"), "inner")
        .filter(col("cum") >= col("idx") &&
          (col("cum") - col("n_c")) < col("idx"))
        .select(col("qq"), col("arm"), col("cents"))
      quant.groupBy("qq")
        .agg(max(when(col("arm") === 0, col("cents"))).as("c0"),
          max(when(col("arm") === 1, col("cents"))).as("c1"))
        .select(col("qq").as("quantile_pct"),
          round(col("c0").cast("double") / 100.0, 2).as("v_control"),
          round(col("c1").cast("double") / 100.0, 2).as("v_treatment"),
          round((col("c1") - col("c0")).cast("double") / 100.0, 2)
            .as("qte"))
    }
  }

  private val q = Q(
    "e_quantile_treatment_effect",
    (s, d) => compute(s, Tables(s, d).events),
    Some(
      """WITH strata AS (
        |  SELECT user_id % 2 AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    count(*) AS n_c
        |  FROM events GROUP BY 1, 2),
        |cum AS (
        |  SELECT arm, cents, n_c,
        |    CAST(sum(n_c) OVER (PARTITION BY arm ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM strata),
        |totals AS (SELECT arm, max(cum) AS n FROM cum GROUP BY 1),
        |spine AS (
        |  SELECT q.qq, t.arm, (q.qq * t.n + 99) // 100 AS idx
        |  FROM (SELECT unnest(range(1, 10)) * 10 AS qq) q
        |  CROSS JOIN totals t),
        |quant AS (
        |  SELECT s.qq, s.arm, c.cents
        |  FROM spine s JOIN cum c
        |    ON s.arm = c.arm AND c.cum >= s.idx AND (c.cum - c.n_c) < s.idx)
        |SELECT qq AS quantile_pct,
        |  round(CAST(max(CASE WHEN arm = 0 THEN cents END) AS DOUBLE) / 100.0, 2)
        |    AS v_control,
        |  round(CAST(max(CASE WHEN arm = 1 THEN cents END) AS DOUBLE) / 100.0, 2)
        |    AS v_treatment,
        |  round(CAST(max(CASE WHEN arm = 1 THEN cents END)
        |    - max(CASE WHEN arm = 0 THEN cents END) AS DOUBLE) / 100.0, 2)
        |    AS qte
        |FROM quant GROUP BY 1""".stripMargin),
  )

  def all: Seq[Q] = Seq(q)
}
