package graft.operators

import graft.{Q, Tables}
import graft.util.Stable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log-rank (Mantel–Cox) test — the two-sample comparison that
  * completes the survival family: e_kaplan_meier estimates ONE
  * curve; the experiment question is whether the treatment arm's
  * time-to-conversion curve differs from control's, with censoring
  * handled correctly (a34's mean test silently drops censored
  * users). Same duration/censoring semantics as e_kaplan_meier
  * (first activity → first purchase > 90, censor at last activity),
  * arm = user_id % 2 (the SRM/a34 assignment).
  *
  * At each duration t with events: O₁ = Σ d₁ₜ, E₁ = Σ dₜ·n₁ₜ/nₜ,
  * V = Σ dₜ·(n₁ₜ/nₜ)(1−n₁ₜ/nₜ)(nₜ−dₜ)/(nₜ−1), χ² = (O₁−E₁)²/V.
  *
  * All at-risk/event counts are exact BIGINTs (suffix-sum windows
  * over the ≤|observation-span| duration strata); the E/V terms are
  * fixed IEEE chains folded decimal-stable at scale 9.
  *
  * Shape: ONE user-keyed aggregate is the only corpus-sized shuffle;
  * both suffix sums and the finale run on span-bounded strata rows.
  */
object LogRank {

  private val BigPurchase = 90.0

  /** Log-rank χ² from an events frame (user_id, ts, event_type,
    * value).
    */
  def compute(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    {
      val e = events.select(col("user_id"),
        col("ts").cast("date").as("day"),
        col("event_type"), col("value"))
      val users = e.groupBy("user_id")
        .agg(min(col("day")).as("first_day"),
          max(col("day")).as("last_day"),
          min(when(col("event_type") === "purchase" &&
            col("value") > BigPurchase, col("day"))).as("conv_day"))
        .select(
          datediff(coalesce(col("conv_day"), col("last_day")),
            col("first_day")).cast("long").as("dur"),
          when(col("conv_day").isNotNull, lit(1L)).otherwise(lit(0L))
            .as("event"),
          (col("user_id") % 2).as("arm"))
      val byDur = users.groupBy("dur")
        .agg(sum(col("event")).as("d_all"), count(lit(1)).as("tot_all"),
          sum(when(col("arm") === 1, col("event")).otherwise(0L))
            .as("d1"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("tot1"))
      val w = Window.orderBy(desc("dur"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = byDur
        .withColumn("n_all", sum(col("tot_all")).over(w))
        .withColumn("n1", sum(col("tot1")).over(w))
        .filter(col("d_all") > 0 && col("n_all") > 1)
      risk.agg(
        sum(col("d1")).as("o1"),
        Stable.dsum(col("d_all").cast("double") *
          col("n1").cast("double") / col("n_all").cast("double"), 9)
          .as("e1"),
        Stable.dsum(col("d_all").cast("double") *
          (col("n1").cast("double") / col("n_all").cast("double")) *
          (lit(1.0) - col("n1").cast("double") / col("n_all").cast("double")) *
          (col("n_all").cast("double") - col("d_all").cast("double")) /
          (col("n_all").cast("double") - 1.0), 9).as("v"))
        .selectExpr("o1", "round(e1, 6) AS e1", "round(v, 6) AS v",
          "round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v, 6) AS chi2")
    }
  }

  private val q = Q(
    "e_logrank_test",
    (s, d) => compute(Tables(s, d).events),
    Some(
      s"""WITH ev AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day, event_type, value
         |  FROM events),
         |users AS (
         |  SELECT
         |    datediff('day', min(day),
         |      coalesce(min(CASE WHEN event_type = 'purchase' AND value > 90.0
         |                        THEN day END), max(day))) AS dur,
         |    CASE WHEN min(CASE WHEN event_type = 'purchase' AND value > 90.0
         |                       THEN day END) IS NOT NULL
         |         THEN 1 ELSE 0 END AS event,
         |    user_id % 2 AS arm
         |  FROM ev GROUP BY user_id),
         |by_dur AS (
         |  SELECT dur, CAST(sum(event) AS BIGINT) AS d_all,
         |    count(*) AS tot_all,
         |    CAST(sum(CASE WHEN arm = 1 THEN event ELSE 0 END) AS BIGINT)
         |      AS d1,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS tot1
         |  FROM users GROUP BY 1),
         |risk AS (
         |  SELECT *,
         |    CAST(sum(tot_all) OVER (ORDER BY dur DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS n_all,
         |    CAST(sum(tot1) OVER (ORDER BY dur DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS n1
         |  FROM by_dur),
         |red AS (
         |  SELECT CAST(sum(d1) AS BIGINT) AS o1,
         |    ${Stable.dsumSql(
             "CAST(d_all AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(n_all AS DOUBLE)", 9)}
         |      AS e1,
         |    ${Stable.dsumSql(
             "CAST(d_all AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n_all AS DOUBLE)) " +
               "* (1.0 - CAST(n1 AS DOUBLE) / CAST(n_all AS DOUBLE)) " +
               "* (CAST(n_all AS DOUBLE) - CAST(d_all AS DOUBLE)) " +
               "/ (CAST(n_all AS DOUBLE) - 1.0)", 9)} AS v
         |  FROM risk WHERE d_all > 0 AND n_all > 1)
         |SELECT o1, round(e1, 6) AS e1, round(v, 6) AS v,
         |  round((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1) / v, 6)
         |    AS chi2
         |FROM red""".stripMargin),
  )

  def all: Seq[Q] = Seq(q)
}
