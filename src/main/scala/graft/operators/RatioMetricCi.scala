package graft.operators

import graft.{Q, Tables}
import graft.util.Stable
import org.apache.spark.sql.functions._

/** Delta-method CI for a ratio-of-sums metric — the readout real
  * experiment metrics need (revenue per event, CTR, items per
  * order are all ratios of user-level sums; a34's per-row mean test
  * is WRONG for them because user-level numerator and denominator
  * correlate). For R = ΣX_u / ΣY_u over user-level aggregates,
  *
  *   SE² = ( s²_x + R²·s²_y − 2R·s_xy ) / ( n · ȳ² )
  *
  * and CI = R ± z·SE with the a73 build-time z. EXACT discipline:
  * user-level X (value sums) ride the 2-dp decimal cast, Y are
  * BIGINT counts; the five second-order moments are decimal-stable
  * sums; R, SE and the bounds are one fixed IEEE chain.
  *
  * Shape: one user-keyed aggregate, one 1-row moment frame — the
  * ratio CI costs a single scan at any scale.
  */
object RatioMetricCi {

  /** Ratio CI from an events frame (user_id, value). */
  def compute(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    {
      val perUser = events
        .groupBy("user_id")
        .agg(Stable.dsum(col("value"), 2).as("x"),
          count(lit(1)).cast("double").as("y"))
      val m = perUser.agg(count(lit(1)).as("n"),
        Stable.dsum(col("x"), 2).as("sx"),
        Stable.dsum(col("y"), 0).as("sy"),
        Stable.dsum(col("x") * col("x"), 4).as("sxx"),
        Stable.dsum(col("y") * col("y"), 0).as("syy"),
        Stable.dsum(col("x") * col("y"), 2).as("sxy"))
      val nD = col("n").cast("double")
      val r = col("sx") / col("sy")
      val ybar = col("sy") / nD
      val vx = (col("sxx") - col("sx") * col("sx") / nD) / (nD - 1.0)
      val vy = (col("syy") - col("sy") * col("sy") / nD) / (nD - 1.0)
      val cxy = (col("sxy") - col("sx") * col("sy") / nD) / (nD - 1.0)
      val se = sqrt((vx + r * r * vy - lit(2.0) * r * cxy) /
        (nD * ybar * ybar))
      val z = lit(MdePower.Z975.toDouble)
      m.select(col("n"), round(r, 6).as("ratio"),
        round(se, 6).as("se"),
        round(r - z * se, 6).as("ci_lo"),
        round(r + z * se, 6).as("ci_hi"))
    }
  }

  private val q = Q(
    "a87_ratio_metric_ci",
    (s, d) => compute(Tables(s, d).events),
    Some {
      val z = s"CAST(${MdePower.Z975} AS DOUBLE)"
      s"""WITH per_user AS (
         |  SELECT user_id, ${Stable.dsumSql("value", 2)} AS x,
         |    CAST(count(*) AS DOUBLE) AS y
         |  FROM events GROUP BY 1),
         |m AS (
         |  SELECT count(*) AS n,
         |    ${Stable.dsumSql("x", 2)} AS sx,
         |    ${Stable.dsumSql("y", 0)} AS sy,
         |    ${Stable.dsumSql("x * x", 4)} AS sxx,
         |    ${Stable.dsumSql("y * y", 0)} AS syy,
         |    ${Stable.dsumSql("x * y", 2)} AS sxy
         |  FROM per_user),
         |fin AS (
         |  SELECT n, sx / sy AS r,
         |    sqrt((((sxx - sx * sx / CAST(n AS DOUBLE))
         |            / (CAST(n AS DOUBLE) - 1.0))
         |      + (sx / sy) * (sx / sy)
         |        * ((syy - sy * sy / CAST(n AS DOUBLE))
         |            / (CAST(n AS DOUBLE) - 1.0))
         |      - 2.0 * (sx / sy)
         |        * ((sxy - sx * sy / CAST(n AS DOUBLE))
         |            / (CAST(n AS DOUBLE) - 1.0)))
         |      / (CAST(n AS DOUBLE) * (sy / CAST(n AS DOUBLE))
         |         * (sy / CAST(n AS DOUBLE)))) AS se
         |  FROM m)
         |SELECT n, round(r, 6) AS ratio, round(se, 6) AS se,
         |  round(r - $z * se, 6) AS ci_lo,
         |  round(r + $z * se, 6) AS ci_hi
         |FROM fin""".stripMargin
    },
  )

  def all: Seq[Q] = Seq(q)
}
