package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** DAU / WAU / MAU + stickiness — the product-analytics headline
  * series. Rolling distinct users is NOT a sum of daily distincts
  * (users repeat), so each user-day contributes itself to every
  * window it serves (k = 0..6 / 0..27 — the W1 sliding-window
  * explode), then one distinct + count per window end:
  * exact, linear (28 × user-days), no per-window state. Stickiness
  * is the exact ppm ratio DAU/MAU.
  *
  * Scale: the fact table collapses to distinct user-days first
  * (one agg); the ×28 explode is consumed by a map-side-combinable
  * distinct-count aggregate keyed by day.
  */
object ActiveUsers {

  val Ppm = 1000000L

  /** The full series over any (user_id, ts) frame. */
  def series(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val ud = events
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val maxDay = ud.agg(max(col("day")).as("max_day"))
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      def rolling(days: Int, name: String) = ud
        .select(col("user_id"), explode(sequence(lit(0),
          lit(days - 1))).as("k"), col("day"))
        .select(col("user_id"), date_add(col("day"), col("k")).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as(name))
      dau.join(rolling(7, "wau"), "day")
        .join(rolling(28, "mau"), "day")
        .crossJoin(broadcast(maxDay))
        .filter(col("day") <= col("max_day"))
        .select(col("day").cast("string").as("day"), col("dau"),
          col("wau"), col("mau"),
          expr(s"($Ppm * dau) div mau").as("stickiness_ppm"))
  }

  private val q = Q(
    "e_dau_stickiness",
    (s, d) => series(Tables(s, d).events),
    Some(
      s"""WITH ud AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
         |  FROM events),
         |maxd AS (SELECT max(day) AS max_day FROM ud),
         |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         |wau AS (
         |  SELECT day, count(*) AS wau FROM (
         |    SELECT DISTINCT user_id, day + CAST(k.k AS INTEGER) AS day
         |    FROM ud CROSS JOIN
         |      (SELECT unnest(generate_series(0, 6)) AS k) k)
         |  GROUP BY 1),
         |mau AS (
         |  SELECT day, count(*) AS mau FROM (
         |    SELECT DISTINCT user_id, day + CAST(k.k AS INTEGER) AS day
         |    FROM ud CROSS JOIN
         |      (SELECT unnest(generate_series(0, 27)) AS k) k)
         |  GROUP BY 1)
         |SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
         |  mau.mau,
         |  CAST(($Ppm * dau.dau) // mau.mau AS BIGINT)
         |    AS stickiness_ppm
         |FROM dau JOIN wau ON dau.day = wau.day
         |JOIN mau ON dau.day = mau.day
         |CROSS JOIN maxd
         |WHERE dau.day <= maxd.max_day""".stripMargin),
  )

  def all: Seq[Q] = Seq(q)
}
