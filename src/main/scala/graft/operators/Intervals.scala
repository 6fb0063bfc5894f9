package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval set algebra over per-key validity windows — the
  * gaps-and-islands family that [[graft.plans.IntervalJoin]] (pairwise
  * overlap) deliberately does not cover: collapsing a key's overlapping
  * intervals into maximal merged spans, and the sweep-line concurrency
  * profile ("how many intervals are open at t"). The reference's 42d/56d
  * dedup windows (`dqa/dedup_utils.py:61`, SURVEY §2.5 W1/W2) slice time
  * into fixed panes; these two give the data-driven complement where the
  * window boundaries come from the intervals themselves.
  *
  * Both are pure window algebra — no joins, no self-comparison:
  * merge is one per-key sort + running max + cumulative island sum;
  * coverage is one explode to ±1 boundary deltas + one date-keyed agg +
  * one cumulative sum over the (calendar-bounded) date axis. At 100 TB
  * the merge shuffles once on the entity key and each partition sorts
  * locally; coverage's only single-partition step runs over |distinct
  * dates| rows — bounded by the calendar, not the data.
  */
object Intervals {

  /** Validity length applied to each order: [o_orderdate, +30d]. */
  val SpanDays = 30

  /** Merge overlapping-or-touching [start, end] intervals per key.
    * Island detection: sorted by (start, end, id), a row opens a new
    * island iff its start lies strictly after every previous end
    * (running max); the island ordinal is the cumulative count of
    * openers. Ties on start always co-island regardless of intra-tie
    * order, so the output is ordering-deterministic.
    */
  /** Core merge over (k, start, end, oid) interval rows. */
  def mergePerKey(iv: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("k").orderBy("start", "end", "oid")
    val prevMax = max(col("end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val opener = when(prevMax.isNull || col("start") > prevMax, 1L)
      .otherwise(0L)
    iv.withColumn("island",
        sum(opener).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("k"), col("island"))
      .agg(min(col("start")).as("merge_start"),
        max(col("end")).as("merge_end"),
        count(lit(1)).as("n_orders"))
  }

  private val merge = Q(
    "w18_interval_merge",
    (s, d) => mergePerKey(Tables(s, d).orders.select(
        col("o_custkey").as("k"),
        col("o_orderdate").as("start"),
        date_add(col("o_orderdate"), SpanDays).as("end"),
        col("o_orderkey").as("oid")))
      .withColumnRenamed("k", "o_custkey"),
    Some(
      s"""WITH iv AS (
         |  SELECT o_custkey AS k, o_orderdate AS s,
         |    o_orderdate + INTERVAL $SpanDays DAY AS e,
         |    o_orderkey AS oid
         |  FROM orders),
         |marked AS (
         |  SELECT k, s, e,
         |    CASE WHEN max(e) OVER (PARTITION BY k ORDER BY s, e, oid
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |         IS NULL
         |      OR s > max(e) OVER (PARTITION BY k ORDER BY s, e, oid
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    THEN 1 ELSE 0 END AS opener,
         |    oid
         |  FROM iv),
         |isl AS (
         |  SELECT k, s, e,
         |    CAST(sum(opener) OVER (PARTITION BY k ORDER BY s, e, oid
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS island
         |  FROM marked)
         |SELECT k AS o_custkey, island,
         |  CAST(min(s) AS DATE) AS merge_start,
         |  CAST(max(e) AS DATE) AS merge_end,
         |  count(*) AS n_orders
         |FROM isl GROUP BY 1, 2""".stripMargin),
  )

  /** Sweep-line concurrency: for every interval boundary date, how many
    * [start, start+30d] order intervals are open (half-open convention:
    * an interval closes the day AFTER its inclusive end). The classic
    * "concurrent sessions at time t" operator, exact from ±1 deltas.
    */
  private val coverage = Q(
    "w19_interval_coverage",
    (s, d) => {
      val o = Tables(s, d).orders
      val deltas = o.select(col("o_orderdate").as("day"), lit(1L).as("delta"))
        .union(o.select(
          date_add(col("o_orderdate"), SpanDays + 1).as("day"),
          lit(-1L).as("delta")))
      val byDay = deltas.groupBy("day").agg(sum(col("delta")).as("d"))
      byDay
        .withColumn("open_intervals",
          sum(col("d")).over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("day"), col("open_intervals"))
    },
    Some(
      s"""WITH deltas AS (
         |  SELECT o_orderdate AS day, 1 AS delta FROM orders
         |  UNION ALL
         |  SELECT o_orderdate + INTERVAL ${SpanDays + 1} DAY, -1
         |  FROM orders),
         |byday AS (
         |  SELECT day, CAST(sum(delta) AS BIGINT) AS d
         |  FROM deltas GROUP BY 1)
         |SELECT CAST(day AS DATE) AS day,
         |  CAST(sum(d) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS open_intervals
         |FROM byday""".stripMargin),
  )

  def all: Seq[Q] = Seq(merge, coverage)
}
