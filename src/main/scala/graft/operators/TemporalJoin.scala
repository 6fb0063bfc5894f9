package graft.operators

import graft.{Q, Tables}
import graft.util.Stable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD2 temporal join — facts against a slowly-changing dimension's
  * validity intervals: each fact row joins the ONE dimension version
  * whose `[valid_from, valid_to)` window contains the fact timestamp.
  *
  * `w9_scd2_intervals` builds the versioned dimension; this is the read
  * side. The naive plan is an inequality join (equi on the business key
  * + `ts >= valid_from AND ts < valid_to`), which Spark executes as an
  * equi-join on the key followed by a per-key filter over ALL versions —
  * quadratic in versions-per-key. But because SCD2 intervals are
  * *contiguous and non-overlapping* per key, "the version containing
  * ts" ≡ "the LAST version with valid_from <= ts" — a backward as-of
  * join, which the engine's native sort-merge exec
  * ([[graft.plans.AsOfJoinExec]]) answers in one pass over each sorted
  * key group: O(facts + versions) after the shuffle, no per-fact
  * version scan. Facts before a key's first version fall out (inner
  * temporal join), exactly matching the interval predicate.
  *
  * The version build dedupes same-day rewrites (last `o_orderkey` per
  * (key, day) wins) so `valid_from` is strictly increasing per key —
  * the SCD2 invariant the write side (`s14_upsert_merge`) maintains;
  * without it an empty `[t, t)` interval and an as-of tie could
  * disagree.
  *
  * Scale shape: one shuffle of each side on the business key; the
  * dimension (small side at 100 TB — versions, not facts) streams
  * merge-style against the fact sort order. The oracle is the interval
  * join written plainly, so the as-of rewrite is proven equivalent, not
  * assumed.
  *
  * Reference anchor: the reference joins ads to their enrichment
  * vintage by re-running the whole batch (ojd_daps/flows/enrich);
  * point-in-time correctness against a versioned dimension is how the
  * same read works once history accumulates.
  */
object TemporalJoin {

  /** The versioned dimension: per customer, priority-at-date versions
    * derived from their order history.
    */
  def scd2Versions(orders: DataFrame): DataFrame = {
    val lastPerDay = Window.partitionBy("o_custkey", "o_orderdate")
      .orderBy(col("o_orderkey").desc)
    orders
      .withColumn("rn", row_number().over(lastPerDay))
      .filter(col("rn") === 1)
      .select(col("o_custkey").as("v_custkey"),
        col("o_orderdate").as("valid_from"),
        col("o_orderpriority").as("seg"))
  }

  /** The full composition over any (orders, lineitem) pair. */
  def temporalAgg(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val versions = scd2Versions(orders)
    val facts = lineitem
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("f_custkey"),
        col("l_shipdate").as("f_ts"), col("l_extendedprice"))
    graft.plans.AsOfJoin.backward(facts, versions,
        leftKey = "f_custkey", rightKey = "v_custkey",
        leftTimeCol = "f_ts", rightTimeCol = "valid_from")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"),
        Stable.dsum(col("l_extendedprice")).as("sum_price"))
  }

  private val temporal = Q(
    "j22_scd2_temporal_join",
    (s, d) => {
      val t = Tables(s, d)
      temporalAgg(t.orders, t.lineitem)
    },
    Some(
      s"""WITH v0 AS (
         |  SELECT o_custkey, o_orderdate AS valid_from,
         |    o_orderpriority AS seg,
         |    row_number() OVER (PARTITION BY o_custkey, o_orderdate
         |      ORDER BY o_orderkey DESC) AS rn
         |  FROM orders),
         |v1 AS (SELECT o_custkey, valid_from, seg FROM v0 WHERE rn = 1),
         |v AS (
         |  SELECT o_custkey, valid_from, seg,
         |    lead(valid_from) OVER (PARTITION BY o_custkey
         |      ORDER BY valid_from) AS valid_to
         |  FROM v1),
         |f AS (
         |  SELECT o.o_custkey, l.l_shipdate AS ts,
         |    l.l_extendedprice AS price
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
         |SELECT v.seg, count(*) AS n,
         |  ${Stable.dsumSql("f.price")} AS sum_price
         |FROM f JOIN v ON f.o_custkey = v.o_custkey
         |  AND f.ts >= v.valid_from
         |  AND (v.valid_to IS NULL OR f.ts < v.valid_to)
         |GROUP BY 1""".stripMargin),
  )

  def queries: Seq[Q] = Seq(temporal)
}
