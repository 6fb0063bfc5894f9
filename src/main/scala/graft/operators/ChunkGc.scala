package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-addressed chunk GC — the vacuum planner for a versioned
  * store. A table-format history (s9 versioned dumps, s16 diffs, s23
  * compaction) shares unchanged data files BETWEEN versions by content
  * address: a month-partition whose contents didn't change between v1
  * and v2 is ONE chunk referenced twice. Expiring old versions is then
  * reachability, not deletion-by-version: a chunk dies only when NO
  * retained version references it. Deleting v1's file list directly —
  * the naive vacuum — corrupts every newer version that still shares
  * those chunks; this operator is the safe plan.
  *
  * Chunks here are month-partitions; the content address is a multiset
  * signature (row count + key sum + key square-sum, exact integers, the
  * square-sum in 38 digits — collision-safe far beyond test scale; a
  * production store uses the file checksum it already has). Three versions are derived
  * deterministically (v2 drops `%997` keys from v1, v3 drops `%883`
  * from v2 — sparse edits, so most months ARE shared); retention keeps
  * v2+v3, and the plan is one anti join: v1's chunks minus the retained
  * chunk set, with reclaimable rows per chunk. Everything is
  * aggregates + one anti join on the chunk address — manifest-scale,
  * never data-scale.
  */
object ChunkGc {

  private def chunks(orders: DataFrame, version: String): DataFrame =
    orders.groupBy((year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).cast("long").as("month"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("ksum"),
        // in 38 digits: a month of a few hundred orders overflows a long
        // square-sum once keys pass ~2e8
        sum(col("o_orderkey").cast("decimal(38,0)") * col("o_orderkey"))
          .as("k2sum"))
      .select(lit(version).as("version"), col("month"), col("n_rows"),
        concat_ws(":", col("month"), col("n_rows"), col("ksum"),
          col("k2sum")).as("chunk_id"))

  private val gc = Q(
    "s29_chunk_gc_plan",
    (s, d) => {
      val v1 = Tables(s, d).orders
      val v2 = v1.filter(col("o_orderkey") % 997 =!= 0)
      val v3 = v2.filter(col("o_orderkey") % 883 =!= 0)
      val retained = chunks(v2, "v2").unionByName(chunks(v3, "v3"))
        .select("chunk_id").distinct()
      chunks(v1, "v1")
        .join(retained, Seq("chunk_id"), "left_anti")
        .select(col("month"), col("chunk_id"), col("n_rows"))
    },
    Some(
      """WITH c1 AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |      AS BIGINT) AS month,
        |    count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS ksum,
        |    sum(CAST(o_orderkey AS HUGEINT) * o_orderkey) AS k2sum
        |  FROM orders GROUP BY 1),
        |c2 AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |      AS BIGINT) AS month,
        |    count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS ksum,
        |    sum(CAST(o_orderkey AS HUGEINT) * o_orderkey) AS k2sum
        |  FROM orders WHERE o_orderkey % 997 <> 0 GROUP BY 1),
        |c3 AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |      AS BIGINT) AS month,
        |    count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS ksum,
        |    sum(CAST(o_orderkey AS HUGEINT) * o_orderkey) AS k2sum
        |  FROM orders WHERE o_orderkey % 997 <> 0
        |    AND o_orderkey % 883 <> 0 GROUP BY 1),
        |addr AS (
        |  SELECT month, n_rows,
        |    month || ':' || n_rows || ':' || ksum || ':' || k2sum
        |      AS chunk_id
        |  FROM c1),
        |retained AS (
        |  SELECT DISTINCT month || ':' || n_rows || ':' || ksum || ':'
        |    || k2sum AS chunk_id FROM c2
        |  UNION
        |  SELECT DISTINCT month || ':' || n_rows || ':' || ksum || ':'
        |    || k2sum FROM c3)
        |SELECT a.month, a.chunk_id, a.n_rows
        |FROM addr a LEFT JOIN retained r ON a.chunk_id = r.chunk_id
        |WHERE r.chunk_id IS NULL""".stripMargin),
  )

  def queries: Seq[Q] = Seq(gc)
}
