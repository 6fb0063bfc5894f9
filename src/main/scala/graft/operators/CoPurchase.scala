package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Bipartite co-purchase projection — the market-basket GRAPH beside
  * a32's per-pair lift score: project the order–part bipartite graph
  * onto parts, edge weight = number of orders containing both, and
  * read off the strongest co-purchase edges. This is the
  * collaborative-filtering item graph (and the input a kNN-item
  * recommender would consume).
  *
  * Scale discipline: the pair join is blocked BY ORDER — each order
  * contributes C(|basket|, 2) pairs and TPC-H baskets are ≤7 items,
  * so the fan-out is Σ|basket|², linear in practice and bounded by
  * the basket cap, never |parts|². The top-20 readout is a
  * TakeOrderedAndProject with a full (weight, src, dst) tie-break so
  * the edge list is deterministic.
  */
object CoPurchase {

  private val TopN = 20

  /** Projection over any lineitem-shaped frame.
    *
    * Pair generation as per-order array combinations, NOT a self-join
    * (r08; the LinkPrediction.predict pattern, guide §2.4): one
    * exchange on the order key replaces the self-join's two side
    * exchanges + merge, the fanout is the identical C(|basket|,2) per
    * order (collect_set ≙ the former distinct, sorted ascending so
    * strict a < b reproduces the `pk_a < pk_b` predicate exactly), and
    * the repartition pins parallelism at the fanout boundary (AQE
    * sizes the next stage by the tiny agg bytes — SCALING.md "Runtime
    * planning"). Measured 2.05 → 1.34 s warm at sf0.1 (same-protocol
    * subset bench), identical output.
    */
  def project(lineitem: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pairs = lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok")
      .agg(sort_array(collect_set(col("pk"))).as("ps"))
      .repartition(lineitem.sparkSession.sparkContext.defaultParallelism)
      .select(explode(expr(
        """flatten(transform(ps, (p, i) ->
          |  transform(slice(ps, i + 2, size(ps)),
          |            q -> struct(p AS src, q AS dst))))""".stripMargin))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
    pairs.groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .orderBy(desc("w"), asc("src"), asc("dst"))
      .limit(TopN)
  }

  private val q = Q(
    "j28_copurchase_projection",
    (s, d) => project(Tables(s, d).lineitem),
    Some(
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (
         |  SELECT a.pk AS src, b.pk AS dst
         |  FROM items a JOIN items b
         |    ON a.ok = b.ok AND a.pk < b.pk)
         |SELECT src, dst, count(*) AS w
         |FROM pairs GROUP BY 1, 2
         |ORDER BY w DESC, src, dst LIMIT $TopN""".stripMargin),
  )

  def all: Seq[Q] = Seq(q)
}
