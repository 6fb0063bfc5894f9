package graft.dedup

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-respecting (earliest-arrival) reachability — BFS where a path
  * is valid only if contact times never decrease (Holme & Saramäki,
  * temporal networks): the contact-tracing / influence-window query
  * a static reachability silently over-counts (an edge that fired
  * BEFORE you arrived cannot carry you). The recurrence is
  * arr(v) = min over contacts (u→v, t) with t ≥ arr(u) of t — bounded
  * [[Rounds]] relaxations, integer epoch-day arithmetic, the
  * queue-optimised BSP loop of [[Sssp]] (improved nodes only; a
  * LOWER arrival can only ENABLE more onward contacts, so the
  * frontier rule stays exact).
  *
  * Contact graph: customer↔supplier order events (supplier ids offset
  * into their own key space), contact time = order epoch day. Scale:
  * one fact join builds the distinct contact list; each round is one
  * frontier⋈contacts join + min-agg with a lineage cut.
  */
object TemporalReach {

  val Rounds = 4
  val MaxSeedKey = 3L
  val SupOffset = 10000000L

  /** @param contacts (src, dst, t) directed timed edges.
    * @return (id, arr) earliest arrival for reached nodes; seeds arr 0.
    */
  def run(contacts: DataFrame, nodes: DataFrame, seeds: DataFrame)
      : DataFrame = {
    // same upfront src-partitioning as Sssp.run (§2.1): one shuffle at
    // build, every round's frontier join reuses it via the checkpointed
    // LogicalRDD's preserved partitioning instead of re-shuffling the
    // full contact list per round
    val e = contacts
      .repartition(contacts.sparkSession.sparkContext.defaultParallelism,
        col("src"))
      .localCheckpoint(true)
    var arr = nodes
      .join(seeds.withColumn("a0", lit(0L)), Seq("id"), "left")
      .select(col("id"), col("a0").as("arr"))
    var frontier = arr.filter(col("arr").isNotNull)
    for (_ <- 1 to Rounds) {
      val relaxed = e
        .join(frontier.withColumnRenamed("id", "src"), "src")
        .filter(col("t") >= col("arr"))
        .select(col("dst").as("id"), col("t").as("cand"))
        .groupBy("id").agg(min(col("cand")).as("cand"))
      val joined = arr.join(relaxed, Seq("id"), "left")
        .select(col("id"),
          when(col("arr").isNull, col("cand"))
            .when(col("cand").isNull, col("arr"))
            .when(col("cand") < col("arr"), col("cand"))
            .otherwise(col("arr")).as("arr"),
          (col("cand").isNotNull &&
            (col("arr").isNull || col("cand") < col("arr"))).as("imp"))
        .localCheckpoint(false)
      arr = joined.select(col("id"), col("arr"))
      frontier = joined.filter(col("imp")).select(col("id"), col("arr"))
    }
    arr.filter(col("arr").isNotNull)
  }

  /** Customer–supplier contacts; supplier ids are offset by
    * [[SupOffset]] to stay out of the customer key space.
    */
  def contacts(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val c = orders
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"),
        (col("l_suppkey") + SupOffset).as("sup"),
        datediff(to_date(col("o_orderdate")),
          to_date(lit("1992-01-01"))).cast("long").as("t"))
      .distinct()
      // materialise the distinct ONCE before symmetrising: the union's
      // two branches are alias-distinct, so canonical exchange reuse
      // does NOT deduplicate them and each branch re-ran the full
      // fact-join + distinct shuffle (×10 probe: two identical 1 GB-scan
      // / 151 MB-shuffle stages per execution). The r08 explode-based
      // one-pass rewrite added per-row array overhead and lost; cutting
      // the lineage at the small distinct result keeps the cheap union.
      // LAZY (the d30 lesson): an eager cut here is a separate
      // materialisation job before the caller's first action — the lazy
      // RDD still materialises exactly once and is shared by both
      // branches.
      .localCheckpoint(false)
    c.select(col("cust").as("src"), col("sup").as("dst"), col("t"))
      .union(c.select(col("sup").as("src"), col("cust").as("dst"),
        col("t")))
  }

  private def oracleSql: String = {
    val rounds = (1 to Rounds).map { k =>
      s"""a$k AS MATERIALIZED (
         |  SELECT a.id,
         |    CASE WHEN a.arr IS NULL THEN r.cand
         |         WHEN r.cand IS NULL THEN a.arr
         |         WHEN r.cand < a.arr THEN r.cand
         |         ELSE a.arr END AS arr
         |  FROM a${k - 1} a LEFT JOIN (
         |    SELECT e.dst AS id, CAST(min(e.t) AS BIGINT) AS cand
         |    FROM e JOIN a${k - 1} p
         |      ON e.src = p.id AND p.arr IS NOT NULL AND e.t >= p.arr
         |    GROUP BY 1) r ON a.id = r.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (
       |  SELECT DISTINCT o_custkey AS cust,
       |    l_suppkey + $SupOffset AS sup,
       |    CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
       |      AS t
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS MATERIALIZED (
       |  SELECT cust AS src, sup AS dst, t FROM c
       |  UNION ALL SELECT sup, cust, t FROM c),
       |a0 AS (
       |  SELECT id, CASE WHEN id <= $MaxSeedKey
       |    THEN CAST(0 AS BIGINT) END AS arr
       |  FROM (SELECT c_custkey AS id FROM customer
       |        UNION ALL
       |        SELECT s_suppkey + $SupOffset FROM supplier)),
       |$rounds
       |SELECT id, CAST(arr AS BIGINT) AS arr
       |FROM a$Rounds WHERE arr IS NOT NULL""".stripMargin
  }

  private val q = Q(
    "d32_temporal_reachability",
    (s, d) => {
      val t = Tables(s, d)
      val nodes = t.customer.select(col("c_custkey").as("id"))
        .union(t.supplier.select((col("s_suppkey") + SupOffset).as("id")))
      run(contacts(t.orders, t.lineitem), nodes,
        nodes.filter(col("id") <= MaxSeedKey))
    },
    Some(oracleSql),
  )

  def queries: Seq[Q] = Seq(q)
}
