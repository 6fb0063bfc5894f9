package graft.similarity

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CSLS re-ranking (cross-domain similarity local scaling, Conneau et
  * al. 2018) — the hubness correction every embedding-alignment /
  * retrieval stack applies on top of raw cosine: hub vectors that are
  * near EVERYONE win too many raw-cosine rankings, so each side's
  * mean top-k similarity is subtracted,
  *
  *   csls(q, y) = 2·cos(q, y) − r(q) − r(y)
  *
  * with r(·) the mean cosine of the vector's k nearest neighbours.
  * r(y) over the corpus is the expensive side — here exact (the
  * oracle-ceiling pattern: sample it at fleet scale, or reuse the
  * kNN graph d8 already maintains); cosines round to 6 dp before
  * ranking, ties by neighbor id, so both engines order identically.
  *
  * Shape: the r(y) pass is one blocked self-join feeding a bounded
  * per-vector top-k window (the kNN-graph shape); scoring is queries
  * × corpus with both penalty columns joined in; final rank is a
  * k-row window per query.
  */
object Csls {

  val K = 10   // neighbourhood size for the local scaling terms
  val TopK = 5 // returned neighbours per query

  private val q = Q(
    "sim_csls_rerank",
    (s, d) => {
      val e = SimilarityQueries.withNorm(Tables(s, d).embeddings)
      // 4 dp like ann_brute: list_cosine_similarity and the zip_with
      // fold differ in low bits; the round is the parity contract
      val pairCos = round(
        graft.functions.VectorOps.dot(col("a.embedding"),
          col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 4)
      val allPairs = e.alias("a").join(e.alias("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
          pairCos.as("cos"))
        .localCheckpoint(false)
      val wTop = Window.partitionBy("x").orderBy(desc("cos"), asc("y"))
      // lazy lineage cut (the sampled variant already had it): r feeds
      // BOTH penalty joins (rq row-side, ry broadcast-side) and the two
      // branches are alias-distinct, so without the cut the n²-row
      // window + agg ran twice (opt guide §2.4 share-one-exchange)
      val r = allPairs
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= K)
        .groupBy(col("x"))
        .agg((graft.util.Stable.dsum(col("cos"), 4) /
          lit(K.toDouble)).as("r"))
        .localCheckpoint(false)
      val scored = allPairs.filter(col("x") < 10)
        .join(r.select(col("x"), col("r").as("rq")), "x")
        .join(broadcast(r.select(col("x").as("y"), col("r").as("ry"))), "y")
        .select(col("x").as("query_id"), col("y").as("neighbor_id"),
          round(lit(2.0) * col("cos") - col("rq") - col("ry"), 6)
            .as("csls"))
      val wRank = Window.partitionBy("query_id")
        .orderBy(desc("csls"), asc("neighbor_id"))
      scored.withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= TopK)
    },
    Some(
      s"""WITH en AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS x, b.vec_id AS y,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cos
         |  FROM en a JOIN en b ON a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT x, CAST(sum(CAST(cos AS DECIMAL(30,4))) AS DOUBLE) / CAST($K AS DOUBLE) AS r FROM (
         |    SELECT x, cos,
         |      row_number() OVER (PARTITION BY x
         |        ORDER BY cos DESC, y ASC) AS rn
         |    FROM pairs)
         |  WHERE rn <= $K GROUP BY 1),
         |scored AS (
         |  SELECT p.x AS query_id, p.y AS neighbor_id,
         |    round(2.0 * p.cos - rq.r - ry.r, 6) AS csls
         |  FROM pairs p
         |  JOIN r rq ON p.x = rq.x
         |  JOIN r ry ON p.y = ry.x
         |  WHERE p.x < 10)
         |SELECT query_id, neighbor_id, csls, CAST(rn AS INT) AS rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY csls DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn <= $TopK""".stripMargin),
  )

  /** Corpus-sampling rate for the fleet-scale r(·): 1 in SampleMod
    * corpus vectors serve as penalty candidates.
    */
  val SampleMod = 2

  /** The FLEET-SCALE form of the exact query above: the r(·) penalty is
    * estimated from a deterministic 1-in-[[SampleMod]] corpus SAMPLE
    * (the "sample ... at fleet scale" path the exact query's scaladoc
    * names), so the expensive all-pairs pass shrinks by the sample rate
    * while SCORING stays exact — CSLS only shifts by the r-estimate
    * error, which cancels to first order because both r(q) and r(y) use
    * the same estimator. The sample key is `vec_id % SampleMod` so the
    * DuckDB oracle replays it exactly (production would hash the id —
    * same plan). Label blocking was MEASURED and rejected for this
    * variant: the fixture's labels are independent of cosine geometry
    * (7% of true top-1 neighbours share a label), so a label-blocked
    * r(·) breaks the correction outright, while the 1-in-2 sample keeps
    * 9/10 top-1 agreement with the exact form (CslsSpec gates ≥ 0.8).
    */
  /** The sampled re-ranking on an arbitrary embeddings frame (the
    * registered query below over `Tables.embeddings`).
    */
  def rerankSampled(embeddings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val e = SimilarityQueries.withNorm(embeddings)
      val pairCos = round(
        graft.functions.VectorOps.dot(col("a.embedding"),
          col("b.embedding")) / (col("a.nrm") * col("b.nrm")), 4)
      // the sample is BELOW the join — the r pass fans out n×(n/mod),
      // not n×n; scoring is the small query set × streamed corpus
      val sampled = e.filter(col("vec_id") % SampleMod === 0)
      val rPairs = e.alias("a").join(sampled.alias("b"),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
          pairCos.as("cos"))
      val wTop = Window.partitionBy("x").orderBy(desc("cos"), asc("y"))
      val r = rPairs
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= K)
        .groupBy(col("x"))
        .agg((graft.util.Stable.dsum(col("cos"), 4) /
          lit(K.toDouble)).as("r"))
        .localCheckpoint(false)
      val scored = e.filter(col("vec_id") < 10).alias("a")
        .join(e.alias("b"), col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
          pairCos.as("cos"))
        .join(r.select(col("x"), col("r").as("rq")), "x")
        .join(broadcast(r.select(col("x").as("y"), col("r").as("ry"))), "y")
        .select(col("x").as("query_id"), col("y").as("neighbor_id"),
          round(lit(2.0) * col("cos") - col("rq") - col("ry"), 6)
            .as("csls"))
      val wRank = Window.partitionBy("query_id")
        .orderBy(desc("csls"), asc("neighbor_id"))
      scored.withColumn("rn", row_number().over(wRank))
        .filter(col("rn") <= TopK)
  }

  private val qSampled = Q(
    "sim_csls_rerank_sampled",
    (s, d) => rerankSampled(Tables(s, d).embeddings),
    Some(
      s"""WITH en AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS x, b.vec_id AS y,
         |    round(list_cosine_similarity(a.v, b.v), 4) AS cos
         |  FROM en a JOIN en b ON a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT x, CAST(sum(CAST(cos AS DECIMAL(30,4))) AS DOUBLE) / CAST($K AS DOUBLE) AS r FROM (
         |    SELECT x, cos,
         |      row_number() OVER (PARTITION BY x
         |        ORDER BY cos DESC, y ASC) AS rn
         |    FROM pairs WHERE y % $SampleMod = 0)
         |  WHERE rn <= $K GROUP BY 1),
         |scored AS (
         |  SELECT p.x AS query_id, p.y AS neighbor_id,
         |    round(2.0 * p.cos - rq.r - ry.r, 6) AS csls
         |  FROM pairs p
         |  JOIN r rq ON p.x = rq.x
         |  JOIN r ry ON p.y = ry.x
         |  WHERE p.x < 10)
         |SELECT query_id, neighbor_id, csls, CAST(rn AS INT) AS rn FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY csls DESC, neighbor_id ASC) AS rn
         |  FROM scored)
         |WHERE rn <= $TopK""".stripMargin),
  )

  def queries: Seq[Q] = Seq(q, qSampled)
}
