package graft.text

import graft.{Q, Tables}
import graft.util.Stable
import org.apache.spark.sql.functions._

/** Jensen–Shannon divergence between two corpus halves' unigram
  * distributions — the SYMMETRIC, always-finite drift number beside
  * t_corpus_drift and a77's binned PSI: JSD compares full vocab
  * distributions (not 10 value bins), is bounded by ln 2, and is the
  * standard "did my training mixture move" gate.
  *
  *   JSD(p,q) = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m),  m = (p+q)/2
  *
  * over add-one-smoothed unigram probabilities (smoothing keeps every
  * term finite, so no zero-branch divergence between engines). Each
  * term is a deterministic IEEE double over exact integer counts;
  * the vocab-sized sum goes through the decimal-stable cast.
  *
  * Shape: ONE token aggregate (vocab-bounded, map-side combinable)
  * with both halves' counts as conditional sums — the corpus is
  * scanned once; totals broadcast back over the vocab rows.
  */
object JensenShannon {

  /** JSD over any (doc_id, text) frame. */
  def jsd(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val tok = docs
        .select((col("doc_id") % 2).as("side"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z]+"), lit(0))).as("tok"))
      val counts = tok.groupBy("tok").agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("c1"))
      val tot = counts.agg(count(lit(1)).as("v"),
        sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      val p = (col("c0") + 1L).cast("double") /
        (col("n0") + col("v")).cast("double")
      val qq = (col("c1") + 1L).cast("double") /
        (col("n1") + col("v")).cast("double")
      val m = (p + qq) / 2.0
      counts.crossJoin(broadcast(tot))
        .agg(max(col("v")).as("vocab"), max(col("n0")).as("n0"),
          max(col("n1")).as("n1"),
          Stable.dsum(
            (p * log(p / m) + qq * log(qq / m)) / 2.0, 12).as("jsum"))
        .select(col("vocab"), col("n0"), col("n1"),
          round(col("jsum"), 6).as("jsd_nats"))
  }

  private val q = Q(
    "t_jensen_shannon",
    (s, d) => jsd(Tables(s, d).documents),
    Some {
      val p = "(CAST(c0 + 1 AS DOUBLE) / CAST(n0 + v AS DOUBLE))"
      val qq = "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + v AS DOUBLE))"
      val m = s"(($p + $qq) / 2.0)"
      s"""WITH tok AS (
         |  SELECT doc_id % 2 AS side,
         |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
         |  FROM documents),
         |counts AS (
         |  SELECT tok,
         |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c0,
         |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS c1
         |  FROM tok GROUP BY 1),
         |tot AS (
         |  SELECT count(*) AS v, CAST(sum(c0) AS BIGINT) AS n0,
         |    CAST(sum(c1) AS BIGINT) AS n1
         |  FROM counts),
         |t AS (
         |  SELECT max(v) AS vocab, max(n0) AS n0, max(n1) AS n1,
         |    ${Stable.dsumSql(
               s"($p * ln($p / $m) + $qq * ln($qq / $m)) / 2.0", 12)}
         |      AS jsum
         |  FROM counts CROSS JOIN tot)
         |SELECT vocab, n0, n1, round(jsum, 6) AS jsd_nats
         |FROM t""".stripMargin
    },
  )

  def queries: Seq[Q] = Seq(q)
}
