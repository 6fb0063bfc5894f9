package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Good–Turing frequency re-estimation table (Gale & Sampson's
  * simple GT setup) — the smoothing step an n-gram LM pipeline runs
  * between raw counting (t_unigram_logprob) and Kneser–Ney
  * (t_kneserney_bigrams): for every observed frequency r, the
  * count-of-counts N_r and the adjusted frequency
  *
  *   r* = (r+1)·N_{r+1}/N_r        (0 when N_{r+1} is absent)
  *
  * plus the GT probability mass p_gt = r&#42;/N. All quantities are
  * exact BIGINTs until the one r* divide; the N_{r+1} lookup is a
  * lead window over the count-of-counts table ordered by r, guarded
  * so a GAP in observed frequencies yields 0, not the next stratum.
  *
  * Shape: the (token) hash agg, then a |distinct r| agg — the output
  * and every post-agg step are bounded by the number of DISTINCT
  * frequencies (O(√vocab) by Heaps/Zipf), not by corpus size; N
  * comes from the same small table (Σ r·N_r), so the corpus is
  * touched exactly once.
  */
object GoodTuring {

  /** GT table from a documents frame (text column). */
  def table(documents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    {
      val counts = documents
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("r"))
        .groupBy("r").agg(count(lit(1)).as("n_r"))
        // |distinct r| rows; the cut stops tot+lead re-running the corpus agg
        .localCheckpoint(false)
      val w = Window.orderBy("r")
      val tot = counts.agg(sum(col("r") * col("n_r")).as("nn"))
      counts
        .select(col("r"), col("n_r"),
          lead(col("r"), 1).over(w).as("r2"),
          lead(col("n_r"), 1).over(w).as("nr2"))
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          round(when(col("r2") === col("r") + 1,
            (col("r") + 1).cast("double") * col("nr2").cast("double") /
              col("n_r").cast("double")).otherwise(0.0), 6).as("r_star"),
          round(when(col("r2") === col("r") + 1,
            (col("r") + 1).cast("double") * col("nr2").cast("double") /
              col("n_r").cast("double")).otherwise(0.0) /
            col("nn").cast("double"), 12).as("p_gt"))
    }
  }

  private val q = Q(
    "t_good_turing",
    (s, d) => table(Tables(s, d).documents),
    Some(
      """WITH counts AS (
        |  SELECT tok, count(*) AS r
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1),
        |coc AS (SELECT r, count(*) AS n_r FROM counts GROUP BY 1),
        |tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS nn FROM coc),
        |led AS (
        |  SELECT r, n_r, lead(r, 1) OVER (ORDER BY r) AS r2,
        |    lead(n_r, 1) OVER (ORDER BY r) AS nr2
        |  FROM coc)
        |SELECT r, n_r,
        |  round(CASE WHEN r2 = r + 1
        |    THEN CAST(r + 1 AS DOUBLE) * CAST(nr2 AS DOUBLE) / CAST(n_r AS DOUBLE)
        |    ELSE 0.0 END, 6) AS r_star,
        |  round(CASE WHEN r2 = r + 1
        |    THEN CAST(r + 1 AS DOUBLE) * CAST(nr2 AS DOUBLE) / CAST(n_r AS DOUBLE)
        |    ELSE 0.0 END / CAST(nn AS DOUBLE), 12) AS p_gt
        |FROM led CROSS JOIN tot""".stripMargin),
  )

  def queries: Seq[Q] = Seq(q)
}
