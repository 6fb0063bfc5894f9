package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rocchio pseudo-relevance feedback (query expansion) — the classic
  * IR loop t_bm25_topk feeds: run the original query, treat its top
  * R results as pseudo-relevant, mine their most DISCRIMINATIVE
  * terms (Σtf within R × ln(n/df) over the corpus), append the top E
  * to the query, re-rank. Recall rises because documents using the
  * expansion vocabulary — but not the literal query words — now
  * score.
  *
  * Unlike t_bm25's static-term array scans, scoring here is the
  * dynamic INVERTED-INDEX shape (terms are data, discovered at run
  * time): tokens explode once, tf/df are hash aggs, the query terms
  * broadcast into the (doc, term) stream, per-doc BM25 sums are one
  * more hash agg. Everything per-stage is the t_tfidf/t_bm25
  * discipline; scores round to 4 dp BEFORE ranking with doc_id
  * tie-break so both engines order identically.
  *
  * Shape: one tokenize pass (tf + df + stats all hash aggs off it),
  * two k-row rank steps (TakeOrderedAndProject), one |R|-doc
  * broadcast for the mining step. Corpus touched once.
  */
object Rocchio {

  val Q0 = Seq("spark", "join")
  val R = 10 // pseudo-relevant prefix
  val E = 3  // expansion terms
  val K = 20 // final result size

  private def bm25(tf: DataFrame, df: DataFrame, docs: DataFrame,
      stats: DataFrame, terms: DataFrame, k: Int): DataFrame = {
    val scored = tf.join(broadcast(terms), "tok")
      .join(broadcast(df.join(broadcast(terms), "tok")), "tok")
      .join(docs.select("doc_id", "dl"), "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * (Bm25.K1 + 1) /
          (col("tf") + lit(Bm25.K1) *
            (lit(1 - Bm25.B) + lit(Bm25.B) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy("doc_id")
      // decimal-stable: per-doc contributions arrive in partition order
      .agg(round(graft.util.Stable.dsum(col("contrib"), 9), 4).as("score"))
      .filter(col("score") > 0)
    scored.orderBy(desc("score"), asc("doc_id")).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("score"), asc("doc_id")))
          .cast("int"))
  }

  /** Full two-round PRF over a documents frame. */
  def prf(s: org.apache.spark.sql.SparkSession,
      documents: DataFrame): DataFrame = {
    {
      import s.implicits._
      val words = split(col("text"), " ")
      val docs = documents
        .select(col("doc_id"), words.as("w"),
          size(words).cast("double").as("dl"))
        .localCheckpoint(false)
      val stats = docs.agg(count(lit(1)).cast("double").as("n"),
        avg(col("dl")).as("avgdl"))
      val toks = docs.select(col("doc_id"), explode(col("w")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok")
        .agg(count(lit(1)).cast("double").as("tf"))
        .localCheckpoint(false)
      val df = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
        .localCheckpoint(false)
      val q0 = Q0.toDF("tok")
      val round1 = bm25(tf, df, docs, stats, q0, R)
      // mine expansion terms from the pseudo-relevant prefix
      val expansion = tf
        .join(broadcast(round1.select("doc_id")), "doc_id")
        .groupBy("tok").agg(sum(col("tf")).as("rtf"))
        .filter(!col("tok").isin(Q0: _*))
        .join(broadcast(df), "tok")
        .crossJoin(broadcast(stats))
        .select(col("tok"),
          round(col("rtf") * log(col("n") / col("df")), 4).as("wgt"))
        .orderBy(desc("wgt"), asc("tok")).limit(E)
        .select("tok")
      val expanded = q0.unionAll(expansion)
      bm25(tf, df, docs, stats, expanded, K)
        .select("doc_id", "score", "rank")
    }
  }

  private val q = Q(
    "t_rocchio_prf",
    (s, d) => prf(s, Tables(s, d).documents),
    Some {
      val q0Rows = Q0.map(t => s"('$t')").mkString(", ")
      val q0NotIn = Q0.map(t => s"'$t'").mkString(", ")
      s"""WITH ${Bm25.tokStatsCte},
         |toks AS (SELECT doc_id, unnest(w) AS tok FROM tok),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
         |       FROM toks GROUP BY 1, 2),
         |df AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df
         |       FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, dl FROM tok),
         |q0(tok) AS (VALUES $q0Rows),
         |r1s AS (
         |  SELECT t.doc_id, round(CAST(sum(CAST(
         |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * 2.2
         |      / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
         |    AS DECIMAL(30,9))) AS DOUBLE), 4)
         |    AS score
         |  FROM tf t JOIN q0 USING (tok) JOIN df d USING (tok)
         |    JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN stats s
         |  GROUP BY 1 HAVING score > 0),
         |r1 AS (
         |  SELECT doc_id FROM r1s
         |  ORDER BY score DESC, doc_id ASC LIMIT $R),
         |exp0 AS (
         |  SELECT t.tok, round(sum(t.tf) * ln(s.n / d.df), 4) AS wgt
         |  FROM tf t JOIN r1 USING (doc_id) JOIN df d USING (tok)
         |  CROSS JOIN stats s
         |  WHERE t.tok NOT IN ($q0NotIn)
         |  GROUP BY t.tok, s.n, d.df),
         |expn AS (SELECT tok FROM exp0 ORDER BY wgt DESC, tok ASC LIMIT $E),
         |q1 AS (SELECT tok FROM q0 UNION ALL SELECT tok FROM expn),
         |r2s AS (
         |  SELECT t.doc_id, round(CAST(sum(CAST(
         |    ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5)) * t.tf * 2.2
         |      / (t.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
         |    AS DECIMAL(30,9))) AS DOUBLE), 4)
         |    AS score
         |  FROM tf t JOIN q1 USING (tok) JOIN df d USING (tok)
         |    JOIN dl ON t.doc_id = dl.doc_id CROSS JOIN stats s
         |  GROUP BY 1 HAVING score > 0)
         |SELECT doc_id, score,
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         |    AS rank
         |FROM r2s
         |ORDER BY score DESC, doc_id ASC LIMIT $K""".stripMargin
    },
  )

  def queries: Seq[Q] = Seq(q)
}
