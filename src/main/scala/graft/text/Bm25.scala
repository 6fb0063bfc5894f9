package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 retrieval scoring (Robertson–Spärck Jones, the BM25+idf form
  * used by Lucene): corpus statistics (df, avg length) + per-document
  * term frequencies → ranked results for a query term set.
  *
  * Shape at scale: df and avgdl are two tiny aggregates (broadcast);
  * scoring is a map stage over the corpus; ranking is
  * TakeOrderedAndProject. Nothing quadratic, one scan.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** Top-k docs for `terms`, scored with BM25 over whitespace tokens.
    * Scores are rounded to 4 dp before ranking (with doc_id tiebreak) so
    * results are stable across engines.
    *
    * All corpus statistics (n, avgdl, one df per term) come from a SINGLE
    * aggregation producing a one-row frame that is broadcast into the
    * scoring scan — no eager driver actions, exactly one stats job at
    * execution time regardless of |terms|.
    */
  def topK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val words = split(col("text"), " ")
    // widen a narrow scan before tokenisation: both the stats aggregate
    // and the scoring scan consume `base`, and ReuseExchange shares the
    // one cheap raw-text exchange between them — without it the whole
    // tokenize+score pipeline runs at the file count's parallelism
    // (tools.Probe: a 0.33 s one-task stage at sf0.1, and it grows with
    // the corpus). The widen is conditional on the scan actually being
    // narrow: a real corpus has natural split parallelism and skips the
    // exchange entirely.
    val sc = docs.sparkSession.sparkContext
    val pruned = docs.select(col("doc_id"), col("text")) // prune before the
    // exchange: the widening repartition moves two columns, not the table
    val widened =
      if (pruned.rdd.getNumPartitions < sc.defaultParallelism)
        pruned.repartition(sc.defaultParallelism)
      else pruned
    val base = widened
      .select(col("doc_id"), words.as("w"), size(words).as("dl"))

    val dfCols = terms.indices.map(i =>
      sum(array_contains(col("w"), terms(i)).cast("int")).cast("double")
        .as(s"df$i"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +: dfCols: _*)

    def tf(term: String): Column =
      size(filter(col("w"), x => x === term)).cast("double")

    // bind each term's tf to a column FIRST: the BM25 formula uses tf
    // twice (numerator and saturation denominator) and Catalyst does not
    // CSE the two O(|w|) array scans — binding halves the per-row work
    val scored = base
      .crossJoin(broadcast(stats))
      .select(col("doc_id") +: col("dl") +: col("n") +: col("avgdl") +:
        terms.indices.map(i => col(s"df$i")) ++:
        terms.zipWithIndex.map { case (t, i) => tf(t).as(s"tf$i") }: _*)

    val score = terms.indices.map { i =>
      val tfc = col(s"tf$i")
      val dfc = col(s"df$i")
      val idf = log(lit(1.0) + (col("n") - dfc + 0.5) / (dfc + 0.5))
      idf * tfc * (K1 + 1) /
        (tfc + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl")))
    }.reduce(_ + _)

    // rank via orderBy+limit → TakeOrderedAndProject: each partition
    // keeps a k-sized heap and the driver merges k·p rows, vs. a global
    // Window whose rank must see every scored row. The row_number below
    // runs AFTER the limit, over k rows only — cosmetic, not a sort.
    scored
      .withColumn("score", round(score, 4))
      .filter(col("score") > 0)
      .select(col("doc_id"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score"), asc("doc_id"))))
  }

  /** The DuckDB replay of the per-document BM25 score for `terms`, over
    * the `tok`/`stats` CTEs defined in [[tokStatsCte]] — shared with the
    * hybrid-retrieval oracle so both gates replay the identical formula.
    */
  private[text] def termScoresSql(terms: Seq[String]): String =
    terms.map { t =>
      s"""(ln(1.0 + (stats.n - (SELECT CAST(count(*) AS DOUBLE) FROM tok
         |      WHERE list_contains(w, '$t')) + 0.5) /
         |     ((SELECT CAST(count(*) AS DOUBLE) FROM tok
         |      WHERE list_contains(w, '$t')) + 0.5))
         |  * len(list_filter(w, x -> x = '$t')) * 2.2
         |  / (len(list_filter(w, x -> x = '$t'))
         |     + 1.2 * (1 - 0.75 + 0.75 * dl / stats.avgdl)))""".stripMargin
    }.mkString(" + ")

  private[text] val tokStatsCte: String =
    """tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM tok)""".stripMargin

  private def oracleSql(terms: Seq[String], k: Int): String = {
    val termScores = termScoresSql(terms)
    s"""WITH $tokStatsCte
       |SELECT doc_id, score, rank FROM (
       |  SELECT doc_id, round($termScores, 4) AS score,
       |    CAST(row_number() OVER (ORDER BY round($termScores, 4) DESC,
       |      doc_id ASC) AS INT) AS rank
       |  FROM tok CROSS JOIN stats
       |  WHERE round($termScores, 4) > 0)
       |WHERE rank <= $k""".stripMargin
  }

  private val q = Q(
    "t_bm25_topk",
    (s, d) => topK(Tables(s, d).documents, Seq("spark", "join"), 20),
    Some(oracleSql(Seq("spark", "join"), 20)),
  )

  def queries: Seq[Q] = Seq(q)
}
