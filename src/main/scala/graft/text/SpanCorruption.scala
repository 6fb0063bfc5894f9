package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T5/UL2-style span corruption — the objective-preparation step of
  * a denoising-LM training pipeline: deterministic ~1/8 of token
  * positions seed a 3-token mask span, each maximal masked run is
  * replaced by one `<extra_id_k>` sentinel in the input, and the
  * target spells the dropped spans behind their sentinels.
  *
  * Everything is derived from md5(doc_id:pos) — a pure, replayable
  * coin both engines evaluate identically, so the "random" spans are
  * PORTABLE (retries, repartitions and the DuckDB oracle all mask
  * the same tokens; the t_train_test_split discipline). The masked
  * flag recomputes the coin at p, p−1, p−2 instead of carrying
  * window lags, so the whole derivation is map-only; the single
  * per-doc window is the cumulative run-start count that numbers the
  * sentinels, and the assembly is the e_process_variants sorted
  * in-array concat (collect order can't leak).
  *
  * Shape: one explode + one per-doc window + one doc-keyed assembly
  * aggregate — linear, shuffles carry (doc_id, pos, short piece).
  */
object SpanCorruption {

  /** md5-coin: position p (1-based) seeds a span iff the first hex
    * digit of md5("doc:p") is 0 or 1 (p = 2/16 = 1/8).
    */
  private def seed(p: org.apache.spark.sql.Column) =
    (p >= 1) && substring(
      md5(concat(col("doc_id").cast("string"), lit(":"),
        p.cast("string"))), 1, 1).isin("0", "1")

  /** The full corruption over any (doc_id, text) frame. */
  def corrupt(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      val tok = base
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), size(col("w")))).as("p"))
        .select(col("doc_id"), col("p"),
          element_at(col("w"), col("p")).as("tok"),
          (seed(col("p")) || seed(col("p") - 1) || seed(col("p") - 2))
            .as("masked"),
          // run start: masked here, not masked at p−1
          (seed(col("p")) && !(seed(col("p") - 1) ||
            seed(col("p") - 2) || seed(col("p") - 3))).as("run_start"))
      val k = sum(col("run_start").cast("long")).over(
        Window.partitionBy("doc_id").orderBy("p")
          .rowsBetween(Window.unboundedPreceding, 0))
      val pieces = tok.withColumn("k", k)
        .select(col("doc_id"), col("p"), col("masked"),
          when(!col("masked"), col("tok"))
            .when(col("run_start"),
              concat(lit("<extra_id_"), col("k") - 1, lit(">")))
            .otherwise(lit("")).as("pin"),
          when(col("masked") && col("run_start"),
            concat(lit("<extra_id_"), col("k") - 1, lit("> "),
              col("tok")))
            .when(col("masked"), col("tok"))
            .otherwise(lit("")).as("ptg"),
          col("k"))
      def assemble(c: String) = array_join(
        filter(transform(array_sort(collect_list(
          struct(col("p"), col(c).as("piece")))),
          x => x.getField("piece")), x => x =!= ""), " ")
      pieces.groupBy("doc_id").agg(
        assemble("pin").as("masked_input"),
        assemble("ptg").as("target"),
        max(col("k")).as("n_spans"))
  }

  private val q = Q(
    "t_span_corruption",
    (s, d) => corrupt(Tables(s, d).documents),
    Some(
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (
        |  SELECT doc_id, i.p AS p, w[i.p] AS tok,
        |    (substring(md5(CAST(doc_id AS VARCHAR) || ':'
        |        || CAST(i.p AS VARCHAR)), 1, 1) IN ('0','1')
        |     OR (i.p - 1 >= 1 AND substring(md5(CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(i.p - 1 AS VARCHAR)), 1, 1) IN ('0','1'))
        |     OR (i.p - 2 >= 1 AND substring(md5(CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(i.p - 2 AS VARCHAR)), 1, 1) IN ('0','1')))
        |      AS masked,
        |    (substring(md5(CAST(doc_id AS VARCHAR) || ':'
        |        || CAST(i.p AS VARCHAR)), 1, 1) IN ('0','1')
        |     AND NOT (
        |       (i.p - 1 >= 1 AND substring(md5(CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(i.p - 1 AS VARCHAR)), 1, 1) IN ('0','1'))
        |       OR (i.p - 2 >= 1 AND substring(md5(CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(i.p - 2 AS VARCHAR)), 1, 1) IN ('0','1'))
        |       OR (i.p - 3 >= 1 AND substring(md5(CAST(doc_id AS VARCHAR)
        |        || ':' || CAST(i.p - 3 AS VARCHAR)), 1, 1) IN ('0','1'))))
        |      AS run_start
        |  FROM base, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p) i),
        |pieces AS (
        |  SELECT doc_id, p, masked,
        |    CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS k,
        |    run_start, tok
        |  FROM tok),
        |lab AS (
        |  SELECT doc_id, p,
        |    CASE WHEN NOT masked THEN tok
        |         WHEN run_start THEN '<extra_id_' || (k - 1) || '>'
        |         ELSE '' END AS pin,
        |    CASE WHEN masked AND run_start
        |           THEN '<extra_id_' || (k - 1) || '> ' || tok
        |         WHEN masked THEN tok
        |         ELSE '' END AS ptg,
        |    k
        |  FROM pieces)
        |SELECT doc_id,
        |  coalesce(string_agg(pin, ' ' ORDER BY p)
        |    FILTER (WHERE pin <> ''), '') AS masked_input,
        |  coalesce(string_agg(ptg, ' ' ORDER BY p)
        |    FILTER (WHERE ptg <> ''), '') AS target,
        |  CAST(max(k) AS BIGINT) AS n_spans
        |FROM lab GROUP BY 1""".stripMargin),
  )

  def queries: Seq[Q] = Seq(q)
}
