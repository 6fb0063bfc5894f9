package graft.text

import graft.{Q, Tables}
import graft.functions.RollingHash
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface: quality
  * scoring, token counting, fingerprinting, language-ID, phrase matching.
  * All scale as pure map or map+single-agg stages.
  */
object TextQueries {

  private[graft] val stopwords = Seq("a", "the", "of", "and")

  private val quality = Q(
    "t_quality_score",
    (s, d) => {
      val words = split(col("text"), " ")
      val nWords = size(words)
      val stopN = size(filter(words, w => w.isInCollection(stopwords)))
      val alphaN = regexp_count(col("text"), lit("[a-z]"))
      Tables(s, d).documents
        .select(col("doc_id"),
          nWords.as("n_words"),
          ((col("n_chars") - nWords + 1).cast("double") / nWords)
            .as("mean_word_len"),
          (stopN.cast("double") / nWords).as("stopword_ratio"),
          (alphaN.cast("double") / col("n_chars")).as("alpha_ratio"))
    },
    Some(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
        |  CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')) AS mean_word_len,
        |  CAST(len(list_filter(string_split(text, ' '),
        |        w -> w IN ('a','the','of','and'))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stopword_ratio,
        |  CAST(len(regexp_extract_all(text, '[a-z]')) AS DOUBLE) / n_chars
        |    AS alpha_ratio
        |FROM documents""".stripMargin),
  )

  private val tokens = Q(
    "t_token_count",
    (s, d) =>
      Tables(s, d).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
            .as("bpe_ish_tokens")),
    Some(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
        |    AS bpe_ish_tokens
        |FROM documents""".stripMargin),
  )

  private val fpMd5 = Q(
    "t_fingerprint_md5",
    (s, d) =>
      // canonical-form content fingerprint: lowercase + whitespace collapse
      Tables(s, d).documents
        .select(col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
            .as("fingerprint")),
    Some(
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin),
  )

  private val fpRolling = Q(
    "t_fingerprint_rolling",
    (s, d) =>
      // custom codegen'd Catalyst expression — see RollingHashExpr
      Tables(s, d).documents
        .select(col("doc_id"), RollingHash.rolling_hash(col("text")).as("fp")),
    // hash(s) = Σ byte_i·131^i mod 2^61-1, replayed in DuckDB: a recursive
    // CTE builds the mod-power ladder (131^i stays < 2^61, the product
    // fits HUGEINT), then one join+sum per document folds the bytes. Texts
    // are ASCII (asserted by octet_length below matching strlen), so
    // ord(char) == the UTF-8 byte the Scala side hashes.
    Some(
      """WITH RECURSIVE mx AS (
        |  SELECT coalesce(max(strlen(text)), 0) AS m FROM documents
        |  WHERE octet_length(CAST(text AS BLOB)) = strlen(text)),
        |pw(i, p) AS (
        |  SELECT 1, CAST(1 AS HUGEINT)
        |  UNION ALL
        |  SELECT i + 1, (p * 131) % 2305843009213693951
        |  FROM pw, mx WHERE i < mx.m)
        |SELECT d.doc_id,
        |  CAST(coalesce(sum((CAST(ord(substr(d.text, pw.i, 1)) AS HUGEINT)
        |        * pw.p) % 2305843009213693951), 0)
        |    % 2305843009213693951 AS BIGINT) AS fp
        |FROM documents d LEFT JOIN pw ON pw.i <= strlen(d.text)
        |GROUP BY d.doc_id""".stripMargin),
  )

  /** Unicode canary for the FNV oracle fold: a fixed multilingual
    * fixture hashed by the engine's codegen'd FNV-1a expression and
    * replayed byte-for-byte by the shared hex-decoding SQL fold — green
    * means the sketch oracles (MinHash/SimHash/embedder/checksum) are
    * byte-exact beyond ASCII, pinning the UTF-8 contract the corpora
    * rely on.
    */
  private val fpUnicode = Q(
    "t_fingerprint_fnv_unicode",
    (s, _) => {
      import s.implicits._
      Seq((1L, "héllo wörld"), (2L, "日本語テキスト"),
        (3L, "mixed æøå 123"), (4L, ""))
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          graft.functions.TextSketches.fnv1a(col("text")).as("fp"))
    },
    Some(
      s"""WITH RECURSIVE
         |items(doc_id, i, t) AS (
         |  SELECT * FROM (VALUES (1, 0, 'héllo wörld'),
         |    (2, 0, '日本語テキスト'), (3, 0, 'mixed æøå 123'),
         |    (4, 0, '')) v),
         |${graft.functions.OracleSql.fnvFold("items")}
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(CASE WHEN CAST(h AS HUGEINT)
         |      >= CAST('9223372036854775808' AS HUGEINT)
         |    THEN CAST(h AS HUGEINT)
         |      - CAST('18446744073709551616' AS HUGEINT)
         |    ELSE CAST(h AS HUGEINT) END AS BIGINT) AS fp
         |FROM done""".stripMargin),
  )

  /** Unicode NFC normalisation over a mixed composed/decomposed fixture:
    * the same visible text arrives from the web in both forms, and every
    * hash/dedup/fingerprint downstream treats them as distinct documents
    * unless canonicalised first — this is step zero of a multilingual
    * corpus pipeline. Engine = a codegen expression over the JDK
    * Normalizer; oracle = DuckDB's nfc_normalize over byte-identical
    * literals (both implement the same Unicode standard).
    */
  private val nfcFixture: Seq[(Long, String)] = Seq(
    (1L, "cafe\u0301 au lait"), // decomposed: e + combining acute
    (2L, "caf\u00e9"), // precomposed - already NFC, must pass through
    (3L, "A\u030angstro\u0308m"), // combining ring + diaeresis
    (4L, "\u1100\u1161 hangul jamo"), // jamo pair -> one Hangul syllable
    (5L, "plain ascii"),
  )

  private val nfcQ = Q(
    "t_unicode_nfc",
    (s, _) => {
      import s.implicits._
      nfcFixture.toDF("doc_id", "t")
        .select(col("doc_id"),
          graft.functions.TextSketches.nfc_normalize(col("t")).as("t_nfc"))
    },
    Some(nfcFixture
      .map { case (id, t) => s"($id, '$t')" }
      .mkString(
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, nfc_normalize(t) AS t_nfc " +
          "FROM (VALUES ", ", ", ") v(doc_id, t)")),
  )

  private val langid = Q(
    "t_language_id",
    (s, d) =>
      Tables(s, d).documents
        .select(col("doc_id"), col("lang"),
          LangId.detectCol(s)(col("text")).as("predicted")),
    // oracle generated from the same trigram-profile constants; accuracy
    // (vs the labelled lang column) additionally asserted in LangIdSpec
    Some(LangId.oracleSql),
  )

  private val phrase = Q(
    "j9_phrase_match",
    (s, d) => {
      val dict = Seq("table", "window merge", "fast join", "group", "spark")
      Tables(s, d).documents
        .select(col("doc_id"),
          explode(PhraseMatch.matchPhrases(s, dict)(col("text"))).as("phrase"))
    },
    Some(
      """SELECT doc_id, phrase
        |FROM documents,
        |  (SELECT unnest(['table','window merge','fast join','group','spark'])
        |     AS phrase)
        |WHERE contains(text, phrase)""".stripMargin),
  )

  private val qualityFilter = Q(
    "t_quality_filter",
    (s, d) => {
      // the curation move the scores exist for: keep docs passing the
      // quality gate (composable predicate over the derived ratios)
      val words = split(col("text"), " ")
      val nWords = size(words)
      val stopN = size(filter(words, w => w.isInCollection(stopwords)))
      Tables(s, d).documents
        .withColumn("n_words", nWords)
        .withColumn("stopword_ratio", stopN.cast("double") / nWords)
        .filter(col("n_words") >= 30 && col("stopword_ratio") <= 0.25)
        .select("doc_id", "n_words", "stopword_ratio")
    },
    Some(
      """SELECT doc_id, CAST(len(string_split(text,' ')) AS INT) AS n_words,
        |  CAST(len(list_filter(string_split(text,' '),
        |       w -> w IN ('a','the','of','and'))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stopword_ratio
        |FROM documents
        |WHERE len(string_split(text,' ')) >= 30
        |  AND CAST(len(list_filter(string_split(text,' '),
        |       w -> w IN ('a','the','of','and'))) AS DOUBLE)
        |    / len(string_split(text,' ')) <= 0.25""".stripMargin),
  )

  /** Bigram conditional probabilities — the next step up from the
    * unigram LM: p(w2|w1) = c(w1 w2) / c(w1 as bigram LEFT CONTEXT), for
    * bigrams seen ≥ 5 times. The denominator counts w1 over positions
    * 1..n-1 only (document-final tokens never open a bigram), so
    * Σ_w2 p(w2|w1) = 1 exactly — a true conditional distribution. Both
    * counts come from the same bigram stream: c(w1·) is its w1 marginal.
    * Two hash aggregates (both map-side combined, vocab-bounded) and one
    * broadcast join; the ratio is exact integer division in double,
    * engine-identical.
    */
  private val bigramLm = Q(
    "t_bigram_condprob",
    (s, d) => {
      val words = split(col("text"), " ")
      val toks = Tables(s, d).documents
        .select(explode(
          zip_with(
            slice(words, lit(1), size(words) - 1),
            slice(words, lit(2), size(words) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val uni = toks.groupBy("w1").agg(count(lit(1)).as("c1"))
      toks.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .join(broadcast(uni), "w1")
        .select(col("w1"), col("w2"), col("c12"),
          round(col("c12").cast("double") / col("c1"), 6).as("p"))
    },
    Some(
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w)),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |        FROM bg GROUP BY w1, w2)
        |SELECT c12.w1, c12.w2, c12.c12,
        |  round(CAST(c12.c12 AS DOUBLE) / c1.c1, 6) AS p
        |FROM c12 JOIN c1 ON c12.w1 = c1.w1
        |WHERE c12.c12 >= 5""".stripMargin),
  )

  /** Bigram LM with stupid backoff (Brants et al. 2007): score(doc) =
    * mean ln p(w2|w1), where p = c12/c1 when the bigram is attested
    * (≥ 2) and 0.4·p_unigram(w2) otherwise — the cheap large-scale
    * backoff that skips Katz discounting. One step up in fidelity from
    * `t_unigram_logprob` as a fluency/quality filter. All probabilities
    * are single IEEE divisions of exact BIGINT counts (engine-identical)
    * and the per-doc mean goes through the 6-dp decimal-stable fold.
    * Scale: three vocab-bounded hash aggs joined back into the bigram
    * stream — cap the c12 table like [[graft.operators.Curation.LmVocabCap]]
    * if a raw web corpus's bigram tail outgrows the shuffle.
    */
  private val backoffLm = Q(
    "t_backoff_logprob",
    (s, d) => {
      val words = split(col("text"), " ")
      val bg = Tables(s, d).documents
        .select(col("doc_id"), explode(zip_with(
          slice(words, lit(1), size(words) - 1),
          slice(words, lit(2), size(words) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bgp"))
        .select(col("doc_id"), col("bgp.w1").as("w1"), col("bgp.w2").as("w2"))
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val uni = Tables(s, d).documents.select(explode(words).as("tok"))
      val c2 = uni.groupBy("tok").agg(count(lit(1)).as("c2"))
      val tot = uni.agg(count(lit(1)).as("t"))
      val lp = when(col("c12") >= 2,
        log(col("c12").cast("double") / col("c1").cast("double")))
        .otherwise(log(lit(0.4) *
          (col("c2").cast("double") / col("t").cast("double"))))
      bg.join(c12, Seq("w1", "w2"))
        .join(c1, Seq("w1"))
        .join(c2, col("w2") === col("tok"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(graft.util.Stable.dsum(lp, 6) / count(lit(1)), 4)
            .as("backoff_logprob"))
    },
    Some(
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
         |           FROM documents),
         |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
         |             FROM w)),
         |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |        FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
         |       FROM bg GROUP BY 1),
         |uni AS (SELECT unnest(w) AS tok FROM w),
         |c2 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c2
         |       FROM uni GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM uni),
         |scored AS (
         |  SELECT bg.doc_id,
         |    CASE WHEN c12.c12 >= 2
         |      THEN ln(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
         |      ELSE ln(0.4 * (CAST(c2.c2 AS DOUBLE) / CAST(tot.t AS DOUBLE)))
         |    END AS lp
         |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |       JOIN c2 ON bg.w2 = c2.tok CROSS JOIN tot)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(${graft.util.Stable.dsumSql("lp", 6)} / count(*), 4)
         |    AS backoff_logprob
         |FROM scored GROUP BY doc_id""".stripMargin),
  )

  /** First-iteration BPE merge candidates — the vocab-induction step:
    * adjacent symbol-pair frequencies at the character level across the
    * corpus (each word contributes its char bigrams), ranked. A full BPE
    * trainer iterates re-tokenise→recount; the count step shown here is
    * the one that touches the corpus and must scale — one explode + one
    * hash aggregate + TakeOrderedAndProject.
    */
  private val bpeMerges = Q(
    "t_bpe_merge_candidates",
    (s, d) => {
      val chars = split(col("w"), "")
      Tables(s, d).documents
        .select(explode(split(col("text"), " ")).as("w"))
        .select(explode(
          zip_with(
            slice(chars, lit(1), size(chars) - 1),
            slice(chars, lit(2), size(chars) - 1),
            (a, b) => concat(a, b))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("n"), asc("pair"))))
    },
    Some(
      """SELECT pair, n, CAST(row_number() OVER (ORDER BY n DESC, pair)
        |    AS INT) AS rank
        |FROM (
        |  SELECT c[i] || c[i+1] AS pair, CAST(count(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT string_split(tok, '') AS c
        |    FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |          FROM documents)),
        |    LATERAL (SELECT unnest(range(1, len(c))) AS i) t
        |  GROUP BY 1)
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin),
  )

  /** Full BPE APPLY over the corpus — the production tokenizer path:
    * segment every word with the fixed merge table
    * ([[graft.functions.BpeEncode]]) and report the resulting symbol
    * distribution. Scale shape: the encode loop (a codegen Expression)
    * runs once per DISTINCT word — the vocab groupBy collapses the
    * corpus to |vocabulary| rows BEFORE the per-word loop, and symbol
    * counts come back weighted by word frequency. Corpus cost is one
    * explode + two vocab-bounded hash aggregates; the 100× larger
    * corpus pays for more counting, not more encoding. Oracle replays
    * the identical merge semantics as a recursive CTE over the same
    * distinct-word table.
    */
  private val bpeApply = Q(
    "t_bpe_encode",
    (s, d) => {
      val vocab = Tables(s, d).documents
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("n"))
      vocab
        .select(col("n"),
          explode(graft.functions.BpeEncode.bpe_encode(col("tok")))
            .as("symbol"))
        .groupBy("symbol").agg(sum("n").as("n"))
        .orderBy(desc("n"), asc("symbol")).limit(30)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("n"), asc("symbol"))))
    },
    Some {
      val rules = graft.functions.BpeEncode.Merges.zipWithIndex
        .map { case ((l, r), i) => s"('$l','$r',${i + 1})" }.mkString(", ")
      s"""WITH RECURSIVE rules(l, r, rank) AS (VALUES $rules),
         |toks AS (SELECT unnest(string_split(text, ' ')) AS tok
         |         FROM documents),
         |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks
         |          WHERE tok <> '' GROUP BY tok),
         |enc(tok, s) AS (
         |  SELECT tok, array_to_string(string_split(tok, ''), ' ')
         |  FROM vocab
         |  WHERE len(string_split(tok, ''))
         |        <= ${graft.functions.BpeEncode.MaxWordLen}
         |  UNION ALL
         |  SELECT e.tok,
         |    trim(substr(' '||e.s||' ', 1,
         |           instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ') - 1)
         |     || ' ' || r.l || r.r || ' ' ||
         |     substr(' '||e.s||' ',
         |            instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ')
         |            + len(r.l) + len(r.r) + 3))
         |  FROM enc e JOIN rules r
         |    ON instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ') > 0
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM rules r2
         |    WHERE r2.rank < r.rank
         |      AND instr(' '||e.s||' ', ' '||r2.l||' '||r2.r||' ') > 0)),
         |final AS (
         |  SELECT tok, s FROM enc e
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM rules r
         |    WHERE instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ') > 0)
         |  UNION ALL
         |  SELECT tok, array_to_string(string_split(tok, ''), ' ')
         |  FROM vocab
         |  WHERE len(string_split(tok, ''))
         |        > ${graft.functions.BpeEncode.MaxWordLen}),
         |sym AS (
         |  SELECT unnest(string_split(f.s, ' ')) AS symbol, v.n
         |  FROM final f JOIN vocab v ON f.tok = v.tok)
         |SELECT symbol, CAST(sum(n) AS BIGINT) AS n,
         |  CAST(row_number() OVER (ORDER BY sum(n) DESC, symbol) AS INT)
         |    AS rank
         |FROM sym GROUP BY symbol
         |ORDER BY n DESC, symbol LIMIT 30""".stripMargin
    },
  )

  /** Tokenizer efficiency per domain: chars-per-symbol under the fixed
    * BPE vocab, by source — the fertility/compression metric a tokenizer
    * team tracks per data domain (a domain the vocab compresses poorly
    * costs proportionally more sequence length at training). Same
    * distinct-word encode as `t_bpe_encode`; the per-source weighting
    * joins the (tiny) encoded-vocab frame back into the token stream.
    */
  private val bpeCompression = Q(
    "t_bpe_compression",
    (s, d) => {
      val toks = Tables(s, d).documents
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val enc = toks.select("tok").distinct()
        .select(col("tok"),
          size(graft.functions.BpeEncode.bpe_encode(col("tok")))
            .as("n_sym"),
          size(split(col("tok"), "")).as("n_chr"))
      toks.join(broadcast(enc), "tok")
        .groupBy("source")
        .agg(sum(col("n_chr").cast("long")).as("n_chars"),
          sum(col("n_sym").cast("long")).as("n_symbols"))
        .select(col("source"), col("n_chars"), col("n_symbols"),
          round(col("n_chars").cast("double") / col("n_symbols"), 4)
            .as("chars_per_symbol"))
    },
    Some {
      val rules = graft.functions.BpeEncode.Merges.zipWithIndex
        .map { case ((l, r), i) => s"('$l','$r',${i + 1})" }.mkString(", ")
      s"""WITH RECURSIVE rules(l, r, rank) AS (VALUES $rules),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |         FROM documents),
         |vocab AS (SELECT DISTINCT tok FROM toks WHERE tok <> ''),
         |enc(tok, s) AS (
         |  SELECT tok, array_to_string(string_split(tok, ''), ' ')
         |  FROM vocab
         |  WHERE len(string_split(tok, ''))
         |        <= ${graft.functions.BpeEncode.MaxWordLen}
         |  UNION ALL
         |  SELECT e.tok,
         |    trim(substr(' '||e.s||' ', 1,
         |           instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ') - 1)
         |     || ' ' || r.l || r.r || ' ' ||
         |     substr(' '||e.s||' ',
         |            instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ')
         |            + len(r.l) + len(r.r) + 3))
         |  FROM enc e JOIN rules r
         |    ON instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ') > 0
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM rules r2
         |    WHERE r2.rank < r.rank
         |      AND instr(' '||e.s||' ', ' '||r2.l||' '||r2.r||' ') > 0)),
         |final AS (
         |  SELECT tok, len(string_split(s, ' ')) AS n_sym,
         |         len(string_split(tok, '')) AS n_chr
         |  FROM enc e
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM rules r
         |    WHERE instr(' '||e.s||' ', ' '||r.l||' '||r.r||' ') > 0)
         |  UNION ALL
         |  SELECT tok, len(string_split(tok, '')) AS n_sym,
         |         len(string_split(tok, '')) AS n_chr
         |  FROM vocab
         |  WHERE len(string_split(tok, ''))
         |        > ${graft.functions.BpeEncode.MaxWordLen})
         |SELECT d.source,
         |  CAST(sum(f.n_chr) AS BIGINT) AS n_chars,
         |  CAST(sum(f.n_sym) AS BIGINT) AS n_symbols,
         |  round(CAST(sum(f.n_chr) AS DOUBLE) / sum(f.n_sym), 4)
         |    AS chars_per_symbol
         |FROM toks t
         |JOIN final f ON t.tok = f.tok
         |JOIN documents d ON t.doc_id = d.doc_id
         |WHERE t.tok <> ''
         |GROUP BY d.source""".stripMargin
    },
  )

  private val tokenStats = Q(
    "t_token_stats",
    (s, d) =>
      // corpus-level token accounting per source: totals and exact
      // quantiles of per-doc token counts
      Tables(s, d).documents
        .select(col("source"), size(split(col("text"), " ")).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          percentile(col("n_tok"), lit(0.5)).as("median_tokens"),
          max(col("n_tok")).as("max_tokens")),
    Some(
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
        |  quantile_cont(len(string_split(text,' ')), 0.5) AS median_tokens,
        |  CAST(max(len(string_split(text,' '))) AS INT) AS max_tokens
        |FROM documents GROUP BY source""".stripMargin),
  )

  private val heavyHitters = Q(
    "a15_heavy_hitters_topk",
    (s, d) => {
      // Misra–Gries sketch pass → ≤64 candidates → exact recount of the
      // candidates only (two narrow passes; no full-width groupBy).
      // Candidates provably cover every word with freq > N/64, so the
      // result equals the plain top-10 — which is the oracle. The
      // candidate set stays a (1-row → ≤64-row) DataFrame feeding a
      // broadcast semi join, so building this query launches NO jobs and
      // no driver round-trip sits between the two passes.
      val words = Tables(s, d).documents
        .select(explode(split(col("text"), " ")).as("word"))
      val mg = udaf(new graft.functions.MisraGries(64))
      val candidates = words.agg(mg(col("word")).as("sketch"))
        .select(explode(map_keys(col("sketch"))).as("word"))
      words
        .join(broadcast(candidates), Seq("word"), "left_semi")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word"))
        .limit(10)
    },
    Some(
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 10""".stripMargin),
  )

  /** Repetition quality rules (the Gopher-style family): documents that
    * are mostly repeated content are the single biggest quality leak a
    * length/stopword filter misses. Two signals, both engine-parity
    * exact (integer ratios):
    *  - duplicate-word fraction: 1 − |distinct words| / |words|
    *  - top-bigram fraction: occurrences of the most common word bigram
    *    over total bigrams (explode + per-doc max/sum — two map-side
    *    combinable aggregations keyed by doc, no cross-doc shuffle).
    */
  private val repetition = Q(
    "t_repetition_filter",
    (s, d) => {
      val words = split(col("text"), " ")
      // the bigram fanout below is the registry's heaviest per-row HOF
      // chain; widen the single-split scan ahead of it (a stage audit,
      // now tools.Probe, measured a 0.75 s one-task stage at sf0.1)
      val base = graft.util.Widen.cpuHeavy(
          Tables(s, d).documents.select("doc_id", "text"))
        .select(col("doc_id"), col("text"),
          (lit(1.0) - size(array_distinct(words)).cast("double")
            / size(words).cast("double")).as("dup_word_frac"))
      val bigrams = base
        .select(col("doc_id"), col("dup_word_frac"),
          explode(zip_with(
            slice(split(col("text"), " "), lit(1),
              size(split(col("text"), " ")) - 1),
            slice(split(col("text"), " "), lit(2),
              size(split(col("text"), " ")) - 1),
            (a, b) => concat(a, lit(" "), b))).as("bigram"))
      bigrams.groupBy("doc_id", "dup_word_frac", "bigram")
        .agg(count(lit(1)).as("n"))
        .groupBy("doc_id", "dup_word_frac")
        .agg((max(col("n")).cast("double") /
          sum(col("n")).cast("double")).as("top_bigram_frac"))
        .filter(col("dup_word_frac") <= 0.8 &&
          col("top_bigram_frac") <= 0.2)
        .select(col("doc_id"), round(col("dup_word_frac"), 6)
          .as("dup_word_frac"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac"))
    },
    Some(
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    1.0 - CAST(len(list_distinct(ws)) AS DOUBLE)
        |      / CAST(len(ws) AS DOUBLE) AS dup_word_frac,
        |    ws FROM w),
        |bg AS (
        |  SELECT doc_id, dup_word_frac,
        |    unnest(list_transform(range(1, len(ws)), i ->
        |      ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM base),
        |cnt AS (
        |  SELECT doc_id, dup_word_frac, bigram, count(*) AS n
        |  FROM bg GROUP BY 1, 2, 3),
        |frac AS (
        |  SELECT doc_id, dup_word_frac,
        |    CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
        |      AS top_bigram_frac
        |  FROM cnt GROUP BY 1, 2)
        |SELECT doc_id, round(dup_word_frac, 6) AS dup_word_frac,
        |  round(top_bigram_frac, 6) AS top_bigram_frac
        |FROM frac
        |WHERE dup_word_frac <= 0.8 AND top_bigram_frac <= 0.2""".stripMargin),
  )

  /** PMI collocation mining — the standard "which word pairs belong
    * together" detector (Church & Hanks 1990) behind multi-word surface
    * forms (the reference builds those from noun chunks at
    * `ojd_daps/flows/enrich/labs/salaries/common.py`-adjacent tooling;
    * SURVEY §2.7 treats phrase discovery as a text-analysis component).
    * Instead of log-PMI we surface the exact association RATIO
    * c12·N / (c1·c2) (= e^PMI): every factor is an exact BIGINT count,
    * the two multiplies and one divide are single IEEE ops, so the value
    * is bit-identical on any engine — no libm `ln` in the gate. Margins
    * c1/c2 come from the bigram stream itself (left/right position
    * counts), so the distribution normalises exactly. Two vocab-bounded
    * hash aggregates + two broadcast joins; nothing scales with corpus
    * size except the token scan.
    */
  private val pmi = Q(
    "t_pmi_collocations",
    (s, d) => {
      val words = split(col("text"), " ")
      val bg = Tables(s, d).documents
        .select(explode(zip_with(
          slice(words, lit(1), size(words) - 1),
          slice(words, lit(2), size(words) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val left = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val right = bg.groupBy("w2").agg(count(lit(1)).as("c2"))
      val tot = bg.agg(count(lit(1)).as("n"))
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .join(broadcast(left), "w1")
        .join(broadcast(right), "w2")
        .crossJoin(broadcast(tot))
        .select(col("w1"), col("w2"), col("c12"),
          round(col("c12").cast("double") * col("n").cast("double")
            / (col("c1").cast("double") * col("c2").cast("double")), 6)
            .as("pmi_ratio"))
    },
    Some(
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w)),
        |lft AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |rgt AS (SELECT w2, count(*) AS c2 FROM bg GROUP BY w2),
        |tot AS (SELECT count(*) AS n FROM bg),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |        FROM bg GROUP BY w1, w2)
        |SELECT c12.w1, c12.w2, c12.c12,
        |  round(CAST(c12.c12 AS DOUBLE) * CAST(tot.n AS DOUBLE)
        |    / (CAST(lft.c1 AS DOUBLE) * CAST(rgt.c2 AS DOUBLE)), 6)
        |    AS pmi_ratio
        |FROM c12 JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
        |WHERE c12.c12 >= 5""".stripMargin),
  )

  /** Interpolated Kneser-Ney bigram probabilities — the standard n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1998's benchmark
    * winner), completing the LM ladder above the raw conditional
    * (`t_bigram_condprob`) and stupid backoff (`t_backoff_logprob`):
    *   p_kn(w2|w1) = max(c12 − d, 0)/c1 + (d·N1+(w1·)/c1) · N1+(·w2)/T
    * with discount d = 3/4 and the CONTINUATION counts N1+ (how many
    * distinct contexts a word completes) replacing raw frequency in the
    * backoff — the insight that "Francisco" is frequent but only ever
    * follows "San".
    *
    * d = 3/4 is dyadic, so scaling by 4 makes the whole probability one
    * exact integer ratio: p = (max(4·c12 − 3, 0)·T + 3·N_l·N_r) /
    * (4·c1·T) — BIGINT numerator/denominator, one IEEE division, no
    * accumulated float anywhere (the EWMA/PageRank integer-units
    * discipline again). Scale shape: the bigram scan + three
    * vocab-bounded hash aggs (c12, per-w1 totals+distincts, per-w2
    * distincts) joined on vocab keys.
    */
  private val knLm = Q(
    "t_kneserney_bigrams",
    (s, d) => {
      val words = split(col("text"), " ")
      val toks = Tables(s, d).documents
        .select(explode(
          zip_with(
            slice(words, lit(1), size(words) - 1),
            slice(words, lit(2), size(words) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      val c12 = toks.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val left = c12.groupBy("w1").agg(sum(col("c12")).as("c1"),
        count(lit(1)).as("n_left")) // N1+(w1·): distinct continuations
      val right = c12.groupBy("w2")
        .agg(count(lit(1)).as("n_right")) // N1+(·w2): distinct contexts
      val types = c12.agg(count(lit(1)).as("t_types"))
      val num = (greatest(lit(4L) * col("c12") - 3L, lit(0L)) *
        col("t_types")) + lit(3L) * col("n_left") * col("n_right")
      c12.filter(col("c12") >= 5)
        .join(broadcast(left), "w1")
        .join(broadcast(right), "w2")
        .crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), col("c12"), col("n_left"),
          col("n_right"),
          round(num.cast("double") /
            (lit(4L) * col("c1") * col("t_types")).cast("double"), 6)
            .as("p_kn"))
    },
    Some(
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT w[i] AS w1, w[i+1] AS w2
        |  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w)),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |        FROM bg GROUP BY w1, w2),
        |lft AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |          CAST(count(*) AS BIGINT) AS n_left
        |        FROM c12 GROUP BY w1),
        |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_right
        |        FROM c12 GROUP BY w2),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM c12)
        |SELECT c12.w1, c12.w2, c12.c12, lft.n_left, rgt.n_right,
        |  round(CAST(greatest(4 * c12.c12 - 3, 0) * tt.t_types
        |      + 3 * lft.n_left * rgt.n_right AS DOUBLE)
        |    / CAST(4 * lft.c1 * tt.t_types AS DOUBLE), 6) AS p_kn
        |FROM c12
        |JOIN lft ON c12.w1 = lft.w1
        |JOIN rgt ON c12.w2 = rgt.w2
        |CROSS JOIN tt
        |WHERE c12.c12 >= 5""".stripMargin),
  )

  /** Per-domain percentile normalisation of a quality signal — the
    * thresholding step a mixed-source corpus needs: an absolute
    * stopword-ratio cut that is right for web text over-prunes code or
    * reference text, so production filters cut the bottom DECILE WITHIN
    * EACH SOURCE instead. percent_rank over (signal, doc_id) is a
    * per-source window (embarrassingly parallel across sources, no
    * global sort), the doc_id tiebreak makes ranks total, and the
    * (rank−1)/(n−1) ratio is exact integer→double — bit-identical on
    * any engine, no rounding negotiation needed.
    */
  private val qualityPercentile = Q(
    "t_quality_percentile",
    (s, d) => {
      val words = split(col("text"), " ")
      val stopN = size(filter(words, w => w.isInCollection(stopwords)))
      val scored = Tables(s, d).documents
        .select(col("doc_id"), col("source"),
          (stopN.cast("double") / size(words)).as("stopword_ratio"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(col("stopword_ratio"), col("doc_id"))
      scored
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("keep", col("pr") >= 0.1)
    },
    Some(
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '),
        |          w -> w IN ('a','the','of','and'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stopword_ratio
        |  FROM documents)
        |SELECT doc_id, source, stopword_ratio,
        |  round(percent_rank() OVER (PARTITION BY source
        |    ORDER BY stopword_ratio, doc_id), 6) AS pr,
        |  round(percent_rank() OVER (PARTITION BY source
        |    ORDER BY stopword_ratio, doc_id), 6) >= 0.1 AS keep
        |FROM scored""".stripMargin),
  )

  /** Corpus drift audit: per-source total-variation distance between the
    * source's unigram distribution and the corpus mixture — the number a
    * curation pipeline watches to catch a crawl source going off-profile
    * between snapshots (swap `source` for a version tag and the same
    * machinery diffs two corpus versions).
    *
    * INTEGER-EXACT (the modularity trick): with p_w = c_ws/N_s and
    * q_w = c_w/N,  TV = ½·Σ_w |p_w − q_w| decomposes over the source's
    * OBSERVED vocab plus a closed form for the absent mass
    * (Σ_{w∉s} q_w = 1 − Σ_{w∈s} c_w/N), so
    *   tv_num = Σ_{w∈s} |c_ws·N − c_w·N_s| + (N − Σ_{w∈s} c_w)·N_s
    *   tv_den = 2·N_s·N
    * is pure BIGINT algebra — no float accumulation order anywhere, the
    * gate hashes the exact rational, and `tv` is one IEEE division.
    * Scale: two hash aggs over the token stream + one vocab-sized join;
    * nothing pairwise. At fleet scale the products need DECIMAL(38)
    * (c·N overflows BIGINT past ~3·10⁹ tokens per side) — same
    * escalation as every other integer-exact op here.
    */
  private val corpusDrift = Q(
    "t_corpus_drift",
    (s, d) => {
      val toks = Tables(s, d).documents
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
      val cws = toks.groupBy("source", "w").agg(count(lit(1)).as("c_ws"))
      val cw = toks.groupBy("w").agg(count(lit(1)).as("c_w"))
      val ns = toks.groupBy("source").agg(count(lit(1)).as("n_s"))
      val n = toks.agg(count(lit(1)).as("n"))
      cws.join(cw, "w").join(ns, "source").crossJoin(broadcast(n))
        .groupBy("source")
        .agg(
          sum(abs(col("c_ws") * col("n") - col("c_w") * col("n_s")))
            .as("present_num"),
          sum(col("c_w")).as("cov"),
          min(col("n_s")).as("n_s"), min(col("n")).as("n"))
        .select(col("source"),
          (col("present_num") + (col("n") - col("cov")) * col("n_s"))
            .as("tv_num"),
          (lit(2L) * col("n_s") * col("n")).as("tv_den"))
        .withColumn("tv", round(col("tv_num") / col("tv_den"), 6))
    },
    Some(
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cws AS (SELECT source, w, count(*) AS c_ws FROM toks GROUP BY 1, 2),
        |cw AS (SELECT w, count(*) AS c_w FROM toks GROUP BY 1),
        |ns AS (SELECT source, count(*) AS n_s FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM toks),
        |agg AS (
        |  SELECT source,
        |    CAST(sum(abs(c_ws * n - c_w * n_s)) AS BIGINT) AS present_num,
        |    CAST(sum(c_w) AS BIGINT) AS cov,
        |    min(n_s) AS n_s, min(n) AS n
        |  FROM cws JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN n
        |  GROUP BY 1)
        |SELECT source,
        |  CAST(present_num + (n - cov) * n_s AS BIGINT) AS tv_num,
        |  CAST(2 * n_s * n AS BIGINT) AS tv_den,
        |  round(CAST(present_num + (n - cov) * n_s AS BIGINT)
        |    / CAST(2 * n_s * n AS BIGINT), 6) AS tv
        |FROM agg""".stripMargin),
  )

  def all: Seq[Q] = Seq(quality, tokens, fpMd5, fpRolling, fpUnicode,
    nfcQ, langid, phrase,
    qualityFilter, tokenStats, heavyHitters, repetition, bigramLm, backoffLm,
    bpeMerges, bpeApply, bpeCompression, pmi, qualityPercentile, knLm,
    corpusDrift)
}
