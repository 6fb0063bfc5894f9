package graft

import graft.dedup.ConnectedComponents
import graft.domain.{Salaries, SalaryIn}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY §5 plan): the distributed algorithms agree
  * with trivially-correct single-machine references on random inputs.
  * (Plain ScalaCheck generators sampled with fixed seeds — deterministic
  * and bridge-free.)
  */
class PropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // ---- connected components vs union-find ----

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n.toLong).map(x => x -> find(x)).toMap
  }

  private val graphGen = for {
    n <- Gen.choose(2, 30)
    m <- Gen.choose(1, 40)
    edges <- Gen.listOfN(m, for {
      a <- Gen.choose(0L, n - 1L)
      b <- Gen.choose(0L, n - 1L)
    } yield (a, b))
  } yield (n, edges.filter(e => e._1 != e._2))

  test("large-star/small-star equals union-find on random graphs") {
    import spark.implicits._
    // bound -1: the distributed loop, never the driver union-find
    ConnectedComponents.driverMaxEdges.withValue(-1L) {
      for (seed <- 1 to 10) {
        val (n, edges) = sample(graphGen, seed)
        if (edges.nonEmpty) {
          val got = ConnectedComponents
            .run(edges.toDF("src", "dst"),
              Some((0L until n.toLong).toDF("id")))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == unionFind(n, edges), s"seed=$seed n=$n edges=$edges")
        }
      }
    }
  }

  // ---- salary rules vs a direct port of the reference logic ----

  private def referenceExtract(in: SalaryIn): Option[(Double, Double)] = {
    val rate = in.raw_salary_unit.getOrElse(return None)
    val mult = Salaries.PerAnnumRate.getOrElse(rate, return None)
    in.raw_salary_currency.foreach(c => if (c != "GBP") return None)
    val mn0 = in.raw_min_salary.orElse(in.raw_salary).getOrElse(return None)
    val mx0 = in.raw_max_salary.orElse(in.raw_salary).getOrElse(return None)
    val (mn, mx) = (math.min(mn0, mx0), math.max(mn0, mx0))
    var minA = mn * mult
    val maxA = mx * mult
    if (maxA < Salaries.MinSalary) return None
    if (minA < Salaries.MinSalary) minA = maxA
    var (lo, hi) = (minA, maxA)
    if (hi / lo > Salaries.MinSalaryDisparity) {
      if (hi > Salaries.MaxSalary) hi = lo else lo = hi
    }
    if (hi > Salaries.MaxSalary) return None
    Some((
      BigDecimal(lo).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(hi).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
  }

  private val salaryGen: Gen[SalaryIn] = for {
    unit <- Gen.oneOf(Some("YEAR"), Some("DAY"), Some("HOUR"), None)
    cur <- Gen.oneOf(Some("GBP"), Some("EUR"), None)
    base <- Gen.choose(0, 200000)
    spread <- Gen.choose(0, 900000)
    hasMin <- Gen.oneOf(true, false)
    hasMax <- Gen.oneOf(true, false)
  } yield SalaryIn(
    raw_salary = Some(base.toDouble),
    raw_min_salary = if (hasMin) Some(base.toDouble) else None,
    raw_max_salary = if (hasMax) Some(base.toDouble + spread) else None,
    raw_salary_unit = unit,
    raw_salary_currency = cur,
  )

  test("extractSalary agrees with the reference rule chain on random ads") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val ins = sample(Gen.listOfN(50, salaryGen), seed * 100L)
      val rows = Salaries.extractSalary(ins.toDF())
        .select("min_annualised_salary", "max_annualised_salary")
        .collect()
      rows.zip(ins).foreach { case (row, in) =>
        val want = referenceExtract(in)
        val got = if (row.isNullAt(0)) None
          else Some((row.getDouble(0), row.getDouble(1)))
        assert(got == want, s"for $in")
      }
    }
  }

  test("salary invariant: min <= max whenever present") {
    import spark.implicits._
    val ins = sample(Gen.listOfN(200, salaryGen), 7L)
    val bad = Salaries.extractSalary(ins.toDF())
      .filter(org.apache.spark.sql.functions.col("min_annualised_salary") >
        org.apache.spark.sql.functions.col("max_annualised_salary"))
      .count()
    assert(bad == 0)
  }

  // ---- bounded top-k vs sort-take under arbitrary partitioning ----
  //
  // The property that makes map-side partial top-k safe: any split of
  // the input into partial buffers, merged in any order (with
  // duplicated deliveries), equals the trivially-correct sorted take.

  private val topkGen = for {
    k <- Gen.choose(1, 6)
    n <- Gen.choose(0, 40)
    xs <- Gen.listOfN(n, for {
      s <- Gen.choose(0, 99).map(_ / 10.0) // coarse scores force ties
      id <- Gen.choose(0L, 30L)
    } yield graft.functions.Scored(s, id))
    cuts <- Gen.listOfN(3, Gen.choose(0, math.max(n, 1)))
  } yield (k, xs.distinctBy(_.id), cuts)

  test("TopKAgg equals sorted take-k under any partitioning and " +
    "duplicate delivery") {
    for (seed <- 1 to 25) {
      val (k, xs, cuts) = sample(topkGen, seed.toLong)
      val agg = new graft.functions.TopKAgg(k)
      val expected = xs.sortBy(x => (-x.score, x.id)).take(k)
      // split at random cut points, reduce each chunk, merge right-to-left
      val bounds = (cuts :+ 0 :+ xs.length).distinct.sorted
      val chunks = bounds.zip(bounds.tail)
        .map { case (a, b) => xs.slice(a, b) }
      val buffers = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = buffers.foldRight(agg.zero)((b, acc) => agg.merge(acc, b))
      assert(agg.finish(merged) == expected, s"seed=$seed k=$k")
      // duplicated delivery (retried partition) changes nothing
      val withDup = buffers ++ buffers.take(1)
      val merged2 = withDup.foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged2) == expected, s"dup seed=$seed")
    }
  }

  // ---- deterministic sampler: monotone in the rate ----

  test("deterministicSample(p1) is a subset of deterministicSample(p2) " +
    "for p1 <= p2, and rates land near nominal") {
    import spark.implicits._
    val df = (1 to 5000).toDF("k")
    def ids(p: Double): Set[Int] = graft.operators.SourcesSinks
      .deterministicSample(df, "k", p).collect().map(_.getInt(0)).toSet
    val rates = Seq(0.05, 0.1, 0.3, 0.7)
    val sets = rates.map(ids)
    rates.indices.tail.foreach { i =>
      assert(sets(i - 1).subsetOf(sets(i)),
        s"${rates(i - 1)} not within ${rates(i)}")
      // threshold-form membership makes growing the sample a pure
      // extension — the property that lets a pipeline raise its sampling
      // rate WITHOUT invalidating work done on the smaller sample
    }
    rates.zip(sets).foreach { case (p, s) =>
      assert(math.abs(s.size / 5000.0 - p) < 0.03, s"rate $p got ${s.size}")
    }
  }

  // ---- chunk dedup: reassembly is the identity on a dup-free corpus ----

  test("chunk dedup reassembles originals when no chunk repeats") {
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 70).map(j => s"u${i}_$j").mkString(" "))
    }
    val tmp = java.nio.file.Files.createTempDirectory("chunkprop").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val out = Registry.byName("t_chunk_dedup_reassemble")
      .run(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      assert(out(id) == text, s"doc $id not reassembled losslessly")
    }
  }
  // ---- round-6 text operators ----

  test("lemmatise is idempotent: every output is a fixed point") {
    // WordNet's lemmatizer returns lemmas, and lemmas must survive a
    // second pass — a non-fixed-point output means a rule fires on what
    // the table claims is a base form
    val wordGen = Gen.oneOf(
      Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString),
      Gen.oneOf("skills", "policies", "classes", "boxes", "gases",
        "women", "criteria", "wolves", "heroes", "buses", "lenses",
        "series", "data", "axes", "businessmen", "sizes", "houses",
        "uses", "viruses", "analyses"))
    (1L to 500L).foreach { seed =>
      val w = sample(wordGen, seed)
      val once = graft.text.TextCleaning.lemmatise(w)
      val twice = graft.text.TextCleaning.lemmatise(once)
      assert(twice == once, s"'$w' -> '$once' -> '$twice'")
    }
  }

  test("noun chunks never contain a boundary word and cover only input tokens") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val boundary = graft.text.NounChunks.BoundaryWords.toSet
    val vocabGen = Gen.oneOf(
      Gen.oneOf(graft.text.NounChunks.BoundaryWords),
      Gen.oneOf("data", "pipeline", "quality", "model", "spark",
        "catalyst", "training", "engineer", "large", "corpus"))
    val textGen = Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, vocabGen).map(_.mkString(" ")))
    val texts = (1L to 60L).map(seed => sample(textGen, seed))
    val got = texts.toDF("t")
      .select(col("t"), graft.text.NounChunks.chunks(col("t")).as("c"))
      .collect()
    got.foreach { r =>
      val input = r.getString(0).split(" ").filter(_.nonEmpty).toSeq
      r.getSeq[String](1).foreach { chunk =>
        val toks = chunk.split(" ").toSeq
        assert(toks.forall(t => !boundary.contains(t)),
          s"boundary word inside chunk '$chunk' of '${r.getString(0)}'")
        assert(toks.size <= graft.text.NounChunks.MaxTokens)
        // chunk tokens appear consecutively in the input
        assert(input.sliding(toks.size).contains(toks),
          s"chunk '$chunk' not a contiguous run of '${r.getString(0)}'")
      }
    }
  }

  test("gopher flags agree with a direct single-machine evaluation") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val wordGen = Gen.oneOf("the", "of", "and", "model", "data", "##",
      "...", "12345", "a", "verylongtokenindeedxx", "spark")
    val textGen = Gen.choose(0, 120).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val texts = (1L to 50L).map(seed => sample(textGen, seed))
    val fs = graft.text.GopherRules.flags(col("t"))
    val got = texts.toDF("t")
      .select(col("t") +: fs.map { case (n, c) => c.as(n) }: _*)
      .collect()
    got.foreach { r =>
      val words = r.getString(0).split(" ", -1).toSeq
      val n = words.size
      val totalLen = words.map(_.length).sum
      val alpha = words.count(_.exists(_.isLetter))
      val hashes = r.getString(0).split("#", -1).length - 1
      val ell = r.getString(0).split("\\.\\.\\.", -1).length - 1
      val stops = graft.text.GopherRules.RequiredStopwords
        .count(words.contains)
      assert(r.getAs[Boolean]("ok_word_count") ==
        (n >= 50 && n <= 100000), s"wc '${r.getString(0).take(40)}'")
      assert(r.getAs[Boolean]("ok_mean_word_len") ==
        (totalLen >= n * 3 && totalLen <= n * 10))
      assert(r.getAs[Boolean]("ok_symbol_ratio") ==
        ((hashes + ell) * 10 <= n))
      assert(r.getAs[Boolean]("ok_alpha_words") == (alpha * 5 >= n * 4))
      assert(r.getAs[Boolean]("ok_stopwords") == (stops >= 2))
    }
  }

}
