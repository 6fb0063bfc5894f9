package graft

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-up evidence for the dedup family's Σ|block|² claims:
  * run MinHash-LSH pairs, the full dedup-cluster pipeline, and the
  * salted fuzzy name join on the sf0.1 tables and on a ×N synthetic
  * scale-up, and report the time and output-row ratios (SCALING.md
  * records the numbers).
  *
  * Scale-up construction — "more data at the same duplicate density",
  * the way a real corpus grows, NOT verbatim replication (which would
  * multiply every duplicate group's size and quadratically inflate the
  * pair space — a different workload, not a bigger one):
  *  - documents: N shards; shard i inserts a shard-unique token every
  *    10 words. Within a shard, two near-dups get the same insertions,
  *    so their Jaccard stays ≈ original and within-shard pair structure
  *    is preserved; across shards the inserted tokens differ in every
  *    window, dropping cross-shard Jaccard of the same doc to ~0.6 —
  *    under the 0.8 threshold, so pairs scale ×N, not ×N².
  *  - part names: shard i appends its index to the blocking noun, so
  *    blocks replicate (×N block COUNT at constant block size — the
  *    Σ|block|² sum scales ×N) and appending the same digit to both
  *    sides of a within-block pair leaves edit distances unchanged.
  *
  * Generated inputs land under target/scale/<source dir name>/ (inside
  * the repo; the read-only testdata tree is never touched; see
  * [[scaleDirOf]]) and are rebuilt only when absent.
  */
object ScaleStress {

  private def scaledDocs(s: SparkSession, dir: String, factor: Int,
      out: String): DataFrame = {
    if (!new java.io.File(out).exists()) {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val shards = s.range(factor).select(col("id").cast("int").as("shard"))
      val words = split(col("text"), " ")
      val tok = concat(lit("shard"), col("shard"))
      val perturbed = concat_ws(" ", flatten(transform(
        sequence(lit(0),
          greatest((size(words) + 9) / 10 - 1, lit(0)).cast("int")),
        i => concat(slice(words, i * 10 + 1, lit(10)), array(tok)))))
      docs.crossJoin(shards)
        .select(
          (col("doc_id") + col("shard").cast("long") * 100000000L)
            .as("doc_id"),
          perturbed.as("text"), col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
    s.read.parquet(out)
  }

  private def scaledPart(s: SparkSession, dir: String, factor: Int,
      out: String): DataFrame = {
    if (!new java.io.File(out).exists()) {
      val part = s.read.parquet(s"$dir/part.parquet")
      val shards = s.range(factor).select(col("id").cast("int").as("shard"))
      part.crossJoin(shards)
        .select(
          (col("p_partkey") + col("shard").cast("long") * 100000000L)
            .as("p_partkey"),
          concat(col("p_name"), col("shard")).as("p_name"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
    s.read.parquet(out)
  }

  /** ×N embeddings: per-shard deterministic elementwise perturbation —
    * DISTINCT vectors with the same scale and label structure (verbatim
    * copies would make every copy an exact dup and collapse ANN
    * ranking into tie-breaks — a different workload).
    */
  private[graft] def scaledEmb(s: SparkSession, dir: String, factor: Int,
      out: String): DataFrame = {
    if (!new java.io.File(out).exists()) {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val shards = s.range(factor).select(col("id").cast("int").as("shard"))
      emb.crossJoin(shards)
        .select(
          (col("vec_id") + col("shard").cast("long") * 100000000L)
            .as("vec_id"),
          expr("""transform(embedding, (x, i) ->
                 |  CAST(x + 0.01d * ((shard * 31 + i) % 7 - 3)
                 |       AS FLOAT))""".stripMargin).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(out)
    }
    s.read.parquet(out)
  }

  /** Per-shard key offsets of [[replicate]]: each shard's copy of a key
    * column adds shard × its stride, so the copies' key spaces are
    * disjoint and every per-key structure (a user's events, an order's
    * lines, a customer's versions) replicates ×N instead of merging.
    */
  private val strides: Map[String, Long] = Map(
    "event_id" -> 1000000000000L, "user_id" -> 100000000L,
    "o_orderkey" -> 1000000000L, "l_orderkey" -> 1000000000L,
    "o_custkey" -> 10000000L, "c_custkey" -> 10000000L,
    "l_partkey" -> 100000000L, "p_partkey" -> 100000000L,
    "l_suppkey" -> 1000000L, "s_suppkey" -> 1000000L)

  /** Writes `src` ×f to `out` in 32 files: one copy per shard, each
    * column named in [[strides]] offset, the others copied as they are.
    */
  private def replicate(src: DataFrame, f: Int, out: String): Unit = {
    val shard = col("shard").cast("long")
    src.crossJoin(src.sparkSession.range(f).select(col("id").cast("int").as("shard")))
      .select(src.columns.toSeq.map(c =>
        strides.get(c).fold(col(c))(k => (col(c) + shard * k).as(c))): _*)
      .repartition(32)
      .write.mode(SaveMode.Overwrite).parquet(out)
  }

  /** `cols` of `table` in `dir`, ×f at `out`; written only when absent. */
  private def replicated(s: SparkSession, dir: String, table: String,
      cols: Seq[Column], f: Int, out: String): DataFrame = {
    if (!new java.io.File(out).exists())
      replicate(s.read.parquet(s"$dir/$table.parquet").select(cols: _*), f, out)
    s.read.parquet(out)
  }

  /** ×N events: shard-disjoint user populations (user/event ids offset
    * per shard, timestamps unchanged) — per-user event structure is
    * preserved exactly, so the as-of match count scales ×N and the
    * per-key merge work per user stays constant: "more users", the way
    * an event stream actually grows.
    */
  private def scaledEvents(s: SparkSession, dir: String, factor: Int,
      out: String): DataFrame =
    replicated(s, dir, "events", Seq(col("event_id"),
      col("ts").cast("timestamp").as("ts"), col("user_id"), col("event_type")),
      factor, out)

  /** ×N events WITH the value column (the batch-23+ statistics need
    * it); same shard-disjoint user/event key offsets as scaledEvents —
    * separate output name so the older cached frames stay valid.
    */
  private def scaledEventsV(s: SparkSession, dir: String, factor: Int,
      out: String): DataFrame =
    replicated(s, dir, "events", Seq(col("event_id"),
      col("ts").cast("timestamp").as("ts"), col("user_id"), col("event_type"),
      col("value")), factor, out)

  /** ×N lineitem (and orders, in `main`): shard-disjoint key spaces
    * (order, part, supplier, customer keys all offset per shard, dates
    * unchanged) —
    * per-order and per-customer structure is preserved exactly, so the
    * cooc/incidence graphs become N disjoint copies (edges ×N, wedge
    * work ×N, NOT ×N²) and the SCD2 version chains replicate per
    * customer: "more entities", the way a fact table actually grows.
    */
  private def scaledLineitem(s: SparkSession, dir: String, factor: Int,
      out: String): DataFrame =
    replicated(s, dir, "lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_shipdate", "l_extendedprice").map(col), factor, out)

  /** Where inputs scaled from `sfDir` live under `root`: one directory
    * per source, named after it, so a run over one scale factor never
    * reads inputs scaled from another.
    */
  private[graft] def scaleDirOf(root: String, sfDir: String): String =
    s"$root/${new java.io.File(sfDir).getCanonicalFile.getName}"

  /** `dir`, first built by `build` unless its `_done` marker says an
    * earlier run finished it.
    */
  private def builtOnce(dir: String)(build: => Unit): String = {
    if (!new java.io.File(s"$dir/_done").exists()) {
      build
      new java.io.File(s"$dir/_done").createNewFile()
    }
    dir
  }

  /** ×f sf-shaped WAREHOUSE directory (orders/lineitem/part/supplier/
    * customer shard-replicated with MATCHING key offsets so per-shard
    * join structure replicates — ×f fact, ×f dims, same join
    * selectivities; nation/region stay fixed — true dims). Registered
    * queries run VERBATIM against it. Cached under
    * `scaleDirOf(root, sfDir)/qdir_x<f>` with a `_done` marker; shared by
    * the stress families here and by [[graft.tools.Scale]].
    */
  private[graft] def warehouseDir(spark: SparkSession, sfDir: String,
      root: String, f: Int): String = {
    val dir = s"${scaleDirOf(root, sfDir)}/qdir_x$f"
    def table(t: String, cols: String*): Unit = replicate(
      spark.read.parquet(s"$sfDir/$t.parquet").select(cols.map(col): _*), f,
      s"$dir/$t.parquet")
    builtOnce(dir) {
      table("orders", "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      table("customer", "c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      table("lineitem", "l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
      table("part", "p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      table("supplier", "s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      for (t <- Seq("nation", "region"))
        spark.read.parquet(s"$sfDir/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")

    // hermetic: the dedup-cluster pipeline memoises through SharedCache
    domain.SharedCache.clear(spark)

    val scaleRoot = "target/scale"
    val scaleDir = scaleDirOf(scaleRoot, sfDir)
    new java.io.File(scaleDir).mkdirs()

    // ×1 inputs go through the same generator (1 shard) so both scales
    // carry identical perturbation overhead and the ratio isolates SIZE
    val docs1 = scaledDocs(spark, sfDir, 1, s"$scaleDir/docs_x1.parquet")
    val docsN = scaledDocs(spark, sfDir, factor,
      s"$scaleDir/docs_x$factor.parquet")
    val part1 = scaledPart(spark, sfDir, 1, s"$scaleDir/part_x1.parquet")
    val partN = scaledPart(spark, sfDir, factor,
      s"$scaleDir/part_x$factor.parquet")

    // JVM/codegen warmup on the small corpus so both measured scales run
    // with compiled plans — the ratio compares data sizes, not Janino
    val warm = spark.read.parquet(s"$sfDir/../sf0.01/documents.parquet")
    dedup.MinHashDedup.nearDupPairs(warm).count()
    dedup.DedupClusters.clusters(warm).count()
    operators.Extended.fuzzyNameJoin(
      spark.read.parquet(s"$sfDir/../sf0.01/part.parquet")).count()

    // SPARK_GRAFT_STRESS_ONLY=<substring>[,…] restricts the run for a
    // single family's measurement (skipped ops report -1 and are
    // filtered from the ratio printout)
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY").map(_.split(',').toSeq)
    def keepOp(name: String) = only.forall(_.exists(name.contains))
    def time(name: String, factor: Int)(thunk: => Long): (String, Double) = {
      if (!keepOp(name)) return (s"$name@x$factor", -1.0)
      val t0 = System.nanoTime()
      val rows = thunk
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$name","factor":$factor,"sec":$sec%.2f,"rows":$rows}""")
      (s"$name@x$factor", sec)
    }

    val results = Seq(
      time("minhash_lsh_pairs", 1) {
        dedup.MinHashDedup.nearDupPairs(docs1).count() },
      time("minhash_lsh_pairs", factor) {
        dedup.MinHashDedup.nearDupPairs(docsN).count() },
      time("dedup_clusters", 1) {
        dedup.DedupClusters.clusters(docs1).count() },
      time("dedup_clusters", factor) {
        dedup.DedupClusters.clusters(docsN).count() },
      time("fuzzy_name_join", 1) {
        operators.Extended.fuzzyNameJoin(part1).count() },
      time("fuzzy_name_join", factor) {
        operators.Extended.fuzzyNameJoin(partN).count() },
    ).toMap

    // ---- ANN/cluster-diagnostic family over ×N embeddings ----
    val emb1 = scaledEmb(spark, sfDir, 1, s"$scaleDir/emb_x1.parquet")
    val embN = scaledEmb(spark, sfDir, factor,
      s"$scaleDir/emb_x$factor.parquet")
    // warmup (compiled plans) on the small corpus
    val warmE = spark.read.parquet(s"$sfDir/../sf0.01/embeddings.parquet")
    similarity.IvfPq.ivfPqTopK(warmE,
      warmE.filter(col("vec_id") < 10), 5).count()
    similarity.Silhouette.scores(warmE).count()

    val annResults = Seq(
      // cold = index build (IVF train/assign + PQ train/encode) + query
      time("ivfpq_build_and_query", 1) {
        similarity.IvfPq.ivfPqTopK(emb1,
          emb1.filter(col("vec_id") < 10), 5).count() },
      time("ivfpq_build_and_query", factor) {
        similarity.IvfPq.ivfPqTopK(embN,
          embN.filter(col("vec_id") < 10), 5).count() },
      // served = artifacts already in the shared cache → query cost only
      time("ivfpq_query_served", 1) {
        similarity.IvfPq.ivfPqTopK(emb1,
          emb1.filter(col("vec_id") < 10), 5).count() },
      time("ivfpq_query_served", factor) {
        similarity.IvfPq.ivfPqTopK(embN,
          embN.filter(col("vec_id") < 10), 5).count() },
      time("silhouette", 1) {
        similarity.Silhouette.scores(emb1).count() },
      time("silhouette", factor) {
        similarity.Silhouette.scores(embN).count() },
    ).toMap

    // ---- as-of family over ×N events: composed union+window vs the
    // native AsOfJoinExec, same result set ----
    val ev1 = scaledEvents(spark, sfDir, 1, s"$scaleDir/events_x1.parquet")
    val evN = scaledEvents(spark, sfDir, factor,
      s"$scaleDir/events_x$factor.parquet")
    val warmEv = spark.read.parquet(s"$sfDir/../sf0.01/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"))
    operators.Sessions.asofComposed(warmEv).count()
    operators.Sessions.asofNativeExec(warmEv).count()

    val asofResults = Seq(
      time("asof_composed", 1) {
        operators.Sessions.asofComposed(ev1).count() },
      time("asof_composed", factor) {
        operators.Sessions.asofComposed(evN).count() },
      time("asof_native", 1) {
        operators.Sessions.asofNativeExec(ev1).count() },
      time("asof_native", factor) {
        operators.Sessions.asofNativeExec(evN).count() },
    ).toMap

    // ---- round-5 family: PCA gram build, SCD2 temporal join,
    // assortativity, removal attribution ----
    val li1 = scaledLineitem(spark, sfDir, 1, s"$scaleDir/li_x1.parquet")
    val liN = scaledLineitem(spark, sfDir, factor,
      s"$scaleDir/li_x$factor.parquet")
    def orders(name: String, f: Int, cols: String*) = replicated(spark,
      sfDir, "orders", cols.map(col), f, s"$scaleDir/${name}_x$f.parquet")
    val or1 = orders("ord", 1, "o_orderkey", "o_custkey", "o_orderdate",
      "o_orderpriority")
    val orN = orders("ord", factor, "o_orderkey", "o_custkey", "o_orderdate",
      "o_orderpriority")
    // warmups on the small corpus
    similarity.PowerIteration.topComponent(warmE).count()
    operators.TemporalJoin.temporalAgg(
      spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet"),
      spark.read.parquet(s"$sfDir/../sf0.01/lineitem.parquet")).count()
    def incidence(li: DataFrame) = li
      .select(col("l_partkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst")).distinct()
    dedup.Assortativity.run(incidence(
      spark.read.parquet(s"$sfDir/../sf0.01/lineitem.parquet"))).count()

    val r5Results = Seq(
      time("pca_gram_build", 1) {
        similarity.PowerIteration.topComponent(emb1).count() },
      time("pca_gram_build", factor) {
        similarity.PowerIteration.topComponent(embN).count() },
      time("scd2_temporal_join", 1) {
        operators.TemporalJoin.temporalAgg(or1, li1).count() },
      time("scd2_temporal_join", factor) {
        operators.TemporalJoin.temporalAgg(orN, liN).count() },
      time("assortativity", 1) {
        dedup.Assortativity.run(incidence(li1)).count() },
      time("assortativity", factor) {
        dedup.Assortativity.run(incidence(liN)).count() },
    ).toMap

    // ---- round-6 family: interval merge, weighted SSSP, maximal
    // matching, grid radius join, Jaro-Winkler blocked join ----
    // graph inputs: shard-disjoint suppkeys → the ×N co-occurrence
    // graph is N independent copies; per-copy structure preserved
    def coocW(li: DataFrame) = {
      val a = li.select("l_orderkey", "l_suppkey")
      a.alias("x").join(a.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
        .agg(count(lit(1)).as("w"))
    }
    def ssspEdges(li: DataFrame) = {
      val und = coocW(li).select(col("a").as("src"), col("b").as("dst"),
        (lit(1L) + (col("a") + col("b")) % 7).as("w"))
      und.union(und.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
    }
    def ssspNodes(li: DataFrame) = li.select(col("l_suppkey").as("id"))
      .distinct()
    // geo: ×N adds disjoint longitude bands — constant density, growing
    // map, the way a spatial corpus actually scales (same box would
    // quadratically inflate the TRUE result, a different workload)
    def geoSide(n: Long, mult1: Long, mult2: Long, f: Int, key: String) = {
      val ids = spark.range(1, n + 1).select(col("id"))
      val sh = spark.range(f).select(col("id").as("shard"))
      ids.crossJoin(sh).select(
        (col("id") + col("shard") * 100000000L).as(key),
        ((col("id") * mult1) % 180000L).as("lat"),
        ((col("id") * mult2) % 360000L + col("shard") * 360000L).as("lon"))
    }
    // jw: shard suffix on the FIRST name token replicates BLOCKS (×N
    // block count at constant block size — the Σ|block|² sum scales ×N;
    // the suffix rides inside the 2-token blocking key the query uses)
    def jwParts(f: Int) = {
      val p = spark.read.parquet(s"$sfDir/part.parquet")
        .select("p_partkey", "p_name")
      val sh = spark.range(f).select(col("id").as("shard"))
      p.crossJoin(sh).select(
        (col("p_partkey") + col("shard") * 100000000L).as("p_partkey"),
        expr("""regexp_replace(p_name, '^(\\S+)',
               |  concat('$1', CAST(shard AS STRING)))""".stripMargin)
          .as("p_name"))
    }
    def jwJoin(p: DataFrame) = functions.JaroWinkler.blockedJoin(p)
    def mergeIv(o: DataFrame) = operators.Intervals.mergePerKey(
      o.select(col("o_custkey").as("k"), col("o_orderdate").as("start"),
        date_add(col("o_orderdate"), 30).as("end"),
        col("o_orderkey").as("oid")))

    // warmups at sf0.01 so both measured scales run compiled plans
    val wLi = spark.read.parquet(s"$sfDir/../sf0.01/lineitem.parquet")
    val wOr = spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet")
    dedup.Sssp.run(ssspEdges(wLi), ssspNodes(wLi),
      ssspNodes(wLi).filter(col("id") <= 3)).count()
    // matching stress input: one long path per shard (consecutive
    // present suppkeys), the texture the chain-graph query matches on
    def pathEdges(li: DataFrame) = {
      val ks = li.select(col("l_suppkey").as("a")).distinct()
      ks.join(ks.select((col("a") - 1L).as("a"), col("a").as("b")), "a")
    }
    dedup.MaximalMatching.run(pathEdges(wLi)).count()
    // +1/+2/+3 lattice over present keys (the d31 fixture texture)
    def latticeEdges(li: DataFrame) = {
      val ks = li.select(col("l_suppkey").as("a")).distinct()
      (1 to 3).map { step =>
        ks.join(ks.select((col("a") - step.toLong).as("a"),
          col("a").as("b")), "a")
      }.reduce(_ union _)
    }
    dedup.Coloring.run(pathEdges(wLi).select(col("a"), col("b")),
      ssspNodes(wLi)).count()
    dedup.KTruss.run(latticeEdges(wLi)).count()
    mergeIv(wOr).count()
    jwJoin(jwParts(1).limit(2000)).count()
    operators.GeoJoin.radiusJoin(
      geoSide(1500, 48271L, 69621L, 1, "c_custkey"),
      geoSide(100, 16807L, 39373L, 1, "s_suppkey"), 3000L).count()

    val seedsOf = (li: DataFrame) =>
      ssspNodes(li).filter(col("id") % 1000000L <= 3 && col("id") % 1000000L >= 1)
    val r6Results = Seq(
      time("interval_merge", 1) { mergeIv(or1).count() },
      time("interval_merge", factor) { mergeIv(orN).count() },
      time("sssp_bounded", 1) {
        dedup.Sssp.run(ssspEdges(li1), ssspNodes(li1), seedsOf(li1)).count() },
      time("sssp_bounded", factor) {
        dedup.Sssp.run(ssspEdges(liN), ssspNodes(liN), seedsOf(liN)).count() },
      time("maximal_matching", 1) {
        dedup.MaximalMatching.run(pathEdges(li1)).count() },
      time("maximal_matching", factor) {
        dedup.MaximalMatching.run(pathEdges(liN)).count() },
      time("geo_radius_join", 1) {
        operators.GeoJoin.radiusJoin(
          geoSide(15000, 48271L, 69621L, 1, "c_custkey"),
          geoSide(1000, 16807L, 39373L, 1, "s_suppkey"), 3000L).count() },
      time("geo_radius_join", factor) {
        operators.GeoJoin.radiusJoin(
          geoSide(15000, 48271L, 69621L, factor, "c_custkey"),
          geoSide(1000, 16807L, 39373L, factor, "s_suppkey"), 3000L).count() },
      time("jaro_winkler_join", 1) { jwJoin(jwParts(1)).count() },
      time("jaro_winkler_join", factor) { jwJoin(jwParts(factor)).count() },
      time("greedy_coloring", 1) {
        dedup.Coloring.run(pathEdges(li1)
          .select(col("a"), col("b")), ssspNodes(li1)).count() },
      time("greedy_coloring", factor) {
        dedup.Coloring.run(pathEdges(liN)
          .select(col("a"), col("b")), ssspNodes(liN)).count() },
      time("ktruss_peel", 1) {
        dedup.KTruss.run(latticeEdges(li1)).count() },
      time("ktruss_peel", factor) {
        dedup.KTruss.run(latticeEdges(liN)).count() },
    ).toMap

    // ---- round-5b family: bursty terms (token-agg-bound) and quantile
    // normalization (count-table merge; ×N orders at ×N distinct values,
    // the per-group merge windows absorb the growth) ----
    text.BurstyTerms.bursty(warm).count()
    def qnInput(o: DataFrame) = o.select(
      col("o_orderpriority").as("grp"),
      (col("o_orderkey") % 100000L).as("v"))
    operators.QuantileNormalize.normalize(qnInput(
      spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet"))).count()
    // temporal reachability: shard-disjoint order/supp/cust keys make
    // the ×N contact graph N independent copies; seeds = the 3 lowest
    // custkeys of EVERY shard (custkey offset = shard·1e7) so every
    // copy carries a live wavefront. Supplier ids offset past the
    // sharded custkey space.
    def reachNodes(or: DataFrame, li: DataFrame) =
      or.select(col("o_custkey").as("id"))
        .union(li.select((col("l_suppkey") + 1000000000000L).as("id")))
        .distinct()
    def reachSeeds(or: DataFrame) =
      or.select(col("o_custkey").as("id"))
        .filter(col("id") % 10000000L <= 3 && col("id") % 10000000L >= 1)
        .distinct()
    dedup.TemporalReach.run(
      dedup.TemporalReach.contacts(
        spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet"),
        spark.read.parquet(s"$sfDir/../sf0.01/lineitem.parquet"),
        1000000000000L),
      reachNodes(spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet"),
        spark.read.parquet(s"$sfDir/../sf0.01/lineitem.parquet")),
      reachSeeds(spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet")))
      .count()

    val r5bResults = Seq(
      time("temporal_reachability", 1) {
        dedup.TemporalReach.run(
          dedup.TemporalReach.contacts(or1, li1, 1000000000000L),
          reachNodes(or1, li1), reachSeeds(or1)).count() },
      time("temporal_reachability", factor) {
        dedup.TemporalReach.run(
          dedup.TemporalReach.contacts(orN, liN, 1000000000000L),
          reachNodes(orN, liN), reachSeeds(orN)).count() },
      time("bursty_terms", 1) {
        text.BurstyTerms.bursty(docs1).count() },
      time("bursty_terms", factor) {
        text.BurstyTerms.bursty(docsN).count() },
      time("quantile_normalize", 1) {
        operators.QuantileNormalize.normalize(qnInput(or1)).count() },
      time("quantile_normalize", factor) {
        operators.QuantileNormalize.normalize(qnInput(orN)).count() },
    ).toMap

    // ---- batch-18/19/20 family: span corruption and JSD over ×N docs
    // (token-linear; JSD's vocab rows grow sublinearly), co-purchase
    // over ×N disjoint-shard lineitem (blocks replicate: pair work ×N),
    // DAU/WAU/MAU over ×N events (×N users at the same calendar) ----
    text.SpanCorruption.corrupt(warm).count()
    text.JensenShannon.jsd(warm).count()
    operators.CoPurchase.project(
      spark.read.parquet(s"$sfDir/../sf0.01/lineitem.parquet")).count()
    operators.ActiveUsers.series(warmEv).count()
    // ---- batch-23/26 family: Gini (cents-strata window; ×N disjoint
    // customers → ×N strata), log-rank (user agg + span-bounded at-risk
    // table; durations replicate so strata count is CONSTANT), ratio CI
    // (one user-keyed agg), Good–Turing (vocab-bounded count-of-counts;
    // shard tokens add ~1 stratum) ----
    def ordersP(f: Int) =
      orders("ord_p", f, "o_orderkey", "o_custkey", "o_totalprice")
    val evv1 = scaledEventsV(spark, sfDir, 1, s"$scaleDir/events_v_x1.parquet")
    val evvN = scaledEventsV(spark, sfDir, factor,
      s"$scaleDir/events_v_x$factor.parquet")
    val warmEvV = spark.read.parquet(s"$sfDir/../sf0.01/events.parquet")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    operators.Gini.compute(
      spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet")).count()
    operators.LogRank.compute(warmEvV).count()
    operators.RatioMetricCi.compute(warmEvV).count()
    text.GoodTuring.table(warm).count()
    val b26Results = Seq(
      time("gini_revenue", 1) {
        operators.Gini.compute(ordersP(1)).count() },
      time("gini_revenue", factor) {
        operators.Gini.compute(ordersP(factor)).count() },
      time("logrank_test", 1) {
        operators.LogRank.compute(evv1).count() },
      time("logrank_test", factor) {
        operators.LogRank.compute(evvN).count() },
      time("ratio_metric_ci", 1) {
        operators.RatioMetricCi.compute(evv1).count() },
      time("ratio_metric_ci", factor) {
        operators.RatioMetricCi.compute(evvN).count() },
      time("good_turing", 1) {
        text.GoodTuring.table(docs1).count() },
      time("good_turing", factor) {
        text.GoodTuring.table(docsN).count() },
    ).toMap

    // ---- batch-28/33 family: QTE (arm × cents strata), cohort LTV
    // (two corpus-keyed shuffles), Rocchio PRF (tokenize-once inverted
    // index; shard tokens join the vocabulary) ----
    def ordersPD(f: Int) = orders("ord_pd", f, "o_orderkey", "o_custkey",
      "o_orderdate", "o_totalprice")
    val evq1 = scaledEventsV(spark, sfDir, 1, s"$scaleDir/events_v_x1.parquet")
    val evqN = scaledEventsV(spark, sfDir, factor,
      s"$scaleDir/events_v_x$factor.parquet")
    val warmEvQ = spark.read.parquet(s"$sfDir/../sf0.01/events.parquet")
      .select(col("user_id"), col("value"))
    operators.QuantileTreatment.compute(spark, warmEvQ).count()
    operators.CohortLtv.compute(
      spark.read.parquet(s"$sfDir/../sf0.01/orders.parquet")).count()
    text.Rocchio.prf(spark, warm).count()
    val b33Results = Seq(
      time("quantile_treatment", 1) {
        operators.QuantileTreatment.compute(spark, evq1).count() },
      time("quantile_treatment", factor) {
        operators.QuantileTreatment.compute(spark, evqN).count() },
      time("cohort_ltv", 1) {
        operators.CohortLtv.compute(ordersPD(1)).count() },
      time("cohort_ltv", factor) {
        operators.CohortLtv.compute(ordersPD(factor)).count() },
      time("rocchio_prf", 1) {
        text.Rocchio.prf(spark, docs1).count() },
      time("rocchio_prf", factor) {
        text.Rocchio.prf(spark, docsN).count() },
    ).toMap

    val b20Results = Seq(
      time("span_corruption", 1) {
        text.SpanCorruption.corrupt(docs1).count() },
      time("span_corruption", factor) {
        text.SpanCorruption.corrupt(docsN).count() },
      time("jensen_shannon", 1) {
        text.JensenShannon.jsd(docs1).count() },
      time("jensen_shannon", factor) {
        text.JensenShannon.jsd(docsN).count() },
      time("copurchase_projection", 1) {
        operators.CoPurchase.project(li1).count() },
      time("copurchase_projection", factor) {
        operators.CoPurchase.project(liN).count() },
      time("dau_stickiness", 1) {
        operators.ActiveUsers.series(ev1).count() },
      time("dau_stickiness", factor) {
        operators.ActiveUsers.series(evN).count() },
    ).toMap

    // ---- batch-37..43 statistics family: the registered queries run
    // VERBATIM against a scaled sf-shaped directory (shard-disjoint
    // custkeys on the same calendar, so months replicate membership ×N
    // while the month COUNT stays constant — growth accounting's window
    // and anti-join, interrupted-TS's daily agg, meta-analysis's
    // event_type agg and the generalization histogram all grow linearly
    // in INPUT at constant output) ----
    def qdir(f: Int): String = warehouseDir(spark, sfDir, scaleRoot, f)
    // events for a100: reuse the value-carrying scaled events under the
    // sf-shaped dir name the registered query reads
    def qdirEvents(f: Int): String = builtOnce(s"$scaleDir/qdir_ev_x$f") {
      scaledEventsV(spark, sfDir, f, s"$scaleDir/qdir_ev_x$f/events.parquet"); ()
    }
    // CSLS corpus: sf0.01 base (500 vecs) so the ×10 r-pass stays a
    // 12.5M-pair stress, not a 1.25G-pair brute marathon — the measured
    // shape (quadratic in corpus, halved by the sample) is the claim
    // under test, not a surprise
    val cslsBase = s"$sfDir/../sf0.01"
    val cemb1 = scaledEmb(spark, cslsBase, 1, s"$scaleDir/cemb_x1.parquet")
    val cembN = scaledEmb(spark, cslsBase, factor,
      s"$scaleDir/cemb_x$factor.parquet")
    def statsWarm(name: String): Unit = {
      Registry.byName(name).run(spark, s"$sfDir/../sf0.01").count(); ()
    }
    statsWarm("e_growth_accounting"); statsWarm("w34_interrupted_time_series")
    statsWarm("a100_meta_analysis"); statsWarm("p17_generalization_ladder")
    statsWarm("a101_tukey_hsd"); statsWarm("a102_qini_uplift")
    // pre-build the scaled dirs so generation never lands in a timing
    val sdir1 = qdir(1); val sdirN = qdir(factor)
    val edir1 = qdirEvents(1); val edirN = qdirEvents(factor)
    similarity.Csls.rerankSampled(
      spark.read.parquet(s"$cslsBase/embeddings.parquet")).count()
    def statsRun(name: String, dir: String): Long =
      Registry.byName(name).run(spark, dir).count()
    val statsResults = Seq(
      time("growth_accounting", 1) {
        statsRun("e_growth_accounting", sdir1) },
      time("growth_accounting", factor) {
        statsRun("e_growth_accounting", sdirN) },
      time("interrupted_ts", 1) {
        statsRun("w34_interrupted_time_series", sdir1) },
      time("interrupted_ts", factor) {
        statsRun("w34_interrupted_time_series", sdirN) },
      time("generalization_ladder", 1) {
        statsRun("p17_generalization_ladder", sdir1) },
      time("generalization_ladder", factor) {
        statsRun("p17_generalization_ladder", sdirN) },
      time("meta_analysis", 1) {
        statsRun("a100_meta_analysis", edir1) },
      time("meta_analysis", factor) {
        statsRun("a100_meta_analysis", edirN) },
      // Tukey HSD: ×N orders into a CONSTANT number of priority groups —
      // one combinable moments aggregate + a constant k(k−1)/2 unpivot
      time("tukey_hsd", 1) { statsRun("a101_tukey_hsd", sdir1) },
      time("tukey_hsd", factor) { statsRun("a101_tukey_hsd", sdirN) },
      // Qini: ×N users; deciles via quantile THRESHOLDS broadcast back
      // (no global rank sort) — the r6 rework whose scaling is the claim
      time("qini_uplift", 1) { statsRun("a102_qini_uplift", edir1) },
      time("qini_uplift", factor) { statsRun("a102_qini_uplift", edirN) },
      time("csls_rerank_sampled", 1) {
        similarity.Csls.rerankSampled(cemb1).count() },
      time("csls_rerank_sampled", factor) {
        similarity.Csls.rerankSampled(cembN).count() },
    ).toMap

    // ---- conformance blocks ×10: the star/semi-anti compositions on a
    // shard-replicated warehouse (matching key offsets, fixed
    // nation/region dims) — grouped outputs stay constant-row while the
    // fact side grows ×f ----
    Seq("tpch_q01", "tpch_q05", "tpch_q19", "tpch_q21", "ssb_q2_1")
      .foreach(n => statsWarm(n))
    // generation is NOT part of any measurement: build both dirs first
    val qdir1 = qdir(1)
    val qdirN = qdir(factor)
    // embeddings under an sf-shaped dir for the registered-query runs
    def qdirEmb(f: Int): String = builtOnce(s"$scaleDir/qdir_emb_x$f") {
      scaledEmb(spark, sfDir, f, s"$scaleDir/qdir_emb_x$f/embeddings.parquet"); ()
    }
    val qe1 = qdirEmb(1); val qeN = qdirEmb(factor)
    statsWarm("d34_hyperball"); statsWarm("d_semantic_decontaminate")
    def qdirDocs(f: Int): String = builtOnce(s"$scaleDir/qdir_docs_x$f") {
      scaledDocs(spark, sfDir, f, s"$scaleDir/qdir_docs_x$f/documents.parquet"); ()
    }
    val qd1 = qdirDocs(1); val qdN = qdirDocs(factor)
    statsWarm("t_wordpiece_fertility")
    val r6bResults = Seq(
      // ×10 tokens but distinct words grow only by the shard markers:
      // the encode-∝-distinct-words claim under test
      time("wordpiece_fertility", 1) {
        statsRun("t_wordpiece_fertility", qd1) },
      time("wordpiece_fertility", factor) {
        statsRun("t_wordpiece_fertility", qdN) },
      // hyperball on the ×f cooc graph: shard-disjoint supplier keys →
      // N independent components; register table ×f, round count fixed
      time("hyperball_nf", 1) { statsRun("d34_hyperball", qdir1) },
      time("hyperball_nf", factor) { statsRun("d34_hyperball", qdirN) },
      // benchmark side stays fixed (vec_id < 20 exists only in shard 0),
      // corpus grows ×f: the broadcast-and-scan-once promise
      time("semantic_decon", 1) { statsRun("d_semantic_decontaminate", qe1) },
      time("semantic_decon", factor) {
        statsRun("d_semantic_decontaminate", qeN) },
    ).toMap

    val tpchResults = Seq(
      time("tpch_q01_scan_agg", 1) { statsRun("tpch_q01", qdir1) },
      time("tpch_q01_scan_agg", factor) {
        statsRun("tpch_q01", qdirN) },
      time("tpch_q05_star6", 1) { statsRun("tpch_q05", qdir1) },
      time("tpch_q05_star6", factor) { statsRun("tpch_q05", qdirN) },
      time("tpch_q19_disjunctive", 1) { statsRun("tpch_q19", qdir1) },
      time("tpch_q19_disjunctive", factor) {
        statsRun("tpch_q19", qdirN) },
      time("tpch_q21_semi_anti", 1) { statsRun("tpch_q21", qdir1) },
      time("tpch_q21_semi_anti", factor) {
        statsRun("tpch_q21", qdirN) },
      time("ssb_q2_1_star", 1) { statsRun("ssb_q2_1", qdir1) },
      time("ssb_q2_1_star", factor) { statsRun("ssb_q2_1", qdirN) },
    ).toMap

    val all = results ++ annResults ++ asofResults ++ r5Results ++
      r6Results ++ r5bResults ++ b20Results ++ b26Results ++ b33Results ++
      statsResults ++ tpchResults ++ r6bResults
    // ---- graftrec connector: does the pushed byte-seek hold its
    // promise that range-scan cost tracks the RANGE, not the file? ----
    def recFile(n: Long): String = {
      val p = s"$scaleDir/rec_stress_$n.rec"
      if (!new java.io.File(p).exists())
        sources.v2.RecSource.writeDense(p, 0L, n)
      p
    }
    def recRead(n: Long, push: Boolean): Long = {
      val df = spark.read
        .format(classOf[sources.v2.RecSource].getName).load(recFile(n))
      val q = if (push) df.filter(col("id") >= n / 2 && col("id") < n / 2 + n / 100)
        else df
      q.count()
    }
    recRead(1000000L, push = true) // warm the codegen/plan path
    val recResults = Seq(
      time("rec_full_scan", 1) { recRead(2000000L, push = false) },
      time("rec_full_scan", factor) { recRead(20000000L, push = false) },
      time("rec_pushed_1pct", 1) { recRead(2000000L, push = true) },
      time("rec_pushed_1pct", factor) { recRead(20000000L, push = true) },
    ).toMap

    for (op <- Seq("rec_full_scan", "rec_pushed_1pct")
         if recResults(s"$op@x1") >= 0) {
      val r = recResults(s"$op@x$factor") / recResults(s"$op@x1")
      println(f"""{"op":"$op","time_ratio_x$factor%d":$r%.2f}""")
    }

    for (op <- Seq("minhash_lsh_pairs", "dedup_clusters", "fuzzy_name_join",
      "ivfpq_build_and_query", "ivfpq_query_served", "silhouette",
      "asof_composed", "asof_native",
      "pca_gram_build", "scd2_temporal_join", "assortativity",
      "interval_merge", "sssp_bounded", "maximal_matching",
      "geo_radius_join", "jaro_winkler_join",
      "greedy_coloring", "ktruss_peel",
      "bursty_terms", "quantile_normalize",
      "temporal_reachability",
      "span_corruption", "jensen_shannon", "copurchase_projection",
      "dau_stickiness",
      "gini_revenue", "logrank_test", "ratio_metric_ci", "good_turing",
      "quantile_treatment", "cohort_ltv", "rocchio_prf",
      "growth_accounting", "interrupted_ts", "generalization_ladder",
      "meta_analysis", "tukey_hsd", "qini_uplift", "csls_rerank_sampled",
      "tpch_q01_scan_agg", "tpch_q05_star6", "tpch_q19_disjunctive",
      "tpch_q21_semi_anti", "ssb_q2_1_star",
      "hyperball_nf", "semantic_decon", "wordpiece_fertility")) {
      if (all(s"$op@x1") >= 0) {
        val r = all(s"$op@x$factor") / all(s"$op@x1")
        println(f"""{"op":"$op","time_ratio_x$factor%d":$r%.2f}""")
      }
    }
    spark.stop()
  }
}
