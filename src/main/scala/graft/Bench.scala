package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR through
  * [[graft.tools.Probe.run]], the program's one timing loop, and prints
  * ONE JSON line with per-query wall seconds (the full detail goes to
  * BENCH_OUT.json, or SPARK_GRAFT_BENCH_OUT).
  *
  * Protocol (noise-controlled; the passes are Probe's):
  *   1. the shared materialisation cache is cleared, so run-to-run state
  *      can't leak in;
  *   2. a COLD `count()` pass runs every query once, in order — this pass
  *      pays and exposes the one-off pipeline builds (surface-form dedup,
  *      connected-components loops) exactly once, like a real pipeline
  *      run would, and doubles as the JVM/codegen warmup;
  *   3. an untimed noop-sink PIN pass finishes any build a failed task
  *      left incomplete and compiles the noop plans;
  *   4. three WARM passes each time a `count()` and a noop-sink write of
  *      every query; the reported per-query numbers are the medians of
  *      the three — single-shot timings swung ±50% on the LSH queries
  *      between rounds, medians don't.
  *
  * `queries` holds the warm count medians (steady-state, what a scheduler
  * would see for a repeated query), `noop` the warm noop-sink medians
  * (every column computed: count lets Catalyst prune aggregates and
  * windows), `cold` the first-pass times (what a one-off pipeline pays,
  * builds included). `value` = sum of count medians, `value_noop` = sum of
  * noop medians. `value` starts a new series with this protocol (r10): the
  * pin pass was a count, no noop run sat between count reps and each GC
  * sweep covered half as many runs, so r01–r09 values are not comparable
  * with it (one full sf0.01 pair on 4 cores read 144.7 s before, 125.2 s
  * after).
  */
object Bench {
  // representative of each subsystem: scan+agg, joins, windows, dedup,
  // similarity, text
  private[graft] val headline = Seq(
    "a3_multikey_agg",
    "j3_broadcast_dim_join",
    "j6_feature_assembly",
    "a4_exact_quantiles",
    "w1_sliding_window_stock",
    "a6_pct_within_group",
    "a7_index_normalisation",
    "j8_tiered_substring_match",
    "d_exact_dedup_groups",
    "d_minhash_lsh_pairs",
    "d_simhash_pairs",
    "d_ngram_jaccard_pairs",
    "d_embed_cosine_pairs",
    "d3_connected_components",
    "ann_brute_topk",
    "ann_ivf_topk",
    "t_quality_score",
    "t_fingerprint_md5",
    "j9_phrase_match",
    "d1_vectorise",
    "w6_session_windows",
    "a14_cube_rollup",
    "j12_asof_join",
    // round 2: domain-layer compositions + reworked text/similarity ops
    "dom_salary_extract",
    "dom_features",
    "dom_snapshot_ads",
    "dom_weekly_stock",
    // the cache build the three surface-form queries share, as its own
    // line — so tfidf reflects query cost, not first-build cost
    "dom_surface_forms_build",
    "dom_surface_forms_tfidf",
    "t_bm25_topk",
    "dom_clean_text",
    "dom_detect_skills_cleaned",
    "dom_consensus_communities",
    // scale-path kNN variants only: the all-pairs brute graph stays in
    // CORRECTNESS as the oracle ceiling but is not a headline number —
    // a cartesian BNLJ would not survive 100× data
    "sim_knn_graph_blocked",
    "sim_knn_graph_ivf",
    "d_dedup_clusters",
    // round 3: new curation operators
    "t_domain_mixture",
    "t_crossdoc_ngram_dup",
    "t_chunk_documents",
    "t_unigram_logprob",
    "t_corpus_shuffle",
    "a17_table_profile",
    "t_chunk_dedup_reassemble",
    // fuzzy join: 40M salted levenshtein verifies — the heaviest single
    // workload in the registry, kept headline so its cost stays visible
    "j13_fuzzy_name_join",
    // the composed dedup→quality→decontaminate→split→pack pipeline
    "t_curation_pipeline",
    // round 4: replayable sketches, real image decode, cohort retention
    "a16b_hll_distinct",
    "m_decode_dims",
    "a22_cohort_retention",
    "a23_countmin_sketch",
    "d11_pagerank",
    // round 4 (cont.): semantic dedup, hybrid retrieval, tokenizer apply,
    // importance weighting, hard negatives
    "d_semantic_dedup_corpus",
    "t_hybrid_retrieval",
    "t_bpe_encode",
    "t_dsir_weights",
    "sim_hard_negatives",
    "a24_quantile_sketch",
    "j14_range_join_binned",
    "sim_random_projection",
    // round 4 (cont.): graph analytics, linkage, layout, span excision
    "d13_kcore",
    "e_funnel_steps",
    "t_dedup_spans",
    "ann_pq_topk",
    "t_perplexity_buckets",
    "t_pmi_collocations",
    "w12_rolling_zscore",
    "j15_record_linkage",
    "f16_zorder_key",
    "sim_label_propagation",
    // round 4 (cont.): containment/winnowing overlap detection, hashed
    // classifier, MMR re-rank, partition quality, shuffle pre-flight,
    // Bloom sketch, CDC diff
    "d_ngram_containment_pairs",
    "t_winnowing_fingerprints",
    "t_quality_classifier",
    "sim_mmr_rerank",
    "d14_modularity",
    "j16_join_explosion_audit",
    "a28_bloom_replayable",
    "s16_snapshot_diff",
    "t_tfidf_terms",
    "a29_groupwise_ols",
    "e_event_transitions",
    "sim_mutual_knn",
    "w13_windowed_hll",
    "a30_mad_outliers",
    // round 4 (cont.): gap-fill, bloom runtime filter, corpus overlap,
    // image near-dup, clustering/coreset, attribution, percentile cut
    "w14_gapfill_locf",
    "j17_bloom_semijoin",
    "t_corpus_resemblance",
    "m_image_dhash_pairs",
    "sim_kmeans",
    "sim_kcenter_coreset",
    "e_attribution",
    "t_quality_percentile",
    "s18_incremental_agg_maintenance",
    "d15_incremental_cc",
    "t_kneserney_bigrams",
    "t_weighted_systematic_sample",
    "d16_khop_distances",
    "t_cluster_contrastive_pairs",
    "a31_unpivot",
    "s19_dynamic_partition_pruning",
    // round 5: bucketed tables (write-once shuffle, join/scan thereafter)
    "s20_bucketed_colocated_join",
    "s21_bucket_pruned_scan",
    "sim_recall_at_k",
    "t_corpus_drift",
    "m_scene_segments",
    "d17_clustering_coefficient",
    "t_temperature_mixture",
    "t_cluster_split",
    "a32_association_lift",
    "e_cusum_changepoints",
    // round 5 (cont.): PCA power iteration, ROUGE decontamination,
    // seasonal decomposition + Holt smoothing, compaction planning,
    // FD profiling
    "sim_pca_power",
    "t_rouge_decontaminate",
    "e_stl_decompose",
    "w15_holt_linear",
    "s23_compaction_plan",
    "a33_fd_audit",
    "d18_spectral_bipartition",
    "a34_ab_welch",
    "j18_entity_golden_records",
    "a35_theilsen_trend",
    "t_ngram_novelty",
    // round 5 (cont.): bootstrap uncertainty, Hilbert layout, forecast
    // gate, retrieval quality, production ANN composition, cluster
    // diagnostics, graph centrality, keyword graph
    "a36_poisson_bootstrap_ci",
    "f17_hilbert_key",
    "e_forecast_mase",
    "sim_ndcg_at_k",
    "ann_ivfpq_topk",
    "sim_silhouette",
    "d19_harmonic_centrality",
    "t_textrank_keywords",
    "p13_t_closeness",
    // round 5 (cont.): data contracts, dead-letter split, Benford,
    // corpus concentration + Zipf fit
    "a37_expectation_audit",
    "s24_quarantine_split",
    "a38_benford_audit",
    "t_source_gini",
    "t_zipf_slope",
    "d20_link_prediction",
    "sim_dim_truncation_recall",
    "j19_sorted_neighborhood",
    "t_char_entropy",
    "w16_time_weighted_avg",
    // round 6: native as-of exec (custom SparkStrategy), interval-overlap
    // join, Louvain sweep + personalized PageRank on the shared cooc graph
    "j12b_asof_native",
    "j20_interval_overlap_join",
    "d21_louvain_move",
    "d22_personalized_pagerank",
    "e_kaplan_meier",
    "a39_weighted_median",
    "j21_best_match_join",
    "d_quality_exemplar",
    // round 5: zone maps, delta-join maintenance, SCD2 temporal join,
    // removal attribution, DP release, lexical diversity, assortativity,
    // STL anomaly gate
    "s27_zonemap_prune",
    "s28_incremental_join_maintenance",
    "j22_scd2_temporal_join",
    "e_removal_attribution",
    "p15_dp_noisy_counts",
    "t_lexical_diversity",
    "d23_assortativity",
    "e_stl_anomaly",
    "e_rfm_segments",
    "a40_trimmed_mean",
    "p16_policy_masking",
    "s29_chunk_gc_plan",
    "a41_wilson_proportion_ci",
    "s27b_streaming_zonemap_parity",
    "j20b_interval_native",
    "w17_mom_yoy_growth",
    "a42_chisq_independence",
    "d25_betweenness_sampled",
    "a43_abc_pareto",
    "t_kn_crossentropy",
    "s30_schema_drift",
    "j12d_asof_forward",
    "d26_rich_club",
    // round 6: interval algebra, HITS, bounded SSSP, info stats,
    // spatial grid join, hierarchy rollup
    "w18_interval_merge",
    "w19_interval_coverage",
    "d27_hits",
    "d28_sssp_bounded",
    "w20_acf_lags",
    "a44_mutual_info",
    "a45_skyline",
    "j23_geo_radius_join",
    "j24_hierarchy_rollup",
    "j25_jaro_winkler_join",
    "w21_m4_downsample",
    "w22_linear_interpolate",
    "d29_maximal_matching",
    "t_skipgram_cooc",
    "t_inverted_index",
    // w8b_streaming_outer_join_parity stays CORRECTNESS-only (the
    // sim_knn_graph precedent): 8.4 s of pure multi-batch stream drain
    // per pass measures the harness, not an operator
    "a46_target_encoding",
    "a47_lift_table",
    "s31_surrogate_keys",
    "t_readability",
    "a48_stump_split",
    "t_code_signals",
    "t_url_domains",
    "a49_ks_test",
    "j12e_asof_nearest",
    "w24_stock_flow",
    "a50_spearman",
    "a51_cuped",
    "sim_rank1_als",
    "s32_dsv2_pushdown_scan",
    "s33_dsv2_roundtrip_write",
    "w7b_transformwithstate_parity",
    "w25_range_frame_sum",
    "w26_rank_functions",
    "a52_observed_metrics",
    "d30_greedy_coloring",
    "s34_time_travel_read",
    "t_rake_keyphrases",
    "f18_luhn_check",
    "a53_calibration_ece",
    "d31_ktruss_peel",
    "t_positional_search",
    "w7c_tws_liststate_topk_parity",
    "w6b_tws_timer_session_parity",
    "j27_allen_relations",
    "t_llr_collocations",
    "f19_soundex_blocking",
    "a54_mann_whitney",
    "a55_kruskal_wallis",
    "e_session_metrics",
    "a56_location_quotient",
    "a57_hhi_concentration",
    "a58_shift_share",
    "t_bursty_terms",
    "a59_isotonic_calibration",
    "a60_ipf_raking",
    "a61_quantile_normalize",
    "a62_cmh_test",
    "a63_conformal_interval",
    "sim_lof_outliers",
    "a64_stratified_ate",
    "t_streaming_bursty_parity",
    "sim_davies_bouldin",
    "a65_sprt_monitor",
    "t_heaps_law",
    "a66_wasserstein_1d",
    "s35_dsv2_agg_pushdown",
    "s36_dsv2_topn_pushdown",
    "d32_temporal_reachability",
    "a67_kendall_tau",
    "sim_map_at_k",
    "a68_horvitz_thompson",
    "a69_mann_kendall",
    "a70_ljung_box",
    "a71_dickey_fuller",
    "e_process_variants",
    "e_dau_stickiness",
    "a72_diff_in_diff",
    "a73_mde_power",
    "a74_friedman_test",
    "a75_cohens_kappa",
    "a76_cramers_v",
    "w27_ccf_lags",
    "a77_psi_drift",
    "e_power_user_curve",
    "a78_granger_f",
    "a79_mcnemar",
    "a80_cochran_q",
    "a81_theil_index",
    "e_conversion_lag",
    "a82_cronbach_alpha",
    "t_jensen_shannon",
    "a83_welch_anova",
    "a84_brown_forsythe",
    "t_span_corruption",
    "j28_copurchase_projection",
    "e_markov_stationary",
    "a85_poisson_rates",
    "t_ql_dirichlet_topk",
    "t_tokenizer_fertility",
    "e_srm_check",
    "e_feature_adoption",
    "a86_two_way_anova",
    "a87_ratio_metric_ci",
    "t_url_canonicalize",
    "a88_jarque_bera",
    "a89_bartlett_test",
    "w28_durbin_watson",
    "t_good_turing",
    "a90_gini_revenue",
    "e_logrank_test",
    "s37_parquet_bloom_roundtrip",
    "a94_capture_recapture",
    "a91_dispersion_index",
    "e_price_elasticity",
    "t_negative_sampling_table",
    "a96_lorenz_deciles",
    "w29_gumbel_maxima",
    "a92_eb_shrinkage",
    "e_quantile_treatment_effect",
    "a93_effect_size",
    "t_powerlaw_alpha",
    "a95_multiple_testing_fdr",
    "w30_dow_seasonality",
    "e_cohort_ltv",
    "d_streaming_dropdup_ttl_parity",
    "s38_dynamic_partition_overwrite",
    "w31_p_chart",
    "t_script_detection",
    "a97_hll_set_ops",
    "t_rocchio_prf",
    "a98_oaxaca_blinder",
    "j26_null_safe_join",
    "ann_pq_refine_topk",
    "d_url_dedup_groups",
    "w32_seasonal_indices",
    "e_bayes_ab_normal",
    "f20_ip_cidr",
    "d33_conductance",
    "a99_covariance_matrix",
    // d24b_lsh_threshold_sweep deliberately NOT a headline: its exact-pair
    // side is the oracle-ceiling pattern (sampled at scale), same as d24
    "a100_meta_analysis",
    "w33_deseasonalized_zscore",
    "w34_interrupted_time_series",
    "p17_generalization_ladder",
    "e_growth_accounting",
    "sim_csls_rerank",
    "sim_csls_rerank_sampled",
    // round 6: the TPC-H conformance block — an externally meaningful
    // composite headline (multi-join, semi/anti chains, correlated
    // subqueries) over the same tables
    "tpch_q01", "tpch_q02", "tpch_q03", "tpch_q04", "tpch_q05", "tpch_q06",
    "tpch_q07", "tpch_q08", "tpch_q09", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q14", "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18",
    "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22",
    // round 6 (cont.): composite quality gate + noun chunker
    "t_gopher_rules",
    "t_noun_chunks",
    "d34_hyperball",
    "a101_tukey_hsd",
    "a102_qini_uplift",
    "d_semantic_decontaminate",
    "f21_fncatalog_hamming",
    "t_wordpiece_fertility",
    // round 6 (cont.): the SSB star-flight conformance block
    "ssb_q1_1", "ssb_q1_2", "ssb_q1_3", "ssb_q2_1", "ssb_q2_2", "ssb_q2_3",
    "ssb_q3_1", "ssb_q3_2", "ssb_q3_3", "ssb_q3_4", "ssb_q4_1", "ssb_q4_2",
    "ssb_q4_3",
  )

  /** Streaming parity rows measure fixed micro-batch + state-store setup
    * (~2-3 s each), not operator speed — they stay in the run (regression
    * coverage) but are totalled as their own block so the batch headline
    * is a clean engine-speed signal. Membership is an explicit list, not
    * a name-substring heuristic one rename away from reclassifying a row.
    * `batch_total` = registry operators only; `conformance_total` = tpch +
    * ssb (also broken out individually); `streaming_total` = the six
    * parity rows. The three blocks partition the headline: their sum is
    * `value`.
    */
  private val streamingBlock: Set[String] = Set(
    "w7b_transformwithstate_parity",
    "w7c_tws_liststate_topk_parity",
    "w6b_tws_timer_session_parity",
    "t_streaming_bursty_parity",
    "d_streaming_dropdup_ttl_parity",
    "s27b_streaming_zonemap_parity",
  )
  private def isTpch(name: String): Boolean = name.startsWith("tpch_")
  private def isSsb(name: String): Boolean = name.startsWith("ssb_")
  private def isConformance(name: String): Boolean =
    isTpch(name) || isSsb(name)
  private def isStreaming(name: String): Boolean = streamingBlock(name)
  private def isBatch(name: String): Boolean =
    !isStreaming(name) && !isConformance(name)

  /** Headline names the registry does not resolve: a renamed or removed
    * query must fail the bench, not silently shrink its total.
    */
  private[graft] def missingHeadline: Seq[String] =
    headline.filterNot(Registry.byName.contains)

  /** BENCH_OUT.json's object and the stdout line for one run over `sfDir`.
    * The line keeps every field of the r01–r09 lines, in order;
    * `value_noop` and BENCH_OUT.json's `noop` map are additions.
    */
  private[graft] def render(run: tools.Probe.Run, sfDir: String): (String, String) = {
    val rs = run.results
    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
        .flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)
    def str(s: String): String = "\"" + esc(s) + "\""
    def num(v: Double): String = f"$v%.3f"
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
    def times(ts: Seq[(String, Double)]): String =
      obj(ts.map { case (n, t) => n -> num(t) })
    val medians = rs.map(r => r.name -> r.countMedian)
    val noops = rs.map(r => r.name -> r.noopMedian)
    val cold = rs.map(r => r.name -> r.cold)
    // block totals partition the headline: batch (the engine-speed
    // signal — registry operators only), streaming (fixed micro-batch +
    // state-store overhead), conformance (tpch + ssb, the externally
    // comparable composites, also broken out individually)
    def total(ts: Seq[(String, Double)], p: String => Boolean = _ => true): String =
      num(ts.collect { case (n, t) if p(n) => t }.sum)
    val errors = rs.flatMap(r => r.error.map(r.name -> _))
    val retries = for (r <- rs; (p, n) <- r.taskFailures) yield s"$p:${r.name}" -> n
    val head = Seq(
      "metric" -> str("total"), "value" -> total(medians), "unit" -> str("sec"),
      "value_noop" -> total(noops),
      "batch_total" -> total(medians, isBatch),
      "streaming_total" -> total(medians, isStreaming),
      "conformance_total" -> total(medians, isConformance),
      "tpch_total" -> total(medians, isTpch), "ssb_total" -> total(medians, isSsb))
    val coldTotal = "cold_total" -> total(cold)
    val nQueries = "n_queries" -> rs.size.toString
    val taskRetries = "task_retries" -> retries.map(_._2).sum.toString
    val sf = "sf" -> str(sfDir)
    val detail = obj(head ++ Seq(
      "queries" -> times(medians),
      "noop" -> times(noops),
      "cold" -> times(cold),
      coldTotal, nQueries,
      "errors" -> obj(errors.map { case (n, e) => n -> str(e) }),
      taskRetries,
      "task_retries_by_pass_query" -> obj(retries.map { case (k, n) => k -> n.toString }),
      "first_task_error" -> str(run.firstTaskError), sf))
    val line = obj(head ++ Seq(coldTotal, nQueries,
      "n_errors" -> errors.size.toString, taskRetries,
      "first_task_error" -> str(run.firstTaskError.take(150)),
      "queries" -> times(medians), sf))
    (detail, line)
  }

  def main(args: Array[String]): Unit = {
    val missing = missingHeadline
    if (missing.nonEmpty) {
      Console.err.println("bench FAILED: headline names not in the registry: " +
        missing.mkString(", "))
      sys.exit(1)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    // start from a cold shared cache: the cold pass then measures the
    // pipeline builds, and prior runs can't contaminate the timings
    domain.SharedCache.clear(spark)
    val run = tools.Probe.run(spark, sfDir, headline.map(Registry.byName))
    val (detail, line) = render(run, sfDir)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (detail + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // The FINAL stdout line carries the per-query warm medians, the block
    // totals, `task_retries` and the first failure header, so a slow round
    // is attributable from this line alone.
    println(line)
    spark.stop()
    val failed = run.results.filter(_.error.nonEmpty)
    if (failed.nonEmpty) {
      Console.err.println(s"bench FAILED queries: ${failed.map(_.name).mkString(", ")}")
      sys.exit(1)
    }
  }
}
