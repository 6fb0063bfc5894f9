package graft.tools

import graft.Registry

/** Plan auditor: prints formatted physical plans for selected queries so
  * pushdown/broadcast/codegen can be eyeballed (and greps itself for the
  * anti-patterns).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "a3_multikey_agg", "j3_broadcast_dim_join", "p4_date_range_filter",
      "j6_feature_assembly", "p8_topn_membership", "a5_topn_most_common",
      "w1_sliding_window_stock", "d_minhash_lsh_pairs",
      // round 3: reworked plans worth re-auditing after any edit
      "dom_surface_forms_tfidf", "d_ngram_jaccard_pairs",
      "sim_knn_graph_blocked", "t_bm25_topk",
      // round-3 additions
      "t_chunk_documents", "t_unigram_logprob", "t_corpus_shuffle",
      "t_chunk_dedup_reassemble", "a17_table_profile", "a18_pivot",
      "d_dedup_corpus", "ann_ivf_topk")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = Registry.byName(n).run(spark, d)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
