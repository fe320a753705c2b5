package graft

/** Formatted physical plans at sf0.01, in one of two forms:
  *   - with no argument, PLANS.md: the plans of the headline queries —
  *     the "is this the plan you'd want at 100 TB" evidence (pushdown,
  *     broadcast, partial aggs, no nested loops) in reviewable form.
  *     Regenerate: sbt "Test/runMain graft.DumpPlans".
  *   - with `<round> <suffix> <query>...`, a round's optimization
  *     evidence: plans/<round>/<query>_<suffix>.txt per named query
  *     (suffix "before" on the pre-optimization commit, "after" on HEAD).
  *     sbt "Test/runMain graft.DumpPlans r13 after d20_containment_keep"
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val d = "/root/testdata/sf0.01"
    def plan(n: String): String =
      SparkEntry.registry(n).fn(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    if (args.isEmpty) writePlansMd(plan) else writeRound(args.toSeq, plan)
    spark.stop()
  }

  private def writeRound(args: Seq[String], plan: String => String): Unit = {
    require(args.length >= 3, "usage: DumpPlans <round> <suffix> <query>...")
    val Seq(round, suffix) = args.take(2)
    val dir = java.nio.file.Paths.get("plans", round)
    java.nio.file.Files.createDirectories(dir)
    args.drop(2).foreach { n =>
      java.nio.file.Files.write(dir.resolve(s"${n}_$suffix.txt"), plan(n).getBytes("UTF-8"))
      println(s"[plans] wrote plans/$round/${n}_$suffix.txt")
    }
  }

  private def writePlansMd(plan: String => String): Unit = {
    val names = Seq("q1_pricing_summary", "q3_top_revenue_orders", "q5_region_revenue",
      "j1_anti_join", "j5_asof_join", "j6_salted_skew_join", "j7_range_join",
      "st3_sliding_window", "d3_minhash_lsh", "d8_keep_canonical", "t6_fuzzy_match",
      "t7_sequence_packing", "t8_greedy_packing", "ann4_pq_topk", "ann5_ivfpq_topk",
      "e2e2_financials_mart", "ct1_decontaminate", "t9_repetition",
      "e2e4_decontaminated_corpus",
      "d10_lsh_clusters", "d11_prefix_pairs", "d12_incremental_pairs",
      "d13_incremental_clusters",
      "q21_waiting_suppliers", "t14_tfidf", "a20_equidepth_hist",
      "e2e5_embedding_outliers", "mm3_phash_neardup",
      "q17_small_quantity", "mx3_temperature_mix",
      "j8_bloom_prune_join", "a16_funnel", "dq1_expectations",
      "emb1_pca_project", "t11_heavy_hitters", "st5_attribution_join",
      "a18_corr", "dq2_mix_drift",
      "sem1_semantic_dedup", "sem2_incremental_semdedup",
      "d14_duplicated_spans", "d16_span_scrub",
      "t15_lm_score", "t16_lm_frozen", "srch1_bm25", "srch2_bm25_indexed",
      "s9_weighted_sample", "dq3_ks_drift", "e2e8_ccnet_report",
      "d17_containment_pairs", "d18_bloom_dedup", "e2e9_retrieval_eval",
      "w8_robust_anomaly", "t19_novelty", "t20_novelty_frozen",
      "st7_multitouch", "d19_cluster_histogram", "t21_zipf_slope",
      "srch4_phrase", "d21_incremental_containment", "d22_incremental_keep",
      "d23_indexed_pairs", "d24_indexed_containment", "t22_gopher_rules",
      "e2e10_pretrain_frontdoor",
      "bpe3_train_merges", "bpe4_encode_fertility",
      "dsir1_importance_weights", "dsir2_importance_resample",
      "ct2_semantic_decontaminate", "cl2_label_prototypes", "mx5_token_budget",
      "srch5_mmr_rerank", "t23_token_entropy", "e2e11_training_shards",
      "w9_cusum_changepoint", "g1_pagerank", "g2_seed_expansion",
      "pii2_structured_scrub", "d23_indexed_pairs", "d24_indexed_containment",
      "prof1_column_profile",
      "d25_suffix_spans", "d26_indexed_suffix_spans", "d27_indexed_scrub",
      "s10_cluster_safe_split", "mx6_cross_source_dup",
      "ann2_lsh_topk", "d28_indexed_simhash", "s12_deterministic_shuffle",
      "mx7_curriculum_interleave", "dq6_embedding_drift",
      "s11_incremental_split", "srch6_hybrid_rrf", "ann7_filtered_topk",
      "mm4_indexed_phash",
      "e2e12_pretrain_export", "s13_resolve_conflicts", "d29_indexed_bbit",
      "ann3_ivf_topk", "d30_merged_index_pairs", "ann8_merged_ivf_topk",
      "e2e13_resolved_export", "d31_merged_suffix_spans",
      "d32_merged_simhash", "srch7_merged_bm25", "d33_retracted_pairs",
      "e2e14_takedown_export", "t24_cms_heavy_hitters", "d34_merged_bbit",
      "sem3_retracted_semdedup", "tok1_unigram_fertility",
      "ann9_merged_pq_topk", "ann10_merged_ivfpq_topk",
      "sem4_merged_semdedup", "cl1_kmeans_clusters", "ann4_pq_topk",
      "ann5_ivfpq_topk", "emb3_merged_pca", "a23_kmv_distinct",
      "a24_bottomk_quantiles",
      "q2_min_cost_supplier", "q4_order_priority", "q6_forecast_revenue",
      "q7_volume_shipping", "q8_market_share", "q9_product_profit",
      "q10_returned_items", "q11_important_parts", "q12_priority_shipping",
      "q16_supplier_counts",
      "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
      "q19_discounted_revenue", "q20_excess_shippers", "q22_global_sales",
      "q1_incremental_mart", "tok2_unigram_hardem")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries (sf0.01)\n\n")
    sb.append("Generated by `sbt \"Test/runMain graft.DumpPlans\"`. What to look for:\n")
    sb.append("filters/projections inside the parquet scan (PushedFilters/ReadSchema),\n")
    sb.append("BroadcastHashJoin on every dimension side, partial+final HashAggregate\n")
    sb.append("pairs around single exchanges, TakeOrderedAndProject for top-k, and the\n")
    sb.append("absence of CartesianProduct/BroadcastNestedLoopJoin anywhere —\n")
    sb.append("EXCEPT the ann4/ann5 ADC scans, where scoring every (code, query)\n")
    sb.append("pair against a broadcast KB-scale LUT batch is the algorithm, and\n")
    sb.append("the 1-row x 1-row aggregate cross joins (d19's corpus/clustered\n")
    sb.append("counts and the e2e rate derivations) which plan as a\n")
    sb.append("BroadcastNestedLoopJoin over exactly one broadcast row; the\n")
    sb.append("Partial-mode WindowGroupLimit under each ranking exchange is what\n")
    sb.append("keeps the shortlist window's sort-shuffle output-sized (Spark's\n")
    sb.append("rank-filter pushdown — PropertySpec pins the shape).\n")
    names.foreach { n =>
      sb.append(s"\n## $n\n\n```\n").append(plan(n).take(6000)).append("\n```\n")
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println("[plans] wrote PLANS.md")
  }
}
