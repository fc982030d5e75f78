package graft.tools
/** Dev utility: dump finalized physical plans for selected queries to a
  * markdown file (PLANS.md) for plan review.
  * Usage: runMain graft.tools.PlanDump [outFile] [sfDir] [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 2) args.drop(2).toSeq else Seq(
      "q01_pricing_summary", "q02_filter_pushdown", "q03_shipping_priority",
      "q05_region_revenue", "q08_window_topk", "q14_topk_global",
      "q17_left_outer_join", "q18_full_outer_join", "q32_unpivot",
      "q34_bloom_semi",
      "dd04_minhash_lsh", "dd06_embedding_neardup", "dd09_incremental_dedup",
      "dd10_typo_pairs", "dd11_decontamination", "sim04_ann_ivf",
      "ev05_asof_join", "ev07_funnel", "ev09_gap_fill",
      "etl01_log_roundtrip", "etl03_alb_roundtrip", "ta09_pii_redaction",
      "ta11_repetition", "sp03_exact_k_sample",
      "km01_kmeans_assign", "ta13_chunking", "sim05_int8_quant",
      "ev11_sliding_window", "ev12_outliers",
      "q35_merge_upsert", "ta14_bigram_lm", "sp04_temperature_mix",
      "ev14_cohort_retention", "q36_windowed_distinct",
      "q37_lateral_topk", "q38_recursive_cte",
      "ta16_sharded_index", "dd12_dup_spans", "ta17_corpus_composition",
      "mm03_header_probe", "sim06_ann_pq", "dq01_profile",
      "q39_salted_join", "dq04_profile_approx", "dd13_cluster_dedup",
      "sp05_split_assign", "q41_aqe_skew_join", "dd14_dup_span_regions",
      "ta18_bm25", "sp06_epoch_upsample", "dd15_semdedup", "dq06_drift",
      "q42_bucketed_join", "sim02_cosine_topk_hof",
      "mm04_media_neardup", "etl05_ddl_roundtrip", "sim01_cosine_exact",
      "mm05_audio_neardup", "mm06_video_neardup", "dd16_simhash_neardup",
      "ta19_sequence_packing", "sp07_grouped_split",
      "q43_gaps_islands", "km03_silhouette", "sp08_weighted_sample",
      "ta20_perplexity_buckets", "sim08_mmr", "gr01_pagerank",
      "sp09_neyman_alloc",
      "q44_zorder_layout", "ev16_autocorr", "ev17_changepoint",
      "dd17_containment", "gr04_clustering_coeff", "gr05_kcore",
      "ta22_zipf_fit", "km04_farthest_init",
      "dq07_fd_check", "q45_ignore_nulls_window",
      "sim11_int8_rerank", "ta25_curation", "ev20_attribution",
      "sp10_poisson_bootstrap", "ev21_funnel_deadline",
      "km05_lloyd_rounds", "sim12_knn_graph", "gr07_personalized_pr",
      "sp11_kfold", "dq09_table_fingerprint", "ev22_stickiness",
      "ta26_langid_multi", "ta27_bpe_encode", "gr08_pagerank_dangling",
      "dd19_incremental_neardup", "dd20_banded_registry_screen",
      "gr02_components", "sim25_ivf_absorb", "sim26_ivfpq_absorb",
      "gr10_components_chain", "sim27_ivf_delete", "sim28_ivfpq_delete",
      "sim31_bq_delete", "sim32_bq_absorb", "sim33_ivf_maintain",
      "sim34_ivfpq_maintain", "sim35_lsh_index_serve",
      "mm07_media_registry_screen", "mm08_media_registry_delete",
      "st18_cdc_schema_evolution",
      "cu01_curation_pipeline")
    val spark = graft.GraftSession.builder().getOrCreate()
    val sb = new StringBuilder
    sb.append(s"# Finalized physical plans ($sfDir, local[${graft.GraftSession.cpus}], AQE on)\n\n")
    sb.append("Generated by `graft.tools.PlanDump`. Shapes to check: filters\n")
    sb.append("and ReadSchema at the FileScan, BroadcastHashJoin for dims,\n")
    sb.append("TakeOrderedAndProject for top-k, partial_* before exchanges,\n")
    sb.append("`*(n)` whole-stage codegen spans.\n")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      df.collect()  // finalize adaptive plan
      sb.append(s"\n## $n\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.take(8000))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
