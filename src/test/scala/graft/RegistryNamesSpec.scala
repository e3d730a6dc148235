package graft

import org.scalatest.funsuite.AnyFunSuite

/** The measurement mains name registry queries; these checks need no
  * Spark session and fail on the rename or deletion that would
  * otherwise silently drop a bench cell or stress entry. */
class RegistryNamesSpec extends AnyFunSuite {

  // the bench cells as last listed by hand; stream_100k_msgs makes 203
  private val benchCells = Seq(
    "q01_project_filter", "q03_agg_pricing_summary", "q04_count_distinct",
    "q06_rollup", "q07_broadcast_join", "q08_shuffle_join_topk",
    "q12_asof_join", "q14_window_rank", "q15_window_frames",
    "q16_sort_topk", "q18_dedup_keeper", "q21_math_conditional",
    "q22_array_funcs", "q24_json_funcs", "q30_percentiles", "q31_pivot",
    "q35_lateral_topk", "q37_range_join", "q38_grouping_sets",
    "q39_recursive_cte", "q40_listagg", "q41_range_frames", "q42_unpivot",
    "t1_window_tumbling", "t3_window_session", "l1_exact_dedup",
    "l1_bloom_dedup", "l2_jaccard_pairs", "l2_containment",
    "l2_winnow_pairs", "l2_minhash_lsh", "l2_simhash", "l2_dup_clusters",
    "l3_knn_bruteforce", "l3_ann_lsh", "l3_semdedup", "l3_ann_pq",
    "l3_ann_ivfpq", "l3_ann_ivfpq_residual", "l3_ann_refined",
    "l3_knn_graph", "l3_cluster_sample", "l4_tfidf", "l4_fingerprint",
    "l4_lm_score", "l4_entropy", "l4_winnow", "l6_corpus_clean",
    "l6_pack_shards", "l8_decontaminate", "l8_repetition",
    "l8_chunk_windows", "l8_line_dedup", "l8_mixture_apply",
    "l8_ngram_novelty", "l8_span_dedup", "l8_pack_sequences",
    "l4_classifier", "l4_vocab_oov", "l8_profile", "q43_minmax_by",
    "q44_pagerank", "l2_edit_distance", "l4_bpe_merges", "l4_bpe_encode",
    "l8_weighted_sample", "q45_histogram", "q46_ppr",
    "q47_pagerank_weighted", "l3_ann_incremental", "l4_bpe_merges_batched",
    "q48_components", "q49_bfs", "q50_triangles", "q51_stats_agg",
    "l8_importance", "q52_zorder", "l8_heavy_hitters", "q53_tpch_q3",
    "q54_tpch_q5", "q55_tpch_q10", "l3_pca_top", "q56_sssp", "q57_kcore",
    "q58_upsert", "q59_cdc_apply", "q60_scd2", "q61_resample",
    "q62_retention", "q63_wppr", "q64_lpa", "q65_hits", "q66_adamic_adar",
    "l2_incremental_clusters", "q67_tpch_q18", "q68_tpch_q21",
    "q69_modularity", "q70_louvain", "q71_rolling_zscore", "q72_scc",
    "q73_random_walks", "q74_tpch_q19", "q75_hilbert",
    "l3_truncated_recall", "l8_cdc_chunks", "q76_pagerank_incr",
    "q77_louvain_l2", "q78_funnel", "q79_frequent_triples",
    "q80_assoc_rules", "q81_link_predict", "q82_ewma", "l4_kn_lm",
    "q83_zonemap", "q84_tpch_q7", "q85_betweenness", "q86_graph_profile",
    "q87_node2vec_walks", "q88_mv_maintain", "l3_nprobe_sweep",
    "q89_transitions", "l2_lsh_sweep", "q90_tpch_q8", "q91_tpch_q14",
    "q92_skew_profile", "q93_harmonic", "q94_salted_join", "q95_hyperball",
    "q96_tpch_q17", "q97_tpch_q22", "l4_unigram_lm", "l4_unigram_encode",
    "q98_ktruss", "q99_condensation", "q100_mv_distinct",
    "q101_dq_constraints", "l3_ann_graph_search", "q102_attribution",
    "q103_zonemap_maintain", "q104_mv_join", "l3_ann_hnsw", "q105_tpch_q2",
    "q106_tpch_q11", "q107_tpch_q15", "q108_tpch_q16",
    "q109_clustering_depth", "q110_mv_join_delete", "q111_tpch_q4",
    "q112_tpch_q6", "q113_tpch_q9", "q114_tpch_q12", "q115_tpch_q13",
    "q116_tpch_q20", "q117_mv_agg_delete", "q118_mv_minmax_delete",
    "q119_mv_quantile_delete", "q120_mv_tpch_q1_delete",
    "l3_ann_hnsw_incremental", "q121_zonemap_pruned_read",
    "q122_mv_pipeline_delete", "q123_mv_cascade_delete",
    "q124_mv_two_hop_delete", "l3_ann_compact", "l2_incremental_delete",
    "l3_ann_delete", "l4_classifier_train", "l4_bm25", "l4_bm25_maintain",
    "l5_video_header", "q125_mv_topk_delete", "l4_bm25_incremental",
    "l6_cascade_delete", "q126_zonemap_transparent_read",
    "l6_cascade_insert", "q127_zonemap_string_or_read",
    "q128_zonemap_file_read", "q129_zonemap_prefix_read",
    "q130_zonemap_zorder_read", "q131_zonemap_nullcount_read",
    "q132_zonemap_notbetween_read", "q133_zonemap_notin_read",
    "q134_zonemap_zorder_files_read", "l3_ann_retrain",
    "q135_zonemap_nested_read", "q136_zonemap_bloom_read",
    "l3_ann_filtered", "l3_hybrid_rrf", "l3_ann_incremental_stored",
    "l6_cascade_delete_apply", "l6_cascade_insert_apply",
    "q121_zonemap_pruned_read_apply", "q126_zonemap_transparent_read_apply",
    "q127_zonemap_string_or_read_apply", "q128_zonemap_file_read_apply",
    "q129_zonemap_prefix_read_apply", "q130_zonemap_zorder_read_apply",
    "q131_zonemap_nullcount_read_apply",
    "q132_zonemap_notbetween_read_apply", "q133_zonemap_notin_read_apply",
    "q134_zonemap_zorder_files_read_apply",
    "q135_zonemap_nested_read_apply", "q136_zonemap_bloom_read_apply")

  private val registry = SparkEntry.queries.keySet

  test("Bench.headline, derived from the registry, is exactly the pinned bench cells") {
    assert(benchCells.size == 202 && benchCells.distinct.size == 202)
    assert(Bench.headline.distinct.size == Bench.headline.size)
    assert(Bench.headline.toSet == benchCells.toSet,
      s"added: ${Bench.headline.toSet -- benchCells}, dropped: ${benchCells.toSet -- Bench.headline}")
  }

  test("every Bench exclusion and every Stress cell is a registry query") {
    assert(Bench.unbenched.size == 55)
    assert(Bench.unbenched -- registry == Set.empty)
    assert(Stress.cells.distinct.size == Stress.cells.size)
    assert(Stress.cells.toSet -- registry == Set.empty)
  }
}
