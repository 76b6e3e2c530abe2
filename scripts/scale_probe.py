#!/usr/bin/env python3
"""Empirical scaling probe: run every headline query at three scale
factors (sf0.001 / sf0.01 / sf0.1 — 100x data spread) and report the
warm-time growth ratio t(sf0.1)/t(sf0.01) next to the 10x data ratio.

A ratio near 1 means the query is constant-dominated at local scale
(scheduler + plan cost, not data); near 10 means it is already
data-bound and its per-row cost is what a cluster would scale out.
Writes a markdown table to stdout — paste into SCALING.md.

Usage: python scripts/scale_probe.py [repeats]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# headline set + the round-2 pipeline operators (sessionize/RLE/OHLC
# event-log family, chunk/pack/repetition document prep, JW blocking,
# triangles, CDC merge) so SCALING.md tracks their growth too.
# Module-level so tests/test_grade_order.py can lock it against
# bench.EXTRA (the docs promise the lists stay in sync — VERDICT r3 #7).
EXTRA = [
    "x_sessionize_batch_i", "x_runlength_events", "x_ohlc_resample",
    "x_token_chunks", "x_chunk_dedup", "x_ngram_repetition",
    "x_sequence_packing", "x_jaro_winkler_pairs", "x_triangle_count",
    "rel_merge_upsert", "rel_latest_per_key", "x_dedup_pipeline",
    # round-3 training-data-prep family
    "x_decontaminate_ngrams", "x_pii_redact", "x_domain_mix_weights",
    "x_gram_census_dual",
    "x_substring_dup_rolling",
    "x_substring_dup_dual", "x_incremental_dedup",
    "src_python_datasource",
    # round-3 PQ + lake-hygiene ops
    "x_pq_encode", "x_pq_adc_topk", "x_pq_recall",
    "src_schema_evolution", "src_csv_badrecords",
    "x_domain_resample_manifest", "x_split_leakage",
    # round-3 curation reports + ANN/streaming variants
    "x_dedup_survivorship", "x_dedup_report", "x_dup_ratio_by_source",
    "x_contamination_by_split", "x_ann_lsh_multiprobe",
    "stream_ohlc_windows", "x_length_histogram", "rel_group_by_all_i",
    # round-4 flagships
    "x_semantic_dedup_scaled", "x_bm25_topk", "x_winnow_fingerprints",
    "x_gopher_rules", "x_tokenizer_fertility", "stream_content_dedup",
    "x_hybrid_rrf", "x_lm_perplexity_filter", "x_lsh_blocking_eval",
    "x_skew_diagnosis", "x_zorder_layout", "x_anomaly_windows", "stream_anomaly_baseline",
    "x_join_size_forecast", "src_python_stream_source",
    "src_python_stream_partitioned", "x_kmv_sketch",
    "x_funnel_steps", "x_retention_cohorts",
    "x_markov_transitions", "x_scd2_intervals",
    "rel_pivot_status_priority", "rel_cube_agg", "x_stratified_topn",
    "x_mixture_planner", "x_clustering_coefficient",
    "stream_left_outer_join", "stream_foreachbatch_upsert",
    "x_sorted_neighborhood", "x_ks_drift",
    "rel_recursive_cte", "x_copurchase_pairs", "rel_variant_shred",
    "rel_sql_udf", "x_quantile_bins", "x_keyness_by_source",
    "x_ab_test_proportions", "x_seasonal_naive_eval",
    "x_containment_dup_reduced", "x_vocab_coverage", "x_table_profile",
    "rel_correlated_scalar", "x_k_anonymity", "x_lineage_manifest",
    "x_snapshot_diff", "x_l_diversity",
    # round-5 flagships
    "x_winnow_coarse_rolling", "rel_recursive_cycle_walk",
    "x_boilerplate_ngrams", "x_bpe_merge_step", "x_t_closeness",
    "x_countmin_sketch", "x_linear_quality_scorer",
    "stream_full_outer_join", "stream_dedup_within_watermark",
    "x_matryoshka_recall", "rel_window_suite", "x_bpe_train",
    "x_hll_sketch", "stream_countmin_cells", "x_source_quality_report",
    "x_bpe_apply", "x_k_anonymity_repair",
    "stream_hll_cells", "x_negative_sampling", "x_training_shards",
    "x_watermark_greenlist", "x_preference_pairs",
    "x_inbatch_collision_audit", "x_ablation_manifest",
    "x_multimodal_real_decode",
    "x_multimodal_real_resize",
    "x_ewma_volume_dense",
    "x_multimodal_jpeg_decode",
    "x_ann_lsh_scaled",
    "x_ann_recall_scaled",
    "x_ann_ivf_scaled",
    "x_ann_ivf_certified",
    "x_ann_ivf_scaled_certified",
    "x_multimodal_png_decode",
    "x_sequence_packing_sharded",
    "x_grpo_advantages",
    "x_zorder_skipping",
    "x_mmr_rerank",
    "x_ann_multiprobe_scaled",
    "x_multimodal_gif_decode",
    "src_webdataset_shards",
    "src_tfrecord_roundtrip",
    # round-7 flagships
    "x_multimodal_mp4_meta",
    "x_multimodal_mp3_meta",
    "x_media_curation_report",
    "x_bloom_semijoin_prune",
    "stream_bloom_words",
    "x_skyline_pareto",
    "x_copurchase_census",
    "x_kcore_peel",
    "x_hll_rollup",
    "x_ivm_agg_merge",
    "x_record_linkage_fs",
    "x_kmv_set_ops",
    "x_layout_skipping_faceoff",
    "x_phrase_search",
    "x_cdc_replay",
    "x_setsim_ppjoin",
    "x_quantile_hist_sketch",
    "stream_kmv_minset",
    "x_dpp_star_join",
    "x_bigram_greedy_decode",
    "x_phonetic_blocking",
    "x_encoding_advisor",
    "x_compaction_planner",
    "x_interval_concurrency",
    "x_bitmap_index",
    "x_merkle_manifest",
    "x_label_propagation",
    "x_cdc_chunking",
    "x_wordpiece_segment",
    "x_postinglist_bytes",
    "x_kcenter_coreset",
    "x_referential_audit",
    "x_textrank_sentences",
    "x_cusum_changepoint",
    "x_gini_split",
    "x_attribution_touch",
    "x_view_selection_greedy",
    "x_colbert_maxsim",
    "x_dbscan_grid",
    "x_join_order_dp",
    "x_symspell_correct",
    "x_graph_feature_prop",
    "x_auc_exact",
    "x_score_calibration",
    "x_stump_confusion",
    "x_bfs_levels",
    "x_cms_topk_precision",
    "x_twap",
    "x_mad_outliers",
    "x_benford_audit",
    "x_fk_discovery",
    "x_selectivity_hist_eval",
    "src_xml_roundtrip",
    "x_rfm_segments",
    "x_abc_classes",
    # round-8 flagships
    "x_multimodal_h264_nals",
    "x_multimodal_aac_adts",
    "x_hits_scores",
    "x_viterbi_decode",
    "x_parquet_footer_stats",
    "x_event_trigram_mining",
    "x_kneser_ney_bigram",
    "x_consistent_hash_ring",
    "x_kendall_tau_metrics",
    "x_perceptron_epochs",
    "x_spec_decode_acceptance",
    "x_haar_event_wavelet",
    # round 9
    "x_ndcg_topk",
    "x_av_curation_report",
    "x_dpo_pairs",
    "x_hard_negative_mining",
    "x_skipgram_cooc",
    "x_dataset_card",
    "x_span_corruption",
    "x_prefix_cache_hits",
    "x_int8_quant_eval",
    "x_ab_srm_check",
    "x_tfexample_parse",
    "x_mrr_eval",
    "x_bleu_ngram_precision",
    "x_audio_qa_gate",
    "x_paged_kv_blocks",
    "x_lang_modularity",
    "x_erasure_manifest",
    # round-10 flagships
    "x_image_dhash_near_dup",
    "x_moe_routing_stats",
    "x_fim_splits",
    "x_preference_cycles",
    "x_zipf_octaves",
    "x_length_curriculum",
    "x_event_lateness_histogram",
    "x_hnsw_layers",
    "x_join_qerror",
    "x_vocab_drift",
    "x_embedding_qa_gate",
    "x_ams_f2_sketch",
    "src_fixedwidth_roundtrip",
    "x_pps_systematic_sample",
    "x_multimodal_curation_manifest",
    "x_rouge_l",
    "x_temperature_mix_weights",
    "x_dedup_agreement_census",
    "x_adaboost_rounds",
    "x_isotonic_calibration",
    "x_seasonal_decompose",
    "x_theil_sen_trend",
    "x_permutation_test_exact",
    # round-11 flagships
    "src_warc_roundtrip",
    "x_hnsw_search",
    "x_inference_queue_wait",
    "x_annotator_kappa",
    "x_generation_loop_detect",
    "x_epoch_shuffle_audit",
    "src_safetensors_manifest",
    "x_needle_depth_manifest",
    "stream_queue_wait",
    "src_avro_roundtrip",
    "x_pass_at_k",
    "x_brier_score",
    "x_heaps_law_checkpoints",
    "x_gini_concentration",
    "x_rake_keywords",
    "x_knn_classifier",
    "x_silhouette_simplified",
    "stream_vocab_arrival",
    "x_spearman_corr",
    # round-12 flagships
    "x_suffix_dup_spans",
    "x_unigram_lm_estep",
    "stream_ann_assign",
    "src_arrow_ipc_roundtrip",
    "x_bradley_terry_mm",
    "x_suffix_dup_extract",
    "x_unigram_segment",
    "x_acf_exact",
    "src_orc_walk",
    "x_binary_embedding_recall",
    "x_doremi_step",
    "x_wilcoxon_signed_rank",
    "x_suffix_dedup_apply",
    "stream_topk_leaderboard",
    "x_loo_source_influence",
    "src_zip_npy_walk",
    "x_unigram_lm_estep2",
    "x_average_precision",
    "x_rbo_rank_overlap",
    "x_tokenizer_faceoff",
    "x_suffix_dup_flow",
    "x_wilson_interval",
    # round 13
    "x_unigram_prune_step",
    "x_unigram_apply_pruned",
    "src_table_log_replay",
    "src_table_log_time_travel",
    "stream_table_log_commits",
    "x_zorder_pruning",
    "x_matryoshka_curve",
    "x_pca_power_iteration",
    "x_ols_trend_fit",
    "src_table_log_checkpoint",
    # round-13 session-2 flagships
    "x_assoc_rules",
    "x_sssp_bellman",
    "x_deepwalk_corpus",
    "src_msgpack_roundtrip",
    "x_node2vec_walks",
    "x_als_user_step",
    "x_vopt_histogram",
    "x_gsp_sequences",
    "x_holt_linear",
    "x_matrix_profile",
    "x_chi2_independence",
    "stream_assoc_pairs",
    "x_shapley_attribution",
    "x_fd_discovery",
    "x_diff_in_diff",
    "x_bootstrap_ci",
    "x_mann_kendall",
    "stream_holt",
    "x_cuped_adjustment",
    "x_conformal_interval",
    "x_graph_diameter_sweep",
    "x_offpolicy_ips",
    "x_psm_att",
    # round 14
    "src_table_log_vacuum",
    "x_priority_sample",
    "x_knn_shapley_value",
    "x_betweenness_seeded",
    "x_markov_removal_effect",
    "x_mutual_best_matching",
    "x_psi_drift",
    "x_regression_discontinuity",
    "x_kaplan_meier",
    "x_cumulative_gains",
    "stream_priority_sample",
    "x_wasserstein_drift",
    "x_ngram_novelty_curve",
    "x_source_entropy",
    "x_calibration_ece",
    "x_ab_power_planning",
    "x_multiclass_f1",
    "x_slo_burn_alerts",
    "x_sprt_sequential",
    "x_rolling_origin_backtest",
    "x_temporal_reachability",
    "x_max_coverage_sources",
    "x_quantile_normalize",
    "x_fairness_audit",
    "x_sequential_halving",
    # round 15
    "x_mutual_best_blocked",
    "stream_psi_drift",
    "x_assortativity",
    "x_louvain_rounds",
    "x_harmonic_centrality",
    "x_team_draft_interleave",
    "x_dsir_weights",
    "x_query_likelihood_lm",
    "x_mann_whitney_u",
    "x_anova_oneway",
    "x_mcnemar_paired",
    "x_naive_bayes_model",
    "x_allen_interval_census",
    "x_good_turing_smoothing",
    "x_katz_centrality",
    "x_link_prediction_topk",
    "x_boruvka_msf",
    "x_seq_pattern_support",
    "x_stable_matching_gs",
    "x_ktruss_peel",
    "x_markov_entropy_rate",
    "x_luby_mis",
    "x_dft_period_power",
    "x_ccf_leadlag",
]


def main():
    from pyspark.sql import SparkSession

    import bench
    import duckdb_title_mapper_spark as engine
    from duckdb_title_mapper_spark.workload import all_queries

    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("scale_probe")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    engine.register(spark)
    spark.sql("SELECT standardize_title('warmup query')").collect()

    probe_set = list(bench.HEADLINE) + EXTRA
    registry = all_queries()
    times: dict[str, list[float]] = {n: [0.0] * len(SFS) for n in probe_set}
    # Contention context (VERDICT r7 #6): the r7 note documents that a
    # single pre-run eff-cores sample cannot correct a ~20-minute run
    # (the last two r7 runs' probe and total moved in opposite
    # directions).  Re-probe at the START of every (repeat, sf) pass so
    # each growth ratio carries the host state it was measured under.
    effs: dict[int, list[float]] = {si: [] for si in range(len(SFS))}
    for _ in range(repeats):
        for si, sf in enumerate(SFS):
            effs[si].append(bench._host_effective_cores())
            for name in probe_set:
                q = registry[name]
                t0 = time.time()
                q.spark_fn(spark, sf).count()
                dt = time.time() - t0
                cur = times[name][si]
                times[name][si] = dt if cur == 0.0 else min(cur, dt)
                for r in list(
                    spark.sparkContext._jsc.getPersistentRDDs().values()
                ):
                    r.unpersist(True)
                spark.catalog.clearCache()

    # mean eff-cores per SF pass; a growth ratio measured while the
    # sf0.1 pass had fewer effective cores than the sf0.01 pass is
    # inflated by contention, not by the plan.  Since t ∝ 1/eff_cores,
    # the contention-corrected ratio is ratio * eff(.1)/eff(.01) — a
    # factor < 1 exactly when the sf0.1 pass ran on fewer cores
    # (ADVICE r8: the previous eff(.01)/eff(.1) form amplified the bias
    # instead of removing it).
    eff_mean = [sum(effs[si]) / len(effs[si]) for si in range(len(SFS))]
    deflate = eff_mean[2] / eff_mean[1] if eff_mean[1] > 0 else 1.0
    print("## Probe contention context")
    print(f"eff-cores per pass (start-of-pass burn probe): "
          f"sf0.001 {[round(x, 1) for x in effs[0]]}, "
          f"sf0.01 {[round(x, 1) for x in effs[1]]}, "
          f"sf0.1 {[round(x, 1) for x in effs[2]]}")
    print(f"contention deflator for the 10x ratio "
          f"(eff(.1)/eff(.01)): {deflate:.2f}")
    print()
    print("| query | sf0.001 | sf0.01 | sf0.1 | t(.1)/t(.01) vs 10x data "
          "| deflated |")
    print("|---|---|---|---|---|---|")
    for name in probe_set:
        t = times[name]
        ratio = t[2] / t[1] if t[1] > 0 else float("nan")
        print(
            f"| {name} | {t[0]:.2f} | {t[1]:.2f} | {t[2]:.2f} "
            f"| {ratio:.1f}x | {ratio * deflate:.1f}x |"
        )


if __name__ == "__main__":
    main()
