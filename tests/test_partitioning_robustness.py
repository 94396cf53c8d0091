"""Partition-order determinism pre-flight for the driver window.

Lesson from round 3: ``embedding_covariance`` was green against the
DuckDB oracle in every local sweep yet hash-FAILED the driver's check —
its float partial sums depended on Arrow-batch/partition boundaries, so
the query was *flaky under partitioning*, not deterministically right
or wrong. The local oracle run and the driver run used different
partitionings; only the driver saw the flip.

This test catches that class of bug before the driver does: every query
in the current driver window runs twice in the same session — once
under the default config, once under a deliberately hostile one (tiny
file splits → many scan partitions, 5 shuffle partitions, 37-row Arrow
batches) — and the two results must be BIT-IDENTICAL (exact float
repr, not rounded). A query whose output survives this perturbation has
no summation-order dependence left for the driver's partitioning to
expose.
"""

from __future__ import annotations

import pytest

from sparkstreamingproject_spark.queries import REGISTRY

# the driver checks the first 50 registry entries (see
# queries/__init__.py). Pre-flight that window plus a head margin
# (positions 0-67), the retired windows below and the permanent
# keepers. Dedup at the end keeps parametrize ids unique.

# the round-5 then round-6 driver windows, frozen in their original
# order: both came back driver-green and stay under the gate as
# regression cover for the signed-zero/fsum and overflow-promotion fixes
_RETIRED_WINDOWS = [
    "embedding_covariance", "embedding_quantile_bins",
    "sketch_countmin_words", "sql_group_by_all",
    "orders_yoy_revenue_growth", "part_price_histogram",
    "text_keyword_in_context", "graph_common_neighbors",
    "events_intergap_buckets", "nation_yearly_rank_change",
    "ts_ewma_priority_revenue", "ts_cusum_nation_drift",
    "corpus_boilerplate_shingles", "sketch_kmv_jaccard",
    "stat_theil_sen_trend", "fact_key_skew_profile",
    "dq_expectations_report", "agg_incremental_merge",
    "ts_seasonal_decompose", "agg_winsorized_stats",
    "join_fuzzy_blocked", "orders_decile_lift", "bpe_learn_merges",
    "bpe_encode_apply", "sample_poisson_bootstrap",
    "multimodal_frame_dedup", "sim_recall_at_k_eval",
    "dedup_simhash_hamming", "events_attribution_last_touch",
    "basket_association_rules", "text_next_word_suggest",
    "orders_cohort_ltv", "part_abc_classification",
    "orders_open_backlog_daily", "graph_kcore_peel",
    "events_new_vs_returning", "window_cume_dist_price",
    "ts_seasonal_naive_backtest", "stat_spearman_rank",
    "pii_pseudonymize_fk", "privacy_k_anonymity",
    "stat_mann_whitney_u", "stat_ks_two_sample",
    "ts_autocorrelation_lags", "graph_label_propagation",
    "hof_array_pipeline", "join_null_safe_eq",
    "stat_benford_first_digit", "stat_anova_oneway",
    "text_rake_keywords", "pca_variance_invariants",
    "privacy_dp_histogram", "rfm_migration_matrix",
    "sample_neyman_allocation", "map_functions_surface",
    "ts_cross_correlation", "embedding_pq_codebook", "sim_ann_pq_adc",
    "cluster_dbscan_lsh", "sim_ann_ivfadc",
    "embedding_top_eigvec_power", "stat_kruskal_wallis",
    "stat_wilcoxon_signed_rank", "stat_kendall_tau",
    "funnel_time_to_convert", "dedup_doc_edge_overlap",
    "docs_ngram_novelty", "ts_changepoint_pettitt",
    "privacy_l_diversity", "sim_matryoshka_eval",
    "graph_hits_hubs_authorities", "stat_levene_test",
    "stat_mann_kendall_trend", "stat_poisson_rate_test",
    "events_markov_stationary", "ts_holt_linear_forecast",
    "ts_periodogram", "stat_friedman_test", "asof_nearest_purchase",
    "multimodal_scene_cuts", "stat_jarque_bera", "ivm_join_agg_delta",
    "stat_runs_test", "graph_degree_assortativity",
    "dedup_minhash_pr_sweep", "dedup_semantic_lexical_pairs",
    "curation_dedup_funnel", "graph_clustering_coefficient",
    "tokenizer_oov_sweep", "stat_cochran_armitage",
    "orders_repeat_purchase_curve", "stat_ols_two_features",
    "text_chi2_keyness", "embedding_drift_centroid_shift",
    "asof_tolerance_recent_order", "events_lifecycle_accounting",
    "sample_class_balance", "nb_lang_classifier",
    "shard_token_budget_assign", "curation_perplexity_filter",
    "graph_jaccard_link_prediction", "skyline_price_size",
    "rolling_ols_slope_30d", "dedup_basket_setsim",
    "events_attribution_linear", "sim_ann_multiprobe",
    "text_keyphrase_textrank", "sim_item_cooccurrence_cosine",
    "survival_km_ship_latency", "sim_maxsim_late_interaction",
    "dq_psi_price_drift", "graph_adamic_adar",
    "sessions_peak_concurrency", "text_feature_hash_retrieval",
    "sketch_hll_intersect_estimate",
    "events_attribution_markov_removal", "sessions_entry_exit_bounce",
    "text_jsd_source_pairs",
]

_KEEPERS = [
    # driver-green in r01 but touched by the r05 signed-zero fix —
    # keep it under the hostile-partitioning gate permanently
    "pandas_grouped_zscore",
    # r07 registry additions behind the driver window (certify in r08)
    "stream_session_late_closed", "stream_join_click_purchase_window",
    "sketch_histogram_quantiles", "sketch_histogram_quantiles_by_type",
    "dedup_repeated_substring", "sim_ann_nprobe_recall_sweep",
    "sketch_bloom_fpr_sweep", "layout_zonemap_pruning",
    "dq_freshness_by_type", "events_salting_load_balance",
    "ts_pattern_similarity_search",
    # wave-3 additions (certify in r08)
    "events_attribution_time_decay", "ts_ohlc_bars", "ts_dtw_distance",
    "curation_blocklist_filter", "multimodal_caption_align_filter",
    "multimodal_shard_bytes_assign",
    # wave-4 additions: residual quantization (certify in r08)
    "embedding_rq_codebook", "sim_ann_rq_adc",
    # wave-5 additions (certify in r08)
    "sim_ann_dim_prefix_recall", "sketch_kmv_distinct_by_type",
    # wave-6 additions (certify in r08)
    "split_cluster_leakage_safe", "text_pmi_collocations",
    # wave-8 additions (certify in r08)
    "sample_priority_topk", "events_cusum_changepoint",
    # wave-10 additions (certify in r08)
    "kv_ttl_expiry_sweep",
    # wave-11 additions (certify in r08)
    "events_attribution_shapley",
    # wave-12 additions (certify in r08)
    "ts_seasonal_naive_mase",
    # wave-13 additions (certify in r08)
    "graph_kcore_peeling",
    # wave-14 additions (certify in r08)
    "ts_resample_linear_interp",
    # wave-16 additions (certify in r08)
    "er_survivorship_golden_record",
    # round-8 additions (certify in r09)
    "dq_referential_orphans", "curation_mix_temperature",
    "er_blocking_quality", "embedding_pca_top2_project", "ts_hurst_rs",
    "embedding_knn_graph", "text_heaps_law", "multimodal_vad_segments",
    "sample_bottomk_uniform", "graph_ppr_seeded", "text_phrase_proximity",
    "ts_match_recognize_vshape", "text_code_prose_score",
    "stat_logistic_newton", "sim_hybrid_rrf_fusion",
    "text_kneser_ney_bigram", "events_top_conversion_paths",
    "dq_duplicate_key_report", "multimodal_ahash_dedup",
    "privacy_t_closeness", "events_dau_wau_stickiness",
    "ts_sax_symbolize", "embedding_outlier_mahalanobis_diag",
    "curation_mmr_diverse_select", "kv_scan_match_cursor",
    "kv_incrby_counter_fold", "regexp_functions_surface",
    "agg_mode_deterministic", "stat_wilson_lower_bound",
    "stat_gini_revenue_concentration", "ts_pacf_durbin",
    # round-9 additions (certify in r10)
    "embedding_knn_descent_round",
    "ts_yule_walker_ar2", "graph_katz_centrality",
    "stat_hodges_lehmann_shift",
    "dedup_cdc_chunking", "multimodal_phash_dct",
    "ts_croston_intermittent", "stat_mood_median_test",
    "curation_submodular_coverage", "dq_outlier_mad_robust",
    "sim_knn_graph_greedy_search",
    "stat_ansari_bradley_scale",
    "layout_hilbert_order",
    "multimodal_audio_landmarks",
    "graph_hyperanf_reachable_pairs",
    "ts_ljung_box", "stat_grubbs_test",
    "sim_ann_two_layer_search",
    "text_lang_id_cavnar_trenkle",
    "text_burrows_delta",
    "events_retention_bitmap_index",
    "sample_kcenter_greedy",
    "ts_changepoint_binseg",
    # round-10 additions registered past the 50-slot driver window
    # (r11 window candidates — pre-flight them now, not next round)
    "stat_mcnemar", "stat_cohens_d", "graph_rich_club_coefficient",
    "sample_horvitz_thompson", "ts_seasonal_mann_kendall",
    "orders_nelson_aalen_hazard", "dedup_minhash_containment_estimate",
    "embedding_intrinsic_dim_mle", "stat_signflip_permutation_test",
    "events_interpurchase_gamma_fit", "text_ndcg_search_eval",
    "events_markov_perplexity", "sim_binary_pool_recall_sweep",
    "stat_f_test_variance_ratio", "privacy_rappor_histogram",
    # round-11 additions (r12 window candidates)
    "dedup_semantic_cells", "sketch_kll_quantiles",
    "sketch_kll_quantiles_by_priority",
    # r11 wave-2 additions (r12 window candidates)
    "text_readability_fk", "text_gtest_keyness", "text_sumbasic_extract",
    "dedup_soft_weight", "text_hapax_ratio",
    "stat_fisher_exact", "stat_benjamini_hochberg_fdr",
    "stat_tost_equivalence",
    "sim_rp_tree_recall", "text_rocchio_prf",
    "ts_holt_winters_additive", "privacy_exponential_mechanism",
    "survival_weibull_fit", "stat_negbin_overdispersion",
    "graph_modularity_score",
    "stat_conformal_interval", "stat_deming_regression",
    "privacy_dp_median_em", "stat_mantel_haenszel_or",
    "stat_capture_recapture",
    "decontaminate_minhash", "text_stopword_discovery",
    "ts_spectral_entropy",
    "events_bot_regularity_score", "graph_degree_centralization",
    "ts_peak_detection", "orders_price_elasticity_loglog",
    # round-12 additions (r13 window candidates)
    "dedup_semantic_cells_scaled", "dedup_semantic_multiprobe",
    "sim_ann_hierarchical_cells", "text_tokenizer_fertility_by_lang",
    "text_bitext_mining_margin", "dedup_lsh_band_tuning",
    "sample_inbatch_negatives",
    # round-13 additions (r14 window candidates)
    "dedup_semantic_multiprobe_scaled", "dedup_paragraph_reconstruct",
    # round-14 eval-report additions (r15 window candidates)
    "report_contamination_by_source", "report_split_leakage_matrix",
    "report_dedup_retention_funnel", "report_token_mix_by_quality",
    "report_top_duplicated_chunks",
    # r14 wave-2 additions (r15 window candidates)
    "report_near_dup_cluster_profile", "report_decontaminated_eval_budget",
    "report_quality_by_split",
    # round-15 additions (r16 window candidates)
    "string_levenshtein_blocked", "layout_file_compaction_plan",
]

_seen: set[str] = set()
WINDOW = [
    n for n in (list(REGISTRY)[:68] + _RETIRED_WINDOWS + _KEEPERS)
    if not (n in _seen or _seen.add(n))
]

_PERTURB = {
    # many tiny scan partitions → different mapInPandas/agg boundaries
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.files.openCostInBytes": "0",
    # different shuffle fan-in than the default 32
    "spark.sql.shuffle.partitions": "5",
    # tiny Arrow batches → different pandas-UDF partial boundaries
    "spark.sql.execution.arrow.maxRecordsPerBatch": "37",
}


def _exact_rows(df) -> list[str]:
    # repr() keeps full float precision (shortest round-trip repr), so
    # any bit-level difference — including a 6dp rounding flip — shows
    return sorted("|".join(repr(v) for v in row) for row in df.collect())


@pytest.mark.slow
@pytest.mark.parametrize("name", WINDOW)
def test_window_query_partition_order_deterministic(spark, sf_dir, name):
    spec = REGISTRY[name]
    base = _exact_rows(spec.fn(spark, sf_dir))
    saved = {}
    for k, v in _PERTURB.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        perturbed = _exact_rows(spec.fn(spark, sf_dir))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    diffs = [(a, b) for a, b in zip(base, perturbed) if a != b][:3]
    assert base == perturbed, (
        f"{name} is partition-order FLAKY (driver would hash-mismatch); "
        f"first diffs: {diffs}")


# the queries whose math involves float shares/ratios/fits — the class
# that produced the r03 flake; spot-check them against the oracle at
# BENCH scale (sf0.1) every round, not just the sf0.001 default
_FLOAT_SENSITIVE = [
    "embedding_covariance", "text_zipf_slope", "stat_ab_proportion_ztest",
    "events_burstiness_fano", "graph_pagerank_transitions",
    "supplier_part_hhi",
]


@pytest.mark.slow
@pytest.mark.parametrize("name", _FLOAT_SENSITIVE)
def test_float_sensitive_query_parity_at_sf01(spark, name):
    from .oracle_harness import compare
    spec = REGISTRY[name]
    if spec.oracle is None:  # pragma: no cover
        pytest.skip("rows-only query")
    ok, msg = compare(spark, "/root/testdata/sf0.1", spec.fn, spec.oracle)
    assert ok, f"{name} at sf0.1: {msg}"
