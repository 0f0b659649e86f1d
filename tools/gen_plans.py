"""Generate PLANS.md: the physical plan of every bench-headline query
plus the scale-sensitive r3/r4/r5 additions, with the properties each claims.
An ``ingest_*`` query that returns a checkpoint of the files it wrote is
shown by the read-back it executed, not by its returned plan (a scan of
the checkpointed RDD).

    python tools/gen_plans.py     # writes PLANS.md in the current directory
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from mcp_rag_server_spark.session import get_spark
from mcp_rag_server_spark.registry import load_all
from mcp_rag_server_spark.plans.inspect import (
    broadcast_join_count, count_exchanges, has_take_ordered, read_plans, tree_section)

spark = get_spark(app_name="plans", cpus=8, shuffle_partitions=8)
reg = load_all()
SF = "/root/testdata/sf0.001"
EXTRA = ["chunks_table", "ingest_roundtrip", "ta_decontaminate",
         "ta_mixture_cap", "mm_audio_windows",
         "ev_anomaly_zscore", "ev_salted_hot_key_join", "dd_keep_canonical",
         "ta_token_budget", "sim_ivf_recall",
         "rag_mmr_batch",
         "dd_lsh_band_audit",
         # round-4 additions
         "ta_gopher_rules", "ta_unigram_logprob", "ta_mix_temperature",
         "ta_shard_assign", "ta_vocab_growth", "ev_latest_state",
         "ev_scd2_intervals", "sim_matryoshka_topk", "sim_pq_adc_topk",
         "ingest_compacted", "full_outer_order_ship_days",
         "sim_kmeans_refine", "st_latest_state",
         "agg_hll_audit", "agg_percentile_audit", "sim_ivfpq_topk",
         "ta_dedup_budget_pipeline", "ev_props_map_stats",
         # round-5 additions
         "ev_user_type_count_map", "fileops_read_guard",
         "unpivot_lineitem_metrics", "ev_props_variant_stats",
         "grouping_sets_sales", "dd_incremental_minhash", "rag_rrf_topk",
         # round-5 late additions
         "rag_bm25_topk", "ev_gap_fill", "ev_transition_matrix",
         "dd_substring_runs", "ta_zipf_fit", "sim_pq_train",
         "window_range_trailing30", "ingest_partitioned_scan",
         "ingest_text_formats", "ingest_bucketed_join", "ta_fuzzy_correct", "mm_phash_neardup", "ev_session_paths",
         "sql_recursive_reach", "agg_conditional_argmax",
         "ingest_gdpr_delete", "sim_filtered_topk", "st_enrich_static",
         "ta_admission_pipeline", "mm_image_resize", "ev_cep_conversion",
         "ev_hypertable_rollup",
         # round-5 second-sitting additions
         "ev_pagerank_types", "join_bloom_prefilter",
         "agg_histogram_equiwidth", "dd_semdedup", "ev_ewma_value",
         "zorder_layout", "dd_containment", "ev_abtest_ztest",
         "window_distribution_pack", "ta_simpson_diversity",
         "agg_pearson_corr",
         "sim_maxsim_topk", "sim_binary_hamming_topk", "ev_cusum_drift",
         "set_all_multiplicity", "window_value_frames",
         "agg_weighted_median", "ingest_schema_evolution",
         "ev_trend_forecast", "ev_attribution_last_touch",
         "ta_readability_fk", "ta_code_detect", "ta_lang_confusion",
         "tj_nearest_order", "dd_graph_triangles",
         "st_incremental_rollup", "ta_kl_source_drift",
         "ta_bpe_train", "rag_context_pack",
         "ev_pit_features", "ta_dsir_weights", "agg_gini_index",
         "sql_lateral_topn", "ev_survival_km",
         "sim_mips_augmented", "ev_ks_test",
         "ingest_mor_deletes", "ev_purchase_streaks",
         "agg_benford_audit", "sim_hard_negatives",
         "ingest_time_travel", "dd_cluster_aware_sample",
         "ev_anomaly_mad", "ev_autocorr", "st_lambda_cutover",
         "agg_table_fingerprint", "ta_logreg_quality",
         "agg_column_profile", "ev_seasonal_profile",
         "join_market_basket", "ev_rfm_segments",
         # round-6 additions
         "dd_jaccard_same_source", "dd_soft_dedup_weights",
         "dd_cross_source_matrix", "agg_kmv_distinct_audit",
         "ta_quality_calibration", "dd_minhash_est_audit",
         "agg_cm_sketch_audit", "ev_welch_ttest",
         "ta_winnowing_fingerprint", "ingest_orc_roundtrip",
         "sim_knn_graph", "ta_bigram_logprob",
         "ev_mutual_information", "ta_ngram_novelty",
         "tj_interval_union", "ev_entropy_rate",
         "ta_weighted_sample_es", "ingest_csv_malformed",
         "ev_did_estimator", "sim_centroid_drift",
         "ev_bot_heuristics", "dd_cluster_size_hist",
         "ta_length_drift", "ev_power_mde", "ev_rolling_median",
         "rag_multi_query_fusion", "agg_ols_sufficient_stats",
         "ev_changepoint", "ev_theil_sen", "ev_forecast_backtest",
         "dd_threshold_sweep", "sim_cascade_rerank",
         "ta_kanonymity_audit", "ta_mojibake_detect",
         "ta_trigram_index_search", "ev_hits_scores",
         "dd_graph_degree_stats", "agg_mode_per_group",
         "agg_skew_kurtosis", "ev_ratio_metric_ci",
         "agg_winsorized_mean", "ev_funnel_time_quantiles",
         "mm_scene_cuts", "dd_url_canonicalize",
         "sim_power_iteration_pc1", "st_heavy_hitters",
         "ev_seasonal_decompose", "ev_cohort_ltv_curve",
         "ev_anomaly_seasonal_zscore", "ingest_snapshot_diff",
         "sim_random_projection_jl", "window_running_distinct",
         "ev_user_overlap_jaccard", "dd_minhash_bbit_audit",
         "ev_absorbing_conversion_prob", "ev_bootstrap_ci",
         "ta_leakage_safe_split", "sim_multiprobe_lsh",
         "sim_graph_greedy_search", "ev_ivm_delta_rollup",
         "ta_bpe_apply", "ev_cuped_adjustment",
         "ta_quality_auc", "ev_msprt_sequential",
         "ta_ccnet_buckets", "sim_kcore_decompose",
         "ev_markov_stationary", "agg_join_cardinality_audit",
         "ev_concurrency_curve", "ta_pmi_collocations",
         "ta_textrank_keywords", "ingest_compaction_plan",
         "dq_expectations_audit", "ev_slo_burn_rate",
         "rag_parent_doc_topk", "ta_dataset_card",
         "ev_delta_decomposition", "ta_doremi_step",
         "ev_growth_accounting", "ta_feature_hashing",
         "ev_propensity_ipw", "ta_kneser_ney_bigram",
         "ev_seq_pattern_support", "sim_ndcg_sq8_eval",
         "dd_method_agreement", "sim_compression_frontier",
         "ev_stickiness_ratio", "ta_gains_chart",
         "fileops_du_rollup", "ev_ohlc_bars", "agg_skyline_2d",
         "ev_conversion_window_sensitivity",
         "ev_interpurchase_burstiness"]
names = list(dict.fromkeys([n for n, s in reg.items() if s.bench] + EXTRA))

out = ["# PLANS — physical-plan audit (auto-generated)", "",
       "`tools/gen_plans.py` regenerates this file. Initial (pre-AQE) plan",
       "trees at sf0.001 for every bench-headline query plus the",
       "scale-sensitive round-3+ additions. Shuffle counts exclude broadcast",
       "exchanges; `TakeOrderedAndProject` = heap top-k, never a global sort.",
       ""]


def plan_text(name: str):
    """``name``'s returned DataFrame; for an ``ingest_*`` query whose
    returned plan scans its own checkpoint, the initial plan of the last
    read it executed (the read-back the checkpoint holds)."""
    built = []
    reads = read_plans(spark, lambda: built.append(reg[name].spark_fn(spark, SF)))
    if name.startswith("ingest_") and "ExistingRDD" in tree_section(built[0]):
        return reads[-1]
    return built[0]


for n in names:
    if n == "ingest_roundtrip":
        out += [f"## {n}", "",
                "(excluded: materializes an on-disk corpus + two store builds;",
                "plan shape is the ingest DAG documented in sources/ingest.py)", ""]
        continue
    plan = plan_text(n)
    tree = tree_section(plan)
    props = (f"exchanges={count_exchanges(plan)} "
             f"broadcast_joins={broadcast_join_count(plan)} "
             f"heap_topk={has_take_ordered(plan)}")
    out += [f"## {n}", "", props, "", "```", tree.strip(), "```", ""]
open("PLANS.md", "w").write("\n".join(out))
print("wrote PLANS.md,", len(names), "queries")
