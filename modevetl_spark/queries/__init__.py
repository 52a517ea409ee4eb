"""Named query library — the driver contract surface.

Every operator row in SURVEY.md §2 lands here as a ``@q("key", oracle=...)``
registered callable ``(spark, sf_dir) -> DataFrame`` plus a DuckDB oracle
SQL string. ``__spark_entry__.py`` re-exports the merged registry.
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = [
    "flagship",
    "scans",
    "aggs",
    "cube",
    "joins",
    "windows",
    "sorts",
    "funcs",
    "events",
    "llm",
    "jx_queries",
    "extras",
    "reshape",
    "pipeline",
    "analytics",
    "warehouse",
    "retrieval",
    "reports",
    "ml",
    "mining",
    "diagnostics",
    "wave7",
    "wave8",
    "wave9",
    "wave10",
    "wave11",
]

# The driver grades a bounded prefix (50 keys) of the registry each round,
# so registry order is evidence-allocation. Policy, in priority order:
#
#   0. Keys that are NEW or whose implementation CHANGED this round — a
#      changed query must never sit outside the grading window, or a
#      regression in it is invisible to the grader (round-2 advice).
#   1. Keys last graded in round 1 (_GRADED_R1): green, but against
#      round-1 code — they rotate back through the window so their
#      evidence refreshes rather than being assumed permanent.
#   2. Keys graded in round 2 (_GRADED_R2): the freshest evidence, emitted
#      last.
#
# Within each priority class the natural module/definition order is kept.
# r1 ∪ r2 covers all 100 pre-round-3 keys (CORRECTNESS_r01 + _r02, zero
# failures), so any key in neither set is new by construction.
_GRADED_R1 = frozenset(
    {
        "q_flagship_revenue_cube", "q_scan_project", "q_select_computed",
        "q_filter_compound", "q_incremental_pull", "q_snapshot_diff",
        "q_agg_basic", "q_agg_geomean", "q_agg_median", "q_agg_percentile",
        "q_agg_distinct_count", "q_agg_collect_set", "q_agg_conditional",
        "q_agg_moments", "q_groupby_multi", "q_distinct_rows", "q_cube_dense",
        "q_rollup", "q_cube_time", "q_bucket_duration", "q_bucket_numeric",
        "q_cube_default_domain", "q_cube_allow_nulls", "q_join_inner",
        "q_join_multi", "q_join_left", "q_join_semi", "q_join_anti",
        "q_graph_closure", "q_join_range", "q_join_asof", "q_join_theta",
        "q_window_moving_avg", "q_window_cumsum", "q_window_rank",
        "q_window_lag_lead", "q_window_percent_rank", "q_topk_per_group",
        "q_sort_multi", "q_sort_limit", "q_union", "q_except", "q_intersect",
        "q_string_funcs", "q_regex_extract", "q_date_trunc_agg",
        "q_math_round", "q_null_default", "q_json_extract", "q_array_explode",
    }
)

# The 50 keys CORRECTNESS_r02 graded (42 full passes + 8 declared
# rows-only; zero failures).
_GRADED_R2 = frozenset(
    {
        "q_map_counts", "q_leaves", "q_events_tumbling", "q_events_sliding",
        "q_events_session", "q_events_dedup", "q_events_session_terminal",
        "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
        "q_dedup_ngram_jaccard", "q_dedup_embedding", "q_sim_topk",
        "q_sim_topk_lsh", "q_sim_topk_ivf", "q_text_tokens", "q_text_tfidf",
        "q_text_langid", "q_text_quality", "q_text_fingerprint",
        "q_multimodal_features", "q_udf_scalar", "q_udaf_grouped",
        "q_dedup_corpus", "q_dedup_embedding_ivf", "q_sample_hash",
        "q_sample_stratified", "q_pack_budget", "q_doc_chunks",
        "q_text_repetition", "q_decontaminate", "q_minhash_signatures",
        "q_jx_cube", "q_jx_setop", "q_jx_window", "q_jx_nested_from",
        "q_jx_computed_edge", "q_jx_named_dimension", "q_jx_string_ops",
        "q_cube_subtotals", "q_math_sig_round", "q_agg_approx_sketches",
        "q_skew_salted_agg", "q_skew_salted_join", "q_graph_components",
        "q_skew_adaptive_join", "q_pivot", "q_unpivot", "q_gapfill_ffill",
        "q_profile_columns",
    }
)

# The 50 keys CORRECTNESS_r03 graded (all 50 full rows+schema+hash
# passes, zero errors — including the newly oracle-gated md5-family
# dedup/LSH queries).
_GRADED_R3 = frozenset(
    {
        "q_agg_basic", "q_agg_collect_set", "q_agg_conditional",
        "q_agg_distinct_count", "q_agg_geomean", "q_agg_median",
        "q_agg_moments", "q_agg_percentile", "q_bucket_duration",
        "q_bucket_numeric", "q_cube_allow_nulls", "q_cube_default_domain",
        "q_cube_dense", "q_cube_time", "q_dedup_corpus", "q_dedup_minhash",
        "q_dedup_simhash", "q_distinct_rows", "q_except",
        "q_filter_compound", "q_flagship_revenue_cube", "q_graph_closure",
        "q_groupby_multi", "q_incremental_pull", "q_join_anti",
        "q_join_asof", "q_join_inner", "q_join_left", "q_join_multi",
        "q_join_range", "q_join_semi", "q_join_theta", "q_jx_computed_edge",
        "q_jx_cube", "q_jx_named_dimension", "q_minhash_signatures",
        "q_rollup", "q_scan_project", "q_select_computed", "q_sim_topk_lsh",
        "q_snapshot_diff", "q_sort_limit", "q_sort_multi",
        "q_topk_per_group", "q_union", "q_window_cumsum",
        "q_window_lag_lead", "q_window_moving_avg", "q_window_percent_rank",
        "q_window_rank",
    }
)

# The 50 keys CORRECTNESS_r04 graded (49 full rows+schema+hash passes;
# q_graph_pagerank was the declared rows-only entry, since upgraded).
_GRADED_R4 = frozenset(
    {
        "q_tpch_shipping_priority", "q_incremental_pull", "q_snapshot_diff",
        "q_agg_basic", "q_agg_geomean", "q_agg_mode", "q_agg_string_agg",
        "q_cube_time", "q_bucket_duration", "q_graph_closure",
        "q_join_range", "q_join_asof", "q_window_moving_avg",
        "q_window_ntile", "q_date_trunc_agg", "q_events_tumbling",
        "q_events_sliding", "q_events_session", "q_events_dedup",
        "q_events_session_terminal", "q_text_normalize", "q_dedup_spans",
        "q_dedup_incremental", "q_graph_pagerank", "q_graph_degrees",
        "q_gapfill_ffill", "q_pii_redact", "q_ngram_topk",
        "q_quality_filter", "q_embedding_norms", "q_tpch_pricing_summary",
        "q_funnel_conversion", "q_retention_cohorts", "q_length_histogram",
        "q_domain_quota_sample", "q_token_entropy", "q_event_transitions",
        "q_zscore_normalize", "q_winsorize", "q_embedding_cohesion",
        "q_intersect", "q_string_funcs", "q_regex_extract", "q_math_round",
        "q_null_default", "q_json_extract", "q_array_explode",
        "q_map_counts", "q_leaves", "q_dedup_exact",
    }
)

# The 50 keys CORRECTNESS_r05 graded (50/50 full rows+schema+hash
# passes, zero errors — the round that eliminated the rows-only
# category: PageRank, approx sketches, pack-budget and both IVF queries
# all carry real oracles since r5).
_GRADED_R5 = frozenset(
    {
        "q_agg_approx_sketches", "q_agg_incremental_state", "q_agg_mad",
        "q_anomaly_days", "q_attribution_last_touch", "q_copurchase_pairs",
        "q_dedup_embedding_ivf", "q_dedup_paragraph", "q_dedup_snm",
        "q_except_all", "q_gapfill_interp", "q_graph_pagerank",
        "q_graph_triangles", "q_incremental_pull", "q_intersect_all",
        "q_join_full_outer", "q_kmeans_clusters", "q_multimodal_frames",
        "q_pack_budget", "q_rolling_active_users", "q_sample_weighted",
        "q_scd2_dimension", "q_scd2_incremental", "q_session_paths",
        "q_sim_range_search", "q_sim_rrf_fusion", "q_sim_topk_ivf",
        "q_split_assign", "q_stats_ab_test", "q_stats_chi2", "q_text_bm25",
        "q_text_tfidf", "q_time_to_convert", "q_tpch_disjunct_revenue",
        "q_tpch_dormant_customers", "q_tpch_forecast_revenue",
        "q_tpch_large_volume", "q_tpch_local_supplier",
        "q_tpch_market_share", "q_tpch_order_count_histogram",
        "q_tpch_order_priority", "q_tpch_promo_revenue",
        "q_tpch_returned_items", "q_tpch_small_qty_revenue",
        "q_tpch_top_supplier", "q_tpch_volume_shipping",
        "q_tpch_waiting_suppliers", "q_validate_rules", "q_vocab_encode",
        "q_window_range_frame",
    }
)

# The 50 keys CORRECTNESS_r06 graded (50/50 full rows+schema+hash
# passes, zero errors — the drain round: every key drawn from the
# never-graded tail).
_GRADED_R6 = frozenset(
    {
        "q_abc_classification", "q_apportion_slots", "q_attribution_position",
        "q_benford_digits", "q_bigram_surprisal", "q_bounce_rate",
        "q_changepoint_cusum", "q_cohort_ltv", "q_concurrent_users_sweep",
        "q_copurchase_lift", "q_customer_rfm", "q_date_spine_coverage",
        "q_decile_lift", "q_dedup_cluster_stats", "q_dedup_eval_pr",
        "q_dedup_levenshtein", "q_discount_elasticity", "q_events_heatmap",
        "q_ewma_trunc", "q_feature_hashing", "q_graph_hits", "q_graph_kcore",
        "q_heavy_hitters", "q_hist_equidepth", "q_hist_log_bins",
        "q_inverted_index", "q_join_asof_tolerance", "q_join_interval_overlap",
        "q_nb_langid", "q_order_interarrival", "q_psi_stability",
        "q_revenue_gini", "q_roc_auc", "q_running_distinct", "q_runs_test",
        "q_sample_systematic", "q_seasonal_index", "q_ship_lag_percentiles",
        "q_skyline_pareto", "q_sql_frontend", "q_stats_ks_test",
        "q_stats_mannwhitney", "q_streak_islands", "q_target_encoding",
        "q_text_containment", "q_tokens_zipf", "q_topk_dense_ties",
        "q_trending_tokens", "q_vocab_growth", "q_weighted_median",
    }
)

# The 50 keys CORRECTNESS_r07 graded (50/50 full rows+schema+hash
# passes, zero errors — the round that drained the wave7/wave8 waves
# and the 15-key r6 spill, plus the 10 _CHANGED_R7_PIN re-pins and 11
# r2-vintage rotation slots).
_GRADED_R7 = frozenset(
    {
        "q_abc_classification", "q_anova_weekday", "q_corr_matrix",
        "q_cramers_v", "q_customer_rfm", "q_decile_lift",
        "q_decision_stump", "q_dedup_embedding", "q_dedup_latest_wins",
        "q_dedup_ngram_jaccard", "q_dedup_snm", "q_dedup_source_overlap",
        "q_dedup_threshold_curve", "q_embedding_quantize",
        "q_entropy_profile", "q_gapfill_percentile", "q_growth_mom",
        "q_interleave_sources", "q_join_containment", "q_label_suspects",
        "q_multimodal_features", "q_mutual_information", "q_rate_confint",
        "q_revenue_gini", "q_sample_hash", "q_sample_reservoir",
        "q_sample_systematic", "q_session_stitch", "q_sim_topk",
        "q_sim_topk_ivf_sq", "q_sim_topk_quantized",
        "q_sketch_distinct_kmv", "q_sketch_group_quantiles",
        "q_sketch_jaccard_kmv", "q_sketch_merge_quantiles",
        "q_sketch_quantiles", "q_spearman_corr", "q_sql_frontend",
        "q_text_fingerprint", "q_text_langid", "q_text_quality",
        "q_text_tokens", "q_theilsen_trend", "q_tpch_late_shipments",
        "q_tpch_top_supplier", "q_tukey_outliers", "q_udaf_grouped",
        "q_udf_scalar", "q_vocab_growth", "q_window_percent_rank",
    }
)

# The 50 keys CORRECTNESS_r08.json graded (50/50 full rows+schema+hash
# passes, zero errors — the round that drained the 15-key wave9 staged
# wave and cleared the r2-vintage evidence cohort completely).
_GRADED_R8 = frozenset(
    {
        "q_agg_collect_set", "q_agg_conditional", "q_agg_distinct_count",
        "q_agg_median", "q_agg_moments", "q_agg_percentile",
        "q_bucket_numeric", "q_churn_hazard", "q_cube_allow_nulls",
        "q_cube_default_domain", "q_cube_dense", "q_cube_subtotals",
        "q_decayed_value", "q_decontaminate", "q_dedup_substring_runs",
        "q_distinct_rows", "q_doc_chunks", "q_filter_bloom",
        "q_filter_compound", "q_flagship_revenue_cube",
        "q_graph_adamic_adar", "q_graph_components", "q_groupby_multi",
        "q_heavy_hitters_grouped", "q_join_inner", "q_jx_nested_from",
        "q_jx_setop", "q_jx_string_ops", "q_jx_window", "q_math_sig_round",
        "q_mixture_weights", "q_model_calibration", "q_pivot",
        "q_privacy_kanonymity", "q_profile_columns", "q_rater_agreement",
        "q_rollup", "q_sample_reservoir_weighted", "q_sample_stratified",
        "q_scan_project", "q_select_computed", "q_sim_mmr_rerank",
        "q_sketch_countmin", "q_sketch_group_distinct",
        "q_skew_adaptive_join", "q_skew_salted_agg", "q_skew_salted_join",
        "q_source_kl_divergence", "q_text_repetition", "q_unpivot",
    }
)

# The 50 keys CORRECTNESS_r09.json graded (50/50 full rows+schema+hash
# passes, zero errors — the round that drained the 14-key wave10+wave11
# staged wave, re-pinned q_sketch_countmin after the NULL-key hardening,
# cleared the r3-vintage cohort, and started on r4 rotation).
_GRADED_R9 = frozenset(
    {
        "q_agg_basic", "q_agg_geomean", "q_agg_mode",
        "q_agg_string_agg", "q_bpe_merges", "q_bucket_duration",
        "q_cooccur_pmi", "q_cube_time", "q_dedup_corpus",
        "q_dedup_minhash", "q_dedup_simhash", "q_doc_lm_score",
        "q_embedding_pca", "q_eval_ndcg", "q_except",
        "q_graph_closure", "q_intersect", "q_join_anti",
        "q_join_asof", "q_join_left", "q_join_multi",
        "q_join_range", "q_join_semi", "q_join_theta",
        "q_jx_computed_edge", "q_jx_cube", "q_jx_named_dimension",
        "q_linkage_weights", "q_mine_hard_negatives", "q_minhash_signatures",
        "q_mixture_temperature", "q_rank_rbo", "q_sim_topk_lsh",
        "q_sketch_countmin", "q_sketch_hll", "q_snapshot_diff",
        "q_sort_limit", "q_sort_multi", "q_source_js_divergence",
        "q_textrank_keywords", "q_token_burstiness", "q_topk_per_group",
        "q_tpch_shipping_priority", "q_union", "q_unseen_mass",
        "q_window_cumsum", "q_window_lag_lead", "q_window_moving_avg",
        "q_window_ntile", "q_window_rank",
    }
)

# Round-9 window arithmetic (executes the r8 verdict's top item): with
# _GRADED_R8 landed and _STAGED_R9 retired, the window pins, in order:
# the 14 wave10+wave11 keys (never graded, priority 0, draining exactly
# like wave9 did in r8 — 8 wave10 + 6 wave11 = 14, at the 15-key cap so
# nothing new is staged this round), then changed-key re-pins (priority
# 0.5), then stalest-evidence rotation — the full 21-key r3-vintage
# cohort enters, followed by the head of the 48-key r4 cohort. 14 + 1
# pin committed; the remaining 35 slots clear ALL r3 evidence and start
# on r4 (verdict item 2).
#
# Round-10 window arithmetic (executes the r9 verdict's top item): no
# staged tier exists anymore (the registry is saturated at 274, all
# green), so the window is pure evidence hygiene — changed-key re-pins
# (priority 0.5) followed by stalest-evidence rotation: the entire
# 34-key r4-vintage cohort plus the head of the r5 cohort fills the
# remaining slots.
#
# q_sketch_hll re-pins because this round's ADVICE fix changed its
# ORACLE (the DuckDB _HLL_ORACLE's sketch half gained the NULL-key
# filter matching the engine side) — a changed oracle is a changed key
# definition and must never sit outside the grading window.
#
# The other 13 re-pin for the round-10 dirty-input hardening sweep
# (tests/test_dirty_contracts.py): a registry-wide engine-vs-oracle run
# over adversarial fixtures (NULL keys, empty strings, empty lists)
# found these keys ABORTING the whole job on one dirty row — ANSI
# DIVIDE_BY_ZERO / CAST_INVALID_INPUT / INVALID_INDEX_OF_ZERO, pandas
# int(NaN), or a ragged driver-side np.asarray. Each fix is a
# degenerate-input guard (try_divide / try_cast / indexed transform /
# JVM-side NULL-key filters before UDFs), value-neutral on the clean
# fixtures — all 13 re-simmed MATCH at sf0.01 — but changed code is
# changed code: it re-pins. The 13 pins displace 13 of the 15 r5
# rotation slots; the full 34-key r4 cohort still clears this round.
# The 50 keys CORRECTNESS_r10.json graded (50/50 full rows+schema+hash
# passes, zero errors — the round that landed the dirty-input
# robustness tier: the 14-key _CHANGED_R10_PIN cohort of hardened keys
# re-graded green, the full 34-key r4-vintage cohort cleared, and the
# r5 rotation started).
_GRADED_R10 = frozenset(
    {
        "q_agg_moments", "q_array_explode", "q_date_trunc_agg",
        "q_dedup_embedding_ivf", "q_dedup_exact", "q_dedup_incremental",
        "q_dedup_spans", "q_dedup_substring_runs", "q_domain_quota_sample",
        "q_embedding_cohesion", "q_embedding_norms",
        "q_embedding_quantize", "q_event_transitions", "q_events_dedup",
        "q_events_session", "q_events_session_terminal",
        "q_events_sliding", "q_events_tumbling", "q_funnel_conversion",
        "q_gapfill_ffill", "q_graph_degrees", "q_join_containment",
        "q_json_extract", "q_leaves", "q_length_histogram", "q_map_counts",
        "q_math_round", "q_multimodal_features", "q_multimodal_frames",
        "q_ngram_topk", "q_null_default", "q_pack_budget", "q_pii_redact",
        "q_quality_filter", "q_regex_extract", "q_retention_cohorts",
        "q_sample_reservoir_weighted", "q_sim_range_search",
        "q_sim_topk_ivf", "q_sim_topk_ivf_sq", "q_sketch_hll",
        "q_string_funcs", "q_text_normalize", "q_token_entropy",
        "q_tpch_large_volume", "q_tpch_local_supplier",
        "q_tpch_pricing_summary", "q_udaf_grouped", "q_winsorize",
        "q_zscore_normalize",
    }
)

# (The round-11 pin set — 17 extreme-numerics try_cast fixes, the 11
# cosine()/try_divide blast-radius keys, and the aggstate consumer
# q_kmeans_clusters — cleared in full: all 29 graded green in
# CORRECTNESS_r11, recorded in _GRADED_R11 below.)

# The 50 keys CORRECTNESS_r11.json graded (50/50 full rows+schema+hash
# passes, zero errors — the round that closed the dirty-input
# robustness tier: all 29 round-11 pinned keys re-graded green and the
# first 21 of the r5-vintage rotation cohort cleared).
_GRADED_R11 = frozenset(
    {
        "q_abc_classification", "q_agg_approx_sketches",
        "q_agg_incremental_state", "q_agg_mad", "q_anomaly_days",
        "q_changepoint_cusum", "q_corr_matrix", "q_customer_rfm",
        "q_decile_lift", "q_dedup_embedding", "q_dedup_embedding_ivf",
        "q_eval_ndcg", "q_ewma_trunc", "q_gapfill_interp",
        "q_gapfill_percentile", "q_graph_pagerank", "q_graph_triangles",
        "q_incremental_pull", "q_join_full_outer", "q_kmeans_clusters",
        "q_linkage_weights", "q_mine_hard_negatives", "q_rank_rbo",
        "q_revenue_gini", "q_rolling_active_users", "q_runs_test",
        "q_sample_weighted", "q_scd2_dimension", "q_scd2_incremental",
        "q_session_paths", "q_sim_mmr_rerank", "q_sim_rrf_fusion",
        "q_sim_topk", "q_sim_topk_ivf", "q_sim_topk_ivf_sq",
        "q_sim_topk_lsh", "q_sim_topk_quantized", "q_spearman_corr",
        "q_split_assign", "q_stats_ab_test", "q_stats_chi2",
        "q_text_tfidf", "q_time_to_convert", "q_tpch_dormant_customers",
        "q_tpch_order_priority", "q_tpch_volume_shipping",
        "q_validate_rules", "q_vocab_encode", "q_weighted_median",
        "q_window_range_frame",
    }
)

# The 50 keys CORRECTNESS_r12.json graded (50/50 full rows+schema+hash
# passes, zero errors — the round that upgraded the dirty-sweep engine
# probe from .count() to toPandas() and re-graded the resulting 23-key
# strong-materialization crash census, the 11-key per-row-norm cosine
# refactor, the 3 oracle-fragility + 3 numeric-dialect fixes,
# q_pack_budget's membership-gated greedy, the 3 span-grid keys, and
# the 6 stalest r5-vintage rotation slots).
_GRADED_R12 = frozenset(
    {
        "q_abc_classification", "q_agg_basic", "q_agg_moments",
        "q_anova_weekday", "q_bucket_numeric", "q_cohort_ltv",
        "q_copurchase_pairs", "q_cube_allow_nulls", "q_cube_subtotals",
        "q_cube_time", "q_date_spine_coverage", "q_dedup_embedding",
        "q_dedup_embedding_ivf", "q_embedding_norms", "q_eval_ndcg",
        "q_events_tumbling", "q_except_all", "q_gapfill_ffill",
        "q_gapfill_interp", "q_gapfill_percentile", "q_groupby_multi",
        "q_growth_mom", "q_intersect_all", "q_join_interval_overlap",
        "q_json_extract", "q_leaves", "q_math_sig_round",
        "q_mine_hard_negatives", "q_pack_budget", "q_rollup",
        "q_seasonal_index", "q_sim_mmr_rerank", "q_sim_rrf_fusion",
        "q_sim_topk", "q_sim_topk_ivf", "q_sim_topk_ivf_sq",
        "q_sim_topk_lsh", "q_sim_topk_quantized", "q_skew_salted_agg",
        "q_spearman_corr", "q_text_bm25", "q_theilsen_trend",
        "q_tpch_order_count_histogram", "q_tpch_pricing_summary",
        "q_tpch_returned_items", "q_weighted_median", "q_window_cumsum",
        "q_window_moving_avg", "q_window_range_frame",
        "q_zscore_normalize",
    }
)

# (The round-12 pin set — the 44 keys annotated below — cleared in
# full: all 44 graded green in CORRECTNESS_r12, recorded in
# _GRADED_R12 above. The per-category annotations are kept for the
# audit trail; the set itself is re-pointed to round 13.)
#
# Round-13 pin set — every key whose implementation OR oracle changes
# this round (a changed key must never sit outside the grading window):
#
# (a) the staged structural close of the one-dirty-row job-abort class
#     (r12 verdict #1, COVERAGE P7): the shared compat folds dsum/davg/
#     money/dsum_money and their SQL twins sql_dsum/sql_davg/sql_money/
#     sql_dsum_money move to the try convention (try_cast at the fold
#     seam, TRY_CAST mirrored in the oracle), and tavg/sql_tavg move
#     their denominator from COUNT(raw) to COUNT(folded) — mean of
#     VALID values, consistent with tsum's treat-as-absent semantics
#     (r12 ADVICE). In-range values are bit-identical (try_cast == cast
#     on the entire clean-data range; verified hash-identical at sf0.01
#     against the pre-change snapshot for all consumers) — but changed
#     plans are changed keys: every consumer of a changed helper
#     (import-graph + oracle-string diff, not regex text) re-pins.
# (b) the 6 numerics-twin ORACLE_ERR keys (r12 verdict #3, COVERAGE
#     P7): their DuckDB oracles gain TRY/guard hardening so the hostile-
#     numerics sweep reports zero ORACLE_ERR rows registry-wide; engine
#     values unchanged on clean data, oracle text changed => re-pin.
_CHANGED_R13_PIN: frozenset[str] = frozenset(
    {
        # (a) compat-fold try conversion blast radius
        "q_agg_basic",
        "q_agg_conditional",
        "q_changepoint_cusum",
        "q_cube_dense",
        "q_flagship_revenue_cube",
        "q_groupby_multi",
        "q_join_inner",
        "q_length_histogram",
        "q_topk_dense_ties",
        "q_tpch_disjunct_revenue",
        "q_tpch_local_supplier",
        "q_tpch_market_share",
        "q_tpch_pricing_summary",
        "q_tpch_promo_revenue",
        "q_tpch_returned_items",
        "q_tpch_shipping_priority",
        "q_tpch_small_qty_revenue",
        "q_tpch_top_supplier",
        "q_tpch_volume_shipping",
        # (b) numerics-twin oracle hardening
        "q_benford_digits",
        "q_hist_equidepth",
        "q_model_calibration",
        "q_privacy_kanonymity",
        "q_psi_stability",
        "q_roc_auc",
        # (c) first inline-fold try-conversion cohort (the r14-staged
        #     work's input-operand head, pulled forward late in r13 with
        #     session budget to spare — COVERAGE Q7): the sites whose
        #     operands reach input columns directly or refold unbounded
        #     derived sums. Engine .cast → .try_cast at each seam, the
        #     oracle's matching CAST → TRY_CAST at the SAME precision
        #     (q_decayed_value's oracle additionally re-anchored from a
        #     (19,2) admit to TRY_CAST(12,2)-then-widen so both engines
        #     drop the same range — the r11 tmoney lesson). All nine
        #     verified bit-identical to the pre-change engine hashes at
        #     sf0.01 and MATCH vs oracle.
        "q_agg_geomean",
        "q_attribution_position",
        "q_customer_rfm",
        "q_decayed_value",
        "q_decile_lift",
        "q_embedding_cohesion",
        "q_order_interarrival",
        "q_revenue_gini",
        "q_tpch_forecast_revenue",
        "q_winsorize",
        # (d) empty-input census fixes (COVERAGE Q10): the zero-row twin
        #     exposed four one-empty-partition job aborts — two ANSI
        #     DIVIDE_BY_ZERO seams (dedup_eval_pr's precision/recall,
        #     kmv's rel_err → F.try_divide, matching DuckDB's 0/0 NULL)
        #     and two standing-job state stores left unreadable by
        #     all-empty first ticks (aggstate/scd2 now initialize a
        #     schema-bearing empty store). Values on non-empty data
        #     bit-identical; oracles unchanged.
        "q_agg_incremental_state",
        "q_dedup_eval_pr",
        "q_scd2_incremental",
        "q_sketch_distinct_kmv",
    }
)


def _freshest_round(key: str) -> int:
    for rnd, graded in (
        (12, _GRADED_R12),
        (11, _GRADED_R11),
        (10, _GRADED_R10),
        (9, _GRADED_R9),
        (8, _GRADED_R8),
        (7, _GRADED_R7),
        (6, _GRADED_R6),
        (5, _GRADED_R5),
        (4, _GRADED_R4),
        (3, _GRADED_R3),
        (2, _GRADED_R2),
        (1, _GRADED_R1),
    ):
        if key in graded:
            return rnd
    return 0  # never graded


# ROUND-14 BOOKKEEPING SCRIPT (the same three steps every round):
#   1. Record _GRADED_R13 = the 50 keys of CORRECTNESS_r13.json (verify
#      all pass first), add it to _freshest_round's chain at rank 13.
#   2. Re-point _CHANGED_R13_PIN → _CHANGED_R14_PIN (empty unless a
#      graded key's implementation OR oracle changed); rotation slots go
#      to the stalest evidence — after r13 grades (25 pins + the 8
#      remaining r5-vintage keys + the head of the r6 cohort), the
#      stalest cohort is the rest of the r6-vintage keys, then r7.
#      ALSO STAGED FOR R14 (r13 closing decision, COVERAGE Q7): convert
#      the remaining INLINE raw decimal folds (outside the compat
#      helpers) to the try convention in pin-budget-sized cohorts. The
#      input-operand/unbounded-derived HEAD (10 keys, COVERAGE Q9)
#      landed late in r13; what remains is ~38 literal engine sites /
#      ~45 oracle SUM(CAST…) shapes, ALL derived-bounded (ROUND(·,9)-ed
#      log2/probability terms into DECIMAL(18,9), normalized ranks,
#      per-cell shares ≤ 1, aggstate's partial-sum seam) and
#      strong-probe-clean — convention debt, not a live crash class.
#      Also in that cohort: kmv_distinct_grouped's rel_err raw `/`
#      (structurally safe — a group only reaches the division with
#      ≥ 1 distinct hashed value — left raw in r13 to spare
#      q_sketch_group_distinct's pin slot; COVERAGE Q10).
#   3. There is no staged tier (the operator space is saturated per the
#      r8/r9 verdicts); any new key built drains immediately as
#      never-graded priority 0.
# Update tests/test_contract.py's window-composition asserts.


def _grading_priority(key: str) -> float:
    if _freshest_round(key) == 0:
        return 0  # never graded: must drain through the window first
    if key in _CHANGED_R13_PIN:
        return 0.5  # changed against old evidence; re-pin behind the tail
    # Older evidence rotates through the window first; the freshest
    # cohort is emitted last.
    return _freshest_round(key)


def _load_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for mod_name in _MODULES:
        try:
            mod = importlib.import_module(f"modevetl_spark.queries.{mod_name}")
        except ModuleNotFoundError:
            continue
        for k, v in getattr(mod, "QUERIES", {}).items():
            if k in queries:
                raise ValueError(f"duplicate query key {k!r} in {mod_name}")
            queries[k] = v
        oracle.update(getattr(mod, "ORACLE", {}))
    natural = {k: i for i, k in enumerate(queries)}
    ordered_keys = sorted(queries, key=lambda k: (_grading_priority(k), natural[k]))
    return {k: queries[k] for k in ordered_keys}, oracle


def all_queries() -> dict[str, QueryFn]:
    return _load_all()[0]


def all_oracle() -> dict[str, str]:
    return _load_all()[1]


def prep(spark: SparkSession) -> SparkSession:
    """Defensive session setup so queries behave identically regardless of
    how the caller built the session:

    - UTC session timezone (timestamp semantics must match the oracle);
    - ship this package to the Python workers. The driver process imports
      ``modevetl_spark`` via a sys.path shim, but executor-side Python
      workers deserialize pandas UDFs with a clean sys.path — without
      addPyFile they die with ModuleNotFoundError whenever the driver's
      cwd is not the repo root.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Newer testdata drops isAdjustedToUTC on its µs parquet timestamps,
    # which Spark 4 would otherwise surface as TIMESTAMP_NTZ; the engine
    # (and the DuckDB oracle) works in session-UTC TIMESTAMP everywhere.
    # Catalog tables are read with their declared schema (catalog.SCHEMAS)
    # and never infer; this pin covers the reads that do, e.g. of sinks
    # and state directories.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_modevetl_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(tempfile.gettempdir(), f"modevetl_spark_pyfiles_{os.getpid()}")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "modevetl_spark")
    sc.addPyFile(zip_path)
    sc._modevetl_shipped = True
