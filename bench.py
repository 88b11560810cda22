#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology mirrors BASELINE.md: one shared SparkSession for the whole run
(amortizes the ~1-2 s local[*] job overhead), timing includes full
materialization, 1 warm-up run then median of 3 timed runs per query.
Budgets: <=2x the DuckDB-oracle numbers in BASELINE.md.

Timing protocol: each timed run builds a FRESH DataFrame (fresh RDD
lineage, so every shuffle genuinely re-executes — re-collecting one
DataFrame would silently reuse completed shuffle stages). Three costs
are separated per run and published per query:

  * ``setup_sec`` — the registry callable itself (plan construction plus
    any eager side work a demo key does, e.g. the layout family writing
    its demo tables). Kept out of both planning and execution so a demo
    key's table write cannot masquerade as either.
  * ``plan_sec`` — Catalyst analysis/optimization/physical planning,
    forced via ``executedPlan()`` before the execution stopwatch starts.
    A fixed per-submission cost (~0.05-1 s per plan shape) that is noise
    against hours of execution at the 100 TB design point.
  * the execution median — ``toPandas()`` materialization only.

Cold vs steady state: queries that ``.cache()`` a shared intermediate
stage (knn_mmr_diversify, eval_rank_metrics, eval_ivf_nprobe_curve, the
minhash shingle family) keep that materialization in the session's
CacheManager, so their timed runs read the stage computed during
warm-up — analogous to DuckDB's warm buffer cache in the baseline. Both
costs are now columns: ``cold_sec`` (the warm-up run, fresh lineage +
first materialization) and the steady-state execution median, for EVERY
query, in BENCH_FULL.json.

Noise floor: local-mode job submission has a fixed overhead
(~0.1-0.15 s scheduling + stage launch + Arrow collect) that dominates
sub-0.2 s queries, and the shared driver host's load varies between
rounds. A fixed-cost calibration job (1M-row range agg through one
16-key shuffle) is timed at bench START, MIDDLE and END:
``floor_sec`` = median of all sentinel samples — subtract it before
comparing a small query against its DuckDB budget (rule in
BASELINE.md); ``noise_ratio`` = max/min of the three checkpoint
medians — when it is far from 1.0, the host was noisy DURING the run
and cross-round deltas of that magnitude are not plan regressions.

Noisy-host self-defense: when the main sweep's ``noise_ratio`` exceeds
``RETRY_NOISE_THRESHOLD`` (1.8 — r6's driver capture ran at 2.56 and
every cross-round delta that round was host noise), the headline rows
PLUS the ``NONHEADLINE_RETRY_COUNT`` slowest non-headline rows are
re-timed ONCE after the main sweep under their own three-checkpoint
sentinel. Publication rule (r8 for headlines; r11 extended the retry to
the slow non-headline rows after r10's +8% full-map drift and a phantom
2.7x "regression" on ``events_hot_keys`` turned out to be the noisy
initial sweep published verbatim):

  * headline rows, retry sentinel QUIET (<= threshold): the retry pass
    is published wholesale (``retry_published: true``) with its own
    floor;
  * headline rows, BOTH passes noisy: per-query ``min(initial, retry)``
    is published (``headline_min_published: true``) — host noise is
    strictly additive on top of the true cost, so the smaller sample is
    always the better estimate; the floor and noise_ratio published are
    likewise the smaller pass's. r7 hit exactly this case (1.814
    initial / 1.996 retry) and the old whole-pass rule kept a noisy
    sample.
  * retried non-headline rows: ALWAYS per-query ``min(initial, retry)``
    (``nonheadline_min_published: true``; raw maps in
    ``nonheadline_initial`` / ``nonheadline_retry``) — these rows have
    no BASELINE budget line, so no floor subtraction applies and the
    additive-noise argument makes min unconditionally the better
    estimate, quiet retry or not. Rows outside the slowest-N keep the
    main-sweep sample: at sub-floor magnitudes the noise IS the
    measurement, and re-timing all ~260 would double the bench.

``cold_sec`` always keeps the MAIN sweep's value: a retry re-run is
warm-remeasured (the main sweep already materialized every stage), so
overwriting cold with it would fake a fast cold path. The retry's
re-run times are still recorded as ``cold_sec_retry`` (explicitly
warm). Both passes' raw headline maps and sentinel checkpoints are kept
in BENCH_FULL (``headline_initial`` / ``headline_retry`` /
``floor_checkpoints_initial`` / ``floor_checkpoints_retry``) so every
published number is recomputable from its own pass. Rule stated in
BASELINE.md; fields pinned by tests/test_bench_contract.py.

Cold-outlier recheck: any row whose cold_sec exceeds
``COLD_OUTLIER_RATIO`` x max(steady, floor) is re-materialized once at
sweep end and the time recorded in ``cold_recheck`` — a recheck at
steady level proves the cold spike was transient (host contention /
first-query JVM warm-up landing on that key), not intrinsic to the
plan (VERDICT r7 task 4: dedup_exact_canonical's 41.6 s cold vs 0.25 s
steady).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bangdatapipeline_spark.registry import load_all  # noqa: E402
from bangdatapipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The 12 BASELINE.md headline metrics — the only per-query entries in the
# FINAL compact JSON line (the driver's tail capture is bounded; round 2's
# single 125-query line overflowed it and parsed as null). The full map goes
# to BENCH_FULL.json and an earlier stdout line.
HEADLINE_METRICS = {
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_rank_orders",
    "setops_segments",
    "events_tumbling_1d",
    "events_sessionize_30m",
    "events_json_extract",
    "doc_token_stats",
    "doc_exact_dedup",
    "emb_knn_top5",
    "asof_last_event_before_order",
    # canonical-layout twins (BASELINE.md round-2/3 notes): same queries over
    # engine-ingested multi-row-group table copies, so the scans split.
    "q1_pricing_summary_canonical",
    "events_json_extract_canonical",
}

# BASELINE.md metric name -> registry key (same query shape at the same sf).
# Keys not yet registered are skipped, so the bench degrades gracefully while
# coverage is still widening.
BENCH_QUERIES: list[tuple[str, str]] = [
    ("q1_pricing_summary", "agg_groupby"),
    ("q3_shipping_priority", "topk_limit"),
    ("q5_region_revenue", "join_multiway"),
    ("window_rank_orders", "win_rank"),
    ("setops_segments", "setop_intersect_except"),
    ("events_tumbling_1d", "stream_tumbling"),
    ("events_sessionize_30m", "stream_session"),
    ("events_json_extract", "json_funcs"),
    ("doc_token_stats", "text_stats"),
    ("doc_exact_dedup", "dedup_exact"),
    # top-k kNN is benched through its production kernel (block GEMM via
    # mapInPandas) — the expression-fold form stays registered for the
    # correctness gate and is tracked below as emb_knn_fold; both are
    # hash-checked to identical results (same precedent as the threshold
    # self-join).
    ("emb_knn_top5", "knn_gemm_topk"),
    ("asof_last_event_before_order", "join_asof"),
    # beyond-BASELINE headliners (no DuckDB budget line; recorded for trend)
    ("doc_minhash_dedup", "dedup_near_minhash"),
    ("doc_tfidf_top5", "text_tfidf"),
    ("doc_langid", "text_langid"),
    ("events_time_rollup", "agg_time_rollup"),
    ("emb_label_purity", "label_purity"),
    ("emb_knn_fold", "knn_cosine_topk"),
    # threshold self-join is benched through its production kernel (GEMM);
    # the expression-fold form knn_threshold_pairs stays registered for the
    # correctness gate but is ~25x slower and not the recommended path.
    ("emb_threshold_gemm", "knn_threshold_gemm"),
    ("events_salted_agg", "agg_salted_skew"),
    ("events_funnel", "events_funnel"),
    ("events_retention", "events_retention"),
    ("doc_pack_sequences", "pack_sequences"),
    ("doc_chunk_sliding", "text_chunk_sliding"),
    ("events_markov_transitions", "events_transitions"),
    ("graph_pagerank_3iter", "graph_pagerank"),
    ("ml_kmeans_2iter", "ml_kmeans_2iter"),
    ("events_attribution", "events_attribution"),
    ("emb_dedup_survivors", "dedup_near_embedding"),
    ("doc_vocab_oov", "text_vocab"),
    ("events_cms_heavy_hitters", "agg_cms_heavy_hitters"),
    ("orders_profile_columns", "profile_columns"),
    ("events_salted_join", "join_salted_skew"),
    ("graph_triangles", "graph_triangles"),
    ("doc_train_prep_funnel", "pipeline_train_prep"),
    ("orders_pit_join", "join_temporal_pit"),
    ("doc_repeated_spans", "text_repeated_spans"),
    ("emb_knn_quantized", "knn_quantized_topk"),
    ("orders_rfm_segments", "win_rfm_segments"),
    ("events_session_paths", "events_session_paths"),
    ("parts_abc_pareto", "win_abc_pareto"),
    ("events_dau_wau", "events_dau_wau"),
    ("parts_basket_lift", "graph_basket_lift"),
    ("events_user_entropy", "events_entropy"),
    ("events_welch_ttest", "agg_welch_ttest"),
    ("events_cusum_changepoint", "win_cusum_changepoint"),
    ("customers_gini", "agg_gini"),
    ("events_cuped", "events_cuped"),
    ("doc_bm25_top10", "text_bm25"),
    ("doc_paragraph_dedup", "dedup_paragraph_hash"),
    ("graph_kcore", "graph_kcore"),
    ("emb_knn_pq", "knn_pq_topk"),
    ("events_bitmap_distinct", "agg_bitmap_distinct"),
    ("events_ewma", "win_ewma"),
    ("doc_rrf_hybrid", "retrieval_rrf_hybrid"),
    ("orders_dq_constraints", "dq_constraints"),
    ("orders_decimal_rollup", "agg_decimal_exact"),
    ("events_rolling_stats", "win_rolling_stats"),
    ("events_ohlc_hourly", "ts_ohlc_resample"),
    ("events_interpolate_daily", "ts_interpolate_linear"),
    ("events_hll_rollup", "ts_hll_daily_merge"),
    ("doc_decontaminate", "decontaminate_ngram"),
    ("orders_drift_psi", "dq_drift_psi"),
    ("customers_cdc_merge", "merge_cdc_upsert"),
    ("orders_cohort_ltv", "orders_cohort_ltv"),
    ("parts_skyline", "skyline_pareto"),
    ("doc_containment_dedup", "dedup_containment"),
    ("doc_surprisal", "text_surprisal"),
    ("events_seasonality_hod", "ts_seasonality_hod"),
    ("orders_yoy_growth", "ts_yoy_growth"),
    ("parts_neighbor_jaccard", "graph_neighbor_jaccard"),
    ("emb_centroid_drift", "emb_centroid_drift"),
    ("customers_distribution_rank", "win_distribution"),
    ("doc_canonical_dedup", "dedup_exact_canonical"),
    ("assets_byte_dedup", "multimodal_dedup_bytes"),
    ("doc_surprisal_buckets", "text_surprisal_buckets"),
    ("events_cdc_compaction", "stream_cdc_latest"),
    ("events_rolling_median", "win_rolling_median"),
    ("events_wau_hll_sliding", "ts_wau_hll_sliding"),
    ("events_gap_islands", "win_gap_islands"),
    ("orders_open_backlog", "ts_open_backlog"),
    ("events_churn_flags", "ts_churn_flags"),
    ("emb_rank_eval", "eval_rank_metrics"),
    ("emb_pca_power", "emb_pca_power"),
    ("emb_mmr_diversify", "knn_mmr_diversify"),
    ("customers_null_safe_join", "join_null_safe"),
    ("events_map_hof", "map_higher_order"),
    ("events_bitwise_agg", "agg_bitwise"),
    ("doc_explode_outer", "explode_outer_nulls"),
    ("doc_mixture_resample", "sample_mixture_weights"),
    ("events_srm_guardrail", "events_srm_check"),
    ("events_wau_bitmap", "ts_wau_bitmap_sliding"),
    ("doc_surprisal_bigram", "text_surprisal_bigram"),
    ("doc_dedup_recall_eval", "eval_dedup_recall"),
    ("events_range_windows", "join_range_bucketed"),
    ("lineitem_grouping_levels", "agg_grouping_id"),
    ("assets_shard_plan", "multimodal_shard_plan"),
    ("doc_dataset_card", "pipeline_dataset_card"),
    ("orders_nested_roundtrip", "nested_roundtrip"),
    ("emb_knn_matryoshka", "knn_matryoshka_topk"),
    ("orders_zorder_layout", "layout_zorder"),
    ("graph_lpa_communities", "graph_label_propagation"),
    ("events_audience_overlap", "audience_overlap_bitmap"),
    ("graph_bfs_reach", "graph_bfs_levels"),
    ("events_p95_hist_sliding", "ts_hist_quantile_sliding"),
    ("events_audience_hll", "audience_overlap_hll"),
    ("events_json_variant", "json_variant"),
    ("orders_incremental_merge", "incremental_agg_merge"),
    ("orders_bloom_prefilter", "join_bloom_prefilter"),
    ("graph_cc_components", "graph_cc_alternating"),
    ("orders_ols_trend", "agg_ols_trend"),
    ("doc_naive_bayes", "ml_naive_bayes"),
    ("orders_median_exact", "agg_median_exact"),
    ("orders_group_split", "sample_group_split"),
    ("orders_join_ivm", "incremental_join_delta"),
    ("orders_quantiles_exact", "agg_quantiles_exact"),
    ("graph_modularity_lpa", "graph_modularity"),
    ("emb_knn_outliers", "emb_knn_outlier"),
    ("lineitem_cov_matrix", "agg_covariance_matrix"),
    ("events_mad_outliers", "agg_mad_outliers"),
    ("events_xcorr_leadlag", "ts_xcorr_leadlag"),
    ("events_up_streaks", "ts_up_streaks"),
    ("graph_det_walks", "graph_walks_det"),
    ("doc_per_lang_sample", "sample_per_group_fixed"),
    ("doc_incremental_dedup", "dedup_incremental_minhash"),
    ("doc_shared_spans", "dedup_shared_spans"),
    ("emb_semantic_dedup", "dedup_semantic_clustered"),
    ("doc_dsir_select", "sample_importance_dsir"),
    ("doc_epoch_shuffle", "layout_epoch_shuffle"),
    ("doc_gopher_rules", "text_gopher_rules"),
    ("emb_decontaminate", "decontaminate_semantic"),
    ("emb_decontaminate_tiled", "decontaminate_semantic_tiled"),
    ("customers_er_matching", "er_blocked_matching"),
    ("orders_schema_evolution", "schema_evolution_union"),
    ("customers_cdc_deletes", "merge_cdc_with_deletes"),
    ("doc_compaction_plan", "layout_compaction_plan"),
    ("orders_zonemap_skip", "layout_zonemap_skip"),
    ("doc_txn_optimize", "txn_optimize_table"),
    ("tpch_fk_integrity", "dq_referential_integrity"),
    ("events_hot_keys", "dq_hot_keys"),
    ("emb_calibration_bins", "eval_calibration_bins"),
    ("events_lttb_downsample", "ts_lttb_downsample"),
    ("orders_file_bloom", "layout_file_bloom"),
    ("doc_dedup_keep_best", "dedup_keep_best_quality"),
    ("emb_knn_hamming", "knn_hamming_topk"),
    ("events_concurrency_peak", "ts_concurrency_peak"),
    ("events_freshness", "dq_freshness"),
    ("events_partition_prune", "layout_partition_prune"),
    ("customers_golden_record", "er_golden_record"),
    ("orders_bucketed_join", "layout_bucketed_join"),
    ("emb_hard_negatives", "sample_hard_negatives"),
    ("doc_shingle_novelty", "text_shingle_novelty"),
    ("events_volume_anomaly", "dq_volume_anomaly"),
    ("asof_tolerance_attribution", "join_asof_tolerance"),
    ("emb_ivf_nprobe_curve", "eval_ivf_nprobe_curve"),
    ("orders_benford_audit", "dq_benford_first_digit"),
    ("orders_sequence_gaps", "dq_sequence_gaps"),
    ("orders_reconciliation", "dq_reconciliation"),
    ("parts_degree_assortativity", "graph_degree_assortativity"),
    ("emb_quantize_error", "emb_quantize_error"),
    ("doc_cdc_chunks", "text_cdc_chunks"),
    ("orders_snapshot_diff", "cdc_snapshot_diff"),
    ("cust_scd2_apply", "scd2_apply_changes"),
    ("events_drawdown", "win_drawdown"),
    ("emb_rerank_two_stage", "knn_rerank_two_stage"),
    ("emb_rerank_recall", "eval_rerank_recall"),
    ("parts_hits_counts", "graph_hits_counts"),
    ("events_max_silence", "ts_max_silence"),
    ("events_snaive_backtest", "ts_forecast_snaive_eval"),
    ("cust_er_quality", "eval_er_quality"),
    ("events_coverage_union", "ts_coverage_union"),
    ("cust_txn_time_travel", "txn_time_travel"),
    ("orders_schema_drift", "dq_schema_drift"),
    ("emb_whitening", "emb_whitening"),
    ("doc_source_rollup", "curation_source_rollup"),
    ("graph_closeness", "graph_closeness_sample"),
    ("doc_bpe_pair_counts", "text_bpe_pair_counts"),
    ("orders_priority_mode", "agg_mode_exact"),
    ("asof_next_event_forward", "join_asof_forward"),
    ("events_session_bounces", "win_session_bounces"),
    ("doc_temperature_mix", "sample_temperature_weights"),
    ("events_peak_days", "ts_peak_detection"),
    ("emb_sim_histogram", "emb_sim_histogram"),
    ("assets_resolution_buckets", "multimodal_resolution_buckets"),
    ("events_session_funnel", "events_session_funnel"),
    ("orders_above_avg", "filter_scalar_subquery"),
    ("nations_segment_listagg", "agg_string_agg"),
    ("orders_chi_square", "agg_chi_square"),
    ("events_cumulative_reach", "ts_cumulative_reach"),
    ("doc_bigram_topk", "text_ngram_topk"),
    ("doc_langid_confusion", "text_langid_confusion"),
    ("doc_length_percentiles", "text_length_percentiles"),
    ("doc_map_in_arrow", "udf_map_in_arrow"),
    ("orders_nth_value", "win_nth_value"),
    ("customers_bool_aggs", "bool_agg_funcs"),
    ("events_orc_roundtrip", "source_orc_roundtrip"),
    ("customers_merge_on_read", "layout_merge_on_read"),
    ("orders_join_fanout", "dq_join_fanout_histogram"),
    ("events_bot_suspects", "dq_bot_rate_suspects"),
    # r8: the full TPC-H SQL-API suite as bench rows — the canonical join/
    # agg workload mix, so a plan regression in any TPC-H shape shows in
    # BENCH_FULL cross-round diffs (VERDICT r7 task 7).
    ("tpch_sql_q1", "sql_api_q1"),
    ("tpch_sql_q2", "sql_api_q2"),
    ("tpch_sql_q3", "sql_api_q3"),
    ("tpch_sql_q4", "sql_api_q4"),
    ("tpch_sql_q5", "sql_api_q5"),
    ("tpch_sql_q6", "sql_api_q6"),
    ("tpch_sql_q7", "sql_api_q7"),
    ("tpch_sql_q8", "sql_api_q8"),
    ("tpch_sql_q9", "sql_api_q9"),
    ("tpch_sql_q10", "sql_api_q10"),
    ("tpch_sql_q11", "sql_api_q11"),
    ("tpch_sql_q12", "sql_api_q12"),
    ("tpch_sql_q13", "sql_api_q13"),
    ("tpch_sql_q14", "sql_api_q14"),
    ("tpch_sql_q15", "sql_api_q15"),
    ("tpch_sql_q16", "sql_api_q16"),
    ("tpch_sql_q17", "sql_api_q17"),
    ("tpch_sql_q18", "sql_api_q18"),
    ("tpch_sql_q19", "sql_api_q19"),
    ("tpch_sql_q20", "sql_api_q20"),
    ("tpch_sql_q21", "sql_api_q21"),
    ("tpch_sql_q22", "sql_api_q22"),
    ("orders_correlated_subquery", "subquery_correlated"),
    # r8: remaining distinct execution shapes that had no bench row
    ("emb_knn_lsh", "knn_ann_lsh"),
    ("emb_knn_ivf", "knn_ivf_topk"),
    ("emb_semantic_recall_eval", "eval_semantic_recall"),
    ("doc_simhash_dedup", "dedup_near_simhash"),
    ("doc_dedup_clusters", "dedup_clusters"),
    ("customers_fuzzy_match", "fuzzy_match_names"),
    ("events_stream_stream_join", "stream_stream_join"),
    ("cust_scd2_ranges", "scd2_ranges"),
    ("cust_txn_cdc_merge", "txn_cdc_merge_table"),
    ("events_interval_overlap", "join_interval_overlap"),
    ("orders_lateral_topk", "join_lateral"),
    ("doc_pipeline_e2e", "pipeline_e2e"),
    ("parts_neighbor_minhash", "graph_neighbor_minhash"),
    # r8 new operators
    ("events_seasonal_decompose", "ts_seasonal_decompose"),
    ("events_seasonal_anomaly", "ts_seasonal_anomaly"),
    ("customers_higher_moments", "agg_higher_moments"),
    ("doc_curriculum_order", "layout_curriculum_order"),
    ("doc_jsonl_roundtrip", "source_jsonl_roundtrip"),
    # r9: binaryFile connector ingest (multimodal entry point)
    ("doc_binaryfile_ingest", "source_binaryfile_ingest"),
    ("events_time_to_convert", "events_time_to_convert_hist"),
    ("orders_ship_delay_cdf", "ts_ship_delay_cdf"),
    ("doc_vocab_coverage", "text_vocab_coverage"),
    ("events_alert_debounce", "dq_alert_debounce"),
    ("doc_token_budget_schedule", "pipeline_token_budget_schedule"),
    ("events_mann_whitney", "agg_mann_whitney"),
    ("events_ks_test", "agg_ks_test"),
    ("parts_adamic_adar", "graph_adamic_adar"),
    ("customers_fuzzy_blocking_eval", "eval_fuzzy_blocking"),
    ("customers_kaplan_meier", "surv_kaplan_meier"),
    ("orders_bootstrap_ci", "stats_bootstrap_ci"),
    ("events_diff_in_diff", "events_diff_in_diff"),
    ("events_twap", "ts_twap"),
    ("doc_inverted_postings", "text_postings"),
    ("events_permutation_test", "stats_permutation_test"),
    ("events_quantile_treatment", "stats_quantile_treatment"),
    ("lineitem_sort_compression", "layout_sort_compression_gain"),
    ("orders_udf_window_agg", "udf_window_agg"),
    ("emb_balanced_classes", "sample_balanced_classes"),
    ("events_theil_sen", "ts_theil_sen"),
    ("emb_kmeans_quality", "eval_kmeans_quality"),
    ("orders_aging_buckets", "agg_aging_buckets"),
    ("lineitem_revenue_waterfall", "agg_revenue_waterfall"),
    ("customers_k_anonymity", "privacy_k_anonymity"),
    ("customers_l_diversity", "privacy_l_diversity"),
    ("customers_generalize_suppress", "privacy_generalize_suppress"),
    ("events_markov_backtest", "eval_markov_next"),
    ("doc_collocation_pmi", "text_collocation_pmi"),
    ("doc_boolean_retrieval", "retrieval_boolean_index"),
    ("assets_sampling_coverage", "multimodal_sampling_coverage"),
    ("assets_prep_funnel", "pipeline_multimodal_prep"),
    ("orders_duplicate_payments", "dq_duplicate_payments"),
]

# Registry keys deliberately NOT benched — every key is either in
# BENCH_QUERIES or here, with the reason and the benched row that covers
# its execution shape. The partition is pinned by
# tests/test_bench_contract.py::test_registry_benched_or_exempt, so a new
# key cannot silently join the un-benched tail (VERDICT r7 task 7).
BENCH_EXEMPT: dict[str, str] = {
    # --- expression-family projections: scan + JVM expression eval, no
    # shuffle; the shape is benched via events_json_extract (headline) and
    # events_map_hof. A regression would be an expression-eval regression,
    # visible in every benched row.
    "str_funcs": "projection-only expression family; shape = events_json_extract",
    "date_funcs": "projection-only expression family; shape = events_json_extract",
    "math_funcs": "projection-only expression family; shape = events_json_extract",
    "cond_funcs": "projection-only expression family; shape = events_json_extract",
    "array_funcs": "projection-only expression family; shape = events_map_hof",
    "array_higher_order": "projection-only expression family; shape = events_map_hof",
    "map_funcs": "projection-only expression family; shape = events_map_hof",
    "hash_funcs": "projection-only expression family; shape = doc_exact_dedup's digest",
    # --- single-scan relational demos: filter/project pushdown shapes
    # exercised by every headline scan
    "project_rename": "scan+project only; shape = any headline scan",
    "filter_pred": "scan+pushed filter; shape = q1_pricing_summary's scan",
    "filter_null_semantics": "scan+null-semantics filter; shape = filter_pred",
    # --- §2 join demos over dims: broadcast-join shapes benched via
    # q5_region_revenue (multiway) and customers_null_safe_join
    "join_inner_equi": "broadcast dim equi-join; shape = q5_region_revenue",
    "join_left_right_full": "broadcast outer joins; shape = q5_region_revenue",
    "join_semi_anti": "broadcast semi/anti; shape = orders_bloom_prefilter",
    "join_theta_range": "bounded range theta-join; shape = events_range_windows",
    "join_cross": "small x small declared cartesian; no scale path to track",
    "join_asof_nearest": "asof variant; shape = asof_last_event_before_order",
    # --- aggregate variants: one hash-agg shuffle, benched via
    # q1_pricing_summary / orders_quantiles_exact / events_cms_heavy_hitters
    "agg_distinct": "distinct agg shuffle; shape = q1_pricing_summary",
    "agg_approx_distinct": "HLL agg; shape = events_hll_rollup",
    "agg_stats": "moment aggregates; shape = q1_pricing_summary",
    "agg_minmax_by": "argmin/argmax agg; shape = q1_pricing_summary",
    "agg_rollup_cube_sets": "grouping-sets agg; shape = lineitem_grouping_levels",
    "agg_having": "agg + post-filter; shape = q1_pricing_summary",
    "agg_quantiles": "approx quantiles; shape = orders_quantiles_exact",
    "agg_histogram": "fixed-bin histogram agg; shape = emb_calibration_bins",
    "agg_mode": "mode agg; shape = orders_priority_mode",
    "agg_winsorize": "clipped agg over percentile cuts; shape = orders_quantiles_exact",
    "events_gapfill": "day-spine gapfill; shape = events_interpolate_daily",
    "events_anomaly": "daily z-score; shape = events_volume_anomaly",
    "events_dwell": "lead/lag dwell; shape = events_sessionize_30m",
    "text_bigrams": "per-doc bigram stats; shape = doc_bigram_topk",
    # --- window variants benched via window_rank_orders (headline),
    # events_rolling_stats, events_rolling_median
    "win_analytic": "lead/lag/ntile; shape = window_rank_orders",
    "win_frames": "rows/range frames; shape = events_rolling_stats",
    "win_topk_per_group": "WindowGroupLimit top-k; shape = window_rank_orders",
    "win_range_time": "time-range frame; shape = events_rolling_stats",
    # --- setops/sort benched via setops_segments (headline)
    "setop_union_all": "union-all concat; shape = setops_segments",
    "setop_union_distinct": "union+distinct shuffle; shape = setops_segments",
    "sort_multi": "multi-key global sort; shape = window_rank_orders' sort",
    # --- reshape: bounded-output pivots/explodes
    "pivot_wide": "pivot over |nations| columns, bounded output; shape = q1 agg",
    "unpivot_long": "stack() projection, no shuffle; shape = str_funcs class",
    "explode_normalize": "explode + renormalize; shape = doc_bigram_topk's explode",
    # --- batch twins of streaming semantics (tiny keyed state); the two
    # volume-bearing ones (tumbling, session) are headline rows
    "stream_sliding": "sliding windows; shape = events_tumbling_1d x overlap",
    "stream_dedup": "keyed first-wins dedup; shape = doc_exact_dedup",
    "stream_static_join": "stream-static broadcast; shape = join_inner_equi class",
    "stream_late": "watermark late-drop; shape = events_tumbling_1d",
    "stream_stateful": "keyed running state; shape = events_cdc_compaction",
    "stream_stream_left_join": "outer s-s join; shape = events_stream_stream_join",
    "stream_stream_full_join": "full s-s join; shape = events_stream_stream_join",
    "stream_topk": "windowed top-k; shape = events_hot_keys",
    # --- Arrow UDF demos; the volume-bearing Arrow path is benched via
    # doc_map_in_arrow and the GEMM kernels
    "udf_scalar": "pandas UDF projection; shape = doc_map_in_arrow",
    "udaf_grouped": "grouped-map UDAF; shape = emb_knn_top5's kernel",
    "udtf_expand": "UDTF expansion; shape = doc_map_in_arrow",
    # --- text variants: single-scan token transforms benched via
    # doc_token_stats (headline), doc_tfidf_top5, doc_gopher_rules
    "text_tf": "per-doc term freq; shape = doc_tfidf_top5",
    "text_tokens": "tokenize + count; shape = doc_token_stats",
    "text_quality": "quality ratios; shape = doc_gopher_rules",
    "text_fingerprint": "rolling-hash fingerprint; shape = doc_paragraph_dedup",
    "text_rep_ngram": "repeated-ngram share; shape = doc_repeated_spans",
    "text_redact_pii": "regex redaction projection; shape = doc_token_stats",
    "text_zipf_fit": "rank-all over bounded vocab table; shape = doc_vocab_oov",
    # --- similarity: fold-form exact baselines kept for the correctness
    # gate; production kernels are benched (emb_knn_top5, emb_threshold_gemm)
    "knn_threshold_pairs": "fold-form exact baseline, documented ~25x slower than emb_threshold_gemm",
    "multimodal_cols": "metadata-plane projection; shape = assets_resolution_buckets",
    "emb_dim_stats": "per-dim moments; shape = lineitem_cov_matrix",
    # --- multimodal stub-decode plumbing: payload-bounded Arrow UDFs;
    # the metadata-plane rows are benched (assets_*)
    "multimodal_decode": "stub decode Arrow UDF; shape = doc_map_in_arrow",
    "multimodal_frames": "frame-sample expansion; shape = multimodal_decode",
    "multimodal_audio_chunks": "chunk expansion; shape = multimodal_decode",
    # --- sampling: deterministic-hash projections, no shuffle
    "sample_hash_det": "hash-bucket sample; shape = doc_per_lang_sample",
    "sample_stratified": "per-stratum hash sample; shape = doc_per_lang_sample",
    "sample_weighted": "weighted hash sample; shape = doc_mixture_resample",
    "sample_split": "train/val/test split; shape = sample_hash_det",
    "sample_temporal_split": "time-cut split; shape = sample_hash_det",
    # --- exact ground truth / demo keys
    "dedup_near_jaccard": "bounded exact all-pairs ground truth; graded by doc_dedup_recall_eval, never a perf path",
}

RUNS = 3
SENTINEL_RUNS = 3
# Main-sweep noise_ratio above this triggers one headline re-time pass
# (r6 driver capture: 2.56; quiet-host runs sit at 1.0-1.3; r9 published
# a 1.581-noise pass untried under the old 1.8 bar — VERDICT r9 task 5
# lowered it to 1.5 so any ratio above the quiet band retries).
RETRY_NOISE_THRESHOLD = 1.5
# How many of the SLOWEST non-headline rows join the noise retry
# (VERDICT r10 task 1): big enough to cover every row whose absolute
# drift could move the full-map total visibly (the 25 slowest rows carry
# ~half the full-map seconds at r10), small enough that the retry stays
# a fraction of the main sweep.
NONHEADLINE_RETRY_COUNT = 25
# Published-time drift alert threshold against scripts/bench_budgets.json
# (hand-set quiet-host references for the slowest non-headline rows).
BENCH_DRIFT_RATIO = 1.5
# cold_sec > this multiple of max(steady median, floor) triggers one
# re-materialization at sweep end (cold_recheck) to separate transient
# host spikes from intrinsically expensive cold paths.
COLD_OUTLIER_RATIO = 10.0


def _floor_sentinel(spark) -> float:
    """Median seconds for one fixed-cost calibration job: a 1M-row range
    aggregated through a single 16-key shuffle, materialized via Arrow.
    The work term is negligible (~ms of JVM-side sum), so the measured
    time IS the local-mode fixed job overhead — scheduling, stage
    launch, shuffle setup, Arrow collect — plus whatever contention the
    shared host is under right now. Same session, same result path as
    every benched query."""
    import pyspark.sql.functions as F

    samples = []
    for _ in range(SENTINEL_RUNS):
        t0 = time.perf_counter()
        (
            spark.range(1_000_000)
            .groupBy((F.col("id") % 16).alias("g"))
            .agg(F.sum("id").alias("s"))
            .toPandas()
        )
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def _time_query(
    spark, fn, sf_dir: str, sink=lambda df: df.toPandas()
) -> tuple[float, float, float, float]:
    """(exec median, plan median, setup median, cold sec) for one query;
    1 cold run (timed: this IS the fresh-lineage first-materialization
    cost, and the warm-up for JIT/codegen/footer caches) + RUNS timed.
    ``sink`` materializes a DataFrame: ``toPandas`` for the bench, the
    noop writer for scripts/probe.py."""
    t0 = time.perf_counter()
    sink(fn(spark, sf_dir))
    cold = time.perf_counter() - t0
    samples, plan_samples, setup_samples = [], [], []
    for _ in range(RUNS):
        # setup: the registry callable — plan construction + any eager
        # demo side work (layout keys write their demo tables here)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        setup_samples.append(time.perf_counter() - t0)
        # plan: force analysis/optimization/physical planning
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        plan_samples.append(time.perf_counter() - t0)
        # exec: full materialization — in the bench, to Python via
        # Arrow batches (the idiomatic PySpark result path; DuckDB's
        # fetchall() baseline also materializes).
        t0 = time.perf_counter()
        sink(df)
        samples.append(time.perf_counter() - t0)
    return (
        statistics.median(samples),
        statistics.median(plan_samples),
        statistics.median(setup_samples),
        cold,
    )


def _canonical_dir(spark, tables: list[str]) -> str:
    """Re-ingest selected tables through the engine's canonical layout
    (8 files / 4 MB row groups) into a per-run unique temp sf-dir.

    BASELINE.md (round 2) root-caused q1's residual gap to the driver's
    single-600k-row-row-group lineitem file: Spark cannot split a scan
    below one row group, so the scan runs serial regardless of
    ``files.maxPartitionBytes`` — and the same applies to ``events``.
    The canonical ingest is how the engine itself would lay the tables
    out; the `*_canonical` metrics time the SAME queries over that
    layout. The uuid suffix keeps concurrent bench runs from clobbering
    each other's layout mid-timing; the caller removes the dir after use.
    """
    import tempfile
    import uuid

    out = os.path.join(
        tempfile.gettempdir(), f"bdp_bench_canonical_{uuid.uuid4().hex[:12]}"
    )
    from bangdatapipeline_spark.tables import load_table

    for name in tables:
        (
            load_table(spark, SF_DIR, name)
            .repartition(8)
            .write.mode("overwrite")
            .option("parquet.block.size", 4 * 1024 * 1024)
            .parquet(os.path.join(out, f"{name}.parquet"))
        )
    return out


def main() -> None:
    sf = _sf_from_dir(SF_DIR)
    registry = load_all()
    spark = get_spark("bench")

    # Global JVM warm-up: the first executed query pays one-time JIT /
    # codegen-compiler costs that would otherwise be misattributed to it
    # (BASELINE.md's DuckDB numbers are warm-cache medians too).
    registry[BENCH_QUERIES[0][1]].fn(spark, SF_DIR).toPandas()

    floor_checkpoints = [_floor_sentinel(spark)]  # START

    timings: dict[str, float] = {}
    plan_secs: dict[str, float] = {}
    setup_secs: dict[str, float] = {}
    cold_secs: dict[str, float] = {}

    def _run_one(metric: str, fn, sf_dir: str) -> None:
        exec_s, plan_s, setup_s, cold_s = _time_query(spark, fn, sf_dir)
        timings[metric] = round(exec_s, 4)
        plan_secs[metric] = round(plan_s, 4)
        setup_secs[metric] = round(setup_s, 4)
        cold_secs[metric] = round(cold_s, 4)

    benchable = [(m, k) for m, k in BENCH_QUERIES if k in registry]
    midpoint = len(benchable) // 2
    for i, (metric, key) in enumerate(benchable):
        if i == midpoint:
            floor_checkpoints.append(_floor_sentinel(spark))  # MIDDLE
        _run_one(metric, registry[key].fn, SF_DIR)

    # q1 + events JSON extraction over the engine's canonical multi-row-group
    # layout (splittable scans); removed after the (possible) headline retry
    # so runs stay independent.
    import shutil

    from bangdatapipeline_spark import caches

    # r13 (VERDICT r12 task 2b): by row ~275 the shared session carries
    # every operator-level cache pin of the sweep; release them so the
    # canonical rows and the headline retry pass run under the same heap/
    # GC conditions as the early rows — end-of-sweep cache pressure was
    # the plausible cause of r12's uniform ~20% headline "regressions" on
    # untouched operators. Publication rules are unchanged (no new
    # min-publishing path).
    caches.release(spark)

    _CANONICAL_ROWS = (
        ("q1_pricing_summary_canonical", "agg_groupby"),
        ("events_json_extract_canonical", "json_funcs"),
    )
    canon_dir = _canonical_dir(spark, ["lineitem", "events"])
    try:
        for metric, key in _CANONICAL_ROWS:
            _run_one(metric, registry[key].fn, canon_dir)

        floor_checkpoints.append(_floor_sentinel(spark))  # END

        noise_ratio_initial = round(
            max(floor_checkpoints) / min(floor_checkpoints), 3
        )
        floor_sec_initial = round(statistics.median(floor_checkpoints), 4)

        # Noisy-host self-defense (BASELINE.md rule, r8 form + r11
        # extension): re-time the headline rows AND the slowest
        # NONHEADLINE_RETRY_COUNT non-headline rows once under their own
        # sentinel. Headlines publish the retry wholesale if its sentinel
        # is quiet, else per-query min (noise is additive, so min is
        # always the better estimate); retried non-headline rows always
        # publish per-query min (no BASELINE budget line -> no floor
        # subtraction -> min is unconditionally better). The remaining
        # non-headline rows keep the main-sweep sample.
        key_of = dict(benchable)
        retried = noise_ratio_initial > RETRY_NOISE_THRESHOLD
        retry_published = False
        headline_min_published = False
        nonheadline_min_published = False
        noise_ratio_retry = None
        floor_sec_retry = None
        retry_checkpoints: list[float] = []
        headline_initial: dict[str, float] = {}
        headline_retry: dict[str, float] = {}
        nonheadline_initial: dict[str, float] = {}
        nonheadline_retry: dict[str, float] = {}
        cold_sec_retry: dict[str, float] = {}
        floor_sec = floor_sec_initial
        noise_ratio = noise_ratio_initial
        floor_checkpoints_published = floor_checkpoints
        if retried:
            r_tim: dict[str, float] = {}
            r_plan: dict[str, float] = {}
            r_setup: dict[str, float] = {}
            r_cold: dict[str, float] = {}
            headline_rows = [
                (m, k, SF_DIR) for m, k in benchable if m in HEADLINE_METRICS
            ] + [(m, k, canon_dir) for m, k in _CANONICAL_ROWS]
            nonheadline_slowest = sorted(
                (m for m, _k in benchable if m not in HEADLINE_METRICS),
                key=lambda m: timings[m],
                reverse=True,
            )[:NONHEADLINE_RETRY_COUNT]
            retry_rows = headline_rows + [
                (m, key_of[m], SF_DIR) for m in nonheadline_slowest
            ]
            # release again immediately before the retry pass (task 2b):
            # the main sweep's tail + canonical rows re-pinned relations
            caches.release(spark)
            retry_checkpoints = [_floor_sentinel(spark)]  # retry START
            for i, (metric, key, d) in enumerate(retry_rows):
                if i == len(retry_rows) // 2:
                    retry_checkpoints.append(_floor_sentinel(spark))  # MID
                exec_s, plan_s, setup_s, cold_s = _time_query(
                    spark, registry[key].fn, d
                )
                r_tim[metric] = round(exec_s, 4)
                r_plan[metric] = round(plan_s, 4)
                r_setup[metric] = round(setup_s, 4)
                # the retry "cold" run is warm-remeasured (the main sweep
                # already materialized every stage) — recorded, never
                # published as cold_sec
                r_cold[metric] = round(cold_s, 4)
            retry_checkpoints.append(_floor_sentinel(spark))  # retry END
            noise_ratio_retry = round(
                max(retry_checkpoints) / min(retry_checkpoints), 3
            )
            floor_sec_retry = round(statistics.median(retry_checkpoints), 4)
            headline_initial = {m: timings[m] for m, _k, _d in headline_rows}
            headline_retry = {m: r_tim[m] for m, _k, _d in headline_rows}
            nonheadline_initial = {m: timings[m] for m in nonheadline_slowest}
            nonheadline_retry = {m: r_tim[m] for m in nonheadline_slowest}
            cold_sec_retry = r_cold
            if noise_ratio_retry <= RETRY_NOISE_THRESHOLD:
                # quiet retry: publish it wholesale with its own floor
                retry_published = True
                timings.update(headline_retry)
                plan_secs.update({m: r_plan[m] for m in headline_retry})
                setup_secs.update({m: r_setup[m] for m in headline_retry})
                floor_sec = floor_sec_retry
                noise_ratio = noise_ratio_retry
                floor_checkpoints_published = retry_checkpoints
            else:
                # both passes noisy: per-query min (additive-noise rule)
                headline_min_published = True
                for m, v in headline_retry.items():
                    if v < timings[m]:
                        timings[m] = v
                        plan_secs[m] = r_plan[m]
                        setup_secs[m] = r_setup[m]
                if floor_sec_retry < floor_sec_initial:
                    floor_sec = floor_sec_retry
                    floor_checkpoints_published = retry_checkpoints
                noise_ratio = min(noise_ratio_initial, noise_ratio_retry)
            # retried non-headline rows: per-query min in BOTH branches
            if nonheadline_retry:
                nonheadline_min_published = True
                for m, v in nonheadline_retry.items():
                    if v < timings[m]:
                        timings[m] = v
                        plan_secs[m] = r_plan[m]
                        setup_secs[m] = r_setup[m]

        # Cold-outlier recheck (VERDICT r7 task 4): re-materialize any row
        # whose cold run was >COLD_OUTLIER_RATIO x its steady cost once,
        # fresh lineage. A recheck at steady level attributes the spike to
        # transient host/JVM effects; a recheck that stays high means the
        # cold path is intrinsically expensive and needs a look.
        cold_recheck: dict[str, float] = {}
        recheck_rows = [(m, k, SF_DIR) for m, k in benchable] + [
            (m, k, canon_dir) for m, k in _CANONICAL_ROWS
        ]
        for metric, key, d in recheck_rows:
            bar = COLD_OUTLIER_RATIO * max(timings[metric], floor_sec)
            if cold_secs[metric] > bar:
                t0 = time.perf_counter()
                registry[key].fn(spark, d).toPandas()
                cold_recheck[metric] = round(time.perf_counter() - t0, 4)
    finally:
        shutil.rmtree(canon_dir, ignore_errors=True)

    # Non-headline drift gate (VERDICT r10 task 4): the slowest
    # non-headline rows (graph family + orders_udf_window_agg, ...) have
    # no BASELINE budget line, so a real plan regression there was
    # previously invisible. scripts/bench_budgets.json records a
    # quiet-host reference (min of the r9/r10 published values) per row,
    # HAND-maintained only — no self-seeding, so a regressed new
    # reference can never auto-baseline itself (the sf1 ledger's r10
    # self-seed hole, closed the same round). A published value above
    # BENCH_DRIFT_RATIO x its reference lands in ``over_budget``, which
    # tests/test_bench_contract.py requires empty in the committed
    # artifact. 1.5x sits above the residual noise the min-retry
    # publication leaves (<= ~1.3x observed) and well below the 2x+
    # jumps real plan regressions produce.
    budgets_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scripts", "bench_budgets.json"
    )
    bench_budgets: dict[str, float] = {}
    if os.path.exists(budgets_path):
        # a corrupt budgets file must CRASH, not count as empty
        with open(budgets_path) as f:
            bench_budgets = json.load(f)

    # Budget-drift retry (ADVICE r11): the noise retry above only fires
    # when the GLOBAL sentinel is noisy, so a quiet-sentinel sweep with a
    # single per-row transient spike >BENCH_DRIFT_RATIO x its budget
    # reference used to publish the spiked sample and hard-fail the
    # committed-artifact contract with no retry path (r11's
    # customers_fuzzy_blocking_eval, 0.289 -> 0.742 s). Mirror
    # sf1_smoke's warm budget-alert retry: every budgeted row whose
    # published value exceeds BENCH_DRIFT_RATIO x its reference gets ONE
    # warm re-time regardless of sentinel state, publishing
    # min(published, retry) — a transient spike settles back under
    # budget, a real plan regression stays over and the alert stands.
    # Raw pairs land in ``budget_retried`` so the adjudication is
    # auditable. Budgeted rows all run at SF_DIR (the canonical-layout
    # twins are headline-only), so this runs after canon_dir teardown.
    budget_retried: dict[str, list[float]] = {}
    for m, ref in bench_budgets.items():
        if m not in timings or timings[m] <= BENCH_DRIFT_RATIO * ref:
            continue
        exec_s, plan_s, setup_s, _cold = _time_query(
            spark, registry[key_of[m]].fn, SF_DIR
        )
        budget_retried[m] = [timings[m], round(exec_s, 4)]
        if exec_s < timings[m]:
            timings[m] = round(exec_s, 4)
            plan_secs[m] = round(plan_s, 4)
            setup_secs[m] = round(setup_s, 4)

    total = round(sum(timings.values()), 4)
    plan_total = round(sum(plan_secs.values()), 4)
    setup_total = round(sum(setup_secs.values()), 4)
    # r13 (VERDICT r12 task 2a): the fresh-lineage first-materialization
    # total, co-published in the FINAL line so cross-round grading sees
    # both the warm-median and the cold cost without opening BENCH_FULL.
    # At 100 TB a query runs once — the cold path is the product.
    cold_total = round(sum(cold_secs.values()), 4)

    over_budget = {
        m: [timings[m], ref]
        for m, ref in bench_budgets.items()
        if m in timings and timings[m] > BENCH_DRIFT_RATIO * ref
    }
    for m, (got, ref) in over_budget.items():
        print(
            f"OVER BUDGET {m}: {got}s > {BENCH_DRIFT_RATIO}x{ref}s",
            file=sys.stderr,
        )

    # Full per-query map: side file + an EARLY stdout line (anything long
    # must not be the final line — the driver's tail capture is bounded).
    full = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "plan_sec": plan_secs,
        "setup_sec": setup_secs,
        "cold_sec": cold_secs,
        "plan_sec_total": plan_total,
        "setup_sec_total": setup_total,
        "cold_sec_total": cold_total,
        "floor_sec": floor_sec,
        # the published pass's checkpoints (so floor_sec/noise_ratio are
        # always recomputable from them), plus both raw passes
        "floor_checkpoints": [round(s, 4) for s in floor_checkpoints_published],
        "floor_checkpoints_initial": [round(s, 4) for s in floor_checkpoints],
        "floor_checkpoints_retry": (
            [round(s, 4) for s in retry_checkpoints] if retried else None
        ),
        "floor_sec_initial": floor_sec_initial,
        "floor_sec_retry": floor_sec_retry,
        "noise_ratio": noise_ratio,
        "retried": retried,
        "retry_published": retry_published,
        "headline_min_published": headline_min_published,
        "nonheadline_min_published": nonheadline_min_published,
        "noise_ratio_initial": noise_ratio_initial,
        "noise_ratio_retry": noise_ratio_retry,
        "headline_initial": headline_initial,
        "headline_retry": headline_retry,
        "nonheadline_initial": nonheadline_initial,
        "nonheadline_retry": nonheadline_retry,
        "cold_sec_retry": cold_sec_retry,
        "cold_recheck": cold_recheck,
        "budget_retried": budget_retried,
        "over_budget": over_budget,
        "sf": sf,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_FULL.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(full))

    # FINAL line: compact, driver-parseable — headline queries only.
    headline = {m: s for m, s in timings.items() if m in HEADLINE_METRICS}
    print(
        json.dumps(
            {
                "metric": "bench_total_sec",
                "value": total,
                "unit": "sec",
                "queries": headline,
                "plan_sec_total": plan_total,
                "setup_sec_total": setup_total,
                "cold_sec_total": cold_total,
                "floor_sec": floor_sec,
                "noise_ratio": noise_ratio,
                "retried": retried,
                "retry_published": retry_published,
                "headline_min_published": headline_min_published,
                "nonheadline_min_published": nonheadline_min_published,
                "n_nonheadline_retried": len(nonheadline_retry),
                "noise_ratio_initial": noise_ratio_initial,
                "noise_ratio_retry": noise_ratio_retry,
                "n_queries_total": len(timings),
                "n_over_budget": len(over_budget),
                "full_map": "BENCH_FULL.json",
                "sf": sf,
            }
        )
    )


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


if __name__ == "__main__":
    main()
