"""Query suite: every implemented operator exposed as a named query
(SURVEY.md §2 inventory) with, where SQL-expressible, a DuckDB oracle
that reproduces the exact semantics (driver contract in
/root/repo/__spark_entry__.py).

Numeric-parity rules shared by builders and oracles (see operators/
windows.py docstring and the PLANS.md §62 rulebook): deterministic
(time, event_id) intra-key order, explicit warmup-count guards,
NULLIF'd denominators, and — for judged aggregates over doubles —
integer quantization BEFORE aggregation (micro-unit sums, FLOOR-pattern
means, closed-form ratios of exact integer moments) rather than a
rounded float aggregate, which is accumulation-order-sensitive across
engines/partitionings (the r5/r6 driver flake class).  6dp rounds
remain on per-row ratios and small-denominator rationals, where the
boundary argument is exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import analytics, behavior, core, extensions, relational, sql_api
from ._cert_ledger import LAST_CERT

Builder = Callable[[SparkSession, str], DataFrame]

_ALL: dict[str, Builder] = {}
ORACLES: dict[str, str] = {}
#: per-query scale-posture tier (r8 VERDICT #4): "production" |
#: "measurement" | "demo" — see the q() decorator docstring.  Consumed
#: by tools/sweep.py --compare (only production superlinearity is a
#: defect) and enforced complete by tools/lint_registry.py.
TIERS: dict[str, str] = {}

for mod in (core, relational, extensions, analytics, behavior, sql_api):
    _ALL.update(mod.QUERIES)
    ORACLES.update(mod.ORACLES)
    TIERS.update(mod.TIERS)

_VALID_TIERS = {"production", "measurement", "demo"}
assert set(TIERS) == set(_ALL) and set(TIERS.values()) <= _VALID_TIERS

# Registry order = driver-certification rotation.  The external driver
# re-certifies only the FIRST ~50 registry entries per round, so the
# order is one rule over three inputs:
#   - _PREEMPT: queries whose builder or oracle code changed since their
#     last certification.  Their old cert no longer covers the new plan,
#     so they lead the window.
#   - LAST_CERT: the last driver-green round per query, generated from
#     the CORRECTNESS_r*.json files by tools/cert_ledger.py.
#   - _BASE: every registered name once, the stable tiebreak among
#     queries certified in the same round.  It starts as the registry
#     order this rule replaced; a new query is appended to it.
# Everything after _PREEMPT is sorted oldest certification first, so an
# entry displaced by the pre-empt list leads the next window.  Each round
# regenerates the ledger and rewrites _PREEMPT; nothing else changes.
# `python tools/cert_ledger.py --window` prints the predicted window.

_BASE: list[str] = [
    "q_ewma_sql", "q_approx_stats", "q_textrank", "q_pagerank", "q_hits",
    "q_communities", "q_communities_minhash", "q_dedup_clusters",
    "q_dup_weights", "q_corpus_pipeline", "q_corpus_full",
    "q_dedup_minhash_ml", "q_minhash_banded_verified", "q_kcore",
    "q_kcore_minhash", "q_stream_topk", "q_tar_datasource", "q_tar_writer",
    "q_backtest_ma", "q_welch_ttest", "q_mannwhitney", "q_chi2", "q_pr_curve",
    "q_basket_rules", "q_rfm", "q_pareto_abc", "q_gini_hhi", "q_vortex",
    "q_psar", "q_kama", "q_tsi", "q_attribution", "q_kaplan_meier",
    "q_ab_test", "q_cusum", "q_flesch", "q_zipf", "q_sentiment", "q_sortino",
    "q_calmar", "q_info_ratio", "q_omega", "q_vratio", "q_hurst",
    "q_runs_test", "q_underwater", "q_clustering_coef", "q_degree_assort",
    "q_decompose", "q_breadth", "q_ulcer", "q_cmo", "q_streaks",
    "q_month_effect", "q_topk_days", "q_rel_strength", "q_markov",
    "q_inter_event", "q_cohort_value", "q_hourly_profile",
    "q_clustering_minhash", "q_assort_minhash", "q_silhouette",
    "q_cluster_stats", "q_eval_contam_rate", "q_token_psi", "q_stream_drift",
    "q_stream_cardinality", "q_containment_capped", "q_triangles_minhash",
    "q_json_decode", "q_error_isolation", "q_format_roundtrip",
    "q_rename_project", "q_null_filter", "q_epoch_convert", "q_tick_widen",
    "q_sma", "q_bbands", "q_stoch", "q_mfi", "q_obv", "q_vwap",
    "q_warmup_gate", "q_latest_per_key", "q_prefix_jaccard_capped",
    "q_semdedup_scaled", "q_semdedup_joined", "q_minhash_eval",
    "q_entropy_profile", "q_lookback_trim", "q_time_range", "q_ema", "q_rsi",
    "q_macd", "q_atr", "q_adx", "q_dq_report", "q_join_agg", "q_semi_join",
    "q_anti_join", "q_set_ops", "q_window_rank", "q_grouping_sets", "q_cube",
    "q_asof_join", "q_sessionize", "q_range_window", "q_top_orders", "q_pivot",
    "q_asof_tolerance", "q_doc_fingerprint", "q_doc_winnow", "q_tfidf",
    "q_doc_repetition", "q_split_assign", "q_sample_profile",
    "q_group_quantiles", "q_multimodal_meta", "q_media_frames",
    "q_media_features", "q_histogram", "q_null_profile", "q_text_normalize",
    "q_stratified_sample", "q_regex_extract", "q_sql_tpch_q12",
    "q_semdedup_capped", "q_text_redact", "q_seq_pack", "q_doc_logprob",
    "q_dedup_incremental", "q_span_dedup", "q_domain_mix", "q_embed_quantize",
    "q_heavy_hitters", "q_bm25", "q_ppl_tiers", "q_weighted_sample",
    "q_hard_negatives", "q_media_dhash", "q_bigram_next", "q_psi_drift",
    "q_media_wav", "q_table_stats", "q_split_leakage", "q_dedup_containment",
    "q_epoch_order", "q_asof_forward", "q_asof_nearest", "q_bpe_pairs",
    "q_cdc_dedup", "q_pca_power", "q_group_sample", "q_bpe_learn",
    "q_fuzzy_vocab", "q_ann_recall", "q_ks_drift", "q_token_pmi", "q_zorder",
    "q_skip_read", "q_bpe_apply", "q_tar_shards", "q_pq_error", "q_pq_topk",
    "q_ann_ivfpq", "q_cm_sketch", "q_hll_portable", "q_kmeans_fit3",
    "q_cdc_incremental", "q_hist_quantiles", "q_sql_tpch_q9", "q_sql_tpch_q11",
    "q_media_dhash_pairs_exact", "q_semdedup_fixedk", "q_semdedup",
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_minhash", "q_dedup_simhash",
    "q_topk_cosine", "q_ann_lsh", "q_ann_ivf", "q_text_tokens", "q_token_freq",
    "q_token_count", "q_doc_profile", "q_lang_id", "q_text_quality",
    "q_decontaminate", "q_kmeans_step", "q_gram_matrix", "q_log_returns",
    "q_rolling_vol", "q_drawdown", "q_symbol_corr", "q_candles", "q_beta",
    "q_wma", "q_rolling_median", "q_candles_incremental", "q_salted_agg",
    "q_window_navs", "q_gapfill_locf", "q_twap", "q_roc", "q_donchian",
    "q_cci", "q_winsorize", "q_candles_rollup", "q_unpivot", "q_rolling_corr",
    "q_mad_outliers", "q_funnel", "q_retention", "q_range_join",
    "q_session_window", "q_sql_tpch_q1", "q_sql_tpch_q6", "q_sql_tpch_q3",
    "q_sql_tpch_q5", "q_sql_tpch_q10", "q_media_dhash_pairs", "q_sql_tpch_q16",
    "q_sql_tpch_q20", "q_salted_join", "q_doc_chunks", "q_grouping_explicit",
    "q_embed_neardup", "q_triangles", "q_props_variant", "q_bloom_semi",
    "q_media_png", "q_media_png_dhash", "q_event_runs", "q_concurrency",
    "q_delta_encode", "q_rank_pct", "q_date_features", "q_hash_tf", "q_scd2",
    "q_hopping_window", "q_zscore", "q_label_encode", "q_prefix_jaccard",
    "q_sharpe", "q_table_diff", "q_merge_upsert", "q_ichimoku",
    "q_pivot_points", "q_var_es", "q_acf", "q_ewma_vol", "q_volume_profile",
    "q_sql_tpch_q14", "q_sql_tpch_q4", "q_sql_tpch_q7", "q_sql_tpch_q8",
    "q_sql_tpch_q13", "q_sql_tpch_q15", "q_sql_tpch_q17", "q_sql_tpch_q18",
    "q_sql_tpch_q19", "q_sql_tpch_q21", "q_sql_tpch_q22", "q_sql_tpch_q2",
    "q_backfill_job", "q_backfill_incremental", "q_upsert_ignore",
    "q_stream_replay", "q_stream_ingest", "q_stream_join", "q_stream_sessions",
    "q_stream_candles", "q_stream_dedup", "q_pairs_spread", "q_moments",
    "q_hll_union", "q_logreg_quality", "q_gopher_rules", "q_bucket_join",
    "q_schema_evolution", "q_pit_join", "q_willr", "q_cmf", "q_ad_line",
    "q_ultimate", "q_aroon", "q_keltner", "q_holt", "q_force_index",
    "q_spearman", "q_dsir_weights", "q_rake", "q_linkage", "q_mmr", "q_trix",
    "q_supertrend", "q_amihud", "q_roll_spread", "q_holt_eval", "q_kalman",
    "q_ols_trend", "q_dow_returns", "q_leadlag", "q_wordpiece",
    "q_portfolio_nav", "q_tfidf_cosine", "q_garch", "q_candle_patterns",
    "q_fractals", "q_yoy_growth", "q_benford", "q_knn_classify",
]

# Builder code rewritten since the last certification: EMA/RSI/ATR/ADX
# now run one carry-state kernel each (operators/recursive.py), reached
# directly, through Keltner/EFI/TRIX/Supertrend/TSI, through the
# backfill jobs' with_recursive_suite, and through the streaming
# GroupState; q_stream_topk's Misra-Gries state update was inlined.
_PREEMPT: list[str] = [
    "q_ema", "q_rsi", "q_macd", "q_atr", "q_adx",
    "q_keltner", "q_trix", "q_tsi", "q_force_index", "q_supertrend",
    "q_stream_replay", "q_stream_topk",
    "q_backfill_job", "q_backfill_incremental",
]

assert sorted(_BASE) == sorted(_ALL) and set(_PREEMPT) <= set(_ALL)

_pos = {n: i for i, n in enumerate(_BASE)}
QUERIES: dict[str, Builder] = {
    n: _ALL[n]
    for n in [
        *_PREEMPT,
        *sorted(
            (n for n in _BASE if n not in _PREEMPT),
            key=lambda n: (LAST_CERT.get(n, 0), _pos[n]),
        ),
    ]
}

__all__ = ["QUERIES", "ORACLES", "TIERS", "Builder"]
