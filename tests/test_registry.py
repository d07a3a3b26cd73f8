"""Registry hygiene: structural contracts every registered query must
hold for the driver's harness to be able to check it, and the driver
check order derived from the committed CORRECTNESS files.

The driver canonicalizes results with pandas (sort_values + hash);
array/map/struct cells are unhashable there, so every ORACLED query
must produce a flat schema (atomic column types only). Round 2 lost a
checked slot to exactly this (``embedding_normalize_quantize`` emitted
``array<int>`` and the driver recorded an err instead of a result) —
this test makes the bug class unrepresentable.
"""

from __future__ import annotations

import importlib
import json
import sys

import pytest
from pyspark.sql import types as T

from mlops_realtime_data_ingestion_spark.plans import registry
from mlops_realtime_data_ingestion_spark.plans.registry import all_specs

_SPECS = all_specs()
_ORACLED = sorted(n for n, s in _SPECS.items() if s.oracle is not None)
_HISTORY = registry.load_history()

# Analysis-only schema resolution needs a real table dir but never
# executes the query (DataFrame construction is lazy).
_SF_DIR = "/root/testdata/sf0.001"

_NESTED = (T.ArrayType, T.MapType, T.StructType)

_MODULE_COUNTS = {
    "reference_queries": 12, "relational_queries": 21,
    "timeseries_queries": 23, "tpch_queries": 21, "extension_queries": 30,
    "streaming_queries": 5, "training_queries": 22, "quality_queries": 8,
    "profiling_queries": 29, "tpch_partsupp": 4, "curation_queries": 21,
}

# The round-13 re-certify set, before CORRECTNESS_r13.json recorded it.
_CHANGED_BEFORE_R13 = frozenset({
    "sim_search_ivfpq", "sim_search_ivfpq_rerank",
    "sim_search_ivfpq_sampled", "sim_search_ivfpq_index_update",
    "sim_search_ivfpq_serve", "embedding_pq_codes",
    "dedup_containment", "dedup_containment_incremental",
    "dedup_containment_index_serve", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_incremental_lsh",
    "dedup_embedding_cosine",
})

# list(all_specs()) when the order was hand-kept in per-round name sets
# covering rounds 1-12 plus the set above.
_HAND_KEPT_ORDER = [
    "dedup_containment", "dedup_containment_incremental",
    "dedup_containment_index_serve", "dedup_embedding_cosine",
    "dedup_incremental_lsh", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "embedding_pq_codes", "sim_search_ivfpq",
    "sim_search_ivfpq_index_update", "sim_search_ivfpq_rerank",
    "sim_search_ivfpq_sampled", "sim_search_ivfpq_serve",
    "session_window_agg", "sessionize_events", "set_ops_user_cohorts",
    "sliding_window_agg", "split_leakage_safe",
    "tpch_q1_pricing_summary", "wf_first_last_nth",
    "wf_rolling_time_range", "wf_running_sum",
    "approx_quantiles_by_type", "approx_quantiles_value",
    "boilerplate_chunks", "bpe_top_merges", "cdc_snapshot_diff",
    "curation_funnel", "decontam_ngram_overlap", "decontam_semantic",
    "dedup_exact_fingerprint", "dedup_survivors_best_quality",
    "doc_chunk_sliding", "drift_psi_events", "embedding_hard_negatives",
    "embedding_normalize_quantize", "embedding_stats", "export_shards",
    "hll_distinct_users", "multimodal_frame_sample",
    "pack_sequences_greedy", "sample_per_source_topk",
    "sample_stratified", "sim_search_cosine_topk",
    "sim_search_lsh_topk", "split_hash_assign", "streaming_stream_join",
    "text_fingerprint", "text_heavy_hitters", "text_heavy_hitters_cms",
    "text_kwic_udtf", "text_lang_id", "text_quality_score",
    "text_token_count", "text_vocab_oov", "tpch_q11_important_stock",
    "tpch_q12_late_shipments", "tpch_q13_customer_distribution",
    "tpch_q20_excess_shipments", "tpch_q21_waiting_suppliers",
    "tpch_q7_volume_shipping", "tpch_q8_market_share",
    "tpch_q9_product_profit", "ts_profile_topk", "ab_test_ztest",
    "bpe_encode_documents", "ccnet_ppl_buckets", "corr_matrix_lineitem",
    "dataset_card_report", "dedup_simhash64",
    "dedup_simhash64_index_serve", "dsir_select_en",
    "embedding_jl_projection", "entity_resolution_part_names",
    "eval_calibration_ece", "feature_mutual_info",
    "funnel_view_click_purchase", "graph_pagerank_topk",
    "hll_merge_identity", "hll_user_overlap", "hll_users_by_type",
    "join_bloom_prefilter", "k_anonymity_customers",
    "multimodal_decode", "multimodal_resize", "mv_join_incremental",
    "quality_classifier_hashed", "retention_cohorts",
    "retrieval_eval_ann", "rollup_incremental_merge",
    "sample_domain_mixture", "sample_temperature_mixture",
    "sample_weighted_docs", "sim_search_mmr_topk",
    "skew_report_lineitem", "streaming_breach_alarm",
    "streaming_pipeline_e2e", "table_stats_orders",
    "table_stats_orders_sketch", "text_bm25_topk",
    "text_perplexity_filter", "text_pii_redact", "text_tfidf_topk",
    "token_pmi_topk", "tpch_q11_true", "tpch_q20_true", "tpch_q2_true",
    "tpch_q9_true", "ts_anomaly_zscore", "vocab_zipf_slope",
    "a6_minute_bucket", "a7_minmax_span", "a8_ordered_gather",
    "agg_cube", "agg_distinct", "dedup_cdc_chunks",
    "dedup_cdc_chunks_join", "dedup_simhash", "forecast_seasonal_naive",
    "fuzzy_join_part_names", "interval_overlap_orders",
    "monitoring_consecutive_breach", "passages_sliding_window",
    "s1_http_poll_ingest", "split_ngram_novelty",
    "streaming_record_highs", "substring_dedup_chains",
    "substring_dedup_incremental", "substring_span_rows",
    "substring_strip_text", "text_repetition_metrics",
    "threshold_update_rule", "tpch_q10_returned_items",
    "tpch_q14_promo_effect", "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier_cnt", "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_predicates", "tpch_q22_dormant_customers",
    "tpch_q2_min_cost_supplier", "tpch_q3_shipping_priority",
    "tpch_q4_order_priority", "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue", "ts_anomaly_mad", "ts_cusum_alerts",
    "ts_ewma_smooth", "ts_gapfill_interpolate", "ts_seasonal_decompose",
    "ts_trend_per_user", "w1_train_test_split",
    "w2_expanding_validation_windows", "w4_forecast_index",
    "wf_cumulative_distinct_users", "wf_rank_lag_lead",
    "agg_grouping_sets", "agg_percentiles", "agg_pivot", "agg_rollup",
    "agg_unpivot", "asof_join_cogrouped_purchase",
    "asof_join_last_purchase", "clustering_eval_purity",
    "dedup_cc_star", "dedup_connected_components", "dedup_semdedup",
    "dedup_simhash_combi", "dedup_simhash_incremental",
    "dedup_simhash_index_serve", "dedup_survivors", "dq_orders_report",
    "f1_epoch_roundtrip", "f4_base64_json", "f5_json_encode_size",
    "f6_json_extract", "f7_f8_scalar_math", "flagship_tx_window_1min",
    "forecast_backtest_rmse_wql", "j2_positional_zip",
    "join_3way_brand_nation", "join_anti_no_big_orders",
    "join_left_order_counts", "join_orders_customer_segment",
    "join_salted_skew", "join_semi_big_spenders",
    "kmeans_embedding_clusters", "metrics_rmse_wql", "o2_topk_orders",
    "p1_dedup_keep_first", "passage_dedup_spans",
    "passage_dedup_spans_join", "range_join_attribution",
    "s10_latest_per_key", "scd2_price_history", "sim_search_ivf_kmeans",
]


def _plan_module(name: str):
    return importlib.import_module(f"mlops_realtime_data_ingestion_spark.plans.{name}")


def _last_green() -> dict[str, int]:
    out: dict[str, int] = {}
    for rnd in sorted(_HISTORY):
        out.update((n, rnd) for n, green in _HISTORY[rnd].items() if green)
    return out


def _recheck() -> set[str]:
    """Queries whose latest driver row is not green, plus _CHANGED."""
    latest: dict[str, bool] = {}
    for rnd in sorted(_HISTORY):
        latest.update(_HISTORY[rnd])
    return {n for n, green in latest.items() if not green} | registry._CHANGED


@pytest.mark.parametrize("name", _ORACLED)
def test_oracled_query_schema_is_flat(spark, name):
    df = _SPECS[name].fn(spark, _SF_DIR)
    bad = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _NESTED)
    ]
    assert not bad, (
        f"{name} outputs non-flat columns {bad} — the driver's "
        f"canonicalizer cannot hash array/map/struct cells; serialize "
        f"them (concat_ws/to_json) at the query edge"
    )


def test_every_module_loads_every_query():
    assert len(_SPECS) == 196
    assert registry._MODULES == tuple(_MODULE_COUNTS)
    for name, count in _MODULE_COUNTS.items():
        assert len(_plan_module(name).SPECS) == count, name


def test_module_import_failure_raises(monkeypatch):
    monkeypatch.setitem(
        sys.modules, "mlops_realtime_data_ingestion_spark.plans.curation_queries", None
    )
    with pytest.raises(ImportError):
        all_specs()


def test_duplicate_name_in_later_module_raises(monkeypatch):
    later = _plan_module("curation_queries")
    dup = next(iter(_plan_module("relational_queries").SPECS))
    monkeypatch.setattr(later, "SPECS", {**later.SPECS, dup: _SPECS[dup]})
    with pytest.raises(ValueError, match=dup):
        all_specs()


@pytest.mark.parametrize("content", [
    "{not json",
    "[]",
    json.dumps({"q": {"rows_match": True, "schema_match": True}}),
])
def test_malformed_correctness_file_raises(tmp_path, content):
    (tmp_path / "CORRECTNESS_r01.json").write_text(content)
    with pytest.raises(ValueError):
        registry.load_history(tmp_path)


def test_derived_order_matches_hand_kept_order():
    """Rounds 1-12 of the committed history plus the old re-certify set
    reproduce the order the hand-copied per-round sets produced."""
    assert len(_HAND_KEPT_ORDER) == 196
    history = {rnd: rows for rnd, rows in _HISTORY.items() if rnd <= 12}
    derived = registry.priority_order(_SPECS, history, _CHANGED_BEFORE_R13)
    assert list(derived) == _HAND_KEPT_ORDER


def test_never_driver_checked_enumerate_first():
    """The driver checks the first N enumerated queries each round;
    ordering must surface never-green and changed queries before
    already-green ones, with oracled (strong check) ahead of rows-only
    (weak), and the green tier ordered by last-green round ASCENDING.
    The recheck tier (latest row not green, or in _CHANGED) is allowed
    ahead of everything — its old green rows no longer certify the
    code."""
    last_green, recheck = _last_green(), _recheck()
    seen_checked = False
    seen_rows_only = False
    last_round_seen = 0
    for n in _SPECS:
        if n in recheck:
            assert not seen_checked, f"recheck {n} after settled-green queries"
            continue
        if n in last_green:
            seen_checked = True
            rnd = last_green[n]
            assert rnd >= last_round_seen, (
                f"{n} (last green r{rnd}) ranked after a fresher row "
                f"(r{last_round_seen}) — staleness ordering broken"
            )
            last_round_seen = rnd
            continue
        assert not seen_checked, f"unchecked {n} ranked after checked queries"
        if _SPECS[n].oracle is None:
            seen_rows_only = True
        else:
            assert not seen_rows_only, (
                f"oracled unchecked {n} ranked after rows-only unchecked"
            )


def test_driver_sample_drains_stalest_green_rows():
    """Every recheck row takes a slot in the 50-query driver sample, and
    no non-recheck green row inside the sample is fresher than any green
    row left outside it."""
    last_green, recheck = _last_green(), _recheck()
    names = list(_SPECS)
    sample = names[:50]
    assert recheck <= set(sample)
    in_rank = [(last_green[n], n) for n in sample if n not in recheck and n in last_green]
    out_rank = [(last_green[n], n) for n in names[50:] if n in last_green]
    assert in_rank and out_rank
    assert max(in_rank) < min(out_rank), (
        f"backlog ordering broken: {max(in_rank)} sampled after "
        f"{min(out_rank)} was left out"
    )
