"""Central query registry — the engine's verifiable surface.

Every operator from SURVEY.md §2 registers here with:
- a Spark callable ``(spark, sf_dir) -> DataFrame``,
- optionally the equivalent ANSI SQL for the DuckDB oracle (None for
  genuinely non-SQL-expressible ops → the driver falls back to a
  rows-only check).

``__spark_entry__.py`` exposes this registry to the driver; tests and
bench.py iterate it too, so one registration makes an operator
smoke-tested, oracle-checked, and benchmarked.
"""

from __future__ import annotations

import importlib
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    category: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import. Kept explicit so the import
# order (and thus registry order) is deterministic.
_QUERY_MODULES = (
    "linux_logs_spark.operators.scans",
    "linux_logs_spark.operators.relational",
    "linux_logs_spark.operators.joins",
    "linux_logs_spark.operators.aggregates",
    "linux_logs_spark.operators.windows",
    "linux_logs_spark.operators.sorts_sets",
    "linux_logs_spark.operators.functions_scalar",
    "linux_logs_spark.operators.log_analytics",
    "linux_logs_spark.operators.udfs",
    "linux_logs_spark.operators.llm_pipeline",
    "linux_logs_spark.operators.warehouse",
    "linux_logs_spark.operators.extras",
    "linux_logs_spark.operators.training_data",
    "linux_logs_spark.streaming.queries",
    "linux_logs_spark.operators.sql_twins",  # needs the originals registered
)

_loaded = False


def register(name: str, category: str, oracle: str | None = None):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, category=category, fn=fn, oracle=oracle)
        return fn

    return deco


def _ensure_loaded() -> None:
    global _loaded
    if _loaded:
        return
    # Only latch _loaded once EVERY module imported: a partial import
    # must re-raise on the next call, not silently serve a truncated
    # registry to the driver.
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except Exception:
            for m in _QUERY_MODULES:
                sys.modules.pop(m, None)
            _REGISTRY.clear()
            raise
    _loaded = True


# Measured wall-seconds per query at sf0.01 (Spark run + toPandas +
# DuckDB oracle + compare — scripts/driver_sim.py, local[32]). The
# driver's correctness pass iterates queries() in dict order under a
# TIME BUDGET (round 1 stopped after 50/109 queries), so all_queries()
# yields cheapest-first: that ordering maximizes the number of
# verified queries for any budget. Unmeasured (new) queries default to
# mid-cost so they still land before the heavy tail.
#
# REFRESH RULE: regenerate this whole table from a FULL
# `python scripts/driver_sim.py` run (warm JVM, registry order)
# whenever a query's plan changes or a query is added — a stale entry
# mis-sorts the budget ordering and can push tail queries out of the
# driver's verified set. THIS TABLE: every entry from the single full
# 2-pass run recorded in the machine-written LAST REFRESH line below
# (cost_s = min of passes; artifact: driver_sim_results.json) — one
# baseline, no subset mixing (mechanized:
# scripts/update_measured_cost.py, which also maintains that line).
# tests/test_contract.py asserts every registered
# query has an entry so additions can't silently default.
# LAST REFRESH: 243 queries, total 289.1 s, zero bad rows; round-13 full 2-pass after IVF GEMM verify + SemDeDup two-level + avro columnar writer
_MEASURED_COST: dict[str, float] = {
    "agg_approx_distinct": 0.86, "agg_approx_percentile": 0.2, "agg_bitmap_distinct": 0.28, "agg_bool": 0.21,
    "agg_collect": 0.19, "agg_conditional_family": 0.36, "agg_count_distinct": 0.29, "agg_cube": 0.35,
    "agg_distinct_rows": 0.16, "agg_freq_items_sketch": 0.67, "agg_global": 0.33, "agg_groupby": 0.39,
    "agg_groupby_sql": 0.36, "agg_grouping_id": 0.21, "agg_grouping_sets": 0.2, "agg_having": 0.18,
    "agg_histogram": 0.17, "agg_hll_sketch_rollup": 0.31, "agg_min_max_by": 0.17, "agg_mode": 0.23,
    "agg_percentile": 0.42, "agg_pivot": 0.27, "agg_regression_family": 0.3, "agg_rollup": 0.3,
    "agg_stats": 0.23, "agg_string_concat": 0.19, "agg_unpivot": 0.1, "bpe_train_merges": 3.03,
    "corpus_budget_trim": 0.56, "corpus_mix_rebalance": 0.33, "corpus_temperature_sample": 0.41, "cust_order_intervals": 0.31,
    "cust_rfm_segments": 1.68, "decontam_ngram_overlap": 1.04, "dedup_clusters_cc": 2.06, "dedup_edit_verify": 1.2,
    "dedup_embedding_cosine": 1.19, "dedup_exact": 0.16, "dedup_exact_hash": 0.17, "dedup_near_minhash": 0.77,
    "dedup_ngram_jaccard": 0.84, "dedup_semantic_cluster": 5.12, "dedup_shingle_jaccard": 0.9, "dedup_simhash": 1.38,
    "dedup_substring_span": 1.21, "doc_chunk": 0.17, "doc_pii_scrub": 0.18, "dq_expectations": 0.27,
    "emb_centroid_outliers": 0.5, "emb_kmeans_lloyd": 4.45, "emb_label_centroid": 0.2, "emb_matryoshka_truncate": 1.3,
    "emb_neighborhood_purity": 0.56, "emb_pca_power": 0.37, "emb_quantize_int8": 0.36, "fn_aes_roundtrip": 0.13,
    "fn_array": 0.12, "fn_array_agg": 0.13, "fn_bitwise": 0.23, "fn_collation": 0.36,
    "fn_conditional": 0.33, "fn_datetime": 0.62, "fn_hash": 0.08, "fn_interval": 0.21,
    "fn_json": 0.28, "fn_map": 0.27, "fn_math": 0.15, "fn_posexplode": 0.12,
    "fn_regex": 0.12, "fn_sql_udf": 0.22, "fn_string": 0.15, "fn_string_extended": 0.17,
    "fn_struct": 0.39, "fn_trig": 0.14, "fn_try_arith": 0.14, "fn_url_parse": 0.12,
    "fn_variant": 0.13, "fn_xpath": 0.2, "graph_pagerank": 3.2, "graph_shortest_path": 1.78,
    "graph_triangle_count": 0.49, "join_asof": 0.23, "join_bloom_runtime_filter": 0.42, "join_broadcast": 0.33,
    "join_bucketed_colocated": 0.88, "join_cross": 0.11, "join_full_outer": 0.25, "join_inner_equi": 0.38,
    "join_inner_equi_sql": 0.4, "join_left_anti": 0.12, "join_left_outer": 0.32, "join_left_semi": 0.15,
    "join_null_safe": 0.3, "join_partition_pruned": 0.3, "join_range_binned": 0.54, "join_self_multi": 0.24,
    "join_skew_salted": 0.31, "join_theta_range": 0.13, "limit_topk": 0.09, "log_alert_debounce": 0.28,
    "log_anomaly_zscore": 0.3, "log_burst_detect": 0.29, "log_corr_matrix": 0.37, "log_entropy_profile": 0.43,
    "log_error_rate_hourly": 0.21, "log_error_rate_hourly_sql": 0.22, "log_event_transitions": 0.28, "log_gap_fill": 0.35,
    "log_latency_percentiles": 0.39, "log_retention_cohorts": 0.32, "log_rollup_incremental": 0.47, "log_rollup_multires": 0.84,
    "log_search": 0.23, "log_seasonality_profile": 0.28, "log_slo_burn": 0.28, "log_template_mine": 0.41,
    "log_top_services": 0.21, "log_type_hour_matrix": 0.24, "log_user_funnel": 0.21, "multimodal_features": 0.43,
    "multimodal_frame_sample": 0.29, "multimodal_join": 0.15, "multimodal_resize": 0.27, "obs_metrics": 0.64,
    "pack_sequences": 0.2, "pack_sequences_ffd": 0.41, "part_copurchase": 0.14, "pipeline_corpus_prep": 0.51,
    "pipeline_perplexity_gate": 1.15, "q_case_when": 0.26, "q_exists_correlated": 0.13, "q_filter_basic": 0.2,
    "q_filter_basic_sql": 0.23, "q_filter_in_between": 0.11, "q_filter_like": 0.09, "q_group_by_all": 0.25,
    "q_lateral_topk": 0.29, "q_parameterized_sql": 0.17, "q_pipe_syntax": 0.18, "q_project": 1.3,
    "q_recursive_cte": 0.94, "q_subquery_scalar": 0.22, "sample_stratified": 0.19, "sample_weighted_priority": 0.3,
    "scan_apache_log": 0.29, "scan_avro_roundtrip": 1.21, "scan_binary_files": 0.14, "scan_csv_malformed": 0.2,
    "scan_csv_roundtrip": 0.34, "scan_json_lines": 0.19, "scan_orc_roundtrip": 0.26, "scan_parquet": 0.05,
    "scan_python_datasource": 0.85, "scan_schema_evolution": 0.52, "scan_text_gzip": 0.4, "scan_text_parse": 0.26,
    "scan_xml_roundtrip": 0.24, "scd2_merge": 0.18, "sessionize": 0.51, "set_except": 0.18,
    "set_except_all": 0.3, "set_intersect": 0.24, "set_intersect_all": 0.38, "set_union_all": 0.15,
    "set_union_distinct": 0.22, "shuffle_shard": 0.18, "sim_ann_ivf": 1.44, "sim_ann_lsh": 0.78,
    "sim_cosine_blocked": 0.41, "sim_cosine_topk": 0.89, "sim_knn_label": 0.53, "sink_parquet_partitioned": 0.85,
    "sink_parquet_rebalanced": 0.43, "sink_python_datasource": 1.2, "sort_multi": 0.46, "split_train_holdout": 0.08,
    "stream_custom_state": 0.86, "stream_dedup": 0.9, "stream_foreach_batch": 0.65, "stream_python_sink": 1.43,
    "stream_python_source": 3.94, "stream_session": 0.96, "stream_sliding": 0.9, "stream_state_reader": 0.29,
    "stream_static_join": 0.82, "stream_stream_join": 2.47, "stream_text_tail": 0.93, "stream_transform_with_state": 0.96,
    "stream_tumbling": 0.87, "stream_watermark_late": 1.3, "table_column_stats": 0.61, "table_incremental_changes": 0.43,
    "table_merge_upsert": 0.41, "table_optimize_compact": 0.76, "table_partition_evolution": 1.03, "table_time_travel": 0.32,
    "table_vacuum": 1.07, "table_zorder_cluster": 0.68, "text_bigram_lm": 0.45, "text_fingerprint": 0.31,
    "text_hashing_tf": 0.4, "text_lang_id": 0.2, "text_lang_stats": 0.24, "text_ngram_topk": 0.49,
    "text_perplexity": 1.19, "text_quality_score": 0.15, "text_repetition_score": 0.27, "text_tfidf": 1.27,
    "text_token_count_bpe": 0.12, "text_tokenize_counts": 0.16, "topk_per_group": 0.22, "tpch_q10": 0.37,
    "tpch_q13": 0.26, "tpch_q14": 0.24, "tpch_q15": 0.4, "tpch_q17": 0.38,
    "tpch_q18": 0.51, "tpch_q19": 0.24, "tpch_q3": 0.3, "tpch_q5": 0.31,
    "tpch_q6": 0.17, "tpch_q7": 0.46, "tpch_q8": 0.41, "udaf_arrow_grouped": 0.31,
    "udaf_pandas_agg": 0.26, "udf_arrow_batch": 0.39, "udf_pandas_scalar": 0.26, "udf_python": 0.36,
    "udtf_apply_in_pandas": 0.25, "udtf_python_native": 0.43, "vocab_build": 0.2, "win_first_last": 0.27,
    "win_lag_lead": 0.45, "win_latest_per_key": 0.19, "win_nth_value": 0.27, "win_pattern_seq": 0.24,
    "win_pattern_var": 0.4, "win_range_frame": 1.78, "win_ranking": 0.77, "win_ranking_sql": 0.7,
    "win_running": 0.81, "win_session_window": 0.42, "win_time_range_frame": 0.43,
}

_DEFAULT_COST = 0.9


def _last_verified_round() -> dict[str, int]:
    """name → most recent round whose driver signature still counts
    (0 / absent = effectively never verified).

    Read from the committed ``VERIFIED_HISTORY.json`` at the repo root
    (regenerated each round from the driver's ``CORRECTNESS_r*.json``
    files via scripts/update_verified_history.py). Entries look like
    ``"r5"`` or ``"r4:rows-only"``. A rows-only signature counts ONLY
    while the query still has no oracle (it is then the strongest
    evidence possible); once a query GAINS an oracle, its old
    rows-only rounds are ignored so the new oracle sorts to the front
    of the driver window instead of waiting 2–3 rounds behind its
    stale weak signature (round-6 review finding — the five queries
    graduated in round 6 would otherwise go driver-unchecked).
    Missing/unreadable file → empty dict, which degrades to pure
    cheapest-first ordering.
    """
    import json
    import re
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "VERIFIED_HISTORY.json"
    out: dict[str, int] = {}
    try:
        data = json.loads(path.read_text())
        for name, rounds in data["verified"].items():
            has_oracle = name in _REGISTRY and _REGISTRY[name].oracle is not None
            nums = [
                int(m.group(1))
                for r in rounds
                for m in [re.match(r"r(\d+)(:rows-only)?$", r)]
                if m and not (has_oracle and m.group(2))
            ]
            if nums:
                out[name] = max(nums)
    except Exception:
        return {}
    return out


_FP_CHANGED: set[str] | None = None


def _changed_since_signed() -> set[str]:
    """Names whose CURRENT behavioral fingerprint differs from the one
    stamped in VERIFIED_HISTORY.json at their last driver signing —
    i.e. the driver's evidence predates the code (round-13 verdict
    item 2: four round-12 plan rewrites kept their old signature rank
    and were never oracle-checked by the driver on the new plans).
    Best-effort: a missing fingerprint module/section or a computation
    error degrades to "nothing changed" so ordering still works."""
    global _FP_CHANGED
    if _FP_CHANGED is not None:
        return _FP_CHANGED
    import importlib.util
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    changed: set[str] = set()
    try:
        stamped = json.loads((repo / "VERIFIED_HISTORY.json").read_text()).get(
            "fingerprints", {}
        )
        if stamped:
            spec = importlib.util.spec_from_file_location(
                "plan_fingerprint", repo / "scripts" / "plan_fingerprint.py"
            )
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            strip = str(repo)
            for name, s in _REGISTRY.items():
                fp = stamped.get(name)
                if fp and fp != mod.fingerprint_fn(s.fn, s.oracle, strip=strip):
                    changed.add(name)
    except Exception as exc:
        # Degrading to "nothing changed" silently would disable the
        # exact re-verification ordering this function exists for
        # (round-13 advice): make a broken fingerprint pipeline
        # VISIBLE while still failing open to age-only ordering.
        import sys

        print(
            f"registry: plan-fingerprint comparison unavailable "
            f"({type(exc).__name__}: {exc}) — falling back to "
            f"age-only verification ordering",
            file=sys.stderr,
        )
        changed = set()
    _FP_CHANGED = changed
    return changed


def _effective_last_round() -> dict[str, int]:
    """_last_verified_round with plan-changed queries zeroed: evidence
    on retired code counts as no evidence for ordering purposes."""
    last = _last_verified_round()
    for name in _changed_since_signed():
        last.pop(name, None)
    return last


def all_queries() -> dict[str, QuerySpec]:
    """Registry in driver-iteration order.

    The driver's correctness pass signs ~50 CORRECTNESS rows per round
    in this dict's order. Rounds 1–3 used pure cheapest-first, which
    re-verified the same cheap head forever; rounds 4–5 used
    never-verified-first, which closed the gap to 168/168 signed. With
    everything signed at least once, never-first degenerates back to
    cheapest-first and a rewritten expensive query would never be
    re-signed — so the primary key is the LAST round each query was
    signed (ascending, never = 0), i.e. stalest-signature-first,
    cheapest-first within a round cohort; round 13 sharpens "signed"
    to "signed ON THIS CODE": a query whose behavioral fingerprint
    (scripts/plan_fingerprint.py) no longer matches the one stamped at
    its last signing sorts as never-verified, so plan rewrites reach
    the driver's oracle in the NEXT window instead of aging back to
    the front over several rounds.
    """
    _ensure_loaded()
    last = _effective_last_round()
    changed = _changed_since_signed()
    # Changed-since-signed strictly first (round 15): a query whose
    # code changed after its last signing needs driver re-verification
    # MORE urgently than a never-signed one whose code is stable —
    # with both classes present (a rewrite and an oracle promotion in
    # the same round) the old (last, cost) key let the cheap
    # never-signed pair tie at last=0 and sort ahead of the rewrite.
    names = sorted(
        _REGISTRY,
        key=lambda n: (
            n not in changed,
            last.get(n, 0),
            _MEASURED_COST.get(n, _DEFAULT_COST),
        ),
    )
    return {n: _REGISTRY[n] for n in names}


def get_query(name: str) -> QuerySpec:
    _ensure_loaded()
    return _REGISTRY[name]
