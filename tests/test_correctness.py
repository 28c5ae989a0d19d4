"""Mirror of the driver's t2 gate: every registered query with an
oracle must match DuckDB (row count + columns + order-insensitive
values) on the test scale factor. Oracle-less queries must at least
run and return a stable schema.
"""

from __future__ import annotations

import pytest

from linux_logs_spark.registry import all_queries
from linux_logs_spark.verify import compare_frames, run_oracle

_SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_query_matches_oracle(name, spark, sf_dir):
    spec = _SPECS[name]
    sdf = spec.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if spec.oracle is None:
        # rows-only contract: runs, has columns, deterministic re-run count
        assert len(sdf.columns) > 0
        assert len(spark_pdf) >= 0
        return
    oracle_pdf = run_oracle(spec.oracle, sf_dir)
    issues = compare_frames(spark_pdf, oracle_pdf)
    assert not issues, f"{name}: " + "; ".join(issues)


# Queries whose corpus-proportional joins carry no broadcast hint, so
# the broadcast threshold and AQE pick broadcast or shuffle for them.
_THRESHOLD_SIZED = (
    "dedup_clusters_cc", "dedup_edit_verify", "dq_expectations",
    "emb_neighborhood_purity", "join_range_binned", "join_self_multi",
    "pipeline_perplexity_gate", "scd2_merge", "sim_knn_label",
    "stream_static_join", "table_time_travel", "text_perplexity",
    "text_tfidf", "tpch_q3", "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q10",
    "tpch_q14", "tpch_q15", "tpch_q17", "tpch_q18", "tpch_q19",
)


@pytest.mark.parametrize("name", _THRESHOLD_SIZED)
def test_shuffle_joins_match_oracle(name, spark, sf_dir):
    """Past the broadcast threshold these joins shuffle; with the
    threshold off every unhinted join takes that path at test scale
    and must still match the oracle."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        spark_pdf = _SPECS[name].fn(spark, sf_dir).toPandas()
    finally:
        spark.conf.set(key, prev)
    issues = compare_frames(spark_pdf, run_oracle(_SPECS[name].oracle, sf_dir))
    assert not issues, f"{name}: " + "; ".join(issues)


def test_blocked_gemm_equals_jvm_fold_topk(spark, sf_dir):
    """The two exact top-5 ENGINES must agree row-for-row: the blocked
    GEMM (numpy, the registered engine since round 7) vs the JVM
    codegen'd unrolled fold (_jvm_fold_topk, the independent
    cross-check) — the rounding-before-rank convention makes the 1-ulp
    BLAS-vs-fold summation drift invisible at 6 digits. Comparing the
    registration against a cached copy of itself would be a tautology;
    this pins GEMM against a genuinely different compute path."""
    from linux_logs_spark.operators.llm_pipeline import _jvm_fold_topk
    from linux_logs_spark.verify import compare_frames

    blocked = _SPECS["sim_cosine_blocked"].fn(spark, sf_dir).toPandas()
    exact = _jvm_fold_topk(spark, sf_dir).toPandas()
    issues = compare_frames(blocked, exact)
    assert not issues, issues


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())
