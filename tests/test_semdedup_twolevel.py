"""Pins for SemDeDup two-level centroid probing (round-13; replaces
the round-12 √n cell-size hatch, whose same-cell pair output was
O(n^1.5) — 2.88B pairs / 768 s measured at the 20M-vector fourth
decade).

Past SEMDEDUP_TWOLEVEL_FLIP_ROWS (or under the force knob),
dedup_semantic_cluster clusters hierarchically: K1 = √(n/T) coarse
super-cells (the FLOPs balance point), then per coarse cell a fine
k-means with k2 = max(1, |cell| // T) cells of ~TARGET_CELL rows, so
pair output returns to the flat rule's linear n·T. This suite pins:

- the sizing rule's three arms (flat / balance / coarse-row cap) and
  the auto-flip from the row count alone;
- the two-level path against a REAL DuckDB oracle: the registered
  oracle builder is parameterized, so the test re-bakes the SQL with
  the flip forced and T shrunk until the fine level genuinely
  multi-cells at the 500-vector fixture, and hash-compares — a
  stronger pin than the retired suite's Spark-vs-Spark snapshot;
- the quality contract under the knobs: precision 1.0 against the
  oracle-verified exact pair set (within-cell exact cosine can only
  MISS boundary pairs, never invent one) plus a recall floor;
- restoring the defaults restores the default pair set bit-for-bit
  (the rehearsal save/restore contract, as test_sketch_width).
"""

from __future__ import annotations

import pandas as pd

from linux_logs_spark.operators import warehouse as wh
from linux_logs_spark.registry import all_queries
from linux_logs_spark.verify import compare_frames, run_oracle

_Q = all_queries()


def _pairs(pdf: pd.DataFrame):
    return set(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()))


def test_sizing_rule_three_arms():
    # below flip: flat K ∝ n
    assert wh._semdedup_k(2_000_000) == 8000
    assert wh._semdedup_k(3_999_999) == 15999  # still flat
    # at/past flip: balance arm K1 = floor(sqrt(n // T))
    # 4M // 250 = 16000, isqrt = 126
    assert wh._semdedup_k(4_000_000) == 126
    # 20M // 250 = 80000, isqrt = 282; cap arm 20M // 500k = 40 < 282
    assert wh._semdedup_k(20_000_000) == 282
    # deep extreme: the cap arm takes over past n = T·CAP² (≈ 62.5B
    # with the committed knobs) so per-task memory stays bounded
    big = 100_000_000_000
    assert wh._semdedup_k(big) == big // wh.SEMDEDUP_COARSE_ROW_CAP
    # KM_K floor on tiny inputs in both regimes
    assert wh._semdedup_k(10) == wh.KM_K
    old = wh.SEMDEDUP_TWOLEVEL
    try:
        wh.SEMDEDUP_TWOLEVEL = True
        assert wh._semdedup_k(10) == wh.KM_K
    finally:
        wh.SEMDEDUP_TWOLEVEL = old
    # the registered oracle string carries the same flip constant,
    # sqrt form, and cap arm
    oracle = wh._semdedup_oracle()
    assert str(wh.SEMDEDUP_TWOLEVEL_FLIP_ROWS) in oracle
    assert f"sqrt(CAST(nv // {wh.SEMDEDUP_TARGET_CELL_ROWS} AS DOUBLE))" in oracle
    assert f"nv // {wh.SEMDEDUP_COARSE_ROW_CAP}" in oracle


def test_twolevel_matches_rebaked_oracle(spark, sf_dir):
    """Force the flip and shrink T so the 500-vector fixture's coarse
    cells (~62 rows at K1=8) split into k2 = 62//20 ≈ 3 REAL fine
    cells, then hash-compare Spark against the same-knob re-baked
    DuckDB SQL — the driver's t2 gate run on the two-level regime."""
    fn = _Q["dedup_semantic_cluster"].fn
    old_force, old_t = wh.SEMDEDUP_TWOLEVEL, wh.SEMDEDUP_TARGET_CELL_ROWS
    try:
        wh.SEMDEDUP_TWOLEVEL = True
        wh.SEMDEDUP_TARGET_CELL_ROWS = 20
        spark_pdf = fn(spark, sf_dir).toPandas()
        oracle_sql = wh._semdedup_oracle(flip_rows=0, target_cell=20)
        oracle_pdf = run_oracle(oracle_sql, sf_dir)
    finally:
        wh.SEMDEDUP_TWOLEVEL, wh.SEMDEDUP_TARGET_CELL_ROWS = old_force, old_t
    assert len(spark_pdf) > 0, "fixture must produce two-level pairs"
    issues = compare_frames(spark_pdf, oracle_pdf)
    assert not issues, "; ".join(issues)


def test_twolevel_quality_bound_and_restore(spark, sf_dir):
    fn = _Q["dedup_semantic_cluster"].fn
    exact = _pairs(_Q["dedup_embedding_cosine"].fn(spark, sf_dir).toPandas())
    assert exact, "fixture must contain threshold pairs"
    before = fn(spark, sf_dir).toPandas()
    old_force, old_t = wh.SEMDEDUP_TWOLEVEL, wh.SEMDEDUP_TARGET_CELL_ROWS
    try:
        wh.SEMDEDUP_TWOLEVEL = True
        wh.SEMDEDUP_TARGET_CELL_ROWS = 20
        knobbed = _pairs(fn(spark, sf_dir).toPandas())
    finally:
        wh.SEMDEDUP_TWOLEVEL, wh.SEMDEDUP_TARGET_CELL_ROWS = old_force, old_t
    after = fn(spark, sf_dir).toPandas()
    # precision 1.0 in BOTH regimes (structural: exact cosine within
    # cells). Recall under T=20 fine cells is necessarily below the
    # default's (more boundaries to miss across) — the floor pins the
    # hierarchy still lands near-duplicates together. At scale the
    # fine cells are the SAME ~250 rows as the flat rule's, so the
    # production recall story is the flat one.
    assert knobbed <= exact, f"false positives: {sorted(knobbed - exact)[:5]}"
    assert len(knobbed) / len(exact) >= 0.15
    bset = _pairs(before)
    assert bset <= exact
    assert len(bset) / len(exact) >= 0.25
    assert not compare_frames(after, before)


def test_twolevel_gemm_keep_path_matches_hof(spark, sf_dir):
    """The two-level branch assigns coarse keys with the embedding
    carried through _km_assign (keep=...). At the fixture's K1=8 the
    HOF broadcast-join path runs; forcing _KM_GEMM_MIN_K=1 routes the
    SAME assignment through the GEMM path with keep columns — results
    must match bit-for-bit (the test_kmeans_gemm invariant, keep-column
    instance)."""
    fn = _Q["dedup_semantic_cluster"].fn
    old_force, old_t, old_min = (
        wh.SEMDEDUP_TWOLEVEL, wh.SEMDEDUP_TARGET_CELL_ROWS, wh._KM_GEMM_MIN_K
    )
    try:
        wh.SEMDEDUP_TWOLEVEL = True
        wh.SEMDEDUP_TARGET_CELL_ROWS = 20
        hof = fn(spark, sf_dir).toPandas()
        wh._KM_GEMM_MIN_K = 1
        gemm = fn(spark, sf_dir).toPandas()
    finally:
        wh.SEMDEDUP_TWOLEVEL, wh.SEMDEDUP_TARGET_CELL_ROWS = old_force, old_t
        wh._KM_GEMM_MIN_K = old_min
    assert len(hof) > 0
    assert not compare_frames(gemm, hof)
