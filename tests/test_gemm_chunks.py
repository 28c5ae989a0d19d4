"""Chunk-boundary pins for the per-bucket / per-cell verification GEMMs.

sim_ann_lsh, sim_ann_ivf and dedup_semantic_cluster verify candidates
with one query-chunked numpy GEMM per bucket/cell. Normal occupancy
(≈122-250 rows) never exceeds one 2048-row chunk, so the boundary
arithmetic — self-exclusion offsets, the strict-upper-triangle mask
against GLOBAL row indices, partial tail chunks — would otherwise ship
unexercised. Shrinking the module chunk constants to 7 forces dozens
of chunk crossings on the committed sf data.

Comparison rule (round-12 advice): identity columns (ids, ranks,
clusters) must match EXACTLY — the chunking must never change which
pairs exist. The rounded sim is compared to ONE 1e-6 quantum: BLAS
kernels pick different summation orders for different GEMM shapes, so
a raw dot sitting within an ulp of a 0.5e-6 rounding boundary may
legitimately round differently between the 7-row and 2048-row paths —
bit-equality of those is a property of this host's BLAS, not of the
code under test. (In practice the committed fixtures produce
bit-identical sims; the tolerance only de-flakes a future BLAS swap.)
"""

from __future__ import annotations

from linux_logs_spark.operators import llm_pipeline as lp
from linux_logs_spark.operators import warehouse as wh
from linux_logs_spark.registry import all_queries

_Q = all_queries()


def _rows(df, *cols):
    return sorted(tuple(row[c] for c in cols) for row in df.collect())


def _assert_match(got, want, sim_idx: int):
    """Exact on identity columns, ≤ one 1e-6 rounding quantum on sim."""
    assert want  # non-vacuous
    assert len(got) == len(want), f"{len(got)} rows vs {len(want)}"
    key = lambda t: t[:sim_idx] + t[sim_idx + 1 :]
    assert [key(t) for t in got] == [key(t) for t in want]
    for g, w in zip(got, want):
        assert abs(g[sim_idx] - w[sim_idx]) <= 1.000001e-6, (g, w)


def test_lsh_bucket_gemm_chunk_boundary(spark, sf_dir, monkeypatch):
    cols = ("vec_id", "neighbor_id", "sim", "nn_rank")
    want = _rows(_Q["sim_ann_lsh"].fn(spark, sf_dir), *cols)
    monkeypatch.setattr(lp, "_BUCKET_GEMM_CHUNK", 7)
    got = _rows(_Q["sim_ann_lsh"].fn(spark, sf_dir), *cols)
    _assert_match(got, want, cols.index("sim"))


def test_semdedup_cell_gemm_chunk_boundary(spark, sf_dir, monkeypatch):
    cols = ("cluster", "doc_a", "doc_b", "sim")
    want = _rows(_Q["dedup_semantic_cluster"].fn(spark, sf_dir), *cols)
    monkeypatch.setattr(wh, "_CELL_GEMM_CHUNK", 7)
    got = _rows(_Q["dedup_semantic_cluster"].fn(spark, sf_dir), *cols)
    _assert_match(got, want, cols.index("sim"))


def test_ivf_cell_gemm_chunk_boundary(spark, sf_dir, monkeypatch):
    cols = ("vec_id", "neighbor_id", "sim", "nn_rank")
    want = _rows(_Q["sim_ann_ivf"].fn(spark, sf_dir), *cols)
    monkeypatch.setattr(wh, "_CELL_GEMM_CHUNK", 7)
    got = _rows(_Q["sim_ann_ivf"].fn(spark, sf_dir), *cols)
    _assert_match(got, want, cols.index("sim"))
