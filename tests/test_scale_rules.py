"""Scale sizes derived from parquet footer row counts: each rule keeps
its old constant at every committed scale factor, reproduces the
values the scale rehearsal ran with, and — where the size appears in
oracle SQL — is mirrored by the oracle from count(*).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from linux_logs_spark.catalog import table_path
from linux_logs_spark.operators.llm_pipeline import (
    _LSH_ORACLE,
    dedup_blocks,
    lsh_planes,
    sim_blocks,
)
from linux_logs_spark.operators.scans import synth_rows
from linux_logs_spark.operators.warehouse import (
    IVF_MIN_CELLS,
    IVF_TARGET_CELL_ROWS,
    KM_K,
    SEMDEDUP_TARGET_CELL_ROWS,
    _ivf_cells,
    _semdedup_k,
)
from linux_logs_spark.registry import all_queries
from linux_logs_spark.streaming.queries import pysrc_rows
from linux_logs_spark.verify import compare_frames, run_oracle

_SPECS = all_queries()


def test_lsh_planes_rule():
    # 500 / 2 000 vectors: sf0.001-sf0.1; the rest: rehearsal tiers
    want = {500: 4, 2_000: 4, 20_000: 8, 200_000: 11, 2_000_000: 14,
            20_000_000: 17, 60_000_000: 19}
    assert {n: lsh_planes(n) for n in want} == want
    assert lsh_planes(0) == 4
    assert (lsh_planes(2_495), lsh_planes(2_496)) == (4, 5)


def test_block_rules():
    assert [dedup_blocks(n) for n in (0, 500, 2_000, 20_000)] == [8, 8, 8, 25]
    assert [sim_blocks(n) for n in (0, 500, 2_000, 20_000)] == [4, 4, 4, 13]


def test_ivf_cells_rule():
    # 500 / 2 000 vectors: sf0.01 / sf0.1; 200 000: the 100x tier
    want = {500: 16, 2_000: 16, 200_000: 1_600, 999_999: 7_999}
    assert {n: _ivf_cells(n) for n in want} == want


def test_semdedup_k_rule():
    want = {10: KM_K, 20_000: 80, 200_000: 800, 2_000_000: 8_000}
    assert {n: _semdedup_k(n) for n in want} == want


def test_registered_oracles_mirror_cell_rules():
    """Each oracle derives its cell count from count(*) with the same
    floor and divisor as the Spark-side rule."""
    ivf = _SPECS["sim_ann_ivf"].oracle
    assert f"GREATEST({IVF_MIN_CELLS}, count(*) // {IVF_TARGET_CELL_ROWS})" in ivf
    semdedup = _SPECS["dedup_semantic_cluster"].oracle
    assert f"GREATEST({KM_K}, count(*) // {SEMDEDUP_TARGET_CELL_ROWS})" in semdedup


def test_python_source_row_rules():
    # 1k / 10k / 100k events: sf0.001-sf0.1; 1M / 10M: rehearsal tiers
    assert [synth_rows(n) for n in (0, 1_000, 10_000, 100_000, 1_000_000)] == [
        20_000, 20_000, 20_000, 20_000, 200_000,
    ]
    assert [pysrc_rows(n) for n in (0, 1_000, 100_000, 1_000_000, 10_000_000)] == [
        (8_000, 4_000), (8_000, 4_000), (8_000, 4_000),
        (80_000, 40_000), (800_000, 400_000),
    ]


def _grown(table: pa.Table, key: str, n_rows: int) -> pa.Table:
    """table repeated to n_rows rows, each copy's key shifted by 10M."""
    col = table.schema.get_field_index(key)
    copies = [
        table.set_column(col, key, pc.add(table[key], i * 10_000_000))
        for i in range(-(-n_rows // table.num_rows))
    ]
    return pa.concat_tables(copies).slice(0, n_rows)


def test_lsh_oracle_follows_derived_plane_count(spark, sf_dir, make_tier):
    """At 2 496 vectors the rule gives K = 5 (32 buckets). The engine
    and its oracle must agree there, and the answer must differ from a
    fixed K = 4 replay — the oracle derives K from count(*) too."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    vecs = pq.read_table(table_path(sf01, "embeddings"))
    assert vecs.num_rows == 2_000
    tier = make_tier(embeddings=_grown(vecs, "vec_id", 2_496))
    assert lsh_planes(2_496) == 5
    pdf = _SPECS["sim_ann_lsh"].fn(spark, tier).toPandas()
    assert not compare_frames(pdf, run_oracle(_LSH_ORACLE, tier))
    k_rule = "greatest(4, CAST(floor(log2(greatest(count(*) // 78, 1))) AS BIGINT))"
    assert k_rule in _LSH_ORACLE
    fixed_k4 = _LSH_ORACLE.replace(k_rule, "4")
    assert compare_frames(pdf, run_oracle(fixed_k4, tier))


@pytest.mark.parametrize(
    "name", ["scan_python_datasource", "sink_python_datasource", "stream_python_source"]
)
def test_python_source_oracles_follow_events_size(spark, sf_dir, make_tier, name):
    """125 000 events put both row rules above their floors (25 000
    generated rows; 10 000 streamed in two ranges of 5 000): the
    engine and its oracle must still agree."""
    events = pq.read_table(table_path(sf_dir, "events"))
    tier = make_tier(events=_grown(events, "event_id", 125_000))
    spec = _SPECS[name]
    pdf = spec.fn(spark, tier).toPandas()
    issues = compare_frames(pdf, run_oracle(spec.oracle, tier))
    assert not issues, "; ".join(issues)
