"""Session-robustness invariants.

The driver builds its own SparkSession — our session.py defaults (UTC,
32 shuffle partitions) are NOT guaranteed at verification time. A
round-5 full-surface sweep under a hostile session (Asia/Kolkata — a
half-hour UTC offset — 7 shuffle partitions, local[16], plain builder)
returned 167/167 clean; these tests pin that invariant for the
timestamp-heaviest queries so a future operator that leans on the
session timezone fails here, not in the driver.

Complements tests/test_timezone.py (which poisons the SHARED session
with a whole-hour zone and relies on catalog.load()'s UTC re-assert):
this file uses a newSession() clone — separate SQLConf, so the reset
must work per-session, not per-process — a half-HOUR offset zone that
whole-hour zones mask, and a non-default shuffle partition count.
"""

from __future__ import annotations

import pytest

from linux_logs_spark.registry import all_queries
from linux_logs_spark.verify import compare_frames, run_oracle

_SPECS = all_queries()

# Queries whose plans touch timestamps/dates the most: truncation,
# extraction, day arithmetic, windows over event time, epoch seconds.
_TZ_SENSITIVE = (
    "fn_datetime",
    "log_error_rate_hourly",
    "log_retention_cohorts",
    "cust_order_intervals",
    "join_asof",
    "join_range_binned",
    "sessionize",
)


@pytest.mark.parametrize("name", _TZ_SENSITIVE)
def test_query_is_timezone_independent(spark, sf_dir, name):
    """Run under a non-UTC session clone (newSession shares the JVM but
    has its own SQLConf) and compare against the oracle: results must
    not depend on spark.sql.session.timeZone. A half-hour-offset zone
    catches errors whole-hour zones mask."""
    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    hostile.conf.set("spark.sql.shuffle.partitions", "7")
    spec = _SPECS[name]
    pdf = spec.fn(hostile, sf_dir).toPandas()
    assert spec.oracle is not None, name
    issues = compare_frames(pdf, run_oracle(spec.oracle, sf_dir))
    assert not issues, f"{name} under non-UTC session: " + "; ".join(issues)


def test_memory_sink_frame_outlives_its_dropped_view(spark, sf_dir):
    """A memory-sink query drops its view as it returns: the returned
    frame, and a frame derived from it, still read the sink's rows
    after newer streaming runs, and no stream_out_* view remains in
    the catalog to pin a past result."""
    from linux_logs_spark.streaming import queries as sq

    held = sq.stream_tumbling(spark, sf_dir)
    derived = held.filter("n > 0")
    for _ in range(5):
        sq.stream_tumbling(spark, sf_dir).count()
    n = len(run_oracle(_SPECS["stream_tumbling"].oracle, sf_dir))
    assert n > 0
    assert held.count() == n
    assert derived.count() == n
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")
    ]


def test_sim_ann_ivf_empty_embeddings_match_oracle(spark, sf_dir, make_tier):
    """0 embeddings: no centroids and no neighbors — an empty result
    like the oracle's, not an error."""
    import pyarrow.parquet as pq

    from linux_logs_spark.catalog import table_path

    vecs = pq.read_table(table_path(sf_dir, "embeddings")).slice(0, 0)
    spec = _SPECS["sim_ann_ivf"]
    tier = make_tier(embeddings=vecs)
    pdf = spec.fn(spark, tier).toPandas()
    assert list(pdf.columns) == ["vec_id", "neighbor_id", "sim", "nn_rank"]
    issues = compare_frames(pdf, run_oracle(spec.oracle, tier))
    assert not issues, "; ".join(issues)


def test_sim_ann_ivf_rejects_vec_ids_not_from_zero(spark, sf_dir, make_tier):
    """A non-empty table whose vec_id key does not start at 0 has no
    centroid rows: the query raises instead of returning NaN cells."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from linux_logs_spark.catalog import table_path

    vecs = pq.read_table(table_path(sf_dir, "embeddings"))
    i = vecs.schema.get_field_index("vec_id")
    shifted = vecs.set_column(i, "vec_id", pc.add(vecs["vec_id"], 1_000_000))
    with pytest.raises(ValueError, match="no centroid rows"):
        _SPECS["sim_ann_ivf"].fn(spark, make_tier(embeddings=shifted))


@pytest.mark.parametrize("n_rows", [0, 1])
@pytest.mark.parametrize(
    "name",
    [
        "log_user_funnel",
        "log_rollup_incremental",
        "sink_parquet_partitioned",
        "sink_parquet_rebalanced",
        "table_partition_evolution",
        "join_partition_pruned",
    ],
)
def test_degenerate_events_match_oracle(spark, sf_dir, make_tier, name, n_rows):
    """0 or 1 events. The funnel can see no signup at all, making its
    conversion rate 0/0: NULL like the oracle, never an ANSI
    DIVIDE_BY_ZERO. An empty events file has no row groups, so no ts
    footer statistics: the rollup aggregates the whole table as the
    delta instead of raising. A partitioned write of 0 rows leaves no
    data file, so the four write-then-read queries read back with the
    written frame's schema instead of inferring one."""
    import pyarrow.parquet as pq

    from linux_logs_spark.catalog import table_path

    events = pq.read_table(table_path(sf_dir, "events")).slice(0, n_rows)
    tier = make_tier(events=events)
    spec = _SPECS[name]
    pdf = spec.fn(spark, tier).toPandas()
    issues = compare_frames(pdf, run_oracle(spec.oracle, tier))
    assert not issues, "; ".join(issues)


def test_resource_defaults_fit_the_host(monkeypatch):
    """Without overrides, local cores and driver heap come from the host:
    at most the CPUs this process may use, at most 70% of MemTotal."""
    import os

    from linux_logs_spark.session import default_driver_memory, default_parallelism

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert 1 <= default_parallelism() <= len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    heap = default_driver_memory()
    assert heap.endswith("g")
    assert int(heap[:-1]) * 2**20 <= 0.7 * total_kb

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert default_parallelism() == 3
    assert default_driver_memory() == "2g"


def test_scratch_tag_follows_the_scratch_root(monkeypatch, tmp_path, sf_dir):
    """Staging written under one checkout's .scratch must not be
    reused by a copy of the checkout: a streaming checkpoint in it
    records the old absolute paths. The tag therefore changes with
    the scratch root, not only with sf_dir."""
    from linux_logs_spark.operators import scans

    tag = scans._scratch_tag(sf_dir)
    assert scans._scratch_tag(sf_dir) == tag
    monkeypatch.setattr(scans, "_SCRATCH", str(tmp_path / ".scratch"))
    moved = scans._scratch_tag(sf_dir)
    assert moved != tag
    assert moved.split("_")[:-1] == tag.split("_")[:-1]  # same sf basename
