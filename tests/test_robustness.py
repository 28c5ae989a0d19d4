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


def test_memory_sink_view_lives_while_returned_frame_is_held(spark, sf_dir):
    """Memory-sink retention is keyed to the liveness of the frame
    _run returns (round-6 advice item): a caller may hold a returned
    lazy frame across many newer streaming runs and materialize it
    late — the old fixed keep-last-4 eviction raised
    TABLE_OR_VIEW_NOT_FOUND here. Dead frames' views must still be
    dropped so a looping driver doesn't accumulate every result."""
    from linux_logs_spark.streaming import queries as sq

    held = sq.stream_tumbling(spark, sf_dir)
    held_names = {n for n, r in sq._sink_refs.items() if r() is held}
    for _ in range(5):
        # returned frame is discarded each iteration → weakref dies →
        # the NEXT _run drops its view
        sq.stream_tumbling(spark, sf_dir).count()
    assert held.count() > 0  # late materialization still works
    # held's view survived; dead views outside the keep-floor window
    # were dropped, so retention is bounded by live frames + the floor
    assert held_names <= set(sq._sink_refs)
    live = {n for n, r in sq._sink_refs.items() if r() is not None}
    assert len(sq._sink_refs) <= len(live) + sq._SINK_KEEP_FLOOR


@pytest.mark.parametrize("n_rows", [0, 1])
@pytest.mark.parametrize("name", ["log_user_funnel", "log_rollup_incremental"])
def test_degenerate_events_match_oracle(spark, sf_dir, make_tier, name, n_rows):
    """0 or 1 events. The funnel can see no signup at all, making its
    conversion rate 0/0: NULL like the oracle, never an ANSI
    DIVIDE_BY_ZERO. An empty events file has no row groups, so no ts
    footer statistics: the rollup aggregates the whole table as the
    delta instead of raising."""
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
