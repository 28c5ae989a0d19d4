"""scripts/scale_rehearsal.py end to end at the test scale factor: one
tier, one query that shuffles, results written to a temporary file."""

from __future__ import annotations

import json


def test_run_records_leg_from_status_store(spark, sf_dir, tmp_path):
    """A leg's record carries wall time, result rows and the shuffle,
    CPU and GC totals read from the status store with the Spark UI off;
    the tier's footer-derived sizes ride along."""
    import bench

    sr = bench._rehearsal_module()
    dest = str(tmp_path / "rehearsal.json")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sr.run([("1x", sf_dir)], family=["dedup_near_minhash"], dest=dest)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    with open(dest) as fh:
        res = json.load(fh)
    rec = res["queries"]["dedup_near_minhash"]["1x"]
    assert rec["wall_s"] > 0
    assert isinstance(rec["rows"], int) and rec["rows"] >= 0
    assert rec["shuffle_write_mb"] >= 0
    assert rec["task_cpu_s"] > 0 and rec["gc_s"] >= 0
    knobs = json.loads(json.dumps(sr._derived_knobs(sf_dir)))  # tuples → lists
    assert res["knobs"]["1x"] == knobs
    assert res["knobs"]["1x"]["lsh_planes"] >= 4


def test_subset_run_leaves_tracked_results_untouched(spark, sf_dir, tmp_path, monkeypatch):
    """A ``--queries`` run merges into the gitignored subset file, never
    into the tracked results file that SCALING.md quotes."""
    import bench

    sr = bench._rehearsal_module()
    tracked = tmp_path / "scale_rehearsal.json"
    tracked.write_text('{"queries": {}}')
    monkeypatch.setattr(sr, "RESULTS", str(tracked))
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sr.run([("1x", sf_dir)], family=["tpch_q6", "tpch_q3"], only=["tpch_q6"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    assert tracked.read_text() == '{"queries": {}}'
    with open(tmp_path / "scale_rehearsal_subset.json") as fh:
        res = json.load(fh)
    assert list(res["queries"]) == ["tpch_q6"]
    assert res["queries"]["tpch_q6"]["1x"]["rows"] == 1
