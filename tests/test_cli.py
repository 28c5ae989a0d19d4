"""CLI surface + error-path regression tests."""

from __future__ import annotations

import pytest

from linux_logs_spark.__main__ import main
from linux_logs_spark.catalog import load
from linux_logs_spark.registry import all_queries, register


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "agg_groupby" in out and "sql-oracle" in out
    assert len(out.strip().splitlines()) == len(all_queries())


def test_cli_run_and_search(spark, sf_dir, capsys):
    assert main(["run", "scan_parquet", "--sf-dir", sf_dir, "-n", "3"]) == 0
    assert "n_name" in capsys.readouterr().out
    assert main(["search", "scan", "--sf-dir", sf_dir, "-n", "2"]) == 0
    assert "documents match" in capsys.readouterr().out


def test_cli_unknown_query_is_clean_error(capsys):
    assert main(["run", "nope_not_a_query"]) == 2
    assert "unknown query" in capsys.readouterr().err


def test_catalog_rejects_unknown_table(spark, sf_dir):
    with pytest.raises(KeyError, match="unknown table"):
        load(spark, sf_dir, "not_a_table")


def test_registry_rejects_duplicate_names():
    with pytest.raises(ValueError, match="duplicate query name"):
        register("agg_groupby", "aggregate")(lambda s, d: None)


def test_bench_emit_writes_every_run_with_its_host(tmp_path, monkeypatch, capsys):
    """A complete sf0.1 run overwrites bench_full.json even when it is
    slower than the one there, and carries the host it ran on; runs
    that are not comparable go to side files."""
    import json

    import bench

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    faster = {"total_sec": 1.2, "queries": {"a": 0.4, "b": 0.4, "c": 0.4}, "sf": 0.1}
    (tmp_path / "bench_full.json").write_text(json.dumps(faster))
    host = {"cpus": 4, "mem_total_kib": 1, "load1_before": 0.0, "git_sha": None}
    slower = {"a": 0.9, "b": 0.9, "c": 1.1}

    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.1"))
    bench._emit(slower, host)
    line = json.loads(capsys.readouterr().out)
    art = json.loads((tmp_path / "bench_full.json").read_text())
    assert not (tmp_path / "bench_full_rejected.json").exists()
    assert art["queries"] == slower and art["total_sec"] == 2.9
    assert set(art["host"]) == {*host, "load1_after"}
    assert set(line) == {"metric", "value", "unit", "queries", "n_queries",
                         "median_sec", "p90_sec", "sf"}
    assert line["value"] == art["total_sec"] == round(sum(slower.values()), 3)

    bench._emit(slower, host, subset=True)
    bench._emit(slower, host, partial=True)
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["partial"] is True
    monkeypatch.setattr(bench, "SF_DIR", str(tmp_path / "sf0.001"))
    bench._emit(slower, host)
    for side in ("subset", "partial", "sf0.001"):
        assert json.loads((tmp_path / f"bench_full_{side}.json").read_text())["host"]
    assert json.loads((tmp_path / "bench_full.json").read_text()) == art
