"""Driver-contract regression guards.

Two whole classes of round-1 failures are structurally checkable
without running any data through the engine:

1. The driver's canonicalizer sorts result rows with pandas, which
   cannot hash list/dict cells — so NO query may output an
   array/map/struct column (round-1 agg_collect crashed on this).
2. The driver sorts columns BY NAME before hashing values — so a
   Spark/oracle column-name mismatch fails every row even when the
   values are identical.

Caveat: "structural" is approximate — building a streaming query's
DataFrame runs its availableNow micro-batches (fn() returns the
materialized memory-sink table), so each query's fn() is invoked ONCE
and the resulting DataFrame shared across both guards via _built().
"""

from __future__ import annotations

import duckdb
import pytest

from linux_logs_spark.catalog import TABLES, table_path
from linux_logs_spark.registry import _MEASURED_COST, all_queries

_SPECS = all_queries()

_COMPLEX = ("array", "map", "struct")

_BUILT: dict[str, object] = {}


def _built(name, spark, sf_dir):
    if name not in _BUILT:
        _BUILT[name] = _SPECS[name].fn(spark, sf_dir)
    return _BUILT[name]


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_output_is_scalar_typed(name, spark, sf_dir):
    sdf = _built(name, spark, sf_dir)
    bad = [
        f"{f.name}: {f.dataType.typeName()}"
        for f in sdf.schema.fields
        if f.dataType.typeName() in _COMPLEX
    ]
    assert not bad, (
        f"{name} outputs complex-typed columns {bad}; the driver's "
        "canonicalizer cannot hash list cells — serialize with "
        "concat_ws('|', ...) on both sides"
    )


def _oracle_columns(sql: str, sf_dir: str) -> list[str]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        cur = con.execute(f"SELECT * FROM ({sql}) LIMIT 0")
        return [d[0] for d in cur.description]
    finally:
        con.close()


@pytest.mark.parametrize(
    "name", sorted(n for n, s in _SPECS.items() if s.oracle is not None)
)
def test_oracle_column_names_match(name, spark, sf_dir):
    spec = _SPECS[name]
    spark_cols = sorted(_built(name, spark, sf_dir).columns)
    oracle_cols = sorted(_oracle_columns(spec.oracle, sf_dir))
    assert spark_cols == oracle_cols, (
        f"{name}: spark={spark_cols} oracle={oracle_cols} — the driver "
        "sorts columns by name before hashing, so names must align"
    )


def test_all_queries_have_measured_cost():
    """Unmeasured queries fall into the middle of the cheapest-first
    ordering; keep the cost table in sync so the driver's time-budgeted
    pass stays optimally ordered (scripts/driver_sim.py regenerates)."""
    missing = sorted(set(_SPECS) - set(_MEASURED_COST))
    assert not missing, f"add measured sf0.01 costs for: {missing}"


def test_stalest_signature_queries_come_first():
    """The driver signs ~50 CORRECTNESS rows per round in all_queries()
    order. With all queries signed at least once, the ordering must be
    stalest-signature-first (last-verified round ascending, never = 0)
    so each driver window refreshes the oldest evidence — a rewritten
    r1-era query gets re-signed instead of the same cheap head.
    Round 13: "signed" means signed ON THIS CODE — a query whose
    behavioral fingerprint no longer matches its VERIFIED_HISTORY
    stamp counts as never-verified, so the effective-round sequence
    (changed → 0) is what must ascend."""
    from linux_logs_spark.registry import _effective_last_round

    last = _effective_last_round()
    assert last, "VERIFIED_HISTORY.json missing or empty"
    rounds = [last.get(n, 0) for n in _SPECS]
    assert rounds == sorted(rounds), (
        "all_queries() must yield queries in ascending effective "
        "last-verified-round order (never-verified / plan-changed first)"
    )


def test_plan_changed_queries_lead_the_driver_window():
    """Verdict r12 item 2: four round-12 plan rewrites kept their old
    signature rank and the driver never oracle-checked the new plans.
    Every query whose current fingerprint mismatches its stamp must
    sort before every stamp-matching query, and every verified query
    must carry a stamp (else a rewrite could hide as unstampable)."""
    import json
    from pathlib import Path

    from linux_logs_spark.registry import _changed_since_signed

    repo = Path(__file__).resolve().parent.parent
    hist = json.loads((repo / "VERIFIED_HISTORY.json").read_text())
    stamps = hist.get("fingerprints", {})
    assert set(hist["verified"]) <= set(stamps), (
        "verified queries missing fingerprint stamps: "
        f"{sorted(set(hist['verified']) - set(stamps))[:5]}"
    )
    changed = _changed_since_signed()
    names = list(_SPECS)
    if changed:
        last_changed = max(names.index(n) for n in changed)
        unchanged_before = [
            n for n in names[:last_changed] if n not in changed
        ]
        assert not unchanged_before, (
            "plan-changed queries must lead the driver window; found "
            f"unchanged queries ahead of them: {unchanged_before[:5]}"
        )


def test_verified_history_is_fresh():
    """VERIFIED_HISTORY.json must be a consistent PREFIX of a recompute
    from the on-disk CORRECTNESS_r*.json files. Round 9's process miss
    was this file going stale (stuck at r7/204 entries), which re-aimed
    the driver's 50-query window at already-fresh signatures instead of
    the 44-query r3/r4 cohort.

    Why prefix-subset and not `==`: the driver writes CORRECTNESS_r{N}
    AFTER the builder's last commit of round N, so at judging time a
    strict-equality recompute always includes one round the committed
    file cannot contain — the guard was structurally red at every
    handoff (rounds 10 and 11). Driver rounds only ever APPEND evidence
    (each CORRECTNESS file is immutable once written), so the honest
    invariant is: every query's committed round list must equal the
    recomputed list truncated to the rounds the committed file knew
    about. Any rewrite, reorder, or drop of past evidence still fails;
    the one-newer-round handoff state passes by construction."""
    import importlib.util
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "update_verified_history", repo / "scripts" / "update_verified_history.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    fresh = mod.compute()
    committed = json.loads((repo / "VERIFIED_HISTORY.json").read_text())["verified"]

    def round_num(tag):
        import re

        return int(re.match(r"r(\d+)", tag).group(1))

    committed_rounds = {
        round_num(t) for tags in committed.values() for t in tags
    }
    fresh_rounds = {round_num(t) for tags in fresh.values() for t in tags}
    assert committed_rounds <= fresh_rounds, (
        "committed history cites CORRECTNESS rounds missing on disk: "
        f"{sorted(committed_rounds - fresh_rounds)}"
    )
    max_committed = max(committed_rounds)
    # Staleness bound: at most ONE driver round newer than the committed
    # file may exist (the post-handoff CORRECTNESS the builder hasn't yet
    # folded in). Two or more means a round-start regeneration was skipped.
    newer = sorted(r for r in fresh_rounds if r > max_committed)
    assert len(newer) <= 1, (
        f"VERIFIED_HISTORY.json lags {len(newer)} driver rounds ({newer}) — "
        "run python scripts/update_verified_history.py and commit the result"
    )
    for name in sorted(set(committed) | set(fresh)):
        fresh_prefix = [
            t for t in fresh.get(name, []) if round_num(t) <= max_committed
        ]
        assert committed.get(name, []) == fresh_prefix, (
            f"history for {name!r} diverges from recompute within committed "
            f"rounds (committed={committed.get(name)}, "
            f"recomputed-prefix={fresh_prefix}) — past evidence was rewritten; "
            "run python scripts/update_verified_history.py"
        )


def test_topk_cache_is_bounded(spark):
    """The shared ranked-neighbor cache must hold at most ONE persisted
    frame: sweeping sf_dirs in a long driver session evicts and
    unpersists the previous entry instead of pinning executor memory."""
    from linux_logs_spark.operators import llm_pipeline as lp

    lp.sim_cosine_topk(spark, "/root/testdata/sf0.001")
    first = dict(lp._topk_cache)
    lp.sim_cosine_topk(spark, "/root/testdata/sf0.01")
    assert len(lp._topk_cache) == 1
    for df in first.values():
        assert df.storageLevel.useMemory is False, "evicted frame still persisted"


def test_fingerprint_detects_behavior_changes():
    """The rotation's change detector must (a) be stable across calls,
    (b) change when a scalar knob the operator reads changes, and
    (c) change when the oracle SQL changes — else a plan rewrite can
    ship without ever re-fronting the driver window."""
    import importlib.util
    from pathlib import Path

    from linux_logs_spark.operators import warehouse as wh
    from linux_logs_spark.registry import _REGISTRY

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "plan_fingerprint", repo / "scripts" / "plan_fingerprint.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    s = _REGISTRY["dedup_semantic_cluster"]
    fp1 = mod.fingerprint_fn(s.fn, s.oracle, strip=str(repo))
    assert fp1 == mod.fingerprint_fn(s.fn, s.oracle, strip=str(repo))
    # (b) knob change: SEMDEDUP_THRESHOLD is read by the operator
    old = wh.SEMDEDUP_THRESHOLD
    try:
        wh.SEMDEDUP_THRESHOLD = 0.99
        fp2 = mod.fingerprint_fn(s.fn, s.oracle, strip=str(repo))
    finally:
        wh.SEMDEDUP_THRESHOLD = old
    assert fp2 != fp1
    assert mod.fingerprint_fn(s.fn, s.oracle, strip=str(repo)) == fp1
    # (c) oracle change
    assert mod.fingerprint_fn(s.fn, (s.oracle or "") + " -- x", strip=str(repo)) != fp1
    # (d) repo-path strings are normalized: a __file__-derived global
    # (scans._SCRATCH) must not leak the checkout path into the hash
    s2 = _REGISTRY["scan_csv_roundtrip"]
    fp_a = mod.fingerprint_fn(s2.fn, s2.oracle, strip=str(repo))
    assert fp_a == mod.fingerprint_fn(s2.fn, s2.oracle, strip=str(repo))


def test_fingerprint_follows_function_local_imports(monkeypatch):
    """sim_cosine_blocked imports llm_pipeline._gemm_topk inside its
    body, so the name is not in the operator's module globals; changing
    that function must still move the operator's fingerprint."""
    import importlib.util
    from pathlib import Path

    from linux_logs_spark.operators import llm_pipeline as lp
    from linux_logs_spark.registry import _REGISTRY

    repo = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "plan_fingerprint", repo / "scripts" / "plan_fingerprint.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    s = _REGISTRY["sim_cosine_blocked"]
    fp1 = mod.fingerprint_fn(s.fn, s.oracle, strip=str(repo))

    def changed(spark, sf_dir):
        return lp.sim_cosine_topk(spark, sf_dir).limit(1)

    changed.__module__ = lp.__name__
    monkeypatch.setattr(lp, "_gemm_topk", changed)
    assert mod.fingerprint_fn(s.fn, s.oracle, strip=str(repo)) != fp1
