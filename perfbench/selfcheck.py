#!/usr/bin/env python3
"""Fast self-check of the benchmark on the tiny tier.

    python3 perfbench/selfcheck.py

For every workload in BENCHMARK.json it makes one untraced and one traced
run on the tiny tier and asserts that each exits 0, that its last line is
the result object with exactly the contract's keys, that the outputs
checked correct, and that every named metric (end-to-end untraced,
per-layer traced) prints with its unit. It reports the tracing overhead
as the traced run's end-to-end figures against the untraced run's, and
last checks that the benchmark fails, without a result line, in a
directory holding only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = "2"


def run(cwd: str, args: list[str], timeout: float = 180) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def e2e_lines(stdout: str) -> dict[str, float]:
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) >= 4 and parts[0] == "metric":
            out[parts[1]] = float(parts[2])
    return out


def check_result(proc, wanted: list[dict], what: str) -> dict:
    if proc.returncode != 0:
        raise SystemExit(f"{what}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{what}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"{what}: outputs not correct\n{proc.stderr[-3000:]}")
    for m in wanted:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            raise SystemExit(f"{what}: metric {m['name']} missing or without unit {m['unit']}: {got}")
    extra = set(result["metrics"]) - {m["name"] for m in wanted}
    if extra:
        raise SystemExit(f"{what}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for wl in bench["workloads"]:
        name = wl["name"]
        base = ["--workload", name, "--seed", "1", "--seconds", SECONDS, "--tiny"]
        plain = run(ROOT, base + ["--trace", "0"])
        check_result(plain, bench["end_to_end"], f"{name} trace 0")
        traced = run(ROOT, base + ["--trace", "1"])
        check_result(traced, bench["per_layer"], f"{name} trace 1")
        a, b = e2e_lines(plain.stdout), e2e_lines(traced.stdout)
        overhead = ", ".join(
            f"{m['name']} {a[m['name']]:.4g} -> {b[m['name']]:.4g}" for m in bench["end_to_end"]
        )
        print(f"ok {name}: every metric prints with its unit; untraced -> traced: {overhead}")

    bare = os.path.join(ROOT, ".perfbench_cache", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, p), os.path.join(bare, p),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    proc = run(bare, ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                      "--seconds", SECONDS, "--trace", "0"], timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        raise SystemExit("bare directory: the benchmark did not fail")
    print(f"ok bare directory: exit {proc.returncode}, no result line")
    return 0


if __name__ == "__main__":
    sys.exit(main())
