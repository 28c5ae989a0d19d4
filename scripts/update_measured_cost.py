"""Regenerate registry._MEASURED_COST from driver_sim_results.json.

The REFRESH RULE (registry.py) wants the whole table rebuilt from ONE
full 2-pass driver_sim run whenever plans change — no subset mixing.
This script mechanizes the rewrite: it reads the canonical artifact,
formats the dict exactly in the registry's 4-entries-per-line style,
and splices it between the table's braces in place.

Usage: python scripts/update_measured_cost.py [note]
  note — one-line provenance appended to the table comment.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REGISTRY = os.path.join(REPO, "linux_logs_spark", "registry.py")
RESULTS = os.path.join(REPO, "driver_sim_results.json")


def main() -> None:
    with open(RESULTS) as fh:
        data = json.load(fh)
    qs = data["queries"]
    bad = [k for k, v in qs.items() if "MISMATCH" in v or "ERROR" in v]
    if bad:
        raise SystemExit(f"refusing: canonical run has bad rows: {bad}")
    costs = {k: qs[k]["cost_s"] for k in sorted(qs)}

    entries = [f'"{k}": {v}' for k, v in costs.items()]
    lines, cur = [], []
    for e in entries:
        cur.append(e)
        if len(cur) == 4:
            lines.append("    " + ", ".join(cur) + ",")
            cur = []
    if cur:
        lines.append("    " + ", ".join(cur) + ",")
    body = "\n".join(lines)

    with open(REGISTRY) as fh:
        src = fh.read()
    pat = re.compile(
        r"(_MEASURED_COST: dict\[str, float\] = \{\n).*?(\n\})", re.DOTALL
    )
    if not pat.search(src):
        raise SystemExit("could not locate _MEASURED_COST dict in registry.py")
    src = pat.sub(lambda m: m.group(1) + body + m.group(2), src, count=1)

    # Maintain the machine-written provenance line so the table's
    # comment cannot go stale across refreshes (round-7 review).
    note = sys.argv[1] if len(sys.argv) > 1 else "no note given"
    prov = (
        f"# LAST REFRESH: {len(costs)} queries, total "
        f"{data.get('total_s', '?')} s, zero bad rows; {note}\n"
    )
    # A full refresh subsumes any hand-written supplemental lines
    # (e.g. "(x added after that refresh: subset 2-pass)") — drop
    # every comment line trailing LAST REFRESH up to the dict opener,
    # so unmaintained annotations can't go stale (round-7 advice).
    prov_pat = re.compile(
        r"# LAST REFRESH: [^\n]*\n(?:# \([^\n]*\)\n)*"
    )
    if prov_pat.search(src):
        src = prov_pat.sub(prov, src, count=1)
    else:
        src = src.replace(
            "_MEASURED_COST: dict[str, float] = {",
            prov + "_MEASURED_COST: dict[str, float] = {",
            1,
        )
    with open(REGISTRY, "w") as fh:
        fh.write(src)
    print(f"rewrote _MEASURED_COST: {len(costs)} entries, "
          f"sum {round(sum(costs.values()), 1)} s")


if __name__ == "__main__":
    main()
