#!/usr/bin/env python
"""Plan audit over every registered query: run each query (collect) and
count parquet scans, the distinct locations they read, Exchanges,
ReusedExchanges, checkpoint scans (ExistingRDD), Python-eval nodes and
nested-loop joins in AQE's FINAL physical plan — the plan Spark ran.
The initial plan is not counted: it is drawn before AQE reuses
exchanges, so a subplan that several consumers share shows there once
per consumer. A scan count above the distinct tables referenced is the
duplicated-subtree smell (guide §7.2). Plans go to a scratch dir for
inspection; a TSV summary to stdout."""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.functions import col, pandas_udf

from linux_logs_spark.registry import all_queries
from linux_logs_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.environ.get("PLAN_AUDIT_DIR", "/tmp/plans_audit")
COLUMNS = ("scans", "tables", "exchanges", "reused", "checkpoints", "pyeval",
           "bnlj", "cartesian")


def plan_counts(plan: str) -> tuple[int, ...]:
    """COLUMNS for one formatted AQE plan, counted in the final-plan
    tree only (before the node details and before AQE's initial plan).
    ``tables`` is the number of distinct locations those parquet scans
    read — the first path of each scan's ``Location:`` — so staged,
    bucketed and partitioned copies count as tables, not only
    ``…/<name>.parquet`` files."""
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    details = {}
    for block in plan.split("\n\n")[1:]:
        m = re.match(r"\s*\((\d+)\) ", block)
        if m:
            details[m.group(1)] = block
    scan_ids = re.findall(r"Scan parquet[^(\n]*\((\d+)\)", tree)
    locations = set()
    for sid in scan_ids:
        m = re.search(r"^Location: \S+ \[([^,\]]+)", details.get(sid, ""), re.M)
        if m:
            locations.add(m.group(1))

    def n(pattern: str) -> int:
        return len(re.findall(pattern, tree))

    return (
        len(scan_ids),
        len(locations),
        n(r"\bExchange\b"),
        n(r"\bReusedExchange\b"),
        n(r"ExistingRDD"),
        n(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow"
          r"|FlatMapGroupsInPandas"),
        n(r"BroadcastNestedLoopJoin"),
        n(r"CartesianProduct"),
    )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("plan-audit")
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format(
        "noop"
    ).save()
    _warm = pandas_udf(lambda s: s + 1, "long")
    spark.range(1000).select(_warm(col("id"))).write.mode("overwrite").format(
        "noop"
    ).save()
    specs = all_queries()
    names = sys.argv[1:] or sorted(specs)
    print("\t".join(("query",) + COLUMNS))
    for name in names:
        try:
            df = specs[name].fn(spark, SF_DIR)
            df.collect()  # AQE reuses exchanges and picks joins at runtime
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name}\tERROR\t{type(exc).__name__}: {exc}"[:200])
            continue
        with open(os.path.join(OUT, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print("\t".join([name, *map(str, plan_counts(plan))]), flush=True)


if __name__ == "__main__":
    main()
