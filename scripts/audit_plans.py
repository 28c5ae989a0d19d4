#!/usr/bin/env python
"""Plan audit over every registered query: run each query (collect) and
count parquet scans, Exchanges, ReusedExchanges, checkpoint scans
(ExistingRDD), Python-eval nodes and nested-loop joins in AQE's FINAL
physical plan — the plan Spark ran. The initial plan is not counted:
it is drawn before AQE reuses exchanges, so a subplan that several
consumers share shows there once per consumer. A scan count above the
distinct tables referenced is the duplicated-subtree smell (guide
§7.2). Plans go to a scratch dir for inspection; a TSV summary to
stdout."""
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
    print("query\tscans\ttables\texchanges\treused\tcheckpoints\tpyeval\tbnlj"
          "\tcartesian")
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
        # final-plan tree only: before the blank-line-separated details
        # and before AQE's initial plan
        tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
        scans = len(re.findall(r"Scan parquet", tree))
        files = set(re.findall(r"file:[^\s\]]+?([a-z_]+)\.parquet", plan))
        exch = len(re.findall(r"\bExchange\b", tree))
        reused = len(re.findall(r"\bReusedExchange\b", tree))
        ckpt = len(re.findall(r"ExistingRDD", tree))
        pyeval = len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", tree)
        )
        bnlj = len(re.findall(r"BroadcastNestedLoopJoin", tree))
        cart = len(re.findall(r"CartesianProduct", tree))
        print(f"{name}\t{scans}\t{len(files)}\t{exch}\t{reused}\t{ckpt}\t{pyeval}"
              f"\t{bnlj}\t{cart}", flush=True)


if __name__ == "__main__":
    main()
