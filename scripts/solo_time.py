#!/usr/bin/env python
"""Solo re-timer: N noop-sink passes of the named queries in one warmed
session (bench.py's methodology — plan construction included).
Usage: solo_time.py [--n 3] query [query ...]"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.functions import col, pandas_udf

from linux_logs_spark.registry import all_queries
from linux_logs_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "--n":
        n = int(args[1])
        args = args[2:]
    spark = get_spark("solo-time")
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format(
        "noop"
    ).save()
    _warm = pandas_udf(lambda s: s + 1, "long")
    spark.range(1000).select(_warm(col("id"))).write.mode("overwrite").format(
        "noop"
    ).save()
    specs = all_queries()
    for name in args:
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            df = specs[name].fn(spark, SF_DIR)
            df.write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: {times} min={min(times)}")


if __name__ == "__main__":
    main()
