"""One-off: measure SemDeDup flat-cell vs two-level probing at the
100x rehearsal corpus (round-11 verdict item 7's crossover probe,
re-pointed at the round-13 two-level regime). Writes
semdedup_crossover.json.

Run AFTER `scripts/scale_rehearsal.py --gen 100x` (needs .scale100).
Serialize with any other Spark work (local[32] contention inflates
walls ~8x)."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from linux_logs_spark.operators import warehouse as wh
    from linux_logs_spark.registry import all_queries
    from linux_logs_spark.session import get_spark

    spark = get_spark("semdedup-crossover")
    spark.range(1000).selectExpr("sum(id)").collect()  # absorb spin-up
    fn = all_queries()["dedup_semantic_cluster"].fn
    sf100 = os.path.join(REPO, ".scale100")
    out: dict[str, dict] = {}
    for regime, flag in (("flat", False), ("twolevel", True)):
        wh.SEMDEDUP_TWOLEVEL = flag
        try:
            n_vecs = 200_000
            k = wh._semdedup_k(n_vecs)
            fn(spark, sf100).count()  # warm (kmeans collect + codegen)
            t0 = time.monotonic()
            rows = fn(spark, sf100).count()
            wall = time.monotonic() - t0
        finally:
            wh.SEMDEDUP_TWOLEVEL = False
        out[regime] = {"k": k, "wall_s": round(wall, 2), "pairs": rows}
        print(regime, out[regime], flush=True)
    with open(os.path.join(REPO, "semdedup_crossover.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print("wrote semdedup_crossover.json")


if __name__ == "__main__":
    main()
