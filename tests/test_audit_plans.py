"""scripts/audit_plans.py counts on a fixed formatted-plan string, no
Spark session needed."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- == Final Plan ==
   ResultQueryStage (8)
   +- * BroadcastHashJoin Inner BuildRight (7)
      :- * ColumnarToRow (2)
      :  +- Scan parquet spark_catalog.default.bq_orders (1)
      +- BroadcastQueryStage (6)
         +- BroadcastExchange (5)
            +- * ColumnarToRow (4)
               +- Scan parquet  (3)
+- == Initial Plan ==
   BroadcastHashJoin Inner BuildRight (11)
   :- Scan parquet spark_catalog.default.bq_orders (1)
   +- BroadcastExchange (10)
      +- Scan parquet  (9)


(1) Scan parquet spark_catalog.default.bq_orders
Output [1]: [o_orderkey#1]
Batched: true
Location: InMemoryFileIndex [file:/data/.scratch/t/bucketed/bq_orders]
ReadSchema: struct<o_orderkey:bigint>

(2) ColumnarToRow [codegen id : 2]
Input [1]: [o_orderkey#1]

(3) Scan parquet 
Output [1]: [dt#2]
Batched: true
Location: InMemoryFileIndex [file:/data/.scratch/t/dpp_dim/gen=1, ... 2 entries]
ReadSchema: struct<dt:date>

(9) Scan parquet 
Output [1]: [dt#2]
Batched: true
Location: InMemoryFileIndex [file:/data/sf/lineitem.parquet]
ReadSchema: struct<dt:date>
"""


def _audit():
    path = Path(__file__).resolve().parent.parent / "scripts" / "audit_plans.py"
    spec = importlib.util.spec_from_file_location("audit_plans", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tables_counts_staged_and_bucketed_locations():
    """A bucketed catalog table and a partitioned staging directory are
    tables too; a scan that appears only in AQE's initial plan is not
    counted."""
    audit = _audit()
    counts = dict(zip(audit.COLUMNS, audit.plan_counts(_PLAN)))
    assert counts["scans"] == 2
    assert counts["tables"] == 2
    assert counts["exchanges"] == 0
    assert counts["reused"] == 0
