"""Warehouse composite queries: classic TPC-H-shaped multi-join
analytics (the workload every log/event warehouse converges to) plus
scale-path vector/corpus operators that round out SURVEY.md §2.11.

Scale shapes:
- Q3/Q5 are star joins: dims broadcast, the single fact shuffle is the
  group-by key; revenue accumulates in DECIMAL (order-independent) per
  functions/compat.py.
- Q6 is the canonical scan-dominated aggregate: every predicate is
  sargable and pushes into the parquet scan; the aggregate is one
  map-side partial + a 1-row final.
- IVF ANN assigns vectors to centroid cells (numpy GEMM in a pandas
  UDF, same as the LSH path), probes the 2 nearest cells, and verifies
  with the exact JVM fold — candidate generation is an equi-join on
  cell id, never a cross join.
- Decontamination joins training-shingles against benchmark-shingles
  on the shingle string — the posting-list equi-join shape whose cost
  scales with shared shingles, not the n_train × n_bench pair space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linux_logs_spark.catalog import load, table_row_count
from linux_logs_spark.functions.compat import davg, dec, dsum, oracle_davg, oracle_dsum
from linux_logs_spark.session import (
    default_parallelism,
    scaled_partitions,
    spread_ingest,
)
from linux_logs_spark.functions.text import word_shingles, words
from linux_logs_spark.functions.vector import (
    dot_unrolled_sql,
    norm_unrolled_sql,
    round6_away_sql,
)
from linux_logs_spark.registry import register

# ------------------------------------------------------- TPC-H composites


@register(
    "tpch_q3",
    "warehouse",
    oracle=f"""
SELECT l_orderkey,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-07-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority (TPC-H Q3 shape): segment-filtered customers
    joined into orders, orders into lineitem; one shuffle on the
    group key; top-10 via TakeOrderedAndProject with a unique
    tie-break (revenue, o_orderdate, l_orderkey).

    Orders (date-pruned but fact-proportional) and customer
    (segment-filtered but corpus-sized) join without hints: the
    broadcast threshold and AQE size both joins, so they broadcast
    at test scale (pinned in test_plans.py) and shuffle on their keys
    once either side outgrows the threshold."""
    cust_all = load(spark, sf_dir, "customer")
    c = cust_all.filter(F.col("c_mktsegment") == "BUILDING")
    orders_all = load(spark, sf_dir, "orders")
    o = orders_all.filter(
        F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-07-01").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5",
    "warehouse",
    oracle=f"""
SELECT n_name,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): only the fixed-size
    dims (nation, filtered region) broadcast unconditionally. Orders
    (one-year filter, fact-proportional), customer and supplier (both
    corpus-proportional per FIXTURES.md) join without hints: the
    broadcast threshold and AQE size them, so the fact table is
    shuffled exactly once at test scale and the big joins become key
    shuffles once they outgrow the threshold."""
    c = load(spark, sf_dir, "customer")
    orders_all = load(spark, sf_dir, "orders")
    o = orders_all.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, 4).alias("revenue"))
    )


@register(
    "tpch_q6",
    "warehouse",
    oracle=f"""
SELECT {oracle_dsum('l_extendedprice * l_discount', 4)} AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change (TPC-H Q6 shape): the scan-bound
    aggregate. All four predicates push into the parquet scan
    (PushedFilters), projection prunes to 4 columns, and the agg is
    map-side partial + 1-row final — the 100 TB plan is 'read little,
    shuffle nothing'."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "tpch_q7",
    "warehouse",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {oracle_dsum('volume', 4)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
       JOIN orders   ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       JOIN nation n1 ON s_nationkey = n1.n_nationkey
       JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-pair trade volume (TPC-H Q7 shape, adapted to the
    reduced schema: the year comes from l_shipdate).

    Scale shape: BOTH fact inputs are pre-filtered through the
    nation-filtered dims before the one fact-fact join (the broadcast
    threshold and AQE pick each dim join's build side) — lineitem
    keeps only rows whose supplier sits in the two nations
    (~2/|nations| of the table), orders keeps only rows whose
    customer does. The orderkey
    join therefore shuffles two already-thinned streams instead of
    broadcasting an unfiltered orders table (which no executor could
    hold at 100 TB), and the final aggregate runs on the handful of
    (nation, nation, year) groups."""
    nations = ("NATION_1", "NATION_2")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # customer/supplier filtered to 2 nations are still ~2/|nations|
    # of corpus-proportional tables (FIXTURES.md), so only nation
    # carries a hint; the threshold and AQE size the other joins.
    cust = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(o.join(cust, o.o_custkey == cust.c_custkey), li.l_orderkey == o.o_orderkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q10",
    "warehouse",
    oracle=f"""
SELECT c_custkey, c_name,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
     JOIN lineitem ON l_orderkey = o_orderkey
     JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (TPC-H Q10 shape): which customers
    returned the most revenue last quarter. The returnflag and
    orderdate predicates push into the scans; the quarter-filtered
    orders and the dims broadcast, so lineitem shuffles exactly once
    (the per-customer aggregate), and top-20 is TakeOrderedAndProject
    with c_custkey as the unique tie-break. c_acctbal passes through
    ungrouped-arithmetic-free, so the double is bit-identical.
    Orders (quarter-filtered, fact-proportional) and customer
    (corpus-sized) join without hints: the broadcast threshold and
    AQE size them, so they broadcast at test scale (test_plans.py
    pin) and shuffle on their keys past the threshold."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders_all = load(spark, sf_dir, "orders")
    o = orders_all.filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14",
    "warehouse",
    oracle=f"""
SELECT (CAST(100.0 AS DOUBLE) * {oracle_dsum(
        "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)})
       / {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS promo_revenue_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effect (TPC-H Q14 shape): share of one month's
    revenue from PROMO-type parts. Conditional-vs-total sums both
    accumulate in DECIMAL, then (100.0 * promo) / total runs as two
    IEEE double ops with identical parenthesization on both engines.
    part is corpus-proportional (FIXTURES.md: ~1/1000 of lineitem but
    linear in it), so the broadcast threshold and AQE size its join;
    past the threshold it is a key shuffle on p_partkey (the natural
    bucketing column, so a bucketed layout makes it co-located)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            ((F.lit(100.0) * dsum(promo, 4)) / dsum(disc_price, 4)).alias(
                "promo_revenue_pct"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "tpch_q15",
    "warehouse",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (TPC-H Q15 shape): supplier(s) with the maximum
    quarterly revenue, via a broadcast-scalar self-comparison. The
    equality filter compares the SAME decimal-sum-cast-to-double
    values on both sides, so it is exact. Catalyst evaluates the
    per-supplier aggregate subtree twice (once for the max, once for
    the filter) — both passes scan only the quarter's pruned rows and
    the agg frame is |suppliers|-sized; that beats pinning the frame
    with a checkpoint, and avoids a global single-partition window."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("_max_rev"))
    s = load(spark, sf_dir, "supplier")
    # top is a literal 1-row scalar — always broadcast; supplier is
    # corpus-proportional (FIXTURES.md), so the threshold sizes it.
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top._max_rev)
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q18",
    "warehouse",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey, {oracle_dsum('l_quantity', 2)} AS sum_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(25,2))) > 250)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM big JOIN orders   ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers (TPC-H Q18 shape). The HAVING threshold
    compares the DECIMAL accumulator directly (exact,
    order-independent — a raw double sum would flip rows sitting on
    the boundary between partitionings). The grouped frame itself
    carries sum_qty forward, so lineitem is scanned and shuffled
    exactly once. The HAVING survivors are rare but their count is
    selectivity-dependent, so no join carries a hint: the broadcast
    threshold and AQE pick each join's strategy and build side (at
    test scale orders and customer fit the threshold and are built;
    past it, AQE broadcasts the materialized survivors or shuffles).
    Top-100 is TakeOrderedAndProject with the unique o_orderkey
    tie-break."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(dec("l_quantity", 2)).alias("_dec_qty"),
        )
        .filter(F.col("_dec_qty") > 250)
        .select("l_orderkey", F.col("_dec_qty").cast("double").alias("sum_qty"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    with_orders = o.join(big, o.o_orderkey == big.l_orderkey)
    return (
        c.join(with_orders, c.c_custkey == with_orders.o_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "cust_order_intervals",
    "warehouse",
    oracle="""
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         lag(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_dt
  FROM orders)
SELECT o_custkey,
       count(*) AS n_orders,
       count(prev_dt) AS n_gaps,
       CAST(sum(date_diff('day', CAST(prev_dt AS DATE), CAST(o_orderdate AS DATE))) AS BIGINT)
         AS total_gap_days,
       CAST(max(date_diff('day', CAST(prev_dt AS DATE), CAST(o_orderdate AS DATE))) AS BIGINT)
         AS max_gap_days
FROM seq
GROUP BY o_custkey
HAVING count(prev_dt) > 0
""",
)
def cust_order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: per-customer gaps between consecutive
    orders (lag window partitioned by customer — fully parallel, no
    global sort) rolled up to exact integer day totals. Day gaps stay
    in BIGINT end-to-end, so the hash match is arithmetic-free; the
    (o_orderdate, o_orderkey) lag ordering is a total order, making
    the consecutive pairing deterministic even for same-day orders.
    One shuffle on o_custkey serves both the window and the rollup."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.col("o_orderdate").cast("date"), F.col("prev_dt").cast("date")
    ).cast("long")
    return (
        o.withColumn("prev_dt", F.lag("o_orderdate").over(w))
        .withColumn("gap_days", gap)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("prev_dt").alias("n_gaps"),
            F.sum("gap_days").alias("total_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .filter(F.col("n_gaps") > 0)
    )


# ---------------------------------------------------- vector scale paths


IVF_MIN_CELLS = 16
IVF_TARGET_CELL_ROWS = 125
N_PROBE = 2


def _ivf_cells(n_vecs: int) -> int:
    """Cell count: n // IVF_TARGET_CELL_ROWS floored at IVF_MIN_CELLS —
    cells grow ∝ n so occupancy, candidates-per-probe and total verify
    volume stay FLAT per decade (this replaced the round-10
    hand-patched ×8/decade sequence whose occupancy creep made
    sim_ann_ivf the one super-linear family). Derived from the parquet
    footer row count (zero jobs) on the Spark side and count(*) in the
    oracle — the `_semdedup_k` pattern — so both engines compute the
    same count at any scale from the data alone; Python // and DuckDB
    // agree (floor) on the non-negative ints involved. At every
    committed scale factor the result is the historical 16 (500//125 <
    16 → floor; 2000//125 = 16 exactly)."""
    return max(IVF_MIN_CELLS, n_vecs // IVF_TARGET_CELL_ROWS)


# Centroids are the _ivf_cells(n) lowest vec_ids — fully deterministic,
# so DuckDB replays the index: rank every vector's cosine against each
# centroid (normalize-then-GEMM vs dot/norms agree to ~1e-15; an
# assignment flip needs a near-exact centroid tie), take rk=1 as the
# assignment and rk<=N_PROBE as the probes. Verification uses the SAME
# round-6 cosine the exact-family oracles hash-match. Graduated from
# rows-only in round 6 (the r5 verdict's item 1). The oracle re-derives
# the cell count from count(*) — mirroring _ivf_cells exactly — so
# retuning or rescaling cannot silently desync engine and oracle, same
# rule as _LSH_ORACLE.


def _ivf_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings
),
k AS (
  SELECT GREATEST({IVF_MIN_CELLS}, count(*) // {IVF_TARGET_CELL_ROWS}) AS n_cells
  FROM v
),
cent AS (
  SELECT vec_id AS cell, dv AS cv FROM v WHERE vec_id < (SELECT n_cells FROM k)
),
ranked AS (
  SELECT v.vec_id, cent.cell,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_cosine_similarity(v.dv, cent.cv) DESC,
                                     cent.cell) AS rk
  FROM v CROSS JOIN cent
),
assign AS (SELECT vec_id, cell FROM ranked WHERE rk = 1),
probe  AS (SELECT vec_id, cell FROM ranked WHERE rk <= {N_PROBE}),
pairs AS (
  SELECT p.vec_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(vq.dv, va.dv), 6) AS sim
  FROM probe p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
  JOIN v vq ON vq.vec_id = p.vec_id
  JOIN v va ON va.vec_id = a.vec_id
)
SELECT vec_id, neighbor_id, sim,
       row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS nn_rank
FROM pairs
QUALIFY nn_rank <= 5
"""


@register("sim_ann_ivf", "llm", oracle=_ivf_oracle())
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbors: the _ivf_cells(n)
    lowest-vec_id vectors serve as deterministic centroids
    ('training' stand-in) — cells ∝ n from the parquet footer, so
    occupancy and candidates-per-probe stay flat across decades;
    every vector is assigned to its nearest centroid cell (one numpy
    GEMM in a pandas UDF — same blocked-matmul shape as the 100 TB
    path), each query probes its 2 nearest cells, and candidates are
    verified with one exact float64 GEMM per cell (round-13, the
    sim_ann_lsh treatment: per-cell local top-5 is exhaustive for the
    cell, so the global top-5 is a bounded ≤ N_PROBE·5-row window
    merge). Candidate generation shuffles n·N_PROBE rows keyed by
    cell — the cross-join pair space never materializes.
    Complements sim_ann_lsh: IVF partitions by data geometry, LSH by
    random hyperplanes."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    # cell count ∝ n from the parquet footer (zero jobs) — occupancy
    # stays flat per decade; see _ivf_cells for the scaling argument
    n_vecs_ivf = table_row_count(sf_dir, "embeddings")
    if n_vecs_ivf == 0:  # no vectors, no neighbors (the oracle's 0 rows)
        return spark.createDataFrame(
            [], "vec_id long, neighbor_id long, sim double, nn_rank long"
        )
    n_cells = _ivf_cells(n_vecs_ivf)
    # vec_id is a dense 0..n-1 key, so the n_cells lowest ids are a
    # pushed-down filter (no global sort job just to pick centroids).
    # The collect is n_cells×dim float64 — 820 KB at the 100×
    # rehearsal's 1600 cells.
    cent_rows = (
        e.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .collect()
    )
    if not cent_rows:
        # A non-empty table whose vec_id key does not start at 0
        # yields no centroids; fail loudly rather than emit NaN cells /
        # empty results from a rows-only-verified query.
        raise ValueError(
            "sim_ann_ivf: no centroid rows (expected vec_id to cover "
            f"0..{n_cells - 1}); got an empty filter result"
        )
    cent_rows.sort(key=lambda r: r["vec_id"])
    cents = np.array([r["embedding"] for r in cent_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    c_t = np.ascontiguousarray(cents.T)
    _CH = 512

    def _probe_cells(emb):
        if emb.empty:
            return pd.Series([], dtype=object)
        m = np.array(emb.tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        # Chunked with ONE reused buffer (the _gemm_key treatment,
        # round 13): a monolithic batch×cells sims matrix is 1.28 GB
        # per 10k-row Arrow batch at the 2M leg's 16000 cells, and
        # re-faulting fresh pages per batch ran the whole leg ~5×
        # slower than the arithmetic (497 s measured; same host
        # pathology the round-12 _gemm_key chunking fixed).
        # top-N_PROBE via repeated argmax, NOT a full-width argsort:
        # argsort is O(cells·log cells) per row and cells ∝ n, so at
        # the 100× rehearsal (1600 cells) the sort alone was a
        # super-linear tens-of-seconds term; argmax is O(cells) per
        # probe and returns the FIRST max — the same lowest-cell
        # tie-break as the retired kind="stable" sort and the
        # oracle's (sim DESC, cell ASC) row_number.
        out = np.empty((len(m), N_PROBE), dtype=np.int64)
        buf = np.empty((min(_CH, len(m)), c_t.shape[1]))
        for lo in range(0, len(m), _CH):
            mc = m[lo : lo + _CH]
            b = buf[: len(mc)]
            np.matmul(mc, c_t, out=b)
            rows = np.arange(len(mc))
            for j in range(N_PROBE):
                idx = np.argmax(b, axis=1)
                out[lo : lo + len(mc), j] = idx
                b[rows, idx] = -np.inf
        return pd.Series(list(out))

    # asNondeterministic is an optimizer FENCE, not a semantics claim
    # (the GEMM is deterministic): posexplode makes the optimizer infer
    # `size(pcells) > 0 AND isnotnull(pcells)` and push it below
    # spread_ingest's repartition, where the only way to evaluate it is
    # to run the UDF AGAIN — the round-14 all-243 duplication scan
    # found the assignment GEMM executing twice, plan nodes (2)+(6)
    # (guide §4.4).
    # The fence drops the inferred filter; posexplode itself already
    # skips null/empty arrays, and _probe_cells never returns one.
    probe_cells = F.pandas_udf(_probe_cells, "array<long>").asNondeterministic()

    raw = F.col("embedding")
    # spread_ingest: the assignment GEMM UDF below otherwise runs in
    # the single-row-group scan's ONE task (round-10 second-decade
    # finding); the centroid collect above stays on the raw load so
    # its vec_id filter pushes into the scan.
    e = spread_ingest(e, n_vecs_ivf)
    # ONE assignment pass for both roles: posexploding pcells yields a
    # (prank, cell) row per probe — prank 0 marks the PRIMARY cell
    # (the row is a MEMBER there), and every row is a QUERY of its
    # cell. Shuffle volume is n·N_PROBE rows keyed by cell.
    probed = e.select(
        "vec_id", "embedding", probe_cells(raw).alias("pcells")
    ).select("vec_id", "embedding", F.posexplode("pcells").alias("prank", "cell"))

    chunk = _CELL_GEMM_CHUNK

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # Within-cell verification: ONE numpy float64 GEMM per cell of
        # its queries against its members (a JVM equi-join + 64-term
        # fold priced the 2M-vector leg at ~5e9 candidate rows, a
        # ~20-minute DNF). A query's per-cell local
        # top-5 is EXHAUSTIVE for that cell, so the global top-5 lives
        # in the union of its ≤ N_PROBE·5 local winners — merged by
        # the tiny ranking window below. Tie-break parity: members
        # sorted by vec_id so argmax's first-max rule IS the oracle's
        # (sim DESC, neighbor_id ASC); sims round 6-digit
        # half-away-from-zero BEFORE ranking (the shared rounded-sim
        # convention).
        empty = pd.DataFrame(
            {"vec_id": pd.Series(dtype="int64"),
             "neighbor_id": pd.Series(dtype="int64"),
             "sim": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        mem = pdf[pdf["prank"] == 0]
        if not len(mem):
            # probed-only cell (no vector's primary): no candidates
            return empty
        mids = mem["vec_id"].to_numpy()
        mm = np.array(mem["embedding"].tolist(), dtype=np.float64)
        mm /= np.linalg.norm(mm, axis=1, keepdims=True)
        qids = pdf["vec_id"].to_numpy()
        qm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        qm /= np.linalg.norm(qm, axis=1, keepdims=True)
        k = min(5, len(mids))
        frames = []
        # query-chunked so the sim matrix is chunk×|members| — bounds
        # task memory on a hot cell; top-5 via k argmax PASSES, not a
        # per-row sort
        for lo in range(0, len(qids), chunk):
            sims = qm[lo : lo + chunk] @ mm.T
            sims = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6
            sims[qids[lo : lo + chunk, None] == mids[None, :]] = -np.inf
            rows = np.arange(sims.shape[0])
            qslice = qids[lo : lo + sims.shape[0]]
            for _ in range(k):
                idx = np.argmax(sims, axis=1)
                val = sims[rows, idx]
                keep = val != -np.inf
                if keep.any():
                    frames.append(pd.DataFrame({
                        "vec_id": qslice[keep],
                        "neighbor_id": mids[idx[keep]],
                        "sim": val[keep],
                    }))
                sims[rows, idx] = -np.inf
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    cand = probed.groupBy("cell").applyInPandas(
        cell_topk, "vec_id long, neighbor_id long, sim double"
    )
    # global merge: ≤ N_PROBE·5 candidates per query — a bounded
    # partitioned window with the same (sim DESC, neighbor ASC) order
    # as each cell's local ranking and the oracle's row_number
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return cand.withColumn("nn_rank", F.row_number().over(w).cast("long")).filter(
        F.col("nn_rank") <= 5
    )


@register(
    "emb_label_centroid",
    "llm",
    oracle="""
SELECT label, CAST(t.i AS INTEGER) AS dim,
       round(avg(CAST(embedding[t.i] AS DOUBLE)), 4) AS centroid,
       count(*) AS n_vecs
FROM embeddings, range(1, 65) t(i)
GROUP BY label, t.i
""",
)
def emb_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long format (label, dim, mean)
    — the distributed 'class prototype' / allreduce shape: posexplode
    fans each vector into 64 (label, dim, value) rows, one shuffle on
    (label, dim), map-side partial averages. Long format keeps the
    output scalar-typed for the driver's canonicalizer; rounded to 4
    digits so float accumulation order can't flip the hash."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 4).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
    )


# -------------------------------------------------- corpus decontamination

# Per-shingle document-frequency cap: a 3-word shingle appearing in
# more than this many documents is corpus boilerplate, not benchmark
# contamination (a leaked eval item is by definition rare in training
# data), so it carries no decontamination signal — and it is exactly
# the key that makes the train⋈bench join super-linear (per-shingle
# join cost is df_train × df_bench ≤ cap² under the cap, unbounded
# without it). Same knob story as WORD_DF_CAP in the Jaccard family;
# the oracle mirrors the cap verbatim so both engines drop the same
# shingles. Round-12: the uncapped 5M-doc leg shuffled a 260M-row
# posting frame 8.6 GB past page cache (SCALING.md, the one
# host-spill diagnosis of the third decade).
DECONTAM_DF_CAP = 64


@register(
    "decontam_ngram_overlap",
    "llm",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS shingle
  FROM w
), sh AS (
  SELECT doc_id, shingle FROM (
    SELECT sh0.*, count(*) OVER (PARTITION BY shingle) AS df FROM sh0
  ) WHERE df <= {DECONTAM_DF_CAP}
)
SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc, count(*) AS n_shared
FROM sh t JOIN sh b ON t.shingle = b.shingle
WHERE t.doc_id % 50 <> 0 AND b.doc_id % 50 = 0
GROUP BY 1, 2
HAVING count(*) >= 5
""",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥5
    distinct RARE 3-word shingles with any benchmark document (docs
    with doc_id % 50 == 0 stand in for the eval set; shingles in more
    than DECONTAM_DF_CAP documents are boilerplate and excluded — see
    the constant's rationale). The overlap is an equi-join on
    xxhash64(shingle) — the posting-list join shape, but every
    shuffle (the per-doc distinct AND the train⋈bench join) moves
    8-byte hashes instead of shingle strings, which at 100 TB is the
    difference between shuffling the corpus and shuffling ~2% of it.
    The df-cap window runs on the same key the join shuffles on, so
    the exchange is reused. A 64-bit hash collision would need ~2³²
    distinct shingles to become likely (birthday bound); the
    string-keyed DuckDB oracle stays exact, so the driver's
    hash-match doubles as the collision check at test scale."""
    # spread_ingest: the shingle explode + hash + map-side distinct is
    # the whole map cost and single-readers on one-row-group inputs
    d = spread_ingest(
        load(spark, sf_dir, "documents").select("doc_id", "text"),
        table_row_count(sf_dir, "documents"),
    )
    # array_distinct BEFORE the explode: per-doc shingle dedup is the
    # only dedup the semantics need, and doing it inside the map task
    # deletes the posting frame's distinct() — at the 5M-doc decade
    # that distinct's 260M-row shuffle was the leg's dominant cost and
    # the diagnosed page-cache spill (SCALING.md round-11 row).
    # localCheckpoint: sh0 feeds THREE consumers (the df groupBy, and
    # both sides of the train⋈bench self-join via the anti join), and
    # its root is narrow — no exchange of its own for AQE to reuse —
    # so on lazy lineage each would re-run the shingle explode, the
    # leg's dominant CPU (2× wall at every tier). A distinct() would
    # buy the reuse with a full (doc_id, hash) shuffle; the checkpoint
    # buys it for one narrow 16-byte-row materialization instead.
    sh0 = (
        d.select("doc_id", words("text").alias("ws"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(word_shingles(F.col("ws"), 3))).alias(
                "shingle"
            ),
        )
        .select("doc_id", F.xxhash64("shingle").alias("sh_hash"))
        .localCheckpoint(eager=True)
    )
    # df via groupBy (map-side combined counts — a window over the
    # same key must SORT the full posting frame in each reducer), then
    # EXCLUDE the over-cap shingles with a left-anti join: the hot
    # list is tiny by construction (≤ |postings|/cap keys, and only
    # genuine boilerplate in practice), and the anti join's sh_hash
    # partitioning is exactly what the train⋈bench join below needs,
    # so the exchange is reused instead of re-shuffling the frame.
    hot = (
        sh0.groupBy("sh_hash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DECONTAM_DF_CAP)
        .select("sh_hash")
    )
    sh = sh0.join(hot, "sh_hash", "left_anti")
    train = sh.filter(F.col("doc_id") % 50 != 0)
    bench = sh.filter(F.col("doc_id") % 50 == 0)
    return (
        train.alias("t")
        .join(bench.alias("b"), F.col("t.sh_hash") == F.col("b.sh_hash"))
        .groupBy(
            F.col("t.doc_id").alias("train_doc"),
            F.col("b.doc_id").alias("bench_doc"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )


EMB_DIM = 64


@register("emb_pca_power", "llm", oracle=None)  # iterative/eigen → rows-only
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, gramian form: the executors reduce the corpus
    to G = Σ x·xᵀ (a 64×64 matrix — mapInPandas computes one numpy
    GEMM partial per Arrow batch, then a posexplode → groupBy(i,j) sum
    runs the elementwise allreduce), and only those 4096 bounded
    numbers ever reach the driver, where the top eigenpair comes from
    numpy eigh. This is the shape that survives 100 TB: work on raw
    vectors is one linear pass, driver traffic is O(dim²) regardless
    of corpus size. Eigen iteration is not SQL-expressible → rows-only;
    loadings are sign-normalized (first nonzero positive) and rounded
    so the 64-row output is run-stable."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")

    def partial_gram(batches):
        for pdf in batches:
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            if len(X) == 0:
                continue
            g = X.T @ X  # (64, 64) partial gramian for this batch
            yield pd.DataFrame({"g": [g.reshape(-1).tolist()]})

    partials = emb.select("embedding").mapInPandas(partial_gram, "g array<double>")
    cells = partials.select(
        F.posexplode("g").alias("cell", "v")
    ).groupBy("cell").agg(F.sum("v").alias("s"))
    rows = cells.collect()  # exactly dim² = 4096 rows, corpus-size-free
    G = np.zeros(EMB_DIM * EMB_DIM)
    for r in rows:
        G[r["cell"]] = r["s"]
    G = G.reshape(EMB_DIM, EMB_DIM)
    vals, vecs = np.linalg.eigh(G)  # symmetric PSD → eigh is exact+stable
    lead = vecs[:, -1]
    nz = np.flatnonzero(np.round(lead, 6))
    if len(nz) and lead[nz[0]] < 0:
        lead = -lead
    out = pd.DataFrame(
        {
            "dim": np.arange(EMB_DIM, dtype=np.int64),
            "loading": np.round(lead, 4),
            "eigenvalue": np.round(float(vals[-1]), 2),
        }
    )
    return spark.createDataFrame(out)


@register(
    "emb_centroid_outliers",
    "llm",
    oracle="""
WITH c AS (
  SELECT label, t.i AS dim, avg(CAST(embedding[t.i] AS DOUBLE)) AS mu
  FROM embeddings, range(1, 65) t(i)
  GROUP BY label, t.i
), d AS (
  SELECT e.vec_id, e.label,
         round(sqrt(sum((CAST(e.embedding[c.dim] AS DOUBLE) - c.mu) ^ 2)), 6) AS dist
  FROM embeddings e JOIN c ON e.label = c.label
  GROUP BY e.vec_id, e.label
), s AS (
  SELECT vec_id, label, dist,
         avg(dist)         OVER (PARTITION BY label) AS mu,
         stddev_samp(dist) OVER (PARTITION BY label) AS sigma
  FROM d
)
SELECT vec_id, label, round(dist, 4) AS dist,
       round((dist - mu) / sigma, 4) AS z
FROM s
WHERE sigma > 0 AND round((dist - mu) / sigma, 4) > 2
""",
)
def emb_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QC: vectors unusually FAR from their own
    label's centroid (z > 2 within label) — the cheap screen for
    mislabeled or atypical vectors before they skew kNN voting or
    centroid classifiers. (Norm-based QC is degenerate here: the
    table is unit-normalized, all norms exactly 1.) Scale shape: the
    centroid is the same posexplode → (label, dim) partial-avg
    allreduce as emb_label_centroid, the 10×64 centroid matrix
    broadcasts back, and the distance is one elementwise
    zip_with fold per vector — deliberately NOT the unrolled
    |x|²−2x·c+|c|² form, because mirroring DuckDB's Σ(x−μ)² term
    order keeps the two engines bit-aligned where the expanded form
    risks cancellation drift (64 interpreted lambda terms/row is
    noise next to the broadcast join). The z-window runs per label
    over (vec_id, dist) scalars, never vectors. Distance rounded to 6
    BEFORE the stats; z rounded before the threshold like
    log_anomaly_zscore."""
    emb = load(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim0", "x"))
        .groupBy("label", "dim0")
        .agg(F.avg(F.col("x").cast("double")).alias("mu"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim0", "mu"))
            ).alias("cent_s")
        )
        .select("label", F.transform("cent_s", lambda c: c["mu"]).alias("cent"))
    )
    j = emb.join(F.broadcast(cent), "label")
    diff_sq = F.aggregate(
        F.zip_with(
            "embedding", "cent", lambda x, m: (x.cast("double") - m) * (x.cast("double") - m)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    d = j.select(
        "vec_id", "label", F.round(F.sqrt(diff_sq), 6).alias("dist")
    )
    w = Window.partitionBy("label")
    s2 = d.select(
        "vec_id",
        "label",
        "dist",
        F.avg("dist").over(w).alias("mu"),
        F.stddev_samp("dist").over(w).alias("sigma"),
    )
    z = F.round((F.col("dist") - F.col("mu")) / F.col("sigma"), 4)
    return (
        s2.filter(F.col("sigma") > 0)
        .withColumn("z", z)
        .filter(F.col("z") > 2)
        .select("vec_id", "label", F.round("dist", 4).alias("dist"), "z")
    )


@register(
    "cust_rfm_segments",
    "warehouse",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         max(o_orderdate)                                   AS last_order,
         CAST(count(*) AS BIGINT)                           AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(25,2)))
              AS DOUBLE)                                    AS monetary
  FROM orders
  GROUP BY o_custkey
)
SELECT o_custkey, CAST(last_order AS VARCHAR) AS last_order, frequency, monetary,
       CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT) AS r_quartile,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey)  AS BIGINT) AS f_quartile,
       CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey)   AS BIGINT) AS m_quartile
FROM rfm
""",
)
def cust_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quartiles) — the classic warehouse scoring query. One full-volume
    shuffle (the per-customer aggregate); each quartile is then an
    EXACT ntile(4) computed without any single-partition window
    (round-3 verdict item 2): range-repartition on the quartile's sort
    key, per-partition row_number (parallel, partitioned by the range
    partition id), plus a broadcast cumulative-offset per partition →
    global rank → ntile arithmetic. The ordering (metric desc,
    o_custkey) is a total order, so ranks — and therefore tiles —
    are deterministic and hash-match DuckDB's ntile. Scales as three
    range shuffles over the |customers| aggregate (each fully
    parallel) instead of three sorts on one executor core; the ranked
    frame is localCheckpoint-ed so the partition-count job and the
    window job see identical range bounds. monetary accumulates in
    DECIMAL. last_order surfaces as string: DATE cells materialize
    date-vs-midnight across engines and break the hash (same rule as
    the partitioned sink)."""
    o = load(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        dsum("o_totalprice", 2).alias("monetary"),
    )
    out = rfm
    for quart, metric in (
        ("r_quartile", "last_order"),
        ("f_quartile", "frequency"),
        ("m_quartile", "monetary"),
    ):
        out = _exact_ntile(out, [F.col(metric).desc(), F.col("o_custkey").asc()], quart)
    return out.select(
        "o_custkey",
        F.col("last_order").cast("string").alias("last_order"),
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
        "r_quartile",
        "f_quartile",
        "m_quartile",
    )


def _exact_ntile(df: DataFrame, order_cols: list, out_name: str, tiles: int = 4) -> DataFrame:
    """Exact ntile(tiles) OVER (ORDER BY order_cols) with no
    single-partition sort and no driver round-trip.

    Global rank = within-range-partition row_number + the partition's
    cumulative row offset, where the offsets come from a broadcast
    join against the ≤ shuffle-partition-count per-partition counts
    (the running sum over that tiny frame is a single-partition
    window over ≤ parts rows — bounded by construction). ntile then
    follows from columnar rank arithmetic: the first (n mod tiles)
    tiles hold ceil(n/tiles) rows, the rest floor(n/tiles) — identical
    to Spark's and DuckDB's NTILE, with n itself a broadcast 1-row
    aggregate, so the whole query stays lazy. order_cols must be a
    total order for the result to be deterministic."""
    parts = min(default_parallelism(), 32)
    ranked = (
        df.repartitionByRange(parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # Pin partition contents: the counts subplan and the rank
        # window must see the same sampled range bounds, and exchange
        # reuse isn't guaranteed under AQE. Lifecycle: the checkpoint
        # blocks must outlive the RETURNED lazy plan, so an in-function
        # unpersist is impossible by construction; blocks are freed by
        # ContextCleaner once the caller drops the result (accepted —
        # a driver sweeping scale factors holds ≤ one result at a
        # time, so at most one query's 3 checkpoints are ever live).
        .localCheckpoint()
    )
    pid_counts = ranked.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = pid_counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(cum), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(
            Window.orderBy("_pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    r = F.row_number().over(w) + F.col("_off")
    q = F.floor(F.col("_n") / tiles)
    rem = F.col("_n") % tiles
    big_span = rem * (q + 1)  # rows covered by the (q+1)-sized tiles
    tile = F.when(r <= big_span, F.floor((r - 1) / (q + 1)) + 1).otherwise(
        # unreachable when q == 0 (big_span == n ≥ r); greatest() only
        # keeps the expression total
        rem + F.floor((r - big_span - 1) / F.greatest(q, F.lit(1))) + 1
    )
    return (
        ranked.join(F.broadcast(offsets), "_pid")
        .withColumn(out_name, tile.cast("long"))
        .drop("_pid", "_off", "_n")
    )


# (applicationId, normpath(sf_dir), lineitem fingerprint) → the
# checkpointed co-purchase pair-count frame. One entry at a time (the
# _topk_cache rule); localCheckpoint RDDs are reclaimed by
# ContextCleaner once the frame is dropped.
_COPURCHASE_CACHE: dict = {}

# Same key → graph_triangle_count's degree-oriented edge frame. The
# orientation prefix (n_orders filter + degree aggregate + two degree
# joins over the full edge set) is deterministic given the lineitem
# fingerprint and was rebuilt per call — at the 100× rehearsal it was
# the 2.5 GB-shuffle share of the 64.1 s leg (round-11 verdict item
# 5); the wedge+close joins are the actual per-call algorithm.
_TRI_ORIENTED_CACHE: dict = {}


def _copurchase_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a < part_b, n_orders) basket co-occurrence counts —
    THE shared edge-build prefix of the whole graph family
    (part_copurchase, graph_pagerank, graph_triangle_count,
    graph_shortest_path): one lineitem distinct + one self-equi-join
    on the order key + one pair-count aggregate, localCheckpoint'd
    and memoized per (applicationId, sf_dir, lineitem fingerprint).
    Before round 9 each graph query rebuilt this identically —
    SCALING.md's 10× legs measured the edge build as the dominant
    cost of both pagerank and BFS, so sharing it once per session is
    the single biggest graph-family win. Keyed on applicationId (not
    the session object) so the driver's per-query newSession() clones
    share it — checkpointed RDDs belong to the SparkContext, which
    all sessions of one app share (the _topk_cache precedent);
    fingerprint-keyed so a regenerated dataset is never served
    stale. Pair space is Σ(basket choose 2), bounded by basket size,
    never |parts|²."""
    from linux_logs_spark.catalog import dataset_fingerprint, table_path
    import os as _os

    key = (
        spark.sparkContext.applicationId,
        _os.path.normpath(sf_dir),
        dataset_fingerprint(table_path(sf_dir, "lineitem")),
    )
    # No liveness probe needed (round-9 review): the key's
    # applicationId changes whenever the context restarts, so a dead
    # context can never produce a cache hit.
    df = _COPURCHASE_CACHE.get(key)
    if df is not None:
        return df
    # spread_ingest: the distinct's map-side partial dedup otherwise
    # hashes every lineitem row in the single-row-group scan's ONE
    # task (6M rows at the 10× rehearsal) — spread the 2-column
    # projection first; the distinct's own exchange follows anyway.
    li = (
        spread_ingest(
            load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
            table_row_count(sf_dir, "lineitem"),
        )
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    counts = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .localCheckpoint(eager=True)
    )
    for old in [k for k in _COPURCHASE_CACHE if k != key]:
        _COPURCHASE_CACHE.pop(old, None)
    _COPURCHASE_CACHE[key] = counts
    return counts


@register(
    "part_copurchase",
    "warehouse",
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
FROM pairs
GROUP BY part_a, part_b
HAVING count(*) >= 2
""",
)
def part_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in ≥2 of the
    same orders. The pair space is generated by a self-equi-join ON
    THE ORDER KEY, so it is Σ(items-per-order choose 2) — bounded by
    the basket size (~7 items here), never |parts|² — the same
    blocked-pair-generation principle as the dedup banding joins.
    distinct first so duplicate part lines in one order don't inflate
    pair counts; the count aggregate runs map-side partial on the
    (part_a, part_b) key. The pair-count frame itself comes from the
    session-shared _copurchase_counts build (round 9)."""
    return _copurchase_counts(spark, sf_dir).filter(F.col("n_orders") >= 2)


@register(
    "emb_quantize_int8",
    "llm",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
q AS (
  SELECT vec_id, dv,
         list_max(list_transform(dv, x -> abs(x))) / 127 AS scale
  FROM v
)
SELECT vec_id,
       round(scale, 9) AS scale,
       round(list_max(list_transform(dv,
             x -> abs(round(x / scale) * scale - x))), 9) AS max_abs_err,
       round(list_sum(list_transform(dv,
             x -> abs(round(x / scale) * scale - x))) / 64, 9) AS mean_abs_err
FROM q
""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization accounting — the
    compression step an ANN serving tier runs before shipping vectors
    (4× smaller than float32, 8× than float64): per-vector scale =
    max|x|/127, q = round(x/scale), and the reconstruction-error stats
    (max / mean absolute error) that decide whether int8 is safe for
    the retrieval threshold in use.

    Scale shape: pure map-side over the embedding scan — zero
    shuffles, one pass, whole-stage codegen (unrolled per-element
    expressions like the cosine family; the scale factor is computed
    in its OWN projection so Catalyst's CollapseProject keeps it a
    single codegen local instead of inlining the 64-term max into all
    128 downstream uses). Error sums use the left-assoc fold that
    matches DuckDB's list_sum accumulation (vector.py — a bare `+`
    chain in SQL parses left-associative), so the oracle hash-matches
    under round-9. The projections are built as SQL STRINGS, not
    Column objects: the Column form made ~1300 py4j round-trips and
    plan CONSTRUCTION took 0.9 s warm vs 0.14 s execution (measured,
    round 6); selectExpr ships two strings and Catalyst parses
    JVM-side. Unit-norm input ⇒ scale > 0; an all-zero vector would
    yield scale 0 and IEEE Inf/NaN — acceptable for an accounting
    query, and impossible on this table."""
    e = load(spark, sf_dir, "embeddings")
    el = [f"cast(embedding[{i}] as double)" for i in range(64)]
    scale = "greatest(" + ", ".join(f"abs({x})" for x in el) + ") / 127.0"
    errs = [f"abs(round({x} / scale, 0) * scale - {x})" for x in el]
    return e.selectExpr("vec_id", "embedding", f"({scale}) AS scale").selectExpr(
        "vec_id",
        "round(scale, 9) AS scale",
        "round(greatest(" + ", ".join(errs) + "), 9) AS max_abs_err",
        "round((" + " + ".join(errs) + ") / 64.0, 9) AS mean_abs_err",
    )


@register(
    "tpch_q8",
    "warehouse",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {oracle_dsum("CASE WHEN n2.n_name = 'NATION_7' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)}
         / {oracle_dsum("l_extendedprice * (1 - l_discount)", 4)} AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
""",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 shape, adapted to the reduced
    schema): NATION_7's share of ECONOMY-part revenue sold into ASIA
    customers, per order year.

    Scale shape: the deepest join star in the suite — six dims around
    the lineitem fact, which is shuffled exactly once for the per-year
    aggregate. Only the fixed-size dims (two nation roles, region)
    broadcast unconditionally; part, supplier, orders and customer
    are all corpus-proportional (FIXTURES.md) and join without hints,
    so the broadcast threshold and AQE size each of those joins and
    past the threshold they shuffle on their keys instead of OOMing
    an executor. Share = DECIMAL-accumulated
    conditional volume ÷ DECIMAL-accumulated total volume, divided
    once in double — bit-identical to the oracle's formulation (both
    sums exact, one IEEE division)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load(spark, sf_dir, "supplier")
    orders_all = load(spark, sf_dir, "orders")
    o = orders_all.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(F.lit(0))
    return (
        base.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (dsum(nation_vol, 4) / dsum(vol, 4)).alias("mkt_share"),
        )
    )


@register(
    "tpch_q13",
    "warehouse",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 shape; the classic
    o_comment NOT LIKE filter is dropped — the reduced schema carries
    no comment column — leaving the structural heart: a LEFT join that
    must preserve zero-order customers, a per-customer count, and a
    distribution over counts).

    Scale shape: customer ⟕ orders shuffles both sides on custkey
    (both corpus-sized — no broadcast), the per-customer count reuses
    that exchange's partitioning, and the second aggregate shuffles
    only |distinct counts| rows. count(o_orderkey) (not count(*))
    yields 0 for unmatched customers — the LEFT-join semantics the
    query exists to exercise."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q17",
    "warehouse",
    oracle=f"""
WITH pa AS (
  SELECT l_partkey AS a_partkey,
         0.2 * ({oracle_davg('l_quantity', 2)}) AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT {oracle_dsum('l_extendedprice', 2)} / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa   ON a_partkey = l_partkey
WHERE p_brand = 'Brand#13' AND l_quantity < qty_threshold
""",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (TPC-H Q17 shape, brand-adapted:
    no p_container in the reduced schema): revenue of Brand#13 line
    items whose quantity is below 20% of that part's average — the
    classic correlated scalar subquery, decorrelated into an
    aggregate-join.

    Scale shape (the classic hand-optimized Q17):
    Catalyst cannot push a join-derived IN-set into an aggregate, so
    the per-part average's input is EXPLICITLY semi-joined with the
    brand partkey set BEFORE groupBy(l_partkey) — the aggregate then
    shuffles only ~1/|brands| of lineitem instead of the full table.
    Results are identical: the oracle's pa rows for non-brand parts
    were dropped by its own downstream partkey join anyway. part is
    corpus-proportional (FIXTURES.md), so the broadcast threshold and
    AQE size both of its joins. The final 1-row aggregate is a
    partial+final; DECIMAL accumulation on both the threshold average
    and the revenue sum keeps the single double division (÷ 7.0)
    bit-identical to the oracle."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    keys = p.select("p_partkey")
    pa = (
        li.join(keys, li.l_partkey == keys.p_partkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg((F.lit(0.2) * davg("l_quantity", 2)).alias("qty_threshold"))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pa, F.col("a_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum("l_extendedprice", 2) / F.lit(7.0)).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# graph_pagerank — fixed-horizon PageRank over the co-purchase graph
# --------------------------------------------------------------------------

PR_ITERS = 6  # fixed power-iteration horizon, replayed exactly by the oracle
PR_DAMP = 0.85


def _pr_round6(x: float) -> float:
    """Python twin of round6_away_sql (binary half away from zero)."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6


def _pr_oracle() -> str:
    """Unrolled PR_ITERS-step chained-CTE replay. No recursion needed:
    the horizon is fixed, so each iteration is a plain join+group-by
    CTE — portable SQL that any engine (DuckDB here) runs verbatim.
    Built as an f-string over PR_ITERS/PR_DAMP so retuning the engine
    knobs can never desync the oracle (round-6 advice pattern)."""
    r6 = round6_away_sql
    steps = []
    for k in range(1, PR_ITERS + 1):
        contrib = r6("r.rank / e.deg")
        total = r6(
            f"tc.t + {PR_DAMP} * "
            f"CAST(SUM(CAST({contrib} AS DECIMAL(25,6))) AS DOUBLE)"
        )
        steps.append(
            f"r{k} AS (\n"
            f"  SELECT e.dst AS node, {total} AS rank\n"
            f"  FROM ed e JOIN r{k - 1} r ON e.src = r.node CROSS JOIN tc\n"
            f"  GROUP BY e.dst, tc.t\n)"
        )
    chain = ",\n".join(steps)
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT DISTINCT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT part_a AS src, part_b AS dst FROM pairs
  UNION ALL
  SELECT part_b AS src, part_a AS dst FROM pairs
), deg AS (
  SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src
), ed AS (
  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src
), nn AS (SELECT count(*) AS n FROM deg),
tc AS (SELECT {r6("0.15 / CAST(n AS DOUBLE)")} AS t FROM nn),
r0 AS (
  SELECT src AS node, {r6("1.0 / CAST(nn.n AS DOUBLE)")} AS rank
  FROM deg CROSS JOIN nn
),
{chain}
SELECT node AS l_partkey, rank AS pagerank FROM r{PR_ITERS}
"""


@register("graph_pagerank", "warehouse", oracle=_pr_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts are linked when
    they appear in the same order), power-iterated for a FIXED
    PR_ITERS horizon — the iterative-graph-algorithm counterpart to
    dedup_clusters_cc's label propagation, and the demonstration that
    an iterative numeric algorithm can still carry a full hash oracle
    (unlike emb_pca_power's data-dependent convergence, a fixed
    horizon is exactly replayable as unrolled chained CTEs).

    Scale shape: the edge list is generated by part_copurchase's
    self-equi-join ON THE ORDER KEY — Σ(basket choose 2), bounded by
    basket size, never |parts|². Each iteration is one shuffle on the
    node key (contribution sum); rank state is O(|V|). The edge table
    appears PR_ITERS times in the final plan, so it alone is
    localCheckpoint'd (else the self-join re-executes per iteration);
    the rank chain itself stays LAZY — the horizon is fixed and small,
    so lineage is bounded by construction and the whole power method
    runs as ONE job of chained shuffles instead of PR_ITERS eager
    barrier jobs (same-session A/B at sf0.01: lazy 2.8 s vs eager
    checkpoints 7.6 s per power-method run). At horizons where
    bounded-by-construction stops being small, checkpoint every k
    rounds — dedup_clusters_cc shows that form. Driver traffic is a
    single 1-row node count.

    Float parity (the text_perplexity pattern): per-edge contributions
    rank/deg are round6'd THEN summed in DECIMAL(25,6) — exact,
    order-independent — and the damped update re-rounds, so every
    iteration is bit-identical cross-engine; the teleport constant is
    computed by the same IEEE ops (0.15/n, round6) in both.
    The pair set comes from the session-shared, checkpointed
    _copurchase_counts build (round 9 — the edge build dominated the
    measured wall of every graph query; now it runs once per
    session)."""
    pairs = _copurchase_counts(spark, sf_dir).select("part_a", "part_b")
    # symmetrize in ONE pass over pairs (a union of two selects would
    # embed — and execute — the pair self-join twice in ed's plan)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("part_a").alias("src"), F.col("part_b").alias("dst")
                ),
                F.struct(
                    F.col("part_b").alias("src"), F.col("part_a").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # Checkpoint lifecycle: ed is reused every iteration and must
    # outlive the returned lazy plan (cust_rfm_segments note applies —
    # freed by ContextCleaner once the caller drops the result).
    # deg is checkpointed FIRST and doubles as the vertex frame: it is
    # one row per src by construction, so the node count and the rank
    # seed read |V| rows instead of re-aggregating the |E|-row ed
    # (round-14: the old shape ran distinct-over-edges twice — once
    # eagerly for n_nodes, once inside the lazy chain for the seed;
    # both collapse into deg's single groupBy, guide §2.4). Safe to
    # execute deg's plan standalone since round 9: the pair self-join
    # behind it is the session-shared _copurchase_counts checkpoint.
    deg = (
        edges.groupBy("src")
        .agg(F.count("*").cast("double").alias("deg"))
        .localCheckpoint(eager=True)
    )
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    n_nodes = deg.count()
    if n_nodes == 0:  # degenerate scale factor: no co-purchased pairs
        return spark.createDataFrame([], "l_partkey bigint, pagerank double")
    t = _pr_round6(0.15 / n_nodes)
    r = deg.select(
        F.col("src").alias("node"),
        F.lit(_pr_round6(1.0 / n_nodes)).alias("rank"),
    )
    contrib_sql = f"CAST({round6_away_sql('rank / deg')} AS DECIMAL(25,6))"
    # In the symmetrized graph every node has deg >= 1, so every node
    # receives >= 1 contribution each round: the node set is closed
    # under iteration in both engines (no left-join / dangling mass).
    rank_sql = round6_away_sql(f"{t!r} + {PR_DAMP} * CAST(s AS DOUBLE)")
    for _ in range(PR_ITERS):
        # no explicit broadcast hint: the rank state is |V| rows and
        # AQE promotes it to a runtime broadcast join when it fits
        # (keeping ed unshuffled); a static hint here would force one
        # sequential broadcast-materialization barrier per iteration
        # (measured slower at sf0.01 — AQE's lazy chain wins)
        r = (
            ed.join(r, F.col("src") == F.col("node"))
            .selectExpr("dst", f"{contrib_sql} AS c")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .selectExpr("dst AS node", f"{rank_sql} AS rank")
        )
    return r.select(F.col("node").alias("l_partkey"), F.col("rank").alias("pagerank"))


# Degree-orientation key spread: ok = deg * _TRI_SPREAD + node packs
# (degree, node_id) into ONE sortable BIGINT. Valid while node ids
# stay below the spread (partkeys: 2e4 at sf0.1, 2e7 at sf≈100;
# 1e9 leaves the product < 2^63 up to degree ~9e9).
_TRI_SPREAD = 1_000_000_000


def _tri_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-oriented (src, dst, ok_src, ok_dst) edge frame —
    graph_triangle_count's deterministic build prefix (n_orders ≥ 2
    filter, degree aggregate, two degree joins over the full edge
    set), checkpointed and memoized per (applicationId, sf_dir,
    lineitem fingerprint) exactly like _copurchase_counts. Rebuilt
    per call it was the 2.5 GB-shuffle share of the 100× rehearsal's
    64.1 s triangle leg; the wedge+close joins that remain per call
    are the actual enumeration. Same staleness/liveness rules as
    _COPURCHASE_CACHE (fingerprint-keyed, applicationId rotates with
    the context)."""
    from linux_logs_spark.catalog import dataset_fingerprint, table_path
    import os as _os

    key = (
        spark.sparkContext.applicationId,
        _os.path.normpath(sf_dir),
        dataset_fingerprint(table_path(sf_dir, "lineitem")),
    )
    df = _TRI_ORIENTED_CACHE.get(key)
    if df is not None:
        return df
    edges = (
        _copurchase_counts(spark, sf_dir)
        .filter(F.col("n_orders") >= 2)
        .select(F.col("part_a").alias("pa"), F.col("part_b").alias("pb"))
    )
    deg = (
        edges.select(F.col("pa").alias("p"))
        .unionAll(edges.select(F.col("pb").alias("p")))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    oka = F.col("da.d") * _TRI_SPREAD + F.col("pa")
    okb = F.col("db.d") * _TRI_SPREAD + F.col("pb")
    oriented = (
        edges.join(da, F.col("pa") == F.col("da.p"))
        .join(db, F.col("pb") == F.col("db.p"))
        .select(
            F.when(oka < okb, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(oka < okb, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
            F.least(oka, okb).alias("ok_src"),
            F.greatest(oka, okb).alias("ok_dst"),
        )
        # materialize once: the wedge pass reads it twice and the
        # close a third time — without the checkpoint the basket
        # self-join + degree joins would re-execute per reference
        .localCheckpoint(eager=True)
    )
    for old in [k for k in _TRI_ORIENTED_CACHE if k != key]:
        _TRI_ORIENTED_CACHE.pop(old, None)
    _TRI_ORIENTED_CACHE[key] = oriented
    return oriented


@register(
    "graph_triangle_count",
    "warehouse",
    oracle=f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), edges AS (
  SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2
), deg AS (
  SELECT p, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT pa AS p FROM edges UNION ALL SELECT pb FROM edges)
  GROUP BY p
), oriented AS (
  SELECT CASE WHEN da.d * {_TRI_SPREAD} + e.pa < db.d * {_TRI_SPREAD} + e.pb
              THEN e.pa ELSE e.pb END AS src,
         CASE WHEN da.d * {_TRI_SPREAD} + e.pa < db.d * {_TRI_SPREAD} + e.pb
              THEN e.pb ELSE e.pa END AS dst,
         least(da.d * {_TRI_SPREAD} + e.pa,
               db.d * {_TRI_SPREAD} + e.pb) AS ok_src,
         greatest(da.d * {_TRI_SPREAD} + e.pa,
                  db.d * {_TRI_SPREAD} + e.pb) AS ok_dst
  FROM edges e JOIN deg da ON e.pa = da.p JOIN deg db ON e.pb = db.p
), tri AS (
  SELECT x.src AS u, x.dst AS v, y.dst AS w
  FROM oriented x
  JOIN oriented y ON x.src = y.src AND x.ok_dst < y.ok_dst
  JOIN oriented z ON z.src = x.dst AND z.dst = y.dst
)
SELECT least(u, v, w) AS p1,
       u + v + w - least(u, v, w) - greatest(u, v, w) AS p2,
       greatest(u, v, w) AS p3
FROM tri
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the co-purchase graph (the clustering
    /community primitive next to graph_pagerank) with DEGREE
    ORIENTATION — the detail that decides whether triangle counting
    survives a skewed 100 TB graph: orienting every edge from its
    lower-(degree, id) endpoint to the higher one makes each wedge
    enumeration pass generate Σ out_deg(u)² pairs with out-degrees
    capped at O(√m), so total work is O(m^1.5) regardless of hub
    nodes — the naive id-orientation instead explodes on any hub
    (one degree-d node yields d²/2 wedges). Every step is an
    equi-join + integer comparison: edges from the bounded
    basket-pair join (the session-shared _copurchase_counts build),
    degrees one hash aggregate — both folded into the session-shared
    _tri_oriented frame since round 11 — wedges a self-equi-join on
    the oriented source, the close a semi-shaped equi-join on (v, w).
    All-integer arithmetic → exact cross-engine; output triangles
    canonicalized p1<p2<p3."""
    oriented = _tri_oriented(spark, sf_dir)
    x, y, z = oriented.alias("x"), oriented.alias("y"), oriented.alias("z")
    tri = (
        x.join(
            y,
            (F.col("x.src") == F.col("y.src"))
            & (F.col("x.ok_dst") < F.col("y.ok_dst")),
        )
        .join(
            z,
            (F.col("z.src") == F.col("x.dst")) & (F.col("z.dst") == F.col("y.dst")),
        )
        .select(
            F.col("x.src").alias("u"),
            F.col("x.dst").alias("v"),
            F.col("y.dst").alias("w"),
        )
    )
    lo = F.least("u", "v", "w")
    hi = F.greatest("u", "v", "w")
    return tri.select(
        lo.alias("p1"),
        (F.col("u") + F.col("v") + F.col("w") - lo - hi).alias("p2"),
        hi.alias("p3"),
    )


# Multi-source BFS knobs: hop horizon + the source-set residue rule
# (nodes with partkey ≡ 0 mod BFS_SRC_MOD seed at distance 0). Fixed
# horizon for the same reason as PR_ITERS: it makes the iteration
# exactly replayable as unrolled CTEs.
BFS_ITERS = 4
BFS_SRC_MOD = 50


def _bfs_oracle() -> str:
    """Unrolled BFS_ITERS-step relaxation replay (the graph_pagerank
    oracle pattern): d_{k+1}(v) = min(d_k(v), min over edges u→v of
    d_k(u)+1). All-integer, so no rounding convention is needed at
    all — the strongest parity class."""
    steps = []
    for k in range(1, BFS_ITERS + 1):
        steps.append(
            f"d{k} AS (\n"
            f"  SELECT node, min(dist) AS dist FROM (\n"
            f"    SELECT node, dist FROM d{k - 1}\n"
            f"    UNION ALL\n"
            f"    SELECT e.dst AS node, r.dist + 1 AS dist\n"
            f"    FROM ed e JOIN d{k - 1} r ON e.src = r.node\n"
            f"  ) GROUP BY node\n)"
        )
    chain = ",\n".join(steps)
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT DISTINCT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), ed AS (
  SELECT part_a AS src, part_b AS dst FROM pairs
  UNION ALL
  SELECT part_b AS src, part_a AS dst FROM pairs
), d0 AS (
  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM ed
  WHERE src % {BFS_SRC_MOD} = 0
),
{chain}
SELECT node AS l_partkey, dist AS n_hops FROM d{BFS_ITERS}
"""


@register("graph_shortest_path", "warehouse", oracle=_bfs_oracle())
def graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the part co-purchase graph
    (which parts sit within k recommendation hops of the seeded
    catalog set) — the unweighted-shortest-path member of the graph
    family, alongside PageRank (numeric power method), triangle count
    (structural), and dedup_clusters_cc (component labels).

    Scale shape: edges come from the order-key self-equi-join
    (Σ(basket choose 2), never |parts|²) and are localCheckpoint'd
    once — the frame appears in all BFS_ITERS iterations, the
    graph_pagerank lifecycle rule. The iteration is FRONTIER-DELTA
    BFS (dedup_clusters_cc's delta discipline, not naive relaxation):
    each round joins edges against only the nodes settled LAST round,
    then anti-joins the settled set to keep the genuinely new ones —
    on a dense graph the frontier collapses after saturation and late
    rounds cost ~nothing, where the relaxation form would re-shuffle
    every settled node every round (measured at sf0.1: relaxation
    15.8 s → frontier 7.0 s Spark-side for the same result). Each
    round's frontier is localCheckpoint'd: the next round's settled
    set references every prior frontier, so without the cut the
    settled plan re-nests per round (the lazy-chain rule inverts here
    — pagerank's state is referenced once per round, BFS's twice).
    Frontiers are small (≤ |V|) so the per-round cut is cheap.
    The oracle replays the same distances as unrolled min-relaxation
    CTEs (frontier BFS and relaxation compute the identical hop
    function). All-integer distances: no float convention anywhere.
    The pair set comes from the session-shared _copurchase_counts
    build (round 9)."""
    pairs = _copurchase_counts(spark, sf_dir).select("part_a", "part_b")
    # symmetrize in one pass (graph_pagerank's explode form — a union
    # of two selects would execute the pair self-join twice)
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("part_a").alias("src"), F.col("part_b").alias("dst")),
                F.struct(F.col("part_b").alias("src"), F.col("part_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    ed = edges.localCheckpoint(eager=True)
    frontier = (
        ed.filter(F.col("src") % BFS_SRC_MOD == 0)
        .select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(0).cast("long").alias("dist"))
        .localCheckpoint(eager=True)
    )
    layers = [frontier]
    for k in range(1, BFS_ITERS + 1):
        reached = (
            ed.join(frontier.select("node"), ed.src == F.col("node"))
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        settled = layers[0]
        for layer in layers[1:]:
            settled = settled.unionByName(layer)
        frontier = (
            reached.join(settled.select("node"), "node", "left_anti")
            .select("node", F.lit(k).cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
        layers.append(frontier)
    out = layers[0]
    for layer in layers[1:]:
        out = out.unionByName(layer)
    return out.select(F.col("node").alias("l_partkey"), F.col("dist").alias("n_hops"))


# K-means knobs: K centroids, ITERS Lloyd updates, components
# quantized to integers at KM_SCALE so every distance and every
# centroid mean is EXACT integer/float-exact arithmetic cross-engine
# (the emb_quantize_int8 principle applied to make an iterative ML
# algorithm hash-oracle-able; sums stay < 2^53 by construction:
# |q| <= KM_SCALE, so even 10^9 members keep a component sum < 10^12).
KM_K = 8
KM_ITERS = 3
KM_SCALE = 1000
_KM_DIM = 64


def _km_q_exprs(col: str, one_based: bool) -> list[str]:
    """The 64 quantization expressions: qi = floor(double(v[i]) * SCALE).
    floor of an exact double product is bit-identical cross-engine."""
    off = 1 if one_based else 0
    return [
        f"CAST(floor(CAST({col}[{i + off}] AS DOUBLE) * {KM_SCALE}.0) AS BIGINT)"
        f" AS q{i}"
        for i in range(_KM_DIM)
    ]


def _km_chain_sql(
    iters: int, k_sql: str = str(KM_K), extra_cte: str = ""
) -> list[str]:
    """The oracle-side WITH-chain for `iters` Lloyd updates: q =
    quantized vectors (+ raw embedding, harmless to kmeans, needed by
    the semantic-dedup pair join), c0 = first-K seed, then per
    iteration an assignment CTE (cross join the K-row centroid CTE,
    min over the packed dist·K+k key) and an update CTE (per-cluster
    integer mean with empty-cluster carry-over via LEFT JOIN). The
    caller appends its own final assignment over c{iters}.

    `k_sql` is the SQL expression for K — a literal for the fixed-K
    kmeans showcase, or a scalar subquery over a caller-supplied
    `extra_cte` (the SemDeDup K∝n sizing rule, which must be computed
    FROM THE DATA so the one oracle string stays correct at every
    scale factor the driver runs it at)."""
    qcols = ", ".join(f"q{i}" for i in range(_KM_DIM))
    dist = " + ".join(f"(q.q{i} - c.q{i}) * (q.q{i} - c.q{i})" for i in range(_KM_DIM))
    upd = ", ".join(
        f"CAST(floor(sum(q.q{i}) / count(*)) AS BIGINT) AS q{i}"
        for i in range(_KM_DIM)
    )
    carry = ", ".join(f"coalesce(u.q{i}, p.q{i}) AS q{i}" for i in range(_KM_DIM))
    sql = [
        f"WITH {extra_cte}q AS (SELECT vec_id, embedding, "
        + ", ".join(_km_q_exprs("embedding", one_based=True))
        + " FROM embeddings)",
        f", c0 AS (SELECT vec_id AS k, {qcols} FROM q WHERE vec_id < {k_sql})",
    ]
    for it in range(1, iters + 1):
        sql.append(
            f", a{it} AS (SELECT q.vec_id, min(({dist}) * {k_sql} + c.k) AS key"
            f" FROM q CROSS JOIN c{it - 1} c GROUP BY q.vec_id)"
        )
        sql.append(
            f", u{it} AS (SELECT a.key % {k_sql} AS k, {upd}"
            f" FROM q JOIN a{it} a ON q.vec_id = a.vec_id GROUP BY a.key % {k_sql})"
        )
        sql.append(
            f", c{it} AS (SELECT p.k, {carry}"
            f" FROM c{it - 1} p LEFT JOIN u{it} u ON p.k = u.k)"
        )
    return sql


def _km_oracle() -> str:
    """Unrolled-CTE Lloyd replay (the graph_pagerank fixed-horizon
    pattern) over the shared _km_chain_sql; final stats from the
    last assignment."""
    dist = " + ".join(f"(q.q{i} - c.q{i}) * (q.q{i} - c.q{i})" for i in range(_KM_DIM))
    sql = _km_chain_sql(KM_ITERS)
    final = KM_ITERS + 1
    sql.append(
        f", a{final} AS (SELECT q.vec_id, min(({dist}) * {KM_K} + c.k) AS key"
        f" FROM q CROSS JOIN c{KM_ITERS} c GROUP BY q.vec_id)"
    )
    sql.append(
        f"SELECT key % {KM_K} AS cluster,"
        f" CAST(count(*) AS BIGINT) AS n_members,"
        f" CAST(sum(key // {KM_K}) AS BIGINT) AS ssd"
        f" FROM a{final} GROUP BY key % {KM_K}"
    )
    return "\n".join(sql)


@register("emb_kmeans_lloyd", "llm", oracle=_km_oracle())
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding corpus — the
    clustering step of corpus curation (topic balancing, dedup-aware
    sampling, IVF index training: sim_ann_ivf's closed-form cells are
    exactly what this replaces with LEARNED cells). Made hash-
    oracle-able by integer quantization (KM_SCALE): distances, packed
    argmin keys and centroid means are all exact integer/exact-double
    ops, so a DuckDB unrolled-CTE replay matches bit-for-bit — the
    graph_pagerank pattern extended from linear algebra to an
    iterative ML training loop.

    Scale shape: the quantized frame is checkpointed ONCE and reused
    every iteration (the pagerank static-frame rule). Per iteration:
    assignment is a pure map — centroids are collected to the driver
    (K×dim ints, the bounded-collect class: 16 IVF centroids, 1-row
    BPE argmax) and baked as LITERALS into one least()-packed
    codegen'd projection, so there is NO join and NO shuffle in
    assignment; the update is one hash aggregate (64 map-side partial
    sums on an 8-valued key). Driver traffic per iteration = K rows.
    At 100 TB: ITERS scans of the quantized corpus, each one
    projection + one tiny aggregate — the textbook distributed
    k-means plan. Empty clusters carry the previous centroid (both
    engines, same rule).

    Assignment runs on the ARRAY-quantized frame via _km_train_array
    (centroids as a literal array-of-arrays under one
    array_min(transform(...)) — data, not code): identical integer
    math to the unrolled least() form, but the expression is O(1) in
    codegen terms, which dropped the measured cost from 8.7 s to the
    compile-free level (round-9; the unrolled form spent most of its
    wall in janino compiling 4 × K×dim-term projections) and is the
    same form that lets dedup_semantic_cluster grow K with n."""
    emb = load(spark, sf_dir, "embeddings")
    # Repartition BEFORE the checkpoint: the checkpointed frame
    # inherits the source parquet's few partitions, and every
    # trainer/assignment scan (80 centroids × 64 dims of higher-order
    # fold per row) would run on that handful of cores — measured at
    # the 10× rehearsal: train 26 s + assign 10 s on 2 partitions vs
    # ~2 s spread (the same fix dedup_semantic_cluster's pair probe
    # documents). Partition count scales with the row count
    # (scaled_partitions — the 60M leg's 1 GB fixed-count partitions
    # starved the trainer agg's first page, see session.py).
    qa = (
        emb.selectExpr("vec_id", *_km_q_exprs("embedding", one_based=False))
        .selectExpr(
            "vec_id",
            "array(" + ", ".join(f"q{i}" for i in range(_KM_DIM)) + ") AS qa",
        )
        .repartition(scaled_partitions(table_row_count(sf_dir, "embeddings")))
        .localCheckpoint()  # static frame, reused every iteration
    )

    cents, key_sql = _km_train_array(qa, KM_ITERS, KM_K)

    final = _km_assign(qa, cents, key_sql, KM_K).select("vec_id", "key")
    return final.groupBy((F.col("key") % KM_K).alias("cluster")).agg(
        F.count("*").alias("n_members"),
        F.sum(F.expr(f"key DIV {KM_K}")).alias("ssd"),
    )


# SemDeDup knobs: coarse-cluster with SEMDEDUP_ITERS Lloyd updates
# (cluster QUALITY barely moves the dedup result — candidates only
# need to land in the same cell), then exact cosine within cells.
# The threshold matches dedup_embedding_cosine's 0.35 so the recall
# test can compare against the oracle-verified exact pair set.
# K follows the paper's sizing rule K ∝ n (cells stay ~TARGET_CELL
# rows as the corpus grows, so pair volume Σ|cell|² ≈ n·TARGET_CELL
# stays LINEAR in n instead of the n²/K curve a fixed K measures —
# the round-8 rehearsal's 23×-at-10× finding). K is derived from the
# parquet footer row count (zero jobs) on the Spark side and from
# count(*) in the oracle, so both engines compute the same K at any
# scale factor from the data alone.
SEMDEDUP_ITERS = 1
SEMDEDUP_THRESHOLD = 0.35
SEMDEDUP_TARGET_CELL_ROWS = 250


# Query-side chunk for the per-cell verification GEMM — bounds task
# memory on a hot cell; module-level so tests can shrink it and
# exercise the boundary arithmetic (normal cells never exceed one).
_CELL_GEMM_CHUNK = 2048


def _semdedup_k(n_vecs: int) -> int:
    """Cell count: max(KM_K, n // TARGET) — never below the kmeans
    floor, grows linearly with the corpus; Python // and DuckDB //
    agree (floor) on the non-negative ints involved."""
    return max(KM_K, n_vecs // SEMDEDUP_TARGET_CELL_ROWS)


# Above this K the Lloyd assignment runs as a numpy GEMM in a pandas
# UDF instead of the interpreted array_min(transform(...)) fold: the
# HOF evaluates K×dim interpreted ops PER ROW, which the 100×
# rehearsal measured as the n·K quadratic term of dedup_semantic_cluster
# under its K∝n rule (19.7× second decade). The GEMM computes the same
# packed integer keys (|q|² - 2q·Cᵀ + |c|², same wrap semantics, same
# dist·K+j tie-break) at C speed — in FLOAT64 BLAS, which is EXACT
# here, not approximate: quantized coords are bounded by KM_SCALE, so
# every distance ≤ dim·(2·KM_SCALE)² = 2.56e8 < 2⁲⁸ and every packed
# key d·K+j stays below 2⁵³ for any K < ~3.4e7 cells (guarded below) —
# all intermediates are integral doubles, so the BLAS result is
# bit-identical to integer arithmetic. Round-12: the previous int64
# matmul bypassed BLAS (numpy has no integer GEMM kernel) and ran the
# 2M-vector × K=8000 assignment ~100× slower than the float path —
# it, not the pair verify, had become dedup_semantic_cluster's
# third-decade wall. The centroids reach the workers via ONE bounded
# collect of the K-row frame per assignment (K×dim longs — 410 KB at
# K=800, 512 MB at K=10⁶, the documented ceiling) carried in the UDF
# closure: plan text stays O(1) in K, preserving the round-10
# de-driver invariant; only the per-iteration zero-collect property is
# traded, explicitly, for the n·K constant. Below the gate the
# verified HOF join path is unchanged (every oracle-checked scale
# factor runs there: K=8 kmeans, K≤80 SemDeDup at sf≤0.1).
# tests/test_kmeans_gemm.py pins GEMM ≡ HOF keys.
_KM_GEMM_MIN_K = 128


def _km_assign(qa, cents, key_sql: str, k: int):
    """(vec_id, qa, key) assignment against the 1-row packed centroid
    frame — broadcast-join + HOF argmin below _KM_GEMM_MIN_K, numpy
    int64 GEMM above it. Both produce identical packed keys."""
    cols = ["vec_id", "qa"]
    if k < _KM_GEMM_MIN_K:
        return qa.join(F.broadcast(cents)).selectExpr(
            *cols, f"({key_sql}) AS key"
        )
    import numpy as np
    import pandas as pd

    c_np = np.array(cents.collect()[0]["cents"], dtype=np.int64)  # K×dim
    if c_np.shape != (k, _KM_DIM):
        # Fewer than K distinct vectors: pack() yields a short centroid
        # array. The HOF path degrades gracefully to fewer clusters, so
        # a K >= _KM_GEMM_MIN_K run against a tiny corpus should not
        # die on an opaque shape assert (round-10 advice) — name the
        # mismatch and take the verified join path instead.
        if c_np.ndim == 2 and c_np.shape[0] < k and c_np.shape[1] == _KM_DIM:
            return qa.join(F.broadcast(cents)).selectExpr(
                *cols, f"({key_sql}) AS key"
            )
        raise ValueError(
            f"_km_assign: expected a {k}x{_KM_DIM} centroid pack, got "
            f"shape {c_np.shape} — centroid frame and K have diverged"
        )
    # float64 exactness precondition (see _KM_GEMM_MIN_K comment):
    # coords bounded by KM_SCALE and d·K+j < 2^53. Both hold by
    # construction at every real scale; guard so a future KM_SCALE/K
    # change cannot silently turn the BLAS path approximate.
    if np.abs(c_np).max(initial=0) > KM_SCALE or (
        _KM_DIM * (2 * KM_SCALE) ** 2 + 1
    ) * k >= 2**53:
        raise ValueError(
            f"_km_assign: K={k} / KM_SCALE={KM_SCALE} exceed the exact-"
            "float64 packed-key bound — re-derive the GEMM dtype"
        )
    c_t = np.ascontiguousarray(c_np.T.astype(np.float64))  # dim×K
    c_sq = (c_np.astype(np.float64) ** 2).sum(axis=1)  # |c_j|², K
    j_f = np.arange(k, dtype=np.float64)
    # Chunked with ONE reused buffer and in-place ops: a monolithic
    # B×K distance matrix (640 MB at B=10k, K=8000) re-faults fresh
    # pages on every allocation, which this host serves ~5× slower
    # than the arithmetic itself (measured round-12: 10.5 s vs 2.0 s
    # per batch). The chunk buffer stays hot in cache/TLB across the
    # whole Arrow batch.
    _CH = 512

    def _gemm_key(qa_col):
        if qa_col.empty:
            return pd.Series([], dtype="int64")
        m = np.array(qa_col.tolist(), dtype=np.float64)  # B×dim
        out = np.empty(len(m), dtype=np.int64)
        buf = np.empty((min(_CH, len(m)), k))
        for lo in range(0, len(m), _CH):
            mc = m[lo : lo + _CH]
            b = buf[: len(mc)]
            np.matmul(mc, c_t, out=b)
            b *= -2.0
            b += (mc * mc).sum(axis=1)[:, None]
            b += c_sq[None, :]
            b *= float(k)  # packed key: dist·K + j, all integral doubles
            b += j_f[None, :]
            out[lo : lo + len(mc)] = b.min(axis=1)
        return pd.Series(out)

    gemm_key = F.pandas_udf(_gemm_key, "long")
    return qa.select(*cols, gemm_key("qa").alias("key"))


def _km_train_array(qa, iters: int, k: int):
    """DataFrame-train Lloyd centroids over an array-quantized frame
    (vec_id, qa: array<bigint>[64]) — shared by emb_kmeans_lloyd's
    full training and dedup_semantic_cluster's coarse clustering.

    Centroids live in a K-row DataFrame for the whole loop — the
    driver never sees them (round-9 verdict: the per-iteration K×dim
    collect + K-literal plan text grew linearly with corpus size
    under the K∝n SemDeDup rule). Per iteration: assignment
    broadcast-joins a ONE-ROW pack of the centroid frame
    (collect_list ordered by j) and takes the packed argmin key in
    one array_min(transform(cents, ...)) — the centroid payload is
    COLUMN DATA carried by the broadcast exchange, so the plan text
    and codegen size are O(1) in K (an unrolled least() form blows
    janino's 64 KB method limit past K≈16 — retired round 9; the
    K-literal array form made the plan text itself O(K·dim) —
    retired round 10); the update is a K-key hash aggregate
    (map-side partial sums) folded straight into the next centroid
    frame via a K-row left join — empty clusters coalesce to their
    previous centroid. Each iteration's centroid frame is
    localCheckpoint'ed (K rows, executor-resident) so lineage stays
    flat across iterations.

    key = dist²·K + j, so key % K is the cluster and key DIV K the
    squared distance. Component means floor-divide: Spark's `/` on
    bigints is double division and |s| < 2^53, so floor(s/n) is
    bit-identical to the oracle's SQL floor (and to the retired
    Python math.floor path).

    Returns (cents_one_row_df, key_sql): callers broadcast-join the
    one-row frame onto any (vec_id, qa) frame and select key_sql."""
    key_sql = (
        "array_min(transform(cents, (c, j) -> "
        "aggregate(zip_with(qa, c, (x, y) -> (x - y) * (x - y)),"
        f" 0L, (acc, v) -> acc + v)"
        f" * CAST({k} AS BIGINT) + j))"
    )

    def pack(cdf):
        # ONE row: cents = array of the K centroid arrays ordered by
        # cluster id (struct sort on the leading int field), so the
        # transform index j IS the cluster id.
        return cdf.agg(
            F.expr(
                "transform(array_sort(collect_list(struct(j, ca))), s -> s.ca)"
            ).alias("cents")
        )

    # init: centroid j = quantized vector with vec_id j (j < K) —
    # same seeding rule the oracle replays in SQL.
    c = (
        qa.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").cast("int").alias("j"), F.col("qa").alias("ca"))
        .localCheckpoint(eager=True)
    )

    for _ in range(iters):
        assigned = _km_assign(qa, pack(c), key_sql, k)
        upd = (
            assigned.groupBy((F.col("key") % k).cast("int").alias("j"))
            .agg(
                F.count("*").alias("n"),
                *[F.sum(F.col("qa")[i]).alias(f"s{i}") for i in range(_KM_DIM)],
            )
            .select(
                "j",
                F.array(
                    *[
                        F.floor(F.col(f"s{i}") / F.col("n"))
                        for i in range(_KM_DIM)
                    ]
                ).alias("ca_new"),
            )
        )
        c = (
            c.join(upd, "j", "left")
            .select("j", F.coalesce("ca_new", "ca").alias("ca"))
            .localCheckpoint(eager=True)
        )
    return pack(c).localCheckpoint(eager=True), key_sql


def _semdedup_oracle() -> str:
    """Lloyd chain (shared _km_chain_sql, K from the data via the kk
    CTE — _semdedup_k replayed in SQL) → final assignment → same-cell
    pairs with list_cosine_similarity, the dedup_embedding_cosine
    rounding convention."""
    dist = " + ".join(f"(q.q{i} - c.q{i}) * (q.q{i} - c.q{i})" for i in range(_KM_DIM))
    final = SEMDEDUP_ITERS + 1
    k_sql = "(SELECT kv FROM kk)"
    # mirrors _semdedup_k EXACTLY: DuckDB // is floor division
    kk_cte = (
        f"kk AS (SELECT GREATEST({KM_K}, count(*) // {SEMDEDUP_TARGET_CELL_ROWS})"
        " AS kv FROM embeddings), "
    )
    cos = (
        "round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[])), 6)"
    )
    sql = _km_chain_sql(SEMDEDUP_ITERS, k_sql=k_sql, extra_cte=kk_cte)
    sql.append(
        f", a{final} AS (SELECT q.vec_id, min(({dist}) * {k_sql} + c.k) AS key"
        f" FROM q CROSS JOIN c{SEMDEDUP_ITERS} c GROUP BY q.vec_id)"
    )
    sql.append(
        f", m AS (SELECT vec_id, key % {k_sql} AS coarse FROM a{final})"
    )
    sql.append(
        f"""
SELECT a.coarse AS cluster, a.vec_id AS doc_a, b.vec_id AS doc_b, {cos} AS sim
FROM m a JOIN m b
  ON a.coarse = b.coarse AND a.vec_id < b.vec_id
JOIN q ea ON a.vec_id = ea.vec_id
JOIN q eb ON b.vec_id = eb.vec_id
WHERE {cos} >= {SEMDEDUP_THRESHOLD}
"""
    )
    return "\n".join(sql)


@register("dedup_semantic_cluster", "llm", oracle=_semdedup_oracle())
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — SEMANTIC deduplication the way the published
    pipeline actually runs it at scale: coarse k-means clustering
    first, exact cosine only WITHIN clusters. The cluster equi-join
    cuts the pair space from n² to Σ|cell|² ≈ n²/K while keeping
    near-duplicates (they embed close together, so they land in the
    same cell almost surely); the price is cluster-boundary misses,
    and tests/test_ann_quality.py measures that recall against the
    oracle-verified exact pair set (dedup_embedding_cosine) instead
    of asserting it.

    Plan shape: one quantized-frame checkpoint (reused by the trainer
    and the final assignment), K = max(KM_K, n // TARGET_CELL) from
    the parquet FOOTER row count (the sizing rule, zero jobs),
    SEMDEDUP_ITERS Lloyd updates via _km_train_array (assignment =
    centroid-LITERAL-ARRAY argmin in one compact higher-order
    expression — data not code, so K can grow with n without blowing
    janino's 64 KB method limit the way an unrolled least() does past
    K≈16; update = K-key hash agg; K×dim driver traffic), then ONE
    shuffle of n rows keyed by cluster into a per-cell GEMM threshold
    scan (see cell_pairs below) — same-cell pairs only, never a
    cartesian, and pair volume stays ~n·TARGET_CELL instead of n²/K
    (the round-8 rehearsal measured fixed K=8 at 23× wall under 10×
    rows; the K∝n rule is the paper's fix). Cosine parity: the GEMM
    rounds 6-digit half-away-from-zero on the binary double — the
    shared rounded-sim convention — and the registered oracle replays
    K (count(*)-derived), the all-integer assignment and the cosine
    via list_cosine_similarity."""
    n_vecs = table_row_count(sf_dir, "embeddings")
    k = _semdedup_k(n_vecs)
    emb = load(spark, sf_dir, "embeddings")
    # Train on the NARROW quantized frame (vec_id + the qa array
    # only, the emb_kmeans_lloyd shape): carrying the raw embedding
    # array through the trainer's assignment/update stages pushed the
    # generated processNext() past janino's 64 KB method limit and
    # dropped those stages to interpreted (measured in the round-8
    # full 2-pass: 8-11 s per run vs 2.9 s after the split; the
    # narrow form codegens clean — zero CodeGenerator errors).
    qn = (
        emb.selectExpr("vec_id", *_km_q_exprs("embedding", one_based=False))
        .selectExpr(
            "vec_id",
            "array(" + ", ".join(f"q{i}" for i in range(_KM_DIM)) + ") AS qa",
        )
        # spread BEFORE the checkpoint: trainer + assignment scans
        # (K×dim higher-order fold per row) otherwise run on the
        # source parquet's 2 partitions — 26 s + 10 s of the round-9
        # 10× wall was exactly this (see emb_kmeans_lloyd). Count
        # scales with n (scaled_partitions): fixed-count 1 GB
        # partitions starved the 60M leg's trainer agg of its first
        # page mid-unroll (see session.py).
        .repartition(scaled_partitions(n_vecs))
        .localCheckpoint()
    )
    cents, key_sql = _km_train_array(qn, SEMDEDUP_ITERS, k)
    # The (vec_id, cluster) assignment gets its OWN stage cut: left
    # lazy, the centroid-array expression fuses into the join stage
    # below and re-evaluates per joined row (bisected in round 8: the
    # m-materialization stage was the failing one for the unrolled
    # form; the cut also keeps the array loop off the pair hot path).
    # The checkpointed frame is 2 longs per vector — trivial.
    assign = (
        _km_assign(qn, cents, key_sql, k)
        .selectExpr("vec_id", f"key % {k} AS cluster")
        .localCheckpoint(eager=True)
    )
    # Within-cell verification: ONE numpy float64 GEMM per cell via
    # groupBy(cluster).applyInPandas — round-12. The previous shape
    # (broadcast/sort-merge cluster equi-join + JVM 64-term fold per
    # pair) priced the 2M-vector leg at 500M scalar dots, projected
    # ~650 s — past the 590 s rehearsal window (SCALING.md third-
    # decade row). Exactness is structural, the sim_ann_lsh argument:
    # each vector belongs to exactly ONE cell, so its candidate set is
    # wholly contained in its own group and the per-cell threshold
    # scan IS the full answer — same pair set, same K∝n rule, same
    # registered oracle. Shuffle volume is n rows keyed by cluster
    # (K ∝ n keys — reducers stay busy at any scale); per-task memory
    # is one ~TARGET_CELL-row cell, with the query side chunked to
    # bound a pathologically hot cell. Sims round 6-digit
    # half-away-from-zero on the binary double BEFORE the threshold —
    # the convention every rounded-sim oracle shares (see _gemm_topk),
    # proven hash-equal to both DuckDB round() and the JVM
    # F.round-fold this path replaces.
    import numpy as np
    import pandas as pd

    thr = SEMDEDUP_THRESHOLD
    chunk = _CELL_GEMM_CHUNK

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"cluster": pd.Series(dtype="int64"),
             "doc_a": pd.Series(dtype="int64"),
             "doc_b": pd.Series(dtype="int64"),
             "sim": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:  # singleton cell: no candidate pairs
            return empty
        # sort by vec_id so the upper triangle IS the doc_a < doc_b set
        pdf = pdf.sort_values("vec_id")
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        cluster = int(pdf["cluster"].iloc[0])
        unit = m / np.linalg.norm(m, axis=1, keepdims=True)
        frames = []
        for lo in range(0, len(ids), chunk):
            sims = unit[lo : lo + chunk] @ unit.T
            sims = np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6
            # strict upper triangle of the full matrix, offset by the
            # chunk base: pair (lo+r, c) survives only when c > lo+r
            r_idx, c_idx = np.nonzero(
                (sims >= thr)
                & (np.arange(len(ids))[None, :] > (lo + np.arange(sims.shape[0]))[:, None])
            )
            if len(r_idx):
                frames.append(pd.DataFrame({
                    "cluster": cluster,
                    "doc_a": ids[lo + r_idx],
                    "doc_b": ids[c_idx],
                    "sim": sims[r_idx, c_idx],
                }))
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    return (
        emb.join(assign, "vec_id")
        .select("cluster", "vec_id", "embedding")
        .groupBy("cluster")
        .applyInPandas(
            cell_pairs, "cluster long, doc_a long, doc_b long, sim double"
        )
    )


# Matryoshka evaluation knobs: prefix widths to score, and the
# deterministic vector sample whose pairs are measured (id-residue
# sampling — reproducible, join-free to express in both engines).
MRL_PREFIX_DIMS = (8, 16, 32)
MRL_SAMPLE_MOD = 17
MRL_PAIR_BLOCKS = 8  # NB: pair join runs over NB² equi-join cells


def _mrl_cos6(a: str, b: str, dim: int) -> str:
    """round6'd prefix cosine from the shared unrolled fold — the
    sim-family convention, parameterized by prefix width."""
    return round6_away_sql(
        f"({dot_unrolled_sql(a, b, dim)})"
        f" / ({norm_unrolled_sql(a, dim)} * {norm_unrolled_sql(b, dim)})"
    )


def _mrl_oracle() -> str:
    cols = []
    for d in MRL_PREFIX_DIMS:
        cos_d = (
            f"round(list_cosine_similarity("
            f"list_slice(CAST(a.embedding AS DOUBLE[]), 1, {d}),"
            f" list_slice(CAST(b.embedding AS DOUBLE[]), 1, {d})), 6)"
        )
        cols.append(f"abs({cos_d} - cos64) AS err{d}")
    stats = ", ".join(
        f"CAST(CAST(sum(CAST(err{d} AS DECIMAL(25,6))) AS DOUBLE) / count(*)"
        f" AS DOUBLE) AS mean{d}, max(err{d}) AS max{d}"
        for d in MRL_PREFIX_DIMS
    )
    rows = " UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS prefix_dim, n_pairs,"
        f" mean{d} AS mean_abs_err, max{d} AS max_abs_err FROM s"
        for d in MRL_PREFIX_DIMS
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {MRL_SAMPLE_MOD} = 0
), p AS (
  SELECT round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6)
           AS cos64,
         {", ".join(cols)}
  FROM v a JOIN v b ON a.vec_id < b.vec_id
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs, {stats} FROM p
)
{rows}
"""


@register("emb_matryoshka_truncate", "llm", oracle=_mrl_oracle())
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: how much retrieval signal
    survives when embeddings are cut to their first 8/16/32 dims —
    the measurement that decides whether the serving tier can store
    the short prefix (8× less memory and ANN bandwidth) instead of
    the full vector. Reports, per prefix width, the mean/max absolute
    cosine error against the full-width cosine over a deterministic
    id-residue pair sample.

    Scale shape: the sample filter is map-side (vec_id % mod — no
    rand(), reproducible); the all-pairs join runs BLOCKED — each
    side is replicated across NB = MRL_PAIR_BLOCKS cells of a
    broadcast NB² cell table and the pair join is EQUI on the cell
    id with ``ia < ib`` as the residual (the sim_cosine_blocked
    discipline) — never a BroadcastNestedLoopJoin that ships an
    ungated sample side (round-8 advice): shuffle volume is 2·NB·n
    replicated rows, parallelism NB² cells, and per-task memory is
    (n/NB)²-pair bounded no matter how wide the sample gets. At
    100 TB you'd widen the modulus and NB together, same plan. Every
    cosine is the shared unrolled codegen fold. Parity: each
    prefix/full cosine is round6'd FIRST (identical doubles both
    engines — the sim-family class), so the error terms are exact
    differences of identical doubles; means accumulate via
    DECIMAL(25,6) (order-free), max is order-free by nature."""
    NB = MRL_PAIR_BLOCKS
    v = load(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % MRL_SAMPLE_MOD == 0
    )
    cells = spark.range(NB * NB).select(
        F.col("id").alias("cell"),
        (F.col("id") / NB).cast("long").alias("bi"),
        (F.col("id") % NB).alias("bj"),
    )
    a = v.select(
        F.pmod(F.col("vec_id"), F.lit(NB)).alias("ba"),
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
    ).join(F.broadcast(cells), F.col("ba") == F.col("bi"))
    b = v.select(
        F.pmod(F.col("vec_id"), F.lit(NB)).alias("bb"),
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
    ).join(F.broadcast(cells), F.col("bb") == F.col("bj"))
    cos64 = _mrl_cos6("va", "vb", 64)
    errs = [
        f"abs({_mrl_cos6('va', 'vb', d)} - ({cos64})) as err{d}"
        for d in MRL_PREFIX_DIMS
    ]
    p = (
        a.select("cell", "ia", "va")
        .join(b.select("cell", "ib", "vb"), "cell")
        .filter(F.col("ia") < F.col("ib"))
        .selectExpr(*errs)
    )
    s = p.agg(
        F.count("*").alias("n_pairs"),
        *[
            x
            for d in MRL_PREFIX_DIMS
            for x in (
                (
                    F.sum(F.col(f"err{d}").cast("decimal(25,6)")).cast("double")
                    / F.count("*")
                ).alias(f"mean{d}"),
                F.max(f"err{d}").alias(f"max{d}"),
            )
        ],
    )
    stack = ", ".join(
        f"cast({d} as bigint), mean{d}, max{d}" for d in MRL_PREFIX_DIMS
    )
    return s.selectExpr(
        "n_pairs",
        f"stack({len(MRL_PREFIX_DIMS)}, {stack})"
        " as (prefix_dim, mean_abs_err, max_abs_err)",
    ).select("prefix_dim", "n_pairs", "mean_abs_err", "max_abs_err")


# q19 disjunct table (brand, max p_size, quantity lo/hi): three
# AND-clauses OR'd together — the classic multi-attribute promo query.
# Brands 11/12/13 exist at every fixture SF.
Q19_CLAUSES = (
    ("Brand#11", 15, 1, 11),
    ("Brand#12", 25, 10, 20),
    ("Brand#13", 35, 20, 30),
)


def _q19_pred_sql() -> str:
    return " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {sz}"
        f" AND l_quantity BETWEEN {lo} AND {hi})"
        for b, sz, lo, hi in Q19_CLAUSES
    )


@register(
    "tpch_q19",
    "warehouse",
    oracle=f"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_q19_pred_sql()}
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted-revenue promo query (TPC-H Q19 shape, adapted to the
    reduced schema): an equi-join whose REAL predicate is a
    DISJUNCTION of multi-attribute clauses spanning BOTH sides —
    the optimizer shape none of the other TPC-H picks exercise.
    Catalyst handles it the way a hand-planner would: each disjunct's
    single-side conjuncts are extracted and pushed below the join
    (part scans only the three brands' size ranges, lineitem only
    quantity 1-30 — visible as PushedFilters on both scans), while
    the cross-side residual evaluates post-join. part is
    corpus-proportional, so the broadcast threshold and AQE size its
    join (the tpch_q14 rule); revenue accumulates in DECIMAL(25,4),
    order-free."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(F.expr(_q19_pred_sql()))
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "revenue"
            ),
        )
    )
