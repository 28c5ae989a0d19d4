"""Aggregations (SURVEY.md §2.4).

All groupBy aggregates run as partial (map-side) + final hash
aggregates in Spark automatically — at 100 TB the partial agg is what
keeps the shuffle small, so every query here keys the shuffle on the
group-by columns only and carries pre-aggregated state across it.

Float determinism convention (FIXTURES.md): round float aggregates on
BOTH the Spark and oracle side so accumulation order can't flip the
value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linux_logs_spark.catalog import load, register_views
from linux_logs_spark.functions.compat import davg, dsum, oracle_davg, oracle_dsum
from linux_logs_spark.registry import register

# --- flagship: TPC-H Q1 shape over lineitem -----------------------------


@register(
    "agg_groupby",
    "aggregate",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum('l_quantity', 2)}      AS sum_qty,
       {oracle_dsum('l_extendedprice', 2)} AS sum_base_price,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
       {oracle_dsum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)', 6)} AS sum_charge,
       {oracle_davg('l_quantity', 2)}      AS avg_qty,
       {oracle_davg('l_extendedprice', 2)} AS avg_price,
       {oracle_davg('l_discount', 2)}      AS avg_disc,
       count(*)                            AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary — the engine's flagship query.

    Money sums accumulate in DECIMAL (order-independent → shuffle- and
    partitioning-proof) per functions/compat.py, then surface as DOUBLE.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 2).alias("sum_qty"),
            dsum("l_extendedprice", 2).alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity", 2).alias("avg_qty"),
            davg("l_extendedprice", 2).alias("avg_price"),
            davg("l_discount", 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_global",
    "aggregate",
    oracle=f"""
SELECT {oracle_dsum('l_quantity', 2)}      AS total_qty,
       {oracle_davg('l_extendedprice', 2)} AS avg_price,
       min(l_shipdate)                AS first_ship,
       max(l_shipdate)                AS last_ship,
       count(*)                       AS n_rows,
       count(DISTINCT l_suppkey)      AS n_suppliers
FROM lineitem
""",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        dsum("l_quantity", 2).alias("total_qty"),
        davg("l_extendedprice", 2).alias("avg_price"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
        F.count("*").alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@register(
    "agg_having",
    "aggregate",
    oracle=f"""
SELECT o_custkey, count(*) AS n_orders, {oracle_dsum('o_totalprice', 2)} AS total_spent
FROM orders
GROUP BY o_custkey
HAVING count(*) > 12
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", 2).alias("total_spent"),
        )
        .filter(F.col("n_orders") > 12)
    )


@register(
    "agg_count_distinct",
    "aggregate",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*)                  AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


@register("agg_approx_distinct", "aggregate", oracle=None)  # approximate → rows-only
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct estimate; sketch differs from DuckDB's → rows-only."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@register(
    "agg_bitmap_distinct",
    "aggregate",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_distinct_parts
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmaps — the mergeable alternative
    to countDistinct at 100 TB. countDistinct plans an Expand (every
    input row duplicated per distinct-agg) + a shuffle of the raw key
    space; the bitmap form shuffles at most one 4 KB bitmap per
    (group, bucket-of-32768-keys) REGARDLESS of row count, because
    bitmap_construct_agg is associative and map-side-combines: each
    task ORs its local keys into per-bucket bitmaps before anything
    moves. The second aggregate sums popcounts over the (tiny,
    key-range-bounded) bucket frame. Unlike the HLL sketch
    (agg_approx_distinct) the answer is EXACT, so the DuckDB
    count(DISTINCT) oracle hash-verifies it — and the bitmaps
    themselves are OR-mergeable across rollup levels, which is the
    property sketch-rollup pipelines actually need."""
    li = load(spark, sf_dir, "lineitem")
    per_bucket = (
        li.select(
            "l_returnflag",
            F.bitmap_bucket_number("l_partkey").alias("bkt"),
            F.bitmap_bit_position("l_partkey").alias("pos"),
        )
        .groupBy("l_returnflag", "bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bmp"))
    )
    return per_bucket.groupBy("l_returnflag").agg(
        F.sum(F.bitmap_count("bmp")).alias("n_distinct_parts")
    )


@register(
    "agg_rollup",
    "aggregate",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "agg_cube",
    "aggregate",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@register(
    "agg_grouping_sets",
    "aggregate",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_stats",
    "aggregate",
    oracle="""
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 4)               AS sd_qty,
       round(var_samp(l_quantity), 4)                  AS var_qty,
       round(corr(l_extendedprice, l_quantity), 6)     AS corr_price_qty,
       round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_price_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("covar_price_qty"),
    )


@register(
    "agg_percentile",
    "aggregate",
    oracle="""
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.5) AS p50_price,
       quantile_disc(l_extendedprice, 0.9) AS p90_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (actual data elements, so no
    engine-specific interpolation arithmetic can drift — continuous
    interpolation differed from DuckDB by 1 cent after rounding).
    Picks the element at row_number == ceil(n*p) in sort order, which is
    DuckDB's quantile_disc rule (verified empirically: p90 over n=1962
    → element 1766 = ceil(1765.8)). Approx variant is rows-only below.
    """
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.col("n") * F.lit(p)),
            F.col("l_extendedprice"),
        )
    )
    return ranked.groupBy("l_returnflag").agg(
        pick(0.5).alias("p50_price"), pick(0.9).alias("p90_price")
    )


@register("agg_approx_percentile", "aggregate", oracle=None)  # sketch → rows-only
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)), 2).alias(
            "approx_p50"
        )
    )


@register(
    "agg_collect",
    "aggregate",
    oracle="""
SELECT n_nationkey,
       string_agg(c_name, '|' ORDER BY c_name)                         AS customer_names,
       string_agg(DISTINCT c_mktsegment, '|' ORDER BY c_mktsegment)    AS segments
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_nationkey
""",
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list / collect_set with a deterministic sort. The arrays
    are serialized to '|'-joined strings in the OUTPUT because the
    driver's canonicalizer sorts result rows with pandas, which cannot
    hash list cells (round-1 agg_collect crash); the engine-side array
    aggregation is still what's exercised."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_list("c_name"))).alias("customer_names"),
            F.concat_ws("|", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments"),
        )
    )


@register(
    "agg_min_max_by",
    "aggregate",
    oracle="""
SELECT c_mktsegment,
       arg_max(c_name, c_custkey) AS latest_customer,
       arg_min(c_name, c_custkey) AS first_customer,
       max(c_acctbal)             AS top_balance
FROM customer
GROUP BY c_mktsegment
""",
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates (max_by/min_by ≡ DuckDB arg_max/
    arg_min). Ordering key is the UNIQUE c_custkey so ties can't make
    the picked row engine-dependent."""
    c = load(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.max_by("c_name", "c_custkey").alias("latest_customer"),
        F.min_by("c_name", "c_custkey").alias("first_customer"),
        F.max("c_acctbal").alias("top_balance"),
    )


@register(
    "agg_string_concat",
    "aggregate",
    oracle="""
SELECT n_nationkey,
       string_agg(c_mktsegment, ',' ORDER BY c_mktsegment, c_custkey) AS segments_csv
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_nationkey
""",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg/string_agg): collect,
    sort deterministically (value + unique key), then join — the
    order-stable form that hash-matches across engines."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("c_mktsegment", "c_custkey"))
                    ),
                    lambda s: s.getField("c_mktsegment"),
                ),
            ).alias("segments_csv")
        )
    )


@register(
    "agg_histogram",
    "aggregate",
    oracle="""
SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       CAST(floor(o_totalprice / 50000.0) AS BIGINT) * 50000.0 AS bucket_lo,
       count(*) AS n,
       CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM orders) AS frac
FROM orders
GROUP BY 1
""",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the distribution view every log metric
    dashboard needs): integer bucketing is exact, the fraction is a
    single double division — no rounding required."""
    o = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("long")
    # The denominator is the SUM of the bucket counts (count(*) ≡ Σ n
    # exactly: every row lands in exactly one bucket, nulls included),
    # so orders is scanned once — the total reuses the histogram's
    # exchange.
    b = o.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))
    total = b.agg(F.sum("n").alias("total"))
    return (
        b.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            (F.col("bucket") * 50000.0).alias("bucket_lo"),
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("frac"),
        )
    )


@register(
    "agg_distinct_rows",
    "aggregate",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "agg_mode",
    "aggregate",
    oracle="""
SELECT o_orderstatus, o_orderpriority AS mode_priority, n
FROM (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY count(*) DESC, o_orderpriority) AS rn
  FROM orders GROUP BY 1, 2
)
WHERE rn = 1
""",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode (most frequent value, ties → smallest):
    built-in mode() picks an ARBITRARY tie winner in both engines, so
    the portable form is count + rank with an explicit tie-break —
    same two-shuffle shape (group count, then tiny per-group rank)."""
    o = load(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), "o_orderpriority")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@register("agg_hll_sketch_rollup", "aggregate", oracle=None)  # sketch → rows-only
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts via Datasketches HLL: build one
    sketch per (event_type, day), then MERGE the binary sketches up to
    per-type totals with hll_union_agg — the 100 TB rollup pattern
    where daily sketches are stored once and every coarser granularity
    (week/month/all-time) is a cheap sketch union instead of a rescan
    of raw events. approx_count_distinct (agg_approx_distinct) can't
    do this: its estimate is final, not mergeable. The exact
    countDistinct rides along at the fine level to bound the sketch
    error in the output; sketch internals differ from DuckDB's HLL, so
    the query is rows-only by declaration."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
            F.sum("exact_users").alias("sum_daily_exact"),
            F.count("*").alias("n_days"),
        )
        .select("event_type", "est_users", "sum_daily_exact", "n_days")
    )


@register(
    "agg_conditional_family",
    "aggregate",
    oracle="""
SELECT l_returnflag,
       CAST(count_if(l_quantity > 25) AS BIGINT)  AS n_big,
       round(median(l_quantity), 2)               AS med_qty,
       CAST(min(l_orderkey) AS BIGINT)            AS stable_any_key,
       CAST(count(DISTINCT l_suppkey) AS BIGINT)  AS n_supp
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / median / any_value surface in one grouped pass.
    any_value is nondeterministic by definition, so the oracle-checked
    column uses min() as its deterministic stand-in (any_value itself
    is exercised but not compared — same access path, stable result
    required only of min). median on an even group interpolates
    identically in both engines for .5 between two ints; rounded
    anyway. All distributive/algebraic → one partial+final hash
    aggregate, shuffle carries per-group state only."""
    li = load(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_big"),
        F.round(F.median("l_quantity"), 2).alias("med_qty"),
        F.min("l_orderkey").alias("stable_any_key"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        # exercised for surface coverage; dropped before compare
        # because ANY value is a legal result:
        F.any_value("l_tax").alias("_any_tax"),
    )
    return out.select("l_returnflag", "n_big", "med_qty", "stable_any_key", "n_supp")


@register(
    "agg_regression_family",
    "aggregate",
    oracle="""
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
       round(regr_avgx(l_extendedprice, l_quantity), 6)      AS avg_x,
       round(regr_avgy(l_extendedprice, l_quantity), 6)      AS avg_y,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_regression_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family (regr_slope / intercept /
    r2 / avgx / avgy / count) — price-vs-quantity fit per return
    flag. All six run in one partial+final hash aggregate pass (each
    is a composition of the same sum/sum-of-product moments, which
    Spark and DuckDB both fold map-side). Irrational statistics, so
    rounded to 6 digits like corr/stddev in agg_stats — a true value
    on a rounding-tie boundary has probability ~0."""
    li = load(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
        F.regr_count(y, x).cast("long").alias("n_pairs"),
    )


_STATS_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "table_column_stats",
    "aggregate",
    oracle="""
SELECT 'l_quantity' AS col_name, count(*) AS n_rows,
       count(*) - count(l_quantity) AS n_nulls,
       count(DISTINCT l_quantity) AS n_distinct,
       min(l_quantity) AS min_val, max(l_quantity) AS max_val
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
       count(DISTINCT l_extendedprice), min(l_extendedprice), max(l_extendedprice)
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*), count(*) - count(l_discount),
       count(DISTINCT l_discount), min(l_discount), max(l_discount)
FROM lineitem
UNION ALL
SELECT 'l_tax', count(*), count(*) - count(l_tax),
       count(DISTINCT l_tax), min(l_tax), max(l_tax)
FROM lineitem
""",
)
def table_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics (row count, null count,
    exact NDV, min/max) — what a cost-based optimizer collects before
    planning. Spark computes all four columns' stats in a single scan:
    one multi-aggregate pass (count-distincts expand to one shuffle
    via Spark's expand-operator rewrite) followed by a stack() melt of
    the 1-row result into long format. The oracle scans per column;
    the engine under test must not. min/max pass through
    arithmetic-free, so doubles are bit-identical."""
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _STATS_COLS:
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__ndv, {c}__min, {c}__max"
        for c in _STATS_COLS
    )
    return one.selectExpr(
        f"stack({len(_STATS_COLS)}, {stack_args}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    )


@register(
    "agg_grouping_id",
    "aggregate",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS gid,
       (GROUPING(l_returnflag) = 0 AND GROUPING(l_linestatus) = 1)
         AS is_flag_subtotal
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping_id()/grouping() over a ROLLUP — the disambiguator that
    makes multi-level aggregates machine-consumable: a NULL group key
    in rollup output is ambiguous (real NULL data vs subtotal row);
    the grouping bitmask says which, so downstream consumers can route
    subtotal rows without guessing. Same Expand-based plan as
    agg_rollup (each input row replicated once per grouping set,
    map-side partials per set) — grouping_id is metadata the Expand
    node already carries, zero extra cost. Spark's grouping_id() bit
    order (first listed column = most significant) is replayed in the
    oracle as GROUPING(a)*2 + GROUPING(b)."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.grouping_id().alias("gid"),
        (
            (F.grouping("l_returnflag") == 0) & (F.grouping("l_linestatus") == 1)
        ).alias("is_flag_subtotal"),
    )
