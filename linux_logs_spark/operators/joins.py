"""Joins (SURVEY.md §2.3).

Scale notes (the 100 TB design point):
- Dim tables (region/nation/part/supplier/customer-sized) are marked
  ``F.broadcast`` explicitly → broadcast hash join, no shuffle of the
  fact side. At 100 TB the fact shuffle is THE cost; a 20 MB dim must
  never cause one.
- Fact⋈fact equi-joins shuffle on the join key; AQE handles skew
  splitting (session.py enables skewJoin).
- The as-of join is a window formulation — one shuffle on the
  partition key, no O(n²) range probe, and it scales linearly with
  events per user.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linux_logs_spark.catalog import load
from linux_logs_spark.functions.compat import dsum, oracle_dsum
from linux_logs_spark.registry import register

# join_bloom_runtime_filter's isolated demo-conf sessions, memoized
# per SparkContext so repeated invocations don't accumulate sessions
# (bounded: one entry per context ever created in this process).
_BLOOM_SESSIONS: dict = {}


@register(
    "join_inner_equi",
    "join",
    oracle="""
SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
""",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@register(
    "join_broadcast",
    "join",
    oracle=f"""
SELECT p_brand,
       count(*) AS n_items,
       {oracle_dsum('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim): the dim ships to every executor, the
    600k/100 TB lineitem side never shuffles for the join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), dsum(revenue, 4).alias("revenue"))
    )


@register(
    "join_left_outer",
    "join",
    oracle=f"""
SELECT c_custkey, c_name,
       count(o_orderkey) AS n_orders,
       coalesce({oracle_dsum('o_totalprice', 2)}, 0.0) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice", 2), F.lit(0.0)).alias("total_spent"),
        )
    )


@register(
    "join_full_outer",
    "join",
    oracle="""
WITH f AS (
  SELECT o_custkey AS k, count(*) AS n_f FROM orders
  WHERE o_orderstatus = 'F' GROUP BY o_custkey
), o AS (
  SELECT o_custkey AS k, count(*) AS n_o FROM orders
  WHERE o_orderstatus = 'O' GROUP BY o_custkey
)
SELECT coalesce(f.k, o.k) AS custkey,
       coalesce(n_f, 0) AS n_finished,
       coalesce(n_o, 0) AS n_open
FROM f FULL OUTER JOIN o ON f.k = o.k
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer ⇒ sort-merge join BY DESIGN: broadcast hash joins
    can't produce full-outer results, and both inputs here are already
    hash-partitioned on the join key by their aggregations, so the SMJ
    reuses that exchange instead of adding one."""
    orders = load(spark, sf_dir, "orders")
    f = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_f"))
    )
    o = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_o"))
    )
    return f.join(o, f.k == o.k, "full").select(
        F.coalesce(f.k, o.k).alias("custkey"),
        F.coalesce("n_f", F.lit(0)).alias("n_finished"),
        F.coalesce("n_o", F.lit(0)).alias("n_open"),
    )


@register(
    "join_left_semi",
    "join",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
""",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    "join",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    "join",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_theta_range",
    "join",
    oracle="""
SELECT p_partkey, p_retailprice, band
FROM part
JOIN (VALUES ('budget', 0.0, 1000.0),
             ('standard', 1000.0, 1060.0),
             ('premium', 1060.0, 1e12)) AS bands(band, lo, hi)
  ON p_retailprice >= lo AND p_retailprice < hi
""",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join → broadcast-nested-loop with the tiny band dim
    broadcast; the big side streams through without a shuffle."""
    p = load(spark, sf_dir, "part")
    # Pure-SQL inline relation: spark.createDataFrame goes through a
    # Python->JVM conversion that showed multi-second stalls in long
    # sessions; VALUES stays entirely JVM-side.
    bands = spark.sql(
        """
        SELECT * FROM VALUES
          ('budget',   CAST(0.0    AS DOUBLE), CAST(1000.0 AS DOUBLE)),
          ('standard', CAST(1000.0 AS DOUBLE), CAST(1060.0 AS DOUBLE)),
          ('premium',  CAST(1060.0 AS DOUBLE), CAST(1e12   AS DOUBLE))
        AS bands(band, lo, hi)
        """
    )
    cond = (p.p_retailprice >= bands.lo) & (p.p_retailprice < bands.hi)
    return p.join(F.broadcast(bands), cond).select("p_partkey", "p_retailprice", "band")


@register(
    "join_asof",
    "join",
    oracle="""
WITH se AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
  WHERE event_type IN ('signup', 'error')
), w AS (
  SELECT event_id, user_id, event_type, s,
         last_value(CASE WHEN event_type = 'signup' THEN s END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS signup_s
  FROM se
)
SELECT event_id AS error_id, user_id, s AS error_s, signup_s
FROM w
WHERE event_type = 'error' AND signup_s IS NOT NULL
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each error ↔ latest prior-or-same-second signup per
    user), as a single window pass: no native batch as-of in Spark SQL,
    and this formulation is one shuffle on user_id — linear at scale.
    Ordering key is whole seconds (+event_id tiebreak) so ns-vs-µs
    timestamp precision can't reorder rows across engines.
    """
    e = load(spark, sf_dir, "events")
    se = e.filter(F.col("event_type").isin("signup", "error")).select(
        "event_id", "user_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sig = F.last(
        F.when(F.col("event_type") == "signup", F.col("s")), ignorenulls=True
    ).over(w)
    return (
        se.withColumn("signup_s", sig)
        .filter((F.col("event_type") == "error") & F.col("signup_s").isNotNull())
        .select(
            F.col("event_id").alias("error_id"), "user_id",
            F.col("s").alias("error_s"), "signup_s",
        )
    )


@register(
    "join_self_multi",
    "join",
    oracle=f"""
SELECT n_name, count(*) AS n_orders, {oracle_dsum('o_totalprice', 2)} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_self_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way star join, single agg shuffle on n_name. Nation is a true
    dim (25 rows, unconditional broadcast); customer is corpus-sized,
    so the broadcast threshold and AQE size its join — past the
    threshold the custkey join shuffles."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", 2).alias("revenue"))
    )


# Salt fan-out for join_skew_salted. 8 is illustrative; at 100 TB the
# count is sized so the hottest key's per-salt slice fits an executor.
N_SALT = 8


@register(
    "join_skew_salted",
    "join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_name,
       CAST(floor(e.value) AS BIGINT) AS value_floor
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated shuffle join: the fact side salts its join key
    with a deterministic pmod(xxhash64(event_id), 8) suffix and the
    dimension side explodes into all 8 salt replicas, so one hot
    user_id spreads over 8 reducer partitions instead of stalling a
    single task. Output is provably identical to the unsalted join
    (the oracle IS the unsalted join). AQE's skewedJoin handles this
    adaptively when statistics surface the skew; the explicit salt is
    the deterministic form for pipelines that disable AQE (streaming)
    or hit skew AQE's split thresholds miss. The dim replication is
    ×8 rows but broadcast-free, so it works when BOTH sides are too
    big to broadcast — the regime where skew actually bites."""
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    salted_fact = e.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALT)).cast("int")
    )
    salted_dim = c.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1)))
    )
    return (
        salted_fact.join(
            salted_dim.hint("shuffle_hash"),
            (salted_fact.user_id == salted_dim.c_custkey)
            & (salted_fact.salt == salted_dim.salt),
        )
        .select(
            "event_id",
            "user_id",
            "c_name",
            F.floor("value").cast("long").alias("value_floor"),
        )
    )


@register(
    "join_null_safe",
    "join",
    oracle="""
WITH e AS (
  SELECT event_id,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et
  FROM events
), d AS (
  SELECT DISTINCT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et,
         CASE WHEN event_type = 'error' THEN 'unattributed' ELSE event_type END AS label
  FROM events
)
SELECT e.event_id, d.label
FROM e JOIN d ON e.et IS NOT DISTINCT FROM d.et
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match each other instead of silently dropping — the semantics
    dimension lookups need when "unknown" is itself a category. Spark
    plans eqNullSafe as an ordinary hash join (null hashes like any
    value), so the scale story is identical to join_inner_equi; the
    tiny dim broadcasts."""
    e = load(spark, sf_dir, "events")
    et = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("event_type")
    )
    fact = e.select("event_id", et.alias("et"))
    dim = (
        e.select(
            et.alias("et"),
            F.when(F.col("event_type") == "error", F.lit("unattributed"))
            .otherwise(F.col("event_type"))
            .alias("label"),
        )
        .distinct()
    )
    return fact.join(F.broadcast(dim), fact.et.eqNullSafe(dim.et)).select(
        "event_id", "label"
    )


@register(
    "join_bucketed_colocated",
    "join",
    oracle="""
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join via bucketing — the 100 TB strategy
    for joins run repeatedly on the same key: both sides are written
    bucketed (and sorted) by the join key once, and every subsequent
    join on that key runs with ZERO exchanges, reading matching
    buckets pairwise (tests/test_plans.py pins the exchange-free
    shape). The write cost amortizes across every downstream join /
    aggregation on the key; at petabyte scale this is the difference
    between one shuffle ever and one shuffle per query. Results are
    identical to the plain shuffle join — that IS the oracle."""
    import os

    from linux_logs_spark.catalog import table_path
    from linux_logs_spark.operators.scans import _scratch, _scratch_tag

    wh = _scratch(sf_dir, "bucketed")
    # Table names carry the sf tag (now path-hashed, see _scratch_tag):
    # catalog tables are context-global and name-keyed, so a shared
    # name would silently serve one sf_dir's buckets to another
    # sf_dir's query.
    tag = _scratch_tag(sf_dir)
    for tbl, src_name, key in (
        (f"bq_orders_{tag}", "orders", "o_orderkey"),
        (f"bq_lineitem_{tag}", "lineitem", "l_orderkey"),
    ):
        # Idempotent per (sf_dir, table): rebuild when absent OR when
        # the source parquet changed (round-5 review — a regenerated
        # dataset at the same path must not be answered from stale
        # bucket copies; the fingerprint is the source's size+mtime).
        src_stat = os.stat(table_path(sf_dir, src_name))
        fingerprint = f"{src_stat.st_size}:{src_stat.st_mtime_ns}"
        marker = os.path.join(wh, tbl, "_FINGERPRINT")
        stale = True
        if os.path.exists(marker):
            with open(marker) as fh:
                stale = fh.read().strip() != fingerprint
        registered = tbl in [t.name for t in spark.catalog.listTables()]
        if stale:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (
                load(spark, sf_dir, src_name)
                .write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .format("parquet")
                .option("path", os.path.join(wh, tbl))
                .saveAsTable(tbl)
            )
            # marker AFTER the write completes: its presence implies
            # a complete bucketed copy, so the metadata-only path
            # below can never register a torn build
            with open(marker, "w") as fh:
                fh.write(fingerprint)
        elif not registered:
            # Fresh process, fresh (in-memory) catalog, but the
            # bucketed files on disk are still fingerprint-current:
            # re-REGISTER the external table over the existing data
            # instead of rewriting it — before round 9 this path
            # re-ran the full bucketed write every new session, which
            # is exactly the amortize-across-sessions cost the
            # operator exists to demonstrate saving.
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in load(spark, sf_dir, src_name).schema.fields
            )
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING PARQUET"
                f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS"
                f" LOCATION '{os.path.join(wh, tbl)}'"
            )
    o = spark.table(f"bq_orders_{tag}")
    li = spark.table(f"bq_lineitem_{tag}")
    # merge hint: at test scale orders fits the broadcast threshold
    # and a BroadcastHashJoin would silently bypass the bucket
    # co-location being demonstrated; at real fact⋈fact scale neither
    # side broadcasts and SMJ is what the planner picks unhinted.
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(25,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# Bin width for the binned range join: one bin = the window width, so
# any window overlaps at most 2 bins and the explode fan-out is ≤2.
RANGE_BIN_S = 21600  # 6 hours


@register(
    "join_range_binned",
    "join",
    oracle=f"""
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
), w AS (
  SELECT user_id AS w_user, min(s) AS w_start,
         min(s) + {RANGE_BIN_S} AS w_end
  FROM e GROUP BY user_id)
SELECT w_user, w_start, count(*) AS n_events
FROM w JOIN e ON e.s >= w.w_start AND e.s < w.w_end
GROUP BY w_user, w_start
""",
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join at scale: site-wide activity inside each
    user's 6-hour onboarding window. Spark has no native range join,
    and the naive formulation is a nested loop over |windows| ×
    |events| pairs. The scalable composition: quantize time into bins
    the width of the window, explode each window into the ≤2 bins it
    overlaps, map each event to its single bin, EQUI-join on the bin
    id, then re-check the exact containment predicate. Candidate
    volume is |events| × windows-per-bin instead of |events| ×
    |windows| — the same candidates-then-verify shape as the LSH/IVF
    paths, applied to time. Windows (one per user after the min-agg)
    are a computed frame, so the bin join carries no hint: AQE sees
    their materialized size and broadcasts them while they are small;
    past the threshold the same plan shuffle-joins on the bin id,
    whose cardinality grows with the time span, not with data volume.
    Whole seconds + event_id keep every value engine-exact."""
    ev = load(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", F.unix_timestamp("ts").alias("s"))
    b = F.lit(RANGE_BIN_S).cast("long")
    w = (
        e.groupBy(F.col("user_id").alias("w_user"))
        .agg(F.min("s").alias("w_start"))
        .withColumn("w_end", F.col("w_start") + RANGE_BIN_S)
    )
    wb = w.withColumn(
        "bin",
        F.explode(
            F.sequence(
                (F.col("w_start") / b).cast("long"),
                ((F.col("w_end") - 1) / b).cast("long"),
            )
        ),
    )
    eb = e.withColumn("bin", (F.col("s") / b).cast("long"))
    return (
        eb.join(wb, "bin")
        .filter((F.col("s") >= F.col("w_start")) & (F.col("s") < F.col("w_end")))
        .groupBy("w_user", "w_start")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "join_partition_pruned",
    "join",
    oracle="""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS dt,
       count(*) AS n
FROM events
WHERE date_part('dow', date_trunc('day', ts)) = 1
GROUP BY 1
""",
)
def join_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the optimization that makes
    dim-filtered fact queries cheap on a partitioned 100 TB store:
    the fact side has NO static predicate (the filter lives on the
    dim's NON-join column, here day-of-week), so ordinary pushdown
    can't help; Spark instead evaluates the dim subquery first and
    injects its dt set into the fact scan's PartitionFilters at
    runtime (plan-pinned: ``dynamicpruningexpression``), reading ~1/7
    of the partitions instead of all of them. Both sides are staged
    parquet keyed by the source fingerprint (DPP needs a real
    partitioned file scan — a LocalRelation dim never triggers it).
    The oracle replays the semantic filter directly (Spark
    dayofweek()==2 ≡ DuckDB dow==1 ≡ Monday)."""
    from linux_logs_spark.catalog import dataset_fingerprint, table_path
    from linux_logs_spark.operators.scans import staged_dataset

    e = load(spark, sf_dir, "events")
    size, mtime_ns = dataset_fingerprint(table_path(sf_dir, "events"))
    tag = f"{size}_{mtime_ns}"
    # both sides read back with the written frame's schema: an empty
    # events table writes no file to infer one from
    fact_df = e.withColumn("dt", F.date_trunc("day", "ts").cast("date")).select(
        "event_id", "dt"
    )
    fact_path = staged_dataset(
        sf_dir,
        "dpp_fact",
        tag,
        lambda p: fact_df.write.mode("overwrite").partitionBy("dt").parquet(p),
    )
    fact = spark.read.schema(fact_df.schema).parquet(fact_path)
    # the dim's dt set IS the fact's partition set — resolve it from
    # partition metadata (no data read) instead of re-scanning events
    dim_df = fact.select("dt").distinct().withColumn("dow", F.dayofweek("dt"))
    dim_path = staged_dataset(
        sf_dir,
        "dpp_dim",
        tag,
        lambda p: dim_df.write.mode("overwrite").parquet(p),
    )
    dim = spark.read.schema(dim_df.schema).parquet(dim_path).filter(
        F.col("dow") == 2  # Monday
    )
    joined = fact.join(dim.select("dt"), "dt")
    return joined.groupBy(F.col("dt").cast("string").alias("dt")).agg(
        F.count("*").alias("n")
    )


@register(
    "join_bloom_runtime_filter",
    "join",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
GROUP BY l_returnflag
""",
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER join pruning — the row-level sibling of
    dynamic partition pruning (join_partition_pruned): Catalyst's
    InjectRuntimeFilter builds a bloom filter over the SELECTIVE side's
    join keys (urgent high-value orders) and semi-filters the fact scan
    with bloom_filter_might_contain BEFORE the shuffle, so lineitem
    rows that cannot join never leave the map side. At 100 TB this is
    the difference between shuffling the whole fact table and shuffling
    ~the join's selectivity; it engages precisely when the dim side is
    too big to broadcast — the regime where no other row-pruning
    mechanism exists.

    The frame is built on an ISOLATED spark.newSession() so the
    demo-scale conf overrides cannot leak into sibling queries (the
    scan_python_datasource lesson, solved with session isolation
    instead of a documented leak): broadcast is disabled there because
    a 32 MB-threshold broadcast join at test scale would make the bloom
    filter moot (Spark skips injection when the creation side can
    broadcast — correctly, since BHJ already avoids the shuffle), and
    the 10 GB application-side threshold is lowered because a 2 MB test
    scan is below a gate that a real fact table clears by orders of
    magnitude. Results are conf-independent (bloom is a pure
    subset-pass filter; false positives only ever let rows through to
    the exact join). tests/test_plans.py pins bloom_filter_agg +
    might_contain in the physical plan.

    The isolated session is MEMOIZED per SparkContext (round-8
    advice): repeated invocations — 2-pass benches, hostile sweeps —
    reuse one session (and its per-session DataFrame/footer caches)
    instead of accumulating fresh sessions that each re-pay parquet
    analysis."""
    sc = spark.sparkContext
    s2 = _BLOOM_SESSIONS.get(sc)
    if s2 is None:
        s2 = spark.newSession()
        s2.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        s2.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        _BLOOM_SESSIONS[sc] = s2
    li = load(s2, sf_dir, "lineitem")
    o = load(s2, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_extendedprice", 2).alias("revenue"),
        )
    )
