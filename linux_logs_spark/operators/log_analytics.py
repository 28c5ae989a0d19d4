"""Log-analytics composite queries (SURVEY.md §2.8) — the reference's
own user-facing surface (error rates, noisy sources, keyword search,
burst detection, funnels), re-expressed as single declarative plans.

Scale shape: every query aggregates early (map-side partial agg) so
the shuffle carries buckets, not events. At 100 TB the hourly/minute
rollups shuffle ~tens of thousands of rows regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linux_logs_spark.catalog import load, table_row_count
from linux_logs_spark.functions.compat import dec
from linux_logs_spark.functions.vector import round6_away_sql
from linux_logs_spark.registry import register


@register(
    "log_error_rate_hourly",
    "log",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_start,
       count(*) AS n_events,
       count(*) FILTER (WHERE event_type = 'error') AS n_errors,
       CAST(count(*) FILTER (WHERE event_type = 'error') AS DOUBLE) / count(*)
         AS error_rate
FROM events
GROUP BY date_trunc('hour', ts)
""",
)
def log_error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    n_err = F.count_if(F.col("event_type") == "error")
    return e.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count("*").alias("n_events"),
        n_err.alias("n_errors"),
        (n_err.cast("double") / F.count("*")).alias("error_rate"),
    )


@register(
    "log_top_services",
    "log",
    oracle="""
SELECT user_id, n_errors, rn AS noise_rank
FROM (
  SELECT user_id, count(*) AS n_errors,
         row_number() OVER (ORDER BY count(*) DESC, user_id) AS rn
  FROM events
  WHERE event_type = 'error'
  GROUP BY user_id
)
WHERE rn <= 10
""",
)
def log_top_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 noisiest error sources. Aggregate FIRST (events → one row
    per user), THEN take the top 10 with orderBy().limit(10) — Spark
    plans that as TakeOrderedAndProject (per-partition partial top-10,
    driver merge of 10-row heaps), so no single-partition sort over
    |users| rows ever happens; at 100 TB |users| can be 10⁸⁺ and a
    global ranking window would funnel all of them through one task.
    The ranking window then runs over exactly 10 rows."""
    e = load(spark, sf_dir, "events")
    per_user = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_errors"))
    )
    top10 = per_user.orderBy(F.col("n_errors").desc(), F.col("user_id")).limit(10)
    w = Window.orderBy(F.col("n_errors").desc(), F.col("user_id"))
    return (
        top10.withColumn("noise_rank", F.row_number().over(w).cast("long"))
        .select("user_id", "n_errors", "noise_rank")
    )


@register(
    "log_search",
    "log",
    oracle="""
SELECT source,
       count(*) AS n_hits,
       count(DISTINCT lang) AS n_langs,
       min(doc_id) AS first_doc
FROM documents
WHERE text LIKE '%scan%' AND text NOT LIKE '%slow scan%'
GROUP BY source
""",
)
def log_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search with per-source hit counts — the reference's
    'grep the consolidated store' operation. LIKE predicates are
    codegen'd and evaluated during the scan."""
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("text").contains("scan") & ~F.col("text").like("%slow scan%"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_hits"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@register(
    "log_burst_detect",
    "log",
    oracle="""
WITH per_min AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute, count(*) AS n
  FROM events
  GROUP BY 1
), with_avg AS (
  SELECT minute, n,
         CAST(sum(n) OVER trail AS DOUBLE)
           / nullif(count(n) OVER trail, 0) AS trailing_avg
  FROM per_min
  WINDOW trail AS (ORDER BY minute ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT minute, n, trailing_avg
FROM with_avg
WHERE trailing_avg IS NOT NULL AND n > 2.0 * trailing_avg
""",
)
def log_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minutes whose event count exceeds 2× the trailing-10-minute
    average. Aggregates to per-minute buckets first, so the ordered
    window pass runs over ~43k rows/month REGARDLESS of event volume —
    the single-partition WindowExec is over the bounded minute grid,
    never the raw stream, so it is safe at 100 TB for any sane
    retention (even 10 years is ~5M 16-byte rows ≈ 80 MB on one
    core). If retention ever outgrows that, partition by day and
    replicate each day's last 10 minutes into the next partition as
    carry rows for the trailing frame."""
    e = load(spark, sf_dir, "events")
    # F.floor, not cast-truncation: cast('long') truncates toward zero
    # and diverges from the oracle's // (floor) for pre-epoch
    # timestamps — same idiom as the week/minute buckets below.
    per_min = e.groupBy(
        F.floor(F.unix_timestamp("ts") / F.lit(60)).cast("long").alias("minute")
    ).agg(F.count("*").alias("n"))
    trail = Window.orderBy("minute").rowsBetween(-10, -1)
    with_avg = per_min.withColumn(
        "trailing_avg",
        F.sum("n").over(trail).cast("double") / F.nullif(F.count("n").over(trail), F.lit(0)),
    )
    return with_avg.filter(
        F.col("trailing_avg").isNotNull() & (F.col("n") > 2.0 * F.col("trailing_avg"))
    ).select("minute", "n", "trailing_avg")


@register(
    "log_type_hour_matrix",
    "log",
    oracle="""
SELECT CAST(date_part('hour', ts) AS BIGINT) AS hour_of_day,
       count(*) FILTER (WHERE event_type = 'error')    AS n_error,
       count(*) FILTER (WHERE event_type = 'view')     AS n_view,
       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup')   AS n_signup
FROM events
GROUP BY 1
""",
)
def log_type_hour_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type × hour-of-day matrix (the daily-rhythm dashboard
    view) via pivot with an explicit value list — 24 output rows no
    matter the input volume."""
    e = load(spark, sf_dir, "events")
    types = ["error", "view", "click", "purchase", "signup"]
    p = (
        e.groupBy(F.hour("ts").cast("long").alias("hour_of_day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL where a cell had no rows; the FILTER oracle
    # yields 0 — align with coalesce
    return p.select(
        "hour_of_day",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


@register(
    "log_event_transitions",
    "log",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
)
def log_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (bigram counts per user stream) —
    the Markov-chain view of a log: which state follows which. One
    window pass + one 25-row aggregate."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_timestamp("ts").alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "log_user_funnel",
    "log",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS signup_s,
         max(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS last_purchase_s
  FROM events
  GROUP BY user_id
)
SELECT count(signup_s) AS n_signed,
       count(CASE WHEN last_purchase_s >= signup_s THEN 1 END) AS n_converted,
       CAST(count(CASE WHEN last_purchase_s >= signup_s THEN 1 END) AS DOUBLE)
         / count(signup_s) AS conversion_rate
FROM per_user
""",
)
def log_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup→purchase conversion in a SINGLE pass over events: a user
    converted iff max(purchase_s) >= min(signup_s) (some purchase at or
    after the first signup), so one groupBy(user) + one global agg —
    no join, no second scan. The earlier join formulation cost 7
    exchanges; this costs 2."""
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("s"))).alias("signup_s"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s"))).alias(
            "last_purchase_s"
        ),
    )
    converted = F.when(
        F.col("last_purchase_s") >= F.col("signup_s"), F.lit(1)
    )
    return per_user.agg(
        F.count("signup_s").alias("n_signed"),
        F.count(converted).alias("n_converted"),
        # try_divide: no signup at all (empty events) is NULL, not an
        # ANSI DIVIDE_BY_ZERO — DuckDB's x / 0 is NULL too
        F.try_divide(F.count(converted).cast("double"), F.count("signup_s")).alias(
            "conversion_rate"
        ),
    )


@register(
    "log_retention_cohorts",
    "log",
    oracle="""
WITH uw AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
  FROM events GROUP BY 1, 2
), c AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
       count(DISTINCT uw.user_id) AS n_users
FROM uw JOIN c USING (user_id)
GROUP BY 1, 2
""",
)
def log_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (cohort week × activity-week offset →
    active users) — the standard product/log-analytics retention
    matrix. Weeks are integer epoch//604800 so both engines bucket
    identically (date_trunc('week') start-of-week conventions and
    timezones never enter). Shape at scale: events collapse to
    DISTINCT (user, week) FIRST (shuffle ~|users|×|weeks|, not
    |events|), cohort assignment is a per-user min, and the final
    aggregate counts distinct users per (cohort, offset) cell."""
    e = load(spark, sf_dir, "events")
    uw = (
        e.select(
            "user_id",
            (F.floor(F.unix_timestamp("ts") / F.lit(604800))).cast("long").alias("week"),
        )
        .distinct()
    )
    # Cohort week as a window-min over the SAME distinct frame rather
    # than a groupBy + self-join: the groupBy/join form re-derived uw
    # from a second full events scan (verified: two FileScans, zero
    # ReusedExchange — round-5 review), doubling the dominant I/O at
    # scale. The window reuses uw's user_id distribution, so events
    # are scanned and distinct-shuffled exactly once.
    cohort = F.min("week").over(Window.partitionBy("user_id"))
    return (
        uw.withColumn("cohort_week", cohort)
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "log_gap_fill",
    "log",
    oracle="""
WITH spine AS (
  SELECT t.m AS minute_s
  FROM generate_series(CAST(floor(epoch(TIMESTAMP '2024-01-05 00:00:00')) AS BIGINT),
                       CAST(floor(epoch(TIMESTAMP '2024-01-06 00:00:00')) AS BIGINT) - 60,
                       60) t(m)
), types AS (
  SELECT DISTINCT event_type FROM events
), counts AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 60) * 60 AS minute_s,
         event_type, count(*) AS n
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-06 00:00:00'
  GROUP BY 1, 2
)
SELECT s.minute_s, t.event_type, coalesce(c.n, 0) AS n
FROM spine s CROSS JOIN types t
LEFT JOIN counts c ON c.minute_s = s.minute_s AND c.event_type = t.event_type
""",
)
def log_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute-grid gap filling for one day: a generated time spine ×
    the event-type dim, left-joined against observed per-minute counts
    with zeros filled in — the densification every monitoring chart
    and downstream anomaly detector needs. Scale shape: the spine is
    GENERATED (sequence+explode, 1440 rows/day — never scanned), the
    type dim is tiny and broadcast, and the only real shuffle is the
    per-minute aggregate of the time-pruned scan."""
    e = load(spark, sf_dir, "events")
    day_lo = F.lit("2024-01-05 00:00:00").cast("timestamp")
    day_hi = F.lit("2024-01-06 00:00:00").cast("timestamp")
    lo_s = F.unix_timestamp(day_lo)
    spine = spark.range(1).select(
        F.explode(
            F.sequence(lo_s, F.unix_timestamp(day_hi) - 60, F.lit(60))
        ).alias("minute_s")
    )
    types = e.select("event_type").distinct()
    counts = (
        e.filter((F.col("ts") >= day_lo) & (F.col("ts") < day_hi))
        .groupBy(
            ((F.floor(F.unix_timestamp("ts") / 60)) * 60).cast("long").alias("minute_s"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.crossJoin(F.broadcast(types))
        .join(F.broadcast(counts), ["minute_s", "event_type"], "left")
        .select("minute_s", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )


@register(
    "log_anomaly_zscore",
    "log",
    oracle="""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start, count(*) AS n_events
  FROM events
  GROUP BY 1, 2
), s AS (
  SELECT event_type, hour_start, n_events,
         avg(n_events)         OVER (PARTITION BY event_type) AS mu,
         stddev_samp(n_events) OVER (PARTITION BY event_type) AS sigma
  FROM h
)
SELECT event_type, hour_start, n_events,
       round((n_events - mu) / sigma, 4) AS zscore
FROM s
WHERE sigma > 0 AND abs(round((n_events - mu) / sigma, 4)) > 2
""",
)
def log_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours where an event type's count is
    more than 2 sample standard deviations from that type's mean rate.
    Two-level shape: the hourly aggregate first collapses events to
    |types|x|hours| rows (the only shuffle that sees raw data), then
    the per-type mean/stddev window runs over that tiny frame - at
    100 TB the window input is bounded by hours x types, not events.
    z is rounded to 4 places BEFORE the threshold test so the flagged
    set is identical across engines (stddev accumulation order
    differs)."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type")
    s = h.select(
        "event_type",
        "hour_start",
        "n_events",
        F.avg("n_events").over(w).alias("mu"),
        F.stddev_samp("n_events").over(w).alias("sigma"),
    )
    z = F.round((F.col("n_events") - F.col("mu")) / F.col("sigma"), 4)
    return (
        s.filter(F.col("sigma") > 0)
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 2)
        .select("event_type", "hour_start", "n_events", "zscore")
    )


@register(
    "log_rollup_multires",
    "log",
    oracle="""
SELECT 'minute' AS resolution, date_trunc('minute', ts) AS bucket_start,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'hour', date_trunc('hour', ts), event_type, count(*),
       CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE)
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type, count(*),
       CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE)
FROM events GROUP BY 2, 3
""",
)
def log_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (minute -> hour -> day
    continuous aggregates). The minute level is the only aggregate
    that scans events; hour re-aggregates the minute frame and day the
    hour frame - hierarchical reaggregation, so each coarser level
    shuffles ~60x less than recomputing from raw. Sums accumulate in
    DECIMAL through every level (exact, order-independent - see
    functions/compat.py) and surface as DOUBLE only at the output, so
    the hierarchical path is bit-identical to the direct aggregation
    the oracle runs."""
    e = load(spark, sf_dir, "events")
    # Each level feeds both the next-coarser rollup and the union
    # output; both consumers read all its columns, so AQE reuses the
    # level's exchange and the events table is scanned once.
    minute = e.groupBy(
        F.date_trunc("minute", "ts").alias("bucket_start"), "event_type"
    ).agg(F.count("*").alias("n_events"), F.sum(dec("value", 2)).alias("sv"))
    hour = minute.groupBy(
        F.date_trunc("hour", "bucket_start").alias("bucket_start"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    day = hour.groupBy(
        F.date_trunc("day", "bucket_start").alias("bucket_start"), "event_type"
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))

    def lvl(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("resolution"),
            "bucket_start",
            "event_type",
            "n_events",
            F.col("sv").cast("double").alias("sum_value"),
        )

    return lvl(minute, "minute").unionAll(lvl(hour, "hour")).unionAll(lvl(day, "day"))


# SLO error-budget target used by log_slo_burn: "at most 5% of events
# may be errors". The synthetic stream runs ~20% errors, so burn > 1
# hours actually occur at every sf.
SLO_TARGET = 0.05


@register(
    "log_slo_burn",
    "log",
    oracle=f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         count(*) AS n_total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
  FROM events
  GROUP BY 1
)
SELECT hour_start, n_total, n_errors,
       round((CAST(n_errors AS DOUBLE) / n_total) / {SLO_TARGET}, 4) AS burn,
       round(avg(CAST(n_errors AS DOUBLE) / n_total) OVER (
             ORDER BY hour_start ROWS BETWEEN 5 PRECEDING AND CURRENT ROW
           ) / {SLO_TARGET}, 4) AS burn_6h
FROM h
""",
)
def log_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn rate: hourly error share over the SLO
    target, plus the 6-hour rolling burn used for multi-window alerts
    (Google SRE workbook's fast/slow-burn pattern). Same two-level
    shape as log_anomaly_zscore: the only shuffle over raw events is
    the hourly aggregate; the ordered rolling window then runs over
    the |hours| frame, which is bounded (~9k rows/year) regardless of
    event volume, so the single-partition sort is safe at 100 TB.
    Rates are rounded to 4 places at the output so float division
    order can't flip the comparison across engines."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(F.date_trunc("hour", "ts").alias("hour_start")).agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_errors"),
    )
    rate = F.col("n_errors").cast("double") / F.col("n_total")
    w = Window.orderBy("hour_start").rowsBetween(-5, 0)
    return h.select(
        "hour_start",
        "n_total",
        "n_errors",
        F.round(rate / SLO_TARGET, 4).alias("burn"),
        F.round(F.avg(rate).over(w) / SLO_TARGET, 4).alias("burn_6h"),
    )


@register(
    "log_corr_matrix",
    "log",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       round(corr(a.n, b.n), 4) AS corr_hourly
FROM h a JOIN h b ON a.hour_start = b.hour_start
WHERE a.event_type < b.event_type
GROUP BY 1, 2
HAVING count(*) > 1
""",
)
def log_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident-correlation matrix: Pearson correlation between every
    pair of event types' hourly volume series ("do error spikes move
    with signup drops?"). Raw events collapse to the |hours|×|types|
    hourly aggregate first — the only stage that sees event volume —
    then the pair space is a self-equi-join on hour over that bounded
    frame (|types|² × |hours| rows at most, ~22k/month here), and corr
    is one distributive aggregate per pair. Rounded to 4 places before
    compare (corr's accumulation order differs across engines)."""
    e = load(spark, sf_dir, "events")
    # |hours|×|types| rows — time-bounded. Both self-join sides read
    # the same columns of `h`, so AQE reuses its exchange: one scan.
    h = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
    ).agg(F.count("*").alias("n"))
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(
            b,
            (F.col("a.hour_start") == F.col("b.hour_start"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.round(F.corr(F.col("a.n"), F.col("b.n")), 4).alias("corr_hourly"),
            F.count("*").alias("n_hours"),
        )
        .filter(F.col("n_hours") > 1)
        .select("type_a", "type_b", "corr_hourly")
    )


@register(
    "log_seasonality_profile",
    "log",
    oracle="""
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hod,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT dow, hod,
       CAST(sum(n) AS BIGINT) AS total_events,
       CAST(count(*) AS BIGINT) AS n_hours,
       round(avg(n), 4) AS avg_per_hour
FROM h GROUP BY dow, hod
""",
)
def log_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heat map: average events per hour for each
    (day-of-week × hour-of-day) cell — the baseline that anomaly
    alerts compare against ("is 3am Sunday quiet *for a Sunday*?").
    Two-level aggregate: raw events first collapse to concrete hours
    (the only full-volume shuffle), then the 7×24-cell profile
    re-aggregates that bounded frame. Spark dayofweek is 1=Sunday;
    DuckDB dayofweek is 0=Sunday, shimmed +1 in the oracle."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count("*").alias("n"))
    return h.groupBy("dow", "hod").agg(
        F.sum("n").alias("total_events"),
        F.count("*").alias("n_hours"),
        F.round(F.avg("n"), 4).alias("avg_per_hour"),
    )


def _utc_day_s(ts) -> int:
    """Epoch seconds of the UTC day containing a footer ts statistic:
    raw epoch-nanos for a TIMESTAMP(NANOS) column, else a datetime
    (naive means UTC). Stats are µs-truncated, which can only LOWER
    the boundary by one day in the measure-zero exactly-midnight case;
    a lower cutoff just enlarges the open tail (correctness is
    cutoff-independent — the merge covers everything either way)."""
    import datetime

    if isinstance(ts, int):
        ts = datetime.datetime.fromtimestamp(ts / 1e9, datetime.timezone.utc)
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=datetime.timezone.utc)
    day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
    return int(day.timestamp())


@register(
    "log_rollup_incremental",
    "log",
    oracle="""
SELECT event_type,
       CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_s,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY 1, 2
""",
)
def log_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance — the materialized-view refresh
    loop of a 100 TB event store: the CLOSED portion of the log (all
    hours before the newest day) is aggregated ONCE and persisted as a
    partial-aggregate table; each refresh re-aggregates only the OPEN
    tail and merges partials. Merge-correctness is the whole design:
    counts add, and the stored partial sums stay DECIMAL(25,2) so the
    merge is exact decimal addition — merged result ≡ one global
    aggregate, bit-for-bit, which the oracle states directly.

    Refresh cost is O(delta) + O(|rollup|) FOR REAL, not just in
    prose (round-7 review caught the first version full-scanning
    twice): the open/closed cutoff comes from the parquet FOOTER's ts
    statistics (catalog.table_column_minmax, zero Spark jobs; a table
    without them — an empty one has no row groups — is all open
    tail), and the delta filter lands on the RAW ts column BEFORE any
    conversion, so it pushes into the scan and prunes closed row
    groups by their min/max stats (plan-pinned: PushedFilters carries
    ts). On a real dt-partitioned 100 TB log the same predicate is a
    partition prune. The stored rollup is fingerprint-keyed
    (dir-aware, ns mtime) so regenerated source data always rebuilds."""
    from linux_logs_spark.catalog import (
        dataset_fingerprint,
        nanos_ts_to_micros,
        table_column_minmax,
        table_path,
    )
    from linux_logs_spark.operators.scans import staged_dataset

    load(spark, sf_dir, "events")  # side effect: session confs (UTC, nanosAsLong)
    path = table_path(sf_dir, "events")
    raw = spark.read.parquet(path)

    def partial(df: DataFrame) -> DataFrame:
        hourly = nanos_ts_to_micros(df).select(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_s"),
            "value",
        )
        return hourly.groupBy("event_type", "hour_s").agg(
            F.count("*").alias("n"),
            F.sum(dec("value", 2)).alias("value_dec"),  # STAYS decimal
        )

    ts_range = table_column_minmax(sf_dir, "events", "ts")
    if ts_range is None:
        # no ts statistics (an empty table has no row groups): the
        # whole table is the open tail, with no staged base
        parts = partial(raw)
    else:
        cutoff_day_s = _utc_day_s(ts_range[1])
        # the raw column is epoch-nanos BIGINT (driver testdata) or a
        # real timestamp (rehearsal data) — build the pushable literal
        # to match
        if dict(raw.dtypes).get("ts") == "bigint":
            cut = F.lit(cutoff_day_s * 1_000_000_000)
        else:
            cut = F.timestamp_seconds(F.lit(cutoff_day_s))
        size, mtime_ns = dataset_fingerprint(path)
        base_path = staged_dataset(
            sf_dir,
            "rollup_hourly",
            f"{size}_{mtime_ns}_{cutoff_day_s}",
            lambda p: partial(raw.filter(F.col("ts") < cut))
            .write.mode("overwrite")
            .parquet(p),
        )
        parts = spark.read.parquet(base_path).unionByName(
            partial(raw.filter(F.col("ts") >= cut))
        )
    return (
        parts.groupBy("event_type", "hour_s")
        .agg(
            F.sum("n").alias("n"),
            F.sum("value_dec").cast("double").alias("value_sum"),
        )
    )


@register(
    "log_template_mine",
    "log",
    oracle=r"""
WITH lines AS (
  SELECT user_id,
         printf('svc%d: user=%d action=%s value_cents=%d trace=%d',
                event_id % 7, user_id, event_type,
                CAST(floor(value * 100 + 0.5) AS BIGINT),
                event_id) AS line
  FROM events
), templ AS (
  SELECT user_id, line,
         regexp_replace(line, '[0-9]+', '<N>', 'g') AS template
  FROM lines
)
SELECT template,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       min(line) AS example
FROM templ
GROUP BY template
""",
)
def log_template_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-template mining, the Drain-style first pass every log
    platform runs: collapse each raw line's variable tokens (the digit
    runs — ids, counters, sizes) into a placeholder and aggregate by
    the survived constant skeleton. One template per event_type here
    by construction, which is the point: the masked skeleton IS the
    message type, recovered without knowing the format strings. Plan
    shape: synthesize → one regexp_replace → hash aggregate on the
    template string; all codegen'd, map-side partial aggregation does
    the heavy dedup before the single shuffle, and template
    cardinality (≈ distinct formats, thousands at worst) is tiny
    regardless of corpus size — the 100 TB profile of real template
    miners. Numbers embed as exact integer cents (floor(v*100+0.5) is
    binary-exact both engines); min(line) is the deterministic
    exemplar."""
    e = load(spark, sf_dir, "events")
    lines = e.select(
        "user_id",
        F.format_string(
            "svc%d: user=%d action=%s value_cents=%d trace=%d",
            F.col("event_id") % 7,
            F.col("user_id"),
            F.col("event_type"),
            F.floor(F.col("value") * 100 + 0.5).cast("long"),
            F.col("event_id"),
        ).alias("line"),
    )
    templ = lines.withColumn(
        "template", F.regexp_replace("line", "[0-9]+", "<N>")
    )
    return templ.groupBy("template").agg(
        F.count("*").alias("n_lines"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("line").alias("example"),
    )


_ENT_TERM6 = round6_away_sql("p * ln(p)")


@register(
    "log_entropy_profile",
    "log",
    oracle=f"""
WITH c AS (
  SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
), t AS (
  SELECT hour_of_day, sum(n) AS n_events, count(*) AS n_types
  FROM c GROUP BY hour_of_day
), p AS (
  SELECT c.hour_of_day, CAST(t.n_events AS BIGINT) AS n_events,
         CAST(t.n_types AS BIGINT) AS n_types,
         CAST(c.n AS DOUBLE) / CAST(t.n_events AS DOUBLE) AS p
  FROM c JOIN t ON c.hour_of_day = t.hour_of_day
)
SELECT hour_of_day, n_events, n_types,
       -CAST(sum(CAST({_ENT_TERM6} AS DECIMAL(25,6))) AS DOUBLE)
         AS entropy_nats
FROM p
GROUP BY hour_of_day, n_events, n_types
""",
)
def log_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type mix per hour-of-day — the
    drift/anomaly profile a platform baselines traffic against (a
    sudden entropy drop means one event type is flooding; a rise means
    new/unusual traffic). H = -Σ p·ln(p) in nats.

    Scale shape: events collapse to |hours|×|types| counts in ONE
    map-side partial aggregate before any shuffle; everything after is
    arithmetic over ≤ 24×|types| rows (the per-hour totals join is a
    24-row broadcast). Float parity: p is a single IEEE division;
    ln() is libm-vs-JVM so each p·ln(p) term is rounded half-away at 6
    digits, then accumulated in DECIMAL(25,6) — exact and order-free
    (compat.py failure mode 2) — and negated after the final cast."""
    e = load(spark, sf_dir, "events")
    # 24×|types| rows — bounded. `c` feeds both the per-hour totals and
    # the p join; AQE reuses its exchange, so events are scanned once.
    c = e.groupBy(
        F.hour("ts").cast("long").alias("hour_of_day"), "event_type"
    ).agg(F.count("*").alias("n"))
    t = c.groupBy("hour_of_day").agg(
        F.sum("n").alias("n_events"), F.count("*").alias("n_types")
    )
    p = c.join(F.broadcast(t), "hour_of_day").select(
        "hour_of_day",
        "n_events",
        "n_types",
        (F.col("n").cast("double") / F.col("n_events").cast("double")).alias("p"),
    )
    return p.groupBy("hour_of_day", "n_events", "n_types").agg(
        (-F.sum(F.expr(_ENT_TERM6).cast("decimal(25,6)")).cast("double")).alias(
            "entropy_nats"
        )
    )


# Debounce window: a repeat alert for the same user within this many
# seconds of the PREVIOUS alert is suppressed (lag-debounce — the
# stateless policy; an anchored cooldown that measures from the last
# EMITTED alert is inherently sequential per key and would be an
# applyInPandas op like pack_sequences_ffd).
ALERT_DEBOUNCE_S = 600


@register(
    "log_alert_debounce",
    "log",
    oracle=f"""
WITH a AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE event_type = 'error'
), f AS (
  SELECT user_id, ts,
         (prev_ts IS NOT NULL AND
          date_diff('microsecond', prev_ts, ts) < {ALERT_DEBOUNCE_S} * 1000000)
           AS suppressed
  FROM a
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_alerts,
       CAST(count(*) FILTER (WHERE NOT suppressed) AS BIGINT) AS n_emitted,
       CAST(count(*) FILTER (WHERE suppressed) AS BIGINT) AS n_suppressed,
       min(ts) AS first_alert,
       max(ts) AS last_alert
FROM f
GROUP BY user_id
""",
)
def log_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert DEBOUNCE — the noise-suppression pass every paging
    pipeline runs before notifying: a repeat error alert for the same
    user within ALERT_DEBOUNCE_S of the previous one is suppressed,
    and the per-user accounting (emitted vs suppressed volume) is what
    an alert-quality review consumes. Gap measured in exact integer
    MICROSECONDS (timestamps are µs-precision; an epoch-seconds
    difference would be float) so the threshold compare is identical
    cross-engine.

    Scale shape: one shuffle on user_id serves both the lag window and
    the rollup (the cust_order_intervals discipline); the
    (ts, event_id) lag ordering is a total order, so the
    previous-alert pairing is deterministic under any partitioning.
    The stateful variant of this policy — cooldown anchored to the
    last EMITTED alert — lives in streaming as stream_custom_state's
    class of per-key state machine, not in one window."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    a = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "suppressed",
        F.col("prev_ts").isNotNull()
        & (
            F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
            < ALERT_DEBOUNCE_S * 1_000_000
        ),
    )
    return a.groupBy("user_id").agg(
        F.count("*").alias("n_alerts"),
        F.count_if(~F.col("suppressed")).alias("n_emitted"),
        F.count_if(F.col("suppressed")).alias("n_suppressed"),
        F.min("ts").alias("first_alert"),
        F.max("ts").alias("last_alert"),
    )


@register(
    "log_latency_percentiles",
    "log",
    oracle="""
SELECT event_type, date_trunc('hour', ts) AS hour_start,
       CAST(count(*) AS BIGINT) AS n,
       quantile_disc(value, 0.50) AS p50,
       quantile_disc(value, 0.95) AS p95,
       quantile_disc(value, 0.99) AS p99
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""",
)
def log_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service-hour latency percentiles — THE canonical SRE
    dashboard query (p50/p95/p99 per service per hour, the panel every
    latency SLO is judged against). Exact DISCRETE percentiles via the
    agg_percentile rule (element at row_number == ceil(n·p) in sort
    order ≡ DuckDB's quantile_disc — actual data elements, so no
    interpolation arithmetic can drift cross-engine).

    Scale shape: one shuffle on (event_type, hour) serves both the
    ranking window and the rollup; group cardinality is
    services×hours (bounded), and each group sorts locally — no
    global sort. At 100 TB the exact form is affordable precisely
    because the partition key bounds every sort; the sketch
    alternative (approx_percentile, rows-only) is registered for the
    cases where even that shuffle is too much."""
    e = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start"), "value"
    )
    w = Window.partitionBy("event_type", "hour_start").orderBy("value")
    ranked = e.select(
        "event_type",
        "hour_start",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*")
        .over(Window.partitionBy("event_type", "hour_start"))
        .alias("n"),
    )

    def pick(p: float):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * F.lit(p)), F.col("value"))
        )

    return ranked.groupBy("event_type", "hour_start").agg(
        F.max("n").alias("n"),
        pick(0.50).alias("p50"),
        pick(0.95).alias("p95"),
        pick(0.99).alias("p99"),
    )


# Heavy-hitters summary knobs: per-summary capacity M (detection
# threshold Σ N_summary / M) and the shard sizing rule (events per
# summary shard — footer-derived like the FFD/SemDeDup grains, so
# summary granularity grows with the stream).
SS_CAPACITY = 64
SS_SHARD_ROWS = 1_000_000


@register(
    "agg_freq_items_sketch",
    "log",
    # Promoted from rows-only in round 15 (round-14 verdict item 7):
    # the sketch is APPROXIMATE as an estimator but fully DETERMINISTIC
    # as a computation (exact local counts, md5 sharding, item-key tie
    # cuts), so DuckDB can mirror it verbatim — Spark's
    # conv(hex, 16, 10) is DuckDB's CAST('0x' || hex AS BIGINT), and
    # sums are cast back to BIGINT because DuckDB widens to HUGEINT.
    oracle=f"""
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % GREATEST(1, (SELECT count(*) FROM events) // {SS_SHARD_ROWS}) AS shard,
         CAST(user_id AS VARCHAR) AS item
  FROM events
), counts AS (
  SELECT day, shard, item, count(*) AS n FROM d GROUP BY day, shard, item
), ranked AS (
  SELECT day, shard, item, n, rk,
         coalesce(max(CASE WHEN rk > {SS_CAPACITY} THEN n END)
                    OVER (PARTITION BY day, shard), 0) AS summary_min
  FROM (
    SELECT day, shard, item, n,
           row_number() OVER (PARTITION BY day, shard ORDER BY n DESC, item) AS rk
    FROM counts
  )
), summaries AS (
  SELECT day, shard, item, n AS est, summary_min FROM ranked WHERE rk <= {SS_CAPACITY}
), tot AS (
  SELECT CAST(coalesce(sum(summary_min), 0) AS BIGINT) AS tot_min
  FROM (SELECT DISTINCT day, shard, summary_min FROM summaries)
), merged AS (
  SELECT item, CAST(sum(est) AS BIGINT) AS est,
         CAST(sum(summary_min) AS BIGINT) AS present_min
  FROM summaries GROUP BY item
)
SELECT CAST(row_number() OVER (ORDER BY est DESC, item) AS BIGINT) AS rank,
       item, est, CAST(0 AS BIGINT) AS max_over,
       (SELECT tot_min FROM tot) - present_min AS max_under
FROM merged
""",
)
def agg_freq_items_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy-hitter event sources via MERGEABLE capacity-M
    heavy-hitter summaries (Agarwal et al., "Mergeable Summaries" —
    the deterministic batch form of Space-Saving) — the heavy-hitters
    sibling of agg_hll_sketch_rollup (distinct counts) and the approx
    answer to the question log_top_services answers exactly. Each
    (day, shard) summary keeps its top-M items BY EXACT LOCAL COUNT
    plus one scalar bound (the largest dropped count); summaries
    merge associatively, so per-day summaries roll into weekly or
    monthly ones without touching raw events again, shipping at most
    M+1 rows each REGARDLESS of item cardinality.

    Plan shape — the part the first cut got wrong (it grouped RAW
    events into applyInPandas summaries, a full-stream shuffle the
    10× rehearsal measured at 21 MB): counts come from one
    map-side-combined hash aggregate on (day, shard, item) — the
    shuffle carries only DISTINCT combos with partial counts, never
    events — then the summary cut is a bounded per-(day, shard)
    row_number window over those counts, all JVM-side, zero Python.
    Shard = md5(event_id) bucket with the count from the parquet
    footer (zero jobs), so group width is bounded at any scale.

    Merge semantics (all DataFrame ops over ≤ (M+1)×|summaries|
    rows): per item, est = Σ exact counts over summaries that kept it
    — a LOWER bound, so max_over = 0 (tighter than streaming
    Space-Saving's eviction inflation); a summary that DROPPED the
    item contributes at most its max-dropped-count scalar, carried as
    Σ_all bound − Σ_present bound via one 1-row broadcast (the
    bounded-scalar crossJoin class). Deterministic and order-free by
    construction (exact counts; ties cut on the item key).
    Guarantees pinned in tests/test_approx_quality.py: every exact
    count lies in [est, est + max_under], and any item with true
    count above Σ N_g / M is reported — each summary's drop bound is
    ≤ N_g/(M+1), so a never-kept item's total is strictly below the
    threshold."""
    n_ev = table_row_count(sf_dir, "events")
    n_shards = max(1, n_ev // SS_SHARD_ROWS)
    d = load(spark, sf_dir, "events").selectExpr(
        "cast(ts as date) AS day",
        "cast(conv(substring(md5(cast(event_id as string)), 1, 8), 16, 10)"
        f" as bigint) % {n_shards} AS shard",
        "cast(user_id as string) AS item",
    )
    counts = d.groupBy("day", "shard", "item").agg(F.count("*").alias("n"))
    w = Window.partitionBy("day", "shard").orderBy(
        F.col("n").desc(), F.col("item")
    )
    # The kept rows and the drop bound come from ONE window pass: rk
    # ranks the items, and a sibling unordered window over the SAME
    # (day, shard) partitioning takes max(n) across the rows the rank
    # cut drops — the one scalar a summary carries for everything it
    # dropped (any absent item's true count is ≤ the largest dropped
    # count; 0 when nothing was dropped). Spark plans both Window
    # operators behind a single Exchange+Sort (guide §2.4).
    wg = Window.partitionBy("day", "shard")
    ranked = counts.withColumn("rk", F.row_number().over(w)).withColumn(
        "summary_min",
        F.coalesce(
            F.max(F.when(F.col("rk") > SS_CAPACITY, F.col("n"))).over(wg),
            F.lit(0),
        ),
    )
    # ≤ SS_CAPACITY rows per (day, shard). The merged aggregate and the
    # tot_min scalar below both read it above the window, so AQE
    # reuses the window's exchange: one events scan.
    summaries = ranked.filter(F.col("rk") <= SS_CAPACITY).select(
        "day", "shard", "item", F.col("n").alias("est"), "summary_min"
    )
    # Σ bound over ALL summaries — one scalar, broadcast-crossJoined
    # (the bounded-collect class used by the CC/BPE scalars).
    tot_min = (
        summaries.select("day", "shard", "summary_min")
        .distinct()
        .agg(F.sum("summary_min").alias("tot_min"))
    )
    merged = (
        summaries.groupBy("item")
        .agg(
            F.sum("est").alias("est"),
            F.sum("summary_min").alias("present_min"),
        )
        .crossJoin(F.broadcast(tot_min))
        .select(
            "item",
            "est",
            F.lit(0).cast("long").alias("max_over"),
            (F.col("tot_min") - F.col("present_min")).alias("max_under"),
        )
    )
    # Report EVERY merged candidate, ranked — NOT a top-K cut: the
    # recall guarantee ("any item above Σ N_g / M is reported") is a
    # membership property of the merged candidate SET, and est is a
    # lower bound, so an above-threshold item can rank below K by est
    # while its mass hides in max_under (round-9 review: limit(20)
    # silently broke the guarantee the tests pin whenever >20 items
    # cleared the threshold). Output stays bounded by CONSTRUCTION,
    # not by data: ≤ M × |summaries| rows regardless of cardinality —
    # that bound IS the sketch; a consumer wanting a top-K applies
    # its own limit to the ranked frame. The ranking window runs over
    # that bounded candidate set only.
    w2 = Window.orderBy(F.col("est").desc(), F.col("item"))
    return merged.withColumn(
        "rank", F.row_number().over(w2).cast("long")
    ).select("rank", "item", "est", "max_over", "max_under")
