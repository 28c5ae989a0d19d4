"""SparkSession factory tuned for this engine.

Local mode is the test bed (``local[$SPARK_GRAFT_CPUS]``); the configs
are chosen to also be the right defaults on a real cluster at 100 TB:
AQE on (runtime re-plan, skew-join splitting, shuffle-partition
coalescing), Arrow for any Python exchange, UTC session timezone so
results are comparable to a UTC-naive oracle (DuckDB), and shuffle
partitions sized to the local core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "linux-logs-spark"


def default_parallelism() -> int:
    """Local cores: $SPARK_GRAFT_CPUS, else the CPUs this process may
    run on (the affinity mask, which a container's cpuset narrows)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Driver heap: $SPARK_DRIVER_MEMORY, else ~70% of the host's
    MemTotal in whole GB (at least 1g), leaving room for the Python
    workers and the OS on a host with no swap."""
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if mem:
        return mem
    with open("/proc/meminfo") as fh:
        total_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(1, int(total_kb * 0.7) // 2**20)}g"


def scaled_partitions(n_rows: int, rows_per_part: int = 250_000) -> int:
    """Partition count that grows with the data instead of pinning at
    core count: a fixed repartition(default_parallelism()) makes
    per-partition volume ∝ n — the round-13 60M-vector leg unrolled
    1.9M-row (~1 GB) partitions into storage memory inside the same
    stage whose partial hash-agg then could not acquire its FIRST
    256 KB page (UNABLE_TO_ACQUIRE_MEMORY, got 0). Bounding rows per
    partition keeps unroll/execution pressure flat at any n; below
    rows_per_part×cores this returns exactly default_parallelism(),
    so every committed-sf plan is unchanged."""
    return max(default_parallelism(), n_rows // rows_per_part)


def get_spark(
    app_name: str = APP_NAME,
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are safe for an existing session too: getOrCreate() reuses
    a live session, and every setting we rely on for *correctness*
    (session timezone, ANSI mode) is re-asserted via runtime conf where
    possible.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects by default; read as epoch-ns LongType instead (the
        # catalog converts to a µs TimestampType column on load).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming micro-batches in tests use small state; keep the
        # default HDFS-backed state store (works everywhere).
        .config("spark.sql.streaming.schemaInference", "false")
        # Python DataSource pushFilters: without this Spark refuses to
        # plan a reader that implements pushFilters. Declared here at
        # construction so the engine's own sessions carry it from the
        # start (round-7 advice); scan_python_datasource still sets it
        # at runtime for plain driver-built sessions.
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    # 100 TB streaming story (opt-in, default off): the HDFS-backed
    # state store keeps every key's state ON HEAP, so a stateful query
    # whose state (per-user totals, dedup keys, stream-stream join
    # buffers) outgrows executor memory OOMs. RocksDB spills state to
    # local disk with incremental checkpointing — the right provider
    # once state >> heap. Off by default here because local tests run
    # tiny state and the JVM-side RocksDB dependency is pure overhead
    # at that scale; a cluster deployment sets
    # SPARK_GRAFT_ROCKSDB_STATE=1 (or passes the conf directly).
    # Smoke-verified round 6: stream_tumbling under the RocksDB
    # provider returns the same rows as the default provider on this
    # Spark build (the rocksdbjni dependency ships with Spark 4).
    if os.environ.get("SPARK_GRAFT_ROCKSDB_STATE") == "1":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ).config(
            # bound recovery time: changelog checkpointing ships deltas
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Re-assert runtime-settable correctness-critical confs in case we
    # inherited a session built elsewhere (e.g. the driver's). ANSI is
    # included (round-5 review): a pre-built Spark-3-style session
    # with ansi.enabled=false silently changes cast/element_at
    # semantics the oracles rely on.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_ingest(df, n_rows: int | None = None):
    """Round-robin repartition of a NARROW scan feeding a compute-
    heavy map stage (shingle/word explode + multi-hash signatures).

    Spark cannot split a parquet ROW GROUP across tasks, and every
    table in this environment (driver testdata and rehearsal sets
    alike) is a single-file, single-row-group write — so without this
    exchange the expensive map work (e.g. 32 xxhash64 calls × 26M
    shingles in the minhash signature build) runs on ONE core while
    31 idle: the round-10 100× rehearsal measured that stage at
    396 s of a 410 s query. The exchange moves only the pruned
    projection (corpus bytes — strictly less than the exploded volume
    the next shuffle moves anyway), and buys full parallelism.

    On a well-laid-out 100 TB table (thousands of splittable files)
    the scan is already wide and this exchange is pure overhead ∝
    corpus bytes — cheap relative to the signature compute it feeds,
    but droppable: callers apply it only in pipelines whose map stage
    does real per-token work, never on scan-dominated queries.

    ``n_rows`` (round 14): pass the table's parquet-footer row count
    to size the exchange with the data instead of pinning at core
    count — the scaled_partitions rule one level up. At the 50M-doc
    rehearsal tier a fixed 32-way spread put ~1.6M docs (~500 MB of
    text) in each task: the per-task explode output blew the partial
    hash-agg combine dictionaries downstream, and map stages spilled
    near-raw tokens (90+ GB shuffle on a leg whose 5M-doc ancestor
    wrote 2.9 GB). Bounded-rows partitions keep the combine resident
    at any n; below 250k rows/core the count is exactly
    default_parallelism(), so every committed-sf plan is unchanged."""
    return df.repartition(
        scaled_partitions(n_rows) if n_rows else default_parallelism()
    )
