"""Scans, sources, sinks (SURVEY.md §2.1).

The reference's pipeline is `log file → regex parse → searchable
store`. Here: text/CSV/JSON sources with EXPLICIT schemas (never
inferSchema in production — one bad row flips a column type), the
syslog regex parser as codegen'd expressions, and a partitioned
parquet sink (partition pruning at read time is what makes the
100 TB "searchable store" searchable).

Roundtrip queries write under REPO/.scratch/<sf>/ — side-effect-free
w.r.t. the testdata, idempotent via overwrite mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linux_logs_spark.catalog import load, table_row_count
from linux_logs_spark.registry import register

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "..", ".scratch")


def _scratch_tag(sf_dir: str) -> str:
    """Scratch/catalog tag for an sf_dir: basename PLUS a hash of the
    full normalized path and of the scratch root's real path. Basename
    alone would let two data roots sharing a final path component
    (/a/sf0.01 and /b/sf0.01) clobber each other's staged state; the
    scratch root keeps a copied or moved checkout from reusing staging
    (a streaming checkpoint records absolute paths) written under the
    old location."""
    import hashlib

    norm = os.path.normpath(sf_dir)
    key = norm + "\0" + os.path.realpath(_SCRATCH)
    return (
        os.path.basename(norm).replace(".", "_")
        + "_"
        + hashlib.md5(key.encode()).hexdigest()[:8]
    )


def _scratch(sf_dir: str, name: str) -> str:
    path = os.path.abspath(os.path.join(_SCRATCH, _scratch_tag(sf_dir), name))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def staged_dataset(sf_dir: str, name: str, tag: str, build) -> str:
    """THE fingerprint-keyed materialization idiom (round-7 review —
    previously re-implemented inline at three sites, each a place for
    the next staleness bug to hide): a dataset lives under
    .scratch/<sf>/<name>/<tag> and is rebuilt whenever its _SUCCESS
    marker is absent (first run, interrupted write, new tag after a
    source regen). Stale sibling tags are pruned first; the current
    tag is NOT pre-removed — ``build(path)`` must write with
    ``mode("overwrite")``, which cleans a half-written dir atomically
    from Spark's side where an rmtree+ErrorIfExists pair could wedge
    (swallowed rmtree failure → permanent 'path already exists')."""
    import shutil

    path = _scratch(sf_dir, os.path.join(name, tag))
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        parent = os.path.dirname(path)
        for sib in os.listdir(parent):
            if sib != tag:
                shutil.rmtree(os.path.join(parent, sib), ignore_errors=True)
        build(path)
    return path


@register("scan_parquet", "scan", oracle="SELECT * FROM nation")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "nation")


_SYSLOG_RE = r"^(\w+ +\d+ [\d:]+) (\S+) ([\w.-]+)\[(\d+)\]: (.*)$"


@register(
    "scan_text_parse",
    "scan",
    oracle=rf"""
WITH lines AS (
  SELECT printf('Jan %02d 03:14:%02d host%d svc%d[%d]: %s',
                doc_id % 27 + 1, doc_id % 60, doc_id % 5,
                doc_id % 8, 1000 + doc_id % 900, text) AS value
  FROM documents
)
SELECT regexp_extract(value, '{_SYSLOG_RE}', 1) AS ts_str,
       regexp_extract(value, '{_SYSLOG_RE}', 2) AS host,
       regexp_extract(value, '{_SYSLOG_RE}', 3) AS service,
       CAST(regexp_extract(value, '{_SYSLOG_RE}', 4) AS BIGINT) AS pid,
       regexp_extract(value, '{_SYSLOG_RE}', 5) AS message
FROM lines
""",
)
def scan_text_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference's core operation: raw syslog line → typed record.

    Deterministic syslog-style lines are synthesized from documents,
    round-tripped through a real text file (spark.read.text), then
    parsed with one regex via regexp_extract — all codegen'd JVM
    expressions, no Python. The oracle synthesizes the same lines
    inline and must produce identical parsed fields.
    """
    d = load(spark, sf_dir, "documents")
    lines = d.select(
        F.format_string(
            "Jan %02d 03:14:%02d host%d svc%d[%d]: %s",
            F.col("doc_id") % 27 + 1,
            F.col("doc_id") % 60,
            F.col("doc_id") % 5,
            F.col("doc_id") % 8,
            F.col("doc_id") % 900 + 1000,
            F.col("text"),
        ).alias("value")
    )
    path = _scratch(sf_dir, "syslog_txt")
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return raw.select(
        F.regexp_extract("value", _SYSLOG_RE, 1).alias("ts_str"),
        F.regexp_extract("value", _SYSLOG_RE, 2).alias("host"),
        F.regexp_extract("value", _SYSLOG_RE, 3).alias("service"),
        F.regexp_extract("value", _SYSLOG_RE, 4).cast("long").alias("pid"),
        F.regexp_extract("value", _SYSLOG_RE, 5).alias("message"),
    )


@register(
    "scan_csv_roundtrip",
    "scan",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source with an explicit schema (no inference).
    Columns chosen to be text-roundtrip-exact (ints, enums, 2dp
    doubles — shortest-repr printing parses back bit-identical)."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    path = _scratch(sf_dir, "events_csv")
    e.write.mode("overwrite").option("header", "true").csv(path)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).option("header", "true").csv(path)


@register(
    "scan_json_lines",
    "scan",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source with explicit schema."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    path = _scratch(sf_dir, "docs_json")
    d.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@register(
    "scan_orc_roundtrip",
    "scan",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source — the second columnar format the engine
    speaks; same pushdown/pruning machinery as parquet."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = _scratch(sf_dir, "supplier_orc")
    s.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "sink_parquet_partitioned",
    "scan",
    oracle="""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS dt,
       event_type,
       count(*) AS n
FROM events
GROUP BY 1, 2
""",
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned parquet sink → read back → aggregate.

    This is the 'searchable store' layout for 100 TB of logs: writes
    land in dt=YYYY-MM-DD directories, so any time-bounded query
    prunes partitions at planning time (zero I/O outside the range).
    The read-back count verifies no rows were lost or duplicated;
    it reads with the written frame's schema, because an empty write
    leaves no file to infer one from."""
    e = load(spark, sf_dir, "events")
    path = _scratch(sf_dir, "events_by_day")
    by_day = e.withColumn("dt", F.date_trunc("day", "ts").cast("date"))
    by_day.write.mode("overwrite").partitionBy("dt").parquet(path)
    back = spark.read.schema(by_day.schema).parquet(path)
    # dt surfaces as a string: DATE-typed cells materialize as
    # date-vs-midnight-datetime across engines and break the hash.
    return back.groupBy(F.col("dt").cast("string").alias("dt"), "event_type").agg(
        F.count("*").alias("n")
    )


@register("scan_binary_files", "scan", oracle=None)  # paths vary per sf → rows-only
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingest via the binaryFile source — the entry point of
    a multimodal pipeline (images/audio/video land as whole files; the
    content column carries the bytes that mapInPandas decoders
    consume, see sources/multimodal.py). Reads the sf dir's parquet
    files AS OPAQUE BYTES and emits per-file name, length, and sha256
    digest. At 100 TB the source parallelizes per file with
    spark.sql.files.maxPartitionBytes-bounded tasks and prunes the
    content column when only metadata is selected. DuckDB's oracle
    contract only pre-registers the ten table views (no filesystem
    paths), so the query is rows-only by declaration; determinism is
    trivially byte-exact (file digests)."""
    files = spark.read.format("binaryFile").load(sf_dir + "/*.parquet")
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").cast("long").alias("n_bytes"),
        F.sha2("content", 256).alias("sha256"),
    ).orderBy("file_name")


@register(
    "scan_csv_malformed",
    "scan",
    # Promoted from rows-only in round 15 (round-14 verdict item 7):
    # the staged file is DERIVED from the events table (its first 50
    # rows by event_id, all non-null longs/enum strings, so every one
    # survives the CSV round trip) plus 3 constant malformed lines, of
    # which exactly one — the wrong-arity row "9001,7,error,..." —
    # parses all three data fields under PERMISSIVE partial-parse
    # semantics. The oracle mirrors the clean side from events and
    # pins the staged-constant side, which is what makes the parse
    # accounting (not just row counts) hash-checked.
    oracle="""
WITH e AS (
  SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 50
)
SELECT 'clean' AS category, count(*) AS n,
       CAST(sum(CASE WHEN event_id IS NOT NULL AND user_id IS NOT NULL
                      AND event_type IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_complete
FROM e
UNION ALL
SELECT 'quarantined', CAST(3 AS BIGINT), CAST(1 AS BIGINT)
""",
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingest: PERMISSIVE mode with a corrupt-record
    column — real 100 TB feeds always contain rows that don't parse,
    and failing the job (FAILFAST) or silently dropping them
    (DROPMALFORMED) are both wrong for a pipeline that must account
    for every input byte. A deterministic staged file carries 50 clean
    rows plus 3 deliberately broken ones (wrong arity, non-numeric
    int, bare garbage); the query returns per-category counts so the
    quarantine rate is observable. Malformed rows surface with the
    raw line preserved in _corrupt_record for replay/debugging —
    the quarantine-table pattern. Paths are sf-local scratch, so
    rows-only by declaration (deterministic: same 53 lines per sf)."""
    path = _scratch(sf_dir, "events_csv_dirty")
    marker = os.path.join(path, "_STAGED")
    if not os.path.exists(marker):
        e = (
            load(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type")
            .orderBy("event_id")
            .limit(50)
        )
        lines = ["event_id,user_id,event_type"] + [
            f"{r['event_id']},{r['user_id']},{r['event_type']}" for r in e.collect()
        ]
        lines += [
            "9001,7,error,EXTRA_FIELD,boom",   # wrong arity
            "not_a_number,8,view",             # unparseable long
            "garbage line without commas at all",
        ]
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-0.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        open(marker, "w").close()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(os.path.join(path, "part-0.csv"))
        # localCheckpoint (53 rows — free) for two reasons: (a) the
        # parse reads the FULL schema, so wrong-arity rows are always
        # flagged regardless of downstream column pruning; (b) Spark
        # rejects any plan whose file-source projection is ONLY the
        # corrupt column, and a pruning consumer — df.count() prunes
        # the agg outputs down to the corrupt-derived groupBy key —
        # trips that check on the raw relation (found by the round-9
        # rows-only hostile sweep; the driver's collect() never
        # prunes, so five full sweeps missed it). Unlike the round-3
        # cache() form, checkpointed blocks are reclaimed by
        # ContextCleaner when the frame drops — nothing pins across a
        # long driver session.
        .localCheckpoint(eager=True)
    )
    # Aggregating a flag over all three data columns (n_complete —
    # quarantine triage signal) keeps the completeness semantics
    # observable per category.
    complete = (
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).cast("long")
    return (
        df.select(
            complete.alias("is_complete"),
            F.when(F.col("_corrupt_record").isNull(), "clean")
            .otherwise("quarantined")
            .alias("category"),
        )
        .groupBy("category")
        .agg(
            F.count("*").alias("n"),
            F.sum("is_complete").alias("n_complete"),
        )
        .orderBy("category")
    )


# Apache combined-log regex. Conservative RE2 ∩ java.util.regex
# subset (char classes, \S/\w/\d, no backrefs/lookaround) — the same
# dialect rule doc_pii_scrub documents; oracle parity depends on it.
_APACHE_RE = (
    r'^(\S+) \S+ (\S+) \[([^\]]+)\] "(\w+) (\S+) [^"]*" (\d{3}) (\d+)$'
)


@register(
    "scan_apache_log",
    "scan",
    oracle=rf"""
WITH lines AS (
  SELECT printf('10.%d.%d.%d - user%d [10/Jan/2024:13:55:%02d +0000] "%s /api/v%d/item/%d HTTP/1.1" %d %d',
                doc_id % 256, (doc_id // 256) % 256, doc_id % 254 + 1,
                doc_id % 50, doc_id % 60,
                CASE doc_id % 4 WHEN 0 THEN 'GET' WHEN 1 THEN 'POST'
                                WHEN 2 THEN 'PUT' ELSE 'DELETE' END,
                doc_id % 3, doc_id,
                CASE doc_id % 6 WHEN 3 THEN 301 WHEN 4 THEN 404
                                WHEN 5 THEN 500 ELSE 200 END,
                (doc_id * 37) % 5000) AS value
  FROM documents
)
SELECT regexp_extract(value, '{_APACHE_RE}', 1) AS client_ip,
       regexp_extract(value, '{_APACHE_RE}', 2) AS username,
       regexp_extract(value, '{_APACHE_RE}', 3) AS ts_str,
       regexp_extract(value, '{_APACHE_RE}', 4) AS method,
       regexp_extract(value, '{_APACHE_RE}', 5) AS path,
       CAST(regexp_extract(value, '{_APACHE_RE}', 6) AS BIGINT) AS status,
       CAST(regexp_extract(value, '{_APACHE_RE}', 7) AS BIGINT) AS n_bytes
FROM lines
""",
)
def scan_apache_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second log format on the reference's core turf: Apache combined
    access-log line → typed record, same round-trip discipline as
    scan_text_parse (deterministic synthesis from documents → real
    text file → spark.read.text → one codegen'd regexp_extract per
    field, no Python). A log consolidator that only speaks syslog is
    half a log consolidator; this is the web-server half. At 100 TB
    the parse is embarrassingly parallel — file-split-per-task, no
    shuffle anywhere in the plan."""
    d = load(spark, sf_dir, "documents")
    method = (
        F.when(F.col("doc_id") % 4 == 0, "GET")
        .when(F.col("doc_id") % 4 == 1, "POST")
        .when(F.col("doc_id") % 4 == 2, "PUT")
        .otherwise("DELETE")
    )
    status = (
        F.when(F.col("doc_id") % 6 == 3, 301)
        .when(F.col("doc_id") % 6 == 4, 404)
        .when(F.col("doc_id") % 6 == 5, 500)
        .otherwise(200)
    )
    lines = d.select(
        F.format_string(
            '10.%d.%d.%d - user%d [10/Jan/2024:13:55:%02d +0000] "%s /api/v%d/item/%d HTTP/1.1" %d %d',
            F.col("doc_id") % 256,
            (F.col("doc_id") / 256).cast("long") % 256,
            F.col("doc_id") % 254 + 1,
            F.col("doc_id") % 50,
            F.col("doc_id") % 60,
            method,
            F.col("doc_id") % 3,
            F.col("doc_id"),
            status,
            (F.col("doc_id") * 37) % 5000,
        ).alias("value")
    )
    path = _scratch(sf_dir, "apache_log_txt")
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return raw.select(
        F.regexp_extract("value", _APACHE_RE, 1).alias("client_ip"),
        F.regexp_extract("value", _APACHE_RE, 2).alias("username"),
        F.regexp_extract("value", _APACHE_RE, 3).alias("ts_str"),
        F.regexp_extract("value", _APACHE_RE, 4).alias("method"),
        F.regexp_extract("value", _APACHE_RE, 5).alias("path"),
        F.regexp_extract("value", _APACHE_RE, 6).cast("long").alias("status"),
        F.regexp_extract("value", _APACHE_RE, 7).cast("long").alias("n_bytes"),
    )


@register(
    "table_optimize_compact",
    "scan",
    oracle="""
SELECT lang, source,
       count(*)               AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
""",
)
def table_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE/compaction over immutable parquet — the maintenance
    operation every log-ingest table needs: streaming writers land
    thousands of small files per hour, and small files kill scan
    throughput (per-file open cost, no intra-file parallelism, footer
    bloat). Stage documents FRAGMENTED (one file per write task, 16
    ways), then compact by rewriting with a row-count-derived target
    file count — the same coalesce-rewrite a Delta/Iceberg OPTIMIZE
    runs under the hood, expressed over plain parquet because the
    container has no lakehouse format. The read-back aggregate is the
    correctness contract (no rows lost/duplicated/mutated by the
    rewrite); the file-count invariant (fragmented ≫ compacted =
    ceil(rows/target)) is pinned by
    tests/test_plans.py::test_optimize_compact_file_counts.
    At 100 TB this runs per-partition (dt=...) with a bin-packing
    coalesce instead of a global one, so compaction parallelism stays
    at partition granularity — the single-table form here is that
    inner loop."""
    d = load(spark, sf_dir, "documents")
    frag_path = _scratch(sf_dir, "docs_fragmented")
    d.repartition(16).write.mode("overwrite").parquet(frag_path)
    frag = spark.read.parquet(frag_path)
    # target ~50k rows per output file — row-count-derived so the file
    # count scales with data, not with the writer's task count.
    n = frag.count()
    n_files = max(1, -(-n // 50_000))
    compact_path = _scratch(sf_dir, "docs_compacted")
    # coalesce is shuffle-free but can only SHRINK the partition
    # count; past 16×50k rows the target exceeds the staged partition
    # count and a silent coalesce cap would emit ever-larger files
    # (round-7 review). Growing needs the shuffle repartition pays —
    # which is fine: that branch only runs when the table is large
    # enough that bounded file sizes matter more than one exchange.
    if n_files <= frag.rdd.getNumPartitions():
        sized = frag.coalesce(n_files)
    else:
        sized = frag.repartition(n_files)
    sized.write.mode("overwrite").parquet(compact_path)
    back = spark.read.parquet(compact_path)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# Z-order clustering knobs: each dimension is RANGE-NORMALIZED to a
# Z_BITS-wide rank (floor((v - min) * (2^Z_BITS - 1) / range) — the
# scale-invariant geometry Delta's OPTIMIZE ZORDER gets from range
# partition ids; raw-value interleave degenerates whenever one dim's
# data range is narrower than a fixed cell), then the bits interleave
# into a 32-bit Morton code. Buckets are the code's top bits (shift
# 22 → a 32×32 grid over the normalized space). The anchor date
# underflows every o_orderdate so day numbers are non-negative.
Z_BITS = 16
Z_MAXN = (1 << Z_BITS) - 1
Z_BUCKET_SHIFT = 22
Z_DAY_ANCHOR = "1992-01-01"


def _z_interleave_sql(x: str, y: str) -> str:
    """Morton/Z-value of two Z_BITS-wide non-negative ints as ONE SQL
    string valid in BOTH Spark and DuckDB (`<<`/`>>`/`&` parse and
    evaluate identically — verified; + is safe because the shifted
    bits are disjoint). Generated from the same function for the
    engine and the oracle so the bit layout can never desync."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _z_norm_sql(v: str, mn: str, mx: str) -> str:
    """Range-normalize v to [0, Z_MAXN] as an integer rank. The
    multiply stays exact in double (< 2^53) and the division is one
    IEEE op on identical inputs, so floor() lands identically in both
    engines."""
    return (
        f"cast(floor(cast(({v}) - ({mn}) as double) * {Z_MAXN}"
        f" / cast(greatest(({mx}) - ({mn}), 1) as double)) as bigint)"
    )


# engine-side day extraction; the oracle uses DuckDB's date_diff
_Z_DAY_SPARK = f"datediff(cast(o_orderdate as date), date '{Z_DAY_ANCHOR}')"
_Z_DAY_DUCK = f"date_diff('day', DATE '{Z_DAY_ANCHOR}', CAST(o_orderdate AS DATE))"
_Z_CODE = _z_interleave_sql("xn", "yn")


def orders_zframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders + (day_no, _z) — the Morton-coded frame both the
    registered query and tests/test_zorder.py cluster by. The min/max
    normalization bounds come from the parquet FOOTER row-group
    statistics (catalog.table_column_minmax — zero Spark jobs, one
    fewer full pass over orders; datediff is monotone in the date so
    the day bounds derive from the o_orderdate stats), falling back
    to the old 1-row aggregate broadcast for datasets whose footers
    lack stats — footer stats are an optimization, never a
    correctness dependency. Footer min/max are exact for
    numeric/timestamp parquet columns, so the literal bounds equal
    what the aggregate (and the oracle) computes."""
    from datetime import date as _date, datetime as _dt

    from linux_logs_spark.catalog import table_column_minmax

    o = load(spark, sf_dir, "orders").selectExpr(
        "*", f"{_Z_DAY_SPARK} as day_no"
    )
    ck = table_column_minmax(sf_dir, "orders", "o_custkey")
    od = table_column_minmax(sf_dir, "orders", "o_orderdate")
    if ck is not None and od is not None:
        anchor = _date.fromisoformat(Z_DAY_ANCHOR)

        def _day_no(v) -> int:
            d = v.date() if isinstance(v, _dt) else v
            if isinstance(d, str):
                d = _date.fromisoformat(d[:10])
            return (d - anchor).days

        zn = o.selectExpr(
            "*",
            f"{_z_norm_sql('o_custkey', str(ck[0]), str(ck[1]))} as xn",
            f"{_z_norm_sql('day_no', str(_day_no(od[0])), str(_day_no(od[1])))}"
            " as yn",
        )
    else:
        b = o.selectExpr(
            "min(o_custkey) as mn_ck",
            "max(o_custkey) as mx_ck",
            "min(day_no) as mn_d",
            "max(day_no) as mx_d",
        )
        zn = o.join(F.broadcast(b)).selectExpr(
            "*",
            f"{_z_norm_sql('o_custkey', 'mn_ck', 'mx_ck')} as xn",
            f"{_z_norm_sql('day_no', 'mn_d', 'mx_d')} as yn",
        )
    return zn.selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", "day_no",
        f"({_Z_CODE}) as _z",
    )


@register(
    "table_zorder_cluster",
    "scan",
    oracle=f"""
WITH o AS (
  SELECT o_custkey, {_Z_DAY_DUCK} AS day_no FROM orders
), b AS (
  SELECT min(o_custkey) AS mn_ck, max(o_custkey) AS mx_ck,
         min(day_no) AS mn_d, max(day_no) AS mx_d
  FROM o
), z AS (
  SELECT o_custkey, day_no,
         {_z_norm_sql('o_custkey', 'mn_ck', 'mx_ck')} AS xn,
         {_z_norm_sql('day_no', 'mn_d', 'mx_d')} AS yn
  FROM o CROSS JOIN b
)
SELECT ({_Z_CODE}) >> {Z_BUCKET_SHIFT} AS z_bucket,
       count(*) AS n_orders,
       min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
       CAST(min(day_no) AS BIGINT) AS min_day,
       CAST(max(day_no) AS BIGINT) AS max_day
FROM z
GROUP BY 1
""",
)
def table_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering (Delta `OPTIMIZE ... ZORDER BY (custkey,
    orderdate)`): range-normalize both dimensions, interleave their
    bits into a Morton code, range-repartition + sort the table by it,
    and rewrite — after which every file covers a TIGHT RECTANGLE in
    the 2-D key space, so min/max footer stats prune files for
    predicates on EITHER column (a single-column sort only prunes its
    own column; that is the whole point of Z-order). The staged
    rewrite is the real write path — repartitionByRange(_z) gives
    non-overlapping per-file z-ranges and sortWithinPartitions packs
    row groups — and the registered output aggregates the READ-BACK
    per z-bucket (top Morton bits ≡ a 32×32 grid over the normalized
    space): the count proves the rewrite lost nothing, and the
    per-bucket min/max of BOTH dimensions exhibit the
    bounded-rectangle property the file stats inherit.
    tests/test_zorder.py pins the physical claim on actual row-group
    footers with the metric skipping actually obeys (expected fraction
    of row groups a predicate on dimension d reads = avg normalized
    span of d): the z layout's WORST dimension prunes >2× better than
    the single-column-sorted layout's unsorted dimension, which reads
    ~everything. The Morton and normalization expressions are generated
    SQL strings shared verbatim by engine and oracle (all-integer
    after one exact-double floor — the strongest parity class); at
    100 TB the identical plan shape applies per partition, the
    normalization bounds come from footer stats instead of an
    aggregate, and the z computation is pure codegen'd projection, so
    the only cost over a plain rewrite is the range exchange every
    OPTIMIZE pays anyway."""
    zpath = _scratch(sf_dir, "orders_zorder")
    # file count derives from the table's footer row count (the
    # table_optimize_compact rule: ~50k rows per file, floor of 8 so
    # test scale still exhibits multi-file range layout) — a fixed
    # writer-task count would emit ever-larger files as the table
    # grows.
    n_files = max(8, table_row_count(sf_dir, "orders") // 50_000)
    (
        orders_zframe(spark, sf_dir)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .write.mode("overwrite")
        .parquet(zpath)
    )
    back = spark.read.parquet(zpath)
    return (
        back.selectExpr("o_custkey", "day_no", f"(_z >> {Z_BUCKET_SHIFT}) as z_bucket")
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.min("day_no").cast("long").alias("min_day"),
            F.max("day_no").cast("long").alias("max_day"),
        )
    )


@register(
    "scan_xml_roundtrip",
    "scan",
    oracle="SELECT p_partkey, p_name, p_brand, p_retailprice FROM part",
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + source — Spark 4's built-in XML format (the donated
    spark-xml), with an explicit schema and rowTag. Same roundtrip
    contract as CSV/JSON: text-exact columns (ints, identifier-ish
    strings, 2dp doubles — shortest-repr printing parses back
    bit-identical). XML is row-tag-splittable, so at 100 TB the read
    parallelizes per file like any text source; it exists for
    interchange, not as a primary store (parquet remains that)."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    path = _scratch(sf_dir, "part_xml")
    p.write.mode("overwrite").format("xml").option("rowTag", "part").save(path)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    return (
        spark.read.format("xml").option("rowTag", "part").schema(schema).load(path)
    )


@register(
    "scan_avro_roundtrip",
    "scan",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink + source — the one mainstream interchange format the
    container has NO library for (no spark-avro jar, no Python avro
    package), so the engine carries its own implementation of the
    public Apache Avro object-container spec as a Python DataSource
    (sources/avro_py.py): zigzag-varint longs, IEEE-754 doubles,
    UTF-8 strings, sync-marked blocks, null codec. Round trip is
    BIT-exact (binary encoding, unlike the CSV/XML text paths), so
    the oracle is the full untouched row set.

    Scale shape: the writer is the same two-phase commit protocol as
    the synthlog sink (per-task temps, driver publish); the reader
    plans ONE PARTITION PER CONTAINER BLOCK by walking block headers
    with seek (no row decoding on the driver) — a single big Avro
    file fans out across tasks exactly as Hadoop-style Avro splits
    do, which is the property the container framing exists for.
    tests/test_avro.py pins the codec against spec-derived golden
    bytes and the block-splittability of the plan."""
    from linux_logs_spark.sources.avro_py import register_pyavro

    register_pyavro(spark)
    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = _scratch(sf_dir, "events_avro")
    e.write.format("pyavro").mode("overwrite").option("path", path).save()
    return spark.read.format("pyavro").option("path", path).load()


def synth_rows(n_events: int) -> int:
    """Rows the synthlog generator emits: one per five events, at
    least 20 000 (every committed scale factor), so the Python source's
    row volume follows the data through a fixed task structure."""
    return max(20_000, n_events // 5)


# The same rule in SQL: the oracles size range() from events' count(*).
_SYNTH_RANGE = """
  SELECT unnest(range(n)) AS i
  FROM (SELECT greatest(20000, count(*) // 5) AS n FROM events)
"""

# DuckDB replay of sources/synthetic.py's row formula: identical
# 64-bit integer ops + one int/int double division, filter included
# (the engine side pushes it INTO the source via pushFilters; the
# oracle applies it relationally — same surviving rows either way).
_SYNTH_ORACLE = f"""
WITH g AS (
  SELECT i AS row_id, (i * 2654435761) % 4294967296 AS h
  FROM ({_SYNTH_RANGE}) t
)
SELECT row_id,
       'host-' || lpad(CAST(h % 16 AS VARCHAR), 2, '0') AS host,
       CASE ((h // 16) % 4) WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
            WHEN 2 THEN 'error' ELSE 'debug' END AS severity,
       (h % 100000) / 100.0 AS value
FROM g
WHERE row_id >= 5000 AND row_id < 15000
"""


@register("scan_python_datasource", "scan", oracle=_SYNTH_ORACLE)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``)
    end-to-end: register → read → filter. The row_id range predicate
    is PUSHED INTO the source (SynthLogReader.pushFilters), so
    partition planning narrows to the surviving [5000, 15000) slice
    before any row is generated — generation cost tracks the filter,
    the 100 TB property that separates a source from a post-filtered
    scan. Partition pruning + the leave-unsupported-filters contract
    are pinned by tests/test_plans.py. The generator has no backing
    files; its row count is synth_rows(n) from the events footer, so
    the source grows with the scale factor while the [5000, 15000)
    result stays fixed."""
    from linux_logs_spark.sources.synthetic import register_synthlog

    register_synthlog(spark)
    # Python-source pushdown is opt-in; without it Spark refuses to
    # plan a reader that implements pushFilters. Not restored: the conf
    # is read at ACTION time, after this returns its lazy frame, and
    # leaving it on only affects readers that would otherwise not plan.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("synthlog")
        .option("n", str(synth_rows(table_row_count(sf_dir, "events"))))
        .option("parts", "8")
        .load()
    )
    return df.filter((F.col("row_id") >= 5000) & (F.col("row_id") < 15000))


def _rebalanced_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hinted pre-write frame — shared by the operator and its
    plan pin so the hint cannot silently disappear from one of them."""
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return e.hint("rebalance", "event_type")


@register(
    "sink_parquet_rebalanced",
    "scan",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY 1",
)
def sink_parquet_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof partitioned sink via the REBALANCE hint: a plain
    ``partitionBy(event_type)`` write shuffles nothing, so each input
    task writes one file per partition value it happens to hold —
    at 100 TB that is thousands of small files per directory AND a
    giant-file hazard for hot keys. ``hint("rebalance", key)`` inserts
    an AQE-managed exchange that SPLITS skewed key groups across
    several tasks and coalesces tiny ones toward the target advisory
    size, so output file sizes track data volume, not task layout —
    the write-side twin of the AQE skew-join. The read-back aggregate
    is the correctness contract (rebalancing must move rows, never
    lose/duplicate them); the exchange is plan-pinned on the SHARED
    pre-write frame (_rebalanced_events — the returned read-back can't
    show it, and an inline rebuild in the test would let the operator
    drop the hint unnoticed, round-7 review)."""
    hinted = _rebalanced_events(spark, sf_dir)
    path = _scratch(sf_dir, "events_rebalanced")
    hinted.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.schema(hinted.schema).parquet(path)
    return back.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "scan_text_gzip",
    "scan",
    oracle="SELECT event_id, event_type, value FROM events",
)
def scan_text_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped key=value log ingest — the two facts of life of real
    log feeds in one query. (1) Compression: the sink writes .txt.gz
    and the source decompresses transparently — but gzip is NOT
    SPLITTABLE, so each file is one task regardless of size; at 100 TB
    the layout answer is many medium gz files (the upstream shippers'
    natural output) or a splittable codec, never one giant archive.
    (2) Parsing: ``str_to_map(value, ' ', '=')`` is the codegen'd
    k=v-pairs parser (the OTHER canonical log format next to syslog's
    positional regex). The roundtrip is print→parse identity on every
    column (ints, enum strings, shortest-repr doubles), so the oracle
    is the base projection."""
    e = load(spark, sf_dir, "events")
    lines = e.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("id="), F.col("event_id")),
            F.concat(F.lit("type="), F.col("event_type")),
            F.concat(F.lit("value="), F.col("value").cast("string")),
        ).alias("value")
    )
    path = _scratch(sf_dir, "events_kv_gz")
    lines.write.mode("overwrite").option("compression", "gzip").text(path)
    raw = spark.read.text(path)
    m = F.expr("str_to_map(value, ' ', '=')")
    return raw.select(
        m["id"].cast("long").alias("event_id"),
        m["type"].alias("event_type"),
        m["value"].cast("double").alias("value"),
    )


@register(
    "scan_schema_evolution",
    "scan",
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
         AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total
FROM orders
GROUP BY 1
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION read: a table whose older files PREDATE a
    column (the writer added o_orderpriority later) must still read
    as one dataset — `mergeSchema` unions the per-file footers and
    back-fills the missing column with NULLs, which is exactly how a
    lakehouse survives additive schema change without rewriting
    history. Staged here as two file generations (even keys written
    WITHOUT the priority column, odd keys with it) under one root;
    the read-back aggregate proves rows survive and the NULL group is
    precisely the old-generation rows. At 100 TB the mergeSchema
    footer union is the only extra cost (per-file, at planning);
    scans and pushdown behave normally on both generations. The
    oracle replays the generation rule columnar-side (CASE on the
    same key parity)."""
    o = load(spark, sf_dir, "orders")
    root = _scratch(sf_dir, "orders_schema_evo")
    (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen=1"))
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "gen=2"))
    )
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen=1"), os.path.join(root, "gen=2")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
        .cast("double")
        .alias("total"),
    )


# Partition-spec evolution cutoff: files written before it use the
# ORIGINAL spec (partitioned by event_type), files after use the
# EVOLVED spec (partitioned by day) — both specs live under one
# logical table, as in Iceberg where old files keep their spec_id.
PART_EVO_CUTOFF = "2024-01-16"


@register(
    "table_partition_evolution",
    "scan",
    oracle="""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS dt,
       CAST(count(*) AS BIGINT) AS n_errors
FROM events
WHERE event_type = 'error'
  AND ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
GROUP BY 1
""",
)
def table_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION: the table started life partitioned by
    event_type and was later re-specced to daily partitions — but the
    old files are never rewritten (Iceberg semantics: each file keeps
    the spec it was written under), so every read must span BOTH
    layouts. Staged as two generations under one root (pre-cutoff
    rows under et=<type>/, post-cutoff under dt=<day>/); the query is
    a daily error-rate window STRADDLING the cutoff. Each side still
    prunes by its own spec — the predicate event_type='error' prunes
    the old generation to one directory, the day range prunes the new
    generation's dt partitions — which is exactly the promise spec
    evolution makes: old data keeps old pruning, new data gets the
    better layout, no rewrite. At 100 TB the alternative (rewriting
    history into the new spec) is the cost this feature exists to
    avoid. The oracle replays the union from the raw events."""
    e = load(spark, sf_dir, "events")
    cut = F.lit(PART_EVO_CUTOFF).cast("timestamp")
    root = _scratch(sf_dir, "events_part_evo")
    # each generation reads back with its written schema: an empty
    # generation leaves no file to infer one from
    gen1 = e.filter(F.col("ts") < cut)
    gen1.write.mode("overwrite").partitionBy("event_type").parquet(
        os.path.join(root, "spec1")
    )
    gen2 = e.filter(F.col("ts") >= cut).withColumn(
        "dt", F.date_trunc("day", "ts").cast("date")
    )
    gen2.write.mode("overwrite").partitionBy("dt").parquet(os.path.join(root, "spec2"))
    lo, hi = "2024-01-11", "2024-01-21"
    old = (
        spark.read.schema(gen1.schema).parquet(os.path.join(root, "spec1"))
        .filter(F.col("event_type") == "error")  # prunes et= dirs
        .filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        .select(F.date_trunc("day", "ts").cast("date").alias("dt"))
    )
    new = (
        spark.read.schema(gen2.schema).parquet(os.path.join(root, "spec2"))
        .filter(F.col("event_type") == "error")
        .filter((F.col("dt") >= lo) & (F.col("dt") < hi))  # prunes dt= dirs
        .select("dt")
    )
    return (
        old.unionByName(new)
        .groupBy(F.col("dt").cast("string").alias("dt"))
        .agg(F.count("*").alias("n_errors"))
    )


@register(
    "sink_python_datasource",
    "scan",
    oracle=f"""
WITH g AS (
  SELECT i AS row_id, (i * 2654435761) % 4294967296 AS h
  FROM ({_SYNTH_RANGE}) t
), r AS (
  SELECT CASE ((h // 16) % 4) WHEN 0 THEN 'info' WHEN 1 THEN 'warn'
              WHEN 2 THEN 'error' ELSE 'debug' END AS severity,
         (h % 100000) / 100.0 AS value
  FROM g
)
SELECT severity,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS total_value
FROM r GROUP BY severity
""",
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (the other half of Spark 4's
    ``pyspark.sql.datasource`` — scan_python_datasource covers read +
    pushdown, stream_python_source the stream reader; this completes
    the surface): ``df.write.format("synthlog")`` drives the full
    two-phase commit protocol in pure Python — per-task hidden temp
    files + WriterCommitMessage, driver-side commit() publish,
    abort() cleanup (sources/synthetic.py:JsonDirWriter). The staged
    dataset round-trips source → custom sink → spark.read.json, and
    the read-back severity rollup must match the generator formula
    replayed relationally by the oracle — proving no row was lost,
    duplicated, or mangled by the task/commit dance. Values are
    2-decimal doubles (JSON shortest-repr text-exact both ways).
    At 100 TB: one temp file per task on the object store, one
    rename fan-in at commit — the same protocol every FileFormat
    sink runs, here user-programmable."""
    from linux_logs_spark.sources.synthetic import register_synthlog

    register_synthlog(spark)
    # same pushdown conf as scan_python_datasource; the synthlog read
    # is fully materialized inside .save() here, so it is restored
    # before returning (the returned JSON read does not need it).
    _PD_CONF = "spark.sql.python.filterPushdown.enabled"
    try:
        prev = spark.conf.get(_PD_CONF)
    except Exception:
        prev = None
    spark.conf.set(_PD_CONF, "true")
    try:
        src = (
            spark.read.format("synthlog")
            .option("n", str(synth_rows(table_row_count(sf_dir, "events"))))
            .option("parts", "8")
            .load()
        )
        path = _scratch(sf_dir, "synthlog_sink")
        (
            src.write.format("synthlog")
            .mode("overwrite")
            .option("path", path)
            .save()
        )
    finally:
        if prev is None:
            spark.conf.unset(_PD_CONF)
        else:
            spark.conf.set(_PD_CONF, prev)
    schema = T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("host", T.StringType()),
            T.StructField("severity", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("severity").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(25,2)"))
        .cast("double")
        .alias("total_value"),
    )
