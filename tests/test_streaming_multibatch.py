"""Multi-micro-batch streaming convergence (round-6 verdict item 3).

Every registered streaming oracle leans on the single-file staging
invariant: availableNow over ONE staged parquet file processes all
events in ONE micro-batch, so cross-trigger state persistence is never
exercised by the driver gate. These tests close that gap: the events
table is split into 3 files and streamed with maxFilesPerTrigger=1
(availableNow honors source rate limits, unlike the retired
trigger-once), so the run provably spans ≥3 micro-batches, and the
final answer must STILL converge to the batch formulation — that is
the state-store persistence claim (window state for stream_tumbling,
applyInPandasWithState per-key state for stream_custom_state) under
real multi-trigger execution.
"""

from __future__ import annotations

import pytest
from conftest import drop_scratch
from pyspark.sql import functions as F

from linux_logs_spark.catalog import load


@pytest.fixture(scope="module")
def split_events_dir(spark, sf_dir, tmp_path_factory):
    """events split into exactly 3 parquet files (ts already µs)."""
    d = str(tmp_path_factory.mktemp("ev3"))
    load(spark, sf_dir, "events").repartition(3).write.mode("overwrite").parquet(d)
    files = [
        f
        for f in __import__("os").listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert len(files) == 3, files
    yield d
    drop_scratch(d)


def _run_multibatch(spark, streamed, mode: str, name: str):
    """availableNow into a memory sink; returns (batch_df, n_triggers)."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            streamed.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(240)
            # a timed-out query is still running — reading the sink
            # now would diff a partial aggregate and masquerade as a
            # state-store bug (round-7 review)
            assert finished, "availableNow drain did not finish in 240 s"
        finally:
            if q.isActive:
                q.stop()
        # progress entries with rows actually processed = real triggers
        n_triggers = sum(
            1 for p in q.recentProgress if p["numInputRows"] > 0
        )
        return spark.table(name), n_triggers
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _stream_src(spark, split_events_dir):
    schema = spark.read.parquet(split_events_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(split_events_dir)
        .withColumn("ts", F.timestamp_seconds(F.unix_timestamp("ts")))
    )


def test_stream_tumbling_converges_across_three_microbatches(
    spark, sf_dir, split_events_dir
):
    src = _stream_src(spark, split_events_dir)
    agg = src.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    out = agg.select(
        F.unix_timestamp(F.col("window.start")).alias("window_start_s"),
        "event_type",
        "n",
    )
    got, n_triggers = _run_multibatch(spark, out, "complete", "mb_tumbling")
    assert n_triggers >= 3, f"expected >=3 micro-batches, saw {n_triggers}"

    expect = (
        load(spark, sf_dir, "events")
        .withColumn("ts", F.timestamp_seconds(F.unix_timestamp("ts")))
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("window_start_s"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    g = {(r.window_start_s, r.event_type): r.n for r in got.collect()}
    e = {(r.window_start_s, r.event_type): r.n for r in expect.collect()}
    assert g == e


def test_stream_custom_state_converges_across_three_microbatches(
    spark, sf_dir, split_events_dir
):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from linux_logs_spark.streaming.queries import track_user_totals

    src = _stream_src(spark, split_events_dir)
    out = (
        src.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            track_user_totals,
            outputStructType="user_id long, n_events long, sum_value double",
            stateStructType="n long, v double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    got, n_triggers = _run_multibatch(spark, out, "update", "mb_custom_state")
    assert n_triggers >= 3, f"expected >=3 micro-batches, saw {n_triggers}"

    # update mode appends one row per (user, trigger-with-updates);
    # n_events is monotone per user, so the final state row is the max
    final = (
        got.groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "sum_value"), "n_events").alias("s"))
        .select("user_id", "s.n_events", "s.sum_value")
    )
    expect = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    g = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in final.collect()}
    e = {r.user_id: (r.n_events, round(r.sum_value, 6)) for r in expect.collect()}
    assert g == e


def test_stream_python_sink_publishes_per_batch(
    spark, sf_dir, split_events_dir, tmp_path
):
    """The custom Python STREAMING sink under real multi-trigger
    execution: 3 files × maxFilesPerTrigger=1 forces ≥3 micro-batches,
    each commit() publishes batchId-keyed part files, and the sink's
    total contents must still equal the batch answer — the
    per-batch-idempotent-publish contract, exercised beyond the
    single-batch driver gate."""
    import os

    from linux_logs_spark.sources.synthetic import register_synthlog

    register_synthlog(spark)
    sink_dir = str(tmp_path / "out")
    q = (
        _stream_src(spark, split_events_dir)
        .select("event_id", "event_type")
        .writeStream.format("synthlog")
        .option("path", sink_dir)
        .option("checkpointLocation", str(tmp_path / "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(240), "drain did not finish"
    finally:
        if q.isActive:
            q.stop()
    n_triggers = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_triggers >= 3, n_triggers

    batches = {
        f.split("-")[1] for f in os.listdir(sink_dir) if f.startswith("part-b")
    }
    assert len(batches) >= 3, sorted(os.listdir(sink_dir))

    back = spark.read.schema("event_id long, event_type string").json(sink_dir)
    got = {r["event_type"]: r["n"] for r in back.groupBy("event_type").agg(
        F.count("*").alias("n")).collect()}
    want = {r["event_type"]: r["n"] for r in load(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got == want
