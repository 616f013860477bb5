"""Structured Streaming semantics: state across micro-batches, watermark
late-row dropping, foreachBatch sink."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from steampipe_sqlite_spark.streaming.jobs import (
    convert_raw_ts,
    dedup_within_watermark,
    events_raw_schema,
    read_events_stream,
    stateful_user_totals,
    tumbling_agg,
    watermarked_tumbling_agg,
)
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _slice_events(spark, tmp_path, n_slices=3):
    """Split the fixture events into n parquet files so maxFilesPerTrigger=1
    yields real multi-batch streams."""
    events = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "slices")
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")  # keep the raw physical ts dtype
    raw.withColumn("slice", F.pmod(F.col("event_id"), F.lit(n_slices))).write.partitionBy(
        "slice"
    ).parquet(out)
    # flatten: each slice=k dir holds >=1 file; stream the whole tree
    return out, events


def _stream_slices(spark, path):
    raw = (
        spark.readStream.schema(events_raw_schema(SF_DIR))
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return convert_raw_ts(raw, SF_DIR)


def test_stream_ts_agrees_with_batch_ts(spark):
    """Unit-error tripwire: the stream path's converted ts must coincide
    with the batch path's.  Round 2 shipped a hard-coded LongType stream
    schema that divided micros by 1000 — every timestamp landed in 1970 and
    the tumbling agg 'succeeded' with 10 rows instead of 3385.  This test
    makes that failure mode loud."""
    batch_lo, batch_hi = (
        load_table(spark, SF_DIR, "events").agg(F.min("ts"), F.max("ts")).first()
    )
    agg = read_events_stream(spark, SF_DIR).agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ts_tripwire")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    row = spark.table("ts_tripwire").first()
    assert (row.lo, row.hi) == (batch_lo, batch_hi)
    assert 2015 <= row.lo.year <= 2035


def test_stateful_totals_survive_micro_batches(spark, tmp_path):
    """GroupState accumulated over several micro-batches must equal the
    global batch aggregate — the whole point of applyInPandasWithState."""
    path, events = _slice_events(spark, tmp_path)
    n_files = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    assert n_files >= 3

    agg = stateful_user_totals(_stream_slices(spark, path))
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("stateful_mb")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    expected = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0
        ).alias("total_value"),
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expected.collect()}
    # update mode re-emits: with >=3 batches there must be more output rows
    # than distinct users (proof state actually spanned batches)
    assert spark.table("stateful_mb").count() > expected.count()


def test_dedup_watermark_emits_distinct_keys(spark, tmp_path):
    path, events = _slice_events(spark, tmp_path)
    deduped = dedup_within_watermark(_stream_slices(spark, path))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.event_type) for r in spark.table("dedup_mb").collect()}
    expected = {
        (r.user_id, r.event_type)
        for r in events.select("user_id", "event_type").distinct().collect()
    }
    assert got == expected


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """Run a watermarked tumbling agg over phase-1 files with a checkpoint,
    then append a file whose events are far older than the advanced
    watermark and resume: the late rows must NOT create/extend windows."""
    data_dir = tmp_path / "data"
    ckpt = str(tmp_path / "ckpt")
    data_dir.mkdir()

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    max_ts = events.agg(F.max("ts")).first()[0]

    recent = events.filter(F.col("ts") >= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS"))
    late = events.filter(F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 48 HOURS"))
    assert recent.count() > 0 and late.count() > 0

    out_dir = str(tmp_path / "out")

    def run_phase(df_slice):
        df_slice.write.mode("append").parquet(str(data_dir))
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).parquet(str(data_dir))
        agg = watermarked_tumbling_agg(stream, width="1 hour", delay="10 minutes")
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_phase(recent)
    run_phase(late)
    # phase-2 rows are all > 48h older than the watermark established in
    # phase 1 — the file-sink output must contain no windows from them
    emitted = {r.win_start for r in spark.read.parquet(out_dir).collect()}
    late_starts = {
        r.w for r in late.select(F.date_trunc("hour", "ts").alias("w")).distinct().collect()
    }
    assert not (emitted & late_starts)


def test_foreach_batch_sink_sees_every_batch(spark, tmp_path):
    path, events = _slice_events(spark, tmp_path)
    seen = []

    def sink(df, batch_id):
        seen.append((batch_id, df.count()))

    q = (
        _stream_slices(spark, path)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 3
    assert sum(n for _, n in seen) == events.count()


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join (purchases × clicks per user within 1 h,
    watermarked both sides) — unified-API semantics: availableNow output
    must equal the equivalent batch join."""
    events = load_table(spark, SF_DIR, "events")
    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    src = str(tmp_path / "events_dir")
    raw.write.parquet(src)

    def stream():
        return convert_raw_ts(
            spark.readStream.schema(events_raw_schema(SF_DIR)).parquet(src), SF_DIR
        )

    purchases = (
        stream()
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream()
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("c_id"), F.col("user_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.user_id)
        & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (clicks.c_ts <= purchases.p_ts),
    ).select("p_id", "c_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.p_id, r.c_id) for r in spark.table("ss_join").collect()}

    p_b = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c_b = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    expected = {
        (r.p_id, r.c_id)
        for r in p_b.join(
            c_b,
            (p_b.user_id == c_b.c_user)
            & (c_b.c_ts >= p_b.p_ts - F.expr("INTERVAL 1 HOUR"))
            & (c_b.c_ts <= p_b.p_ts),
        ).collect()
    }
    assert got == expected and len(got) > 0


def test_cdc_latest_state_survives_micro_batches(spark, tmp_path):
    """The CDC winner must fold correctly ACROSS micro-batches (the
    state.get comparison path, which a single availableNow batch never
    exercises): streaming over >=3 file-sliced batches must equal the
    batch latest_by_key answer, and update mode must have re-emitted
    superseded winners along the way."""
    from steampipe_sqlite_spark.operators.temporal import latest_by_key
    from steampipe_sqlite_spark.streaming.jobs import cdc_latest_state_stream

    path, events = _slice_events(spark, tmp_path)
    agg = cdc_latest_state_stream(_stream_slices(spark, path))
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("cdc_mb")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = latest_by_key(
        spark.table("cdc_mb"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_id", "ts", "event_type", "value"],
    )
    expected = latest_by_key(
        events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_id", "ts", "event_type", "value"],
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in expected.collect()}
    # >=3 batches, every key emits once per batch it appears in — more
    # emissions than keys proves the state actually spanned batches
    assert spark.table("cdc_mb").count() > expected.count()


def test_rocksdb_state_store_matches_batch(spark, tmp_path):
    """The production state-store config: the same watermarked tumbling
    aggregation run with RocksDBStateStoreProvider (state spills to disk
    — the 100 TB answer to unbounded key cardinality, where the default
    HDFS-backed in-memory provider OOMs executors) must produce exactly
    the batch result.  Pins that the provider is present in this Spark
    build and semantics are provider-independent."""
    from steampipe_sqlite_spark.streaming.jobs import run_stream_to_memory

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        path, events = _slice_events(spark, tmp_path)
        agg = watermarked_tumbling_agg(_stream_slices(spark, path))
        got = run_stream_to_memory(spark, agg, "rocksdb_tumbling")
        want = tumbling_agg(events)
        g = {
            (r["win_start"], r["event_type"]): r["n"] for r in got.collect()
        }
        w = {
            (r["win_start"], r["event_type"]): r["n"] for r in want.collect()
        }
        assert g == w
        assert len(g) > 10
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
