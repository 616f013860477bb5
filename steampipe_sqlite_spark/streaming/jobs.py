"""Streaming jobs over the events table.

Each job has two faces: a ``*_stream`` builder (readStream → windowed agg →
memory sink, driven to completion with availableNow) and the same
transformation applied to a batch DataFrame — Structured Streaming's
unified-API guarantee means the logic is literally shared, which is what
makes the DuckDB oracle valid for the streaming path too.

The fixture's physical ts type has flipped between rounds (TIMESTAMP(NANOS)
vs plain timestamp[us]), and a hard-coded stream schema turns that flip into
SILENT wrong answers (micros read as long, divided by 1000, every timestamp
lands in 1970).  So the stream schema is derived from the parquet footer at
plan time — one pyarrow metadata read on the driver, no Spark job — and the
nanos→micros conversion applies only when the file really carries long nanos.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NON_TS_FIELDS = [
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
]

# memoized footer probes: {events.parquet path: ts-is-long-nanos}
_TS_IS_NANOS: dict[str, bool] = {}


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True iff the fixture's events.ts is physically TIMESTAMP(NANOS).

    Read straight from the parquet footer with pyarrow — independent of any
    Spark session or legacy conf, so it reports the file's truth even when
    ``spark.sql.legacy.parquet.nanosAsLong`` is set.
    """
    path = os.path.join(sf_dir, "events.parquet")
    cached = _TS_IS_NANOS.get(path)
    if cached is None:
        import pyarrow.parquet as pq

        ts_type = pq.read_schema(path).field("ts").type
        cached = _TS_IS_NANOS[path] = str(ts_type).endswith("[ns]")
    return cached


def events_raw_schema(sf_dir: str) -> T.StructType:
    """Stream-read schema matching the fixture's physical ts type."""
    ts_field = (
        T.StructField("ts", T.LongType())  # nanos surfaced via nanosAsLong
        if _events_ts_is_nanos(sf_dir)
        else T.StructField("ts", T.TimestampNTZType())
    )
    fields = [_NON_TS_FIELDS[0], ts_field] + _NON_TS_FIELDS[1:]
    return T.StructType(fields)


def convert_raw_ts(df: DataFrame, sf_dir: str) -> DataFrame:
    """Normalize the raw ts to a watermark-compatible TIMESTAMP.

    nanos fixture: long nanos → timestamp_micros (already TIMESTAMP).
    micros fixture: TIMESTAMP_NTZ → cast to TIMESTAMP — Structured
    Streaming rejects NTZ event-time columns
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); the cast interprets the naive
    value in the session timezone (UTC in session.py), same instant.

    For tests that re-write fixture slices and stream them back: the
    written slices inherit the raw read's dtype, so the same footer probe
    decides both the stream schema and the conversion.
    """
    if _events_ts_is_nanos(sf_dir):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The NTZ→TIMESTAMP cast and the window starts collected back to the
    # oracle are session-timezone-dependent; pin UTC so results are
    # identical under the external driver's vanilla session (runtime-
    # settable conf, same mechanism as tables._ensure_nanos_conf).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # File-stream sources require a directory; select just events.parquet
    # out of the sf_dir via glob filter.
    raw = (
        spark.readStream.schema(events_raw_schema(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return convert_raw_ts(raw, sf_dir)


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Per-window per-type counts and exact-decimal sums.

    On an unbounded stream add ``withWatermark('ts', ...)`` (see
    watermarked_tumbling_agg); with availableNow + complete output the
    batch and stream results coincide.
    """
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )


def session_agg(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session windows per user: sessions close after ``gap`` idle."""
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            "user_id",
            "n_events",
        )
    )


def watermarked_tumbling_agg(events: DataFrame, width: str = "1 hour", delay: str = "10 minutes") -> DataFrame:
    """Watermarked variant: state for windows older than max(ts) - delay is
    evicted; late rows beyond the watermark are dropped (append mode)."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n")
    )


def run_stream_to_memory(
    spark: SparkSession, agg: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming aggregation to completion (availableNow) into a
    memory sink; returns the result as a batch DataFrame."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- stateful operators -----------------------------------------------------

USER_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
USER_TOTALS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful aggregation via ``applyInPandasWithState``: per-user
    running (count, value-total) kept as GroupState across micro-batches.

    Money is accumulated in integer cents inside the state so emission is
    exact regardless of per-batch arrival order — the property that makes
    the batch GROUP BY oracle valid.  State size is O(distinct users);
    Spark shuffles each micro-batch once on user_id.
    """
    import numpy as np  # local imports: execute on workers
    import pandas as pd

    def update(key, pdfs, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # np.rint is round-half-even like Series.round — same cents,
            # ~20x less per-key overhead (the probe's 0.15 ms/key tax is
            # dominated by pandas intermediates on 1-10 row frames)
            cents += int(np.rint(pdf["value"].to_numpy() * 100).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_TOTALS_OUTPUT,
            stateStructType=USER_TOTALS_STATE,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def dedup_within_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Streaming dedup with bounded state: first event per
    (user_id, event_type) key wins; state for keys older than the
    watermark is evicted (``dropDuplicatesWithinWatermark``), which is what
    keeps this runnable forever on an unbounded stream.

    Emits just the key columns — "first occurrence" payloads are
    partition-order-dependent, the key set is not.
    """
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


CDC_LATEST_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
CDC_LATEST_STATE = T.StructType(
    [
        T.StructField("ts_us", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def cdc_latest_state_stream(events: DataFrame) -> DataFrame:
    """Streaming CDC materialization: keep the latest record per user_id
    (versioned by (ts, event_id)) as GroupState across micro-batches —
    the streaming twin of operators/temporal.latest_by_key, i.e. a MERGE/
    upsert view maintained incrementally instead of recomputed.

    State is one fixed-width tuple per key (timestamps stored as integer
    micros — exact, no tz coercion in the state store); each micro-batch
    shuffles once on user_id and state size is O(distinct keys), so the
    job runs forever on an unbounded changelog.
    """
    import numpy as np  # local imports: execute on workers
    import pandas as pd

    def update(key, pdfs, state):
        cur = state.get if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            # argmax by (ts, event_id) via lexsort — a full sort_values +
            # iloc row extraction costs ~0.6 ms per key on tiny frames
            # (the applyInPandasWithState throughput probe's dominant
            # tax); the datetime64[us] cast is also unit-robust where
            # `.value // 1000` assumed nanos.
            ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            eid = pdf["event_id"].to_numpy()
            i = int(np.lexsort((eid, ts_us))[-1])
            cand = (
                int(ts_us[i]),
                int(eid[i]),
                str(pdf["event_type"].iat[i]),
                float(pdf["value"].iat[i]),
            )
            if cur is None or (cand[0], cand[1]) > (cur[0], cur[1]):
                cur = cand
        state.update(cur)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_id": [cur[1]],
                "ts": [pd.Timestamp(cur[0], unit="us")],
                "event_type": [cur[2]],
                "value": [cur[3]],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CDC_LATEST_OUTPUT,
        stateStructType=CDC_LATEST_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def enrich_with_dim(
    events: DataFrame, dim: DataFrame, on: tuple[str, str] = ("user_id", "c_custkey")
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event stream
    joins a STATIC (batch) dimension — Structured Streaming's
    dimension-lookup pattern.  The static side is broadcast, so every
    executor enriches its stream partitions map-side with no stream-side
    shuffle and no state store (unlike stream-stream joins, nothing is
    buffered: the dimension is re-resolvable every micro-batch).
    """
    left, right = on
    return events.join(
        F.broadcast(dim), events[left] == dim[right], "inner"
    )
