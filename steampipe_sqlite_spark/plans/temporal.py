"""Temporal-join corpus: as-of join and binned range join
(operators/temporal.py) over the events table, oracle-checked — DuckDB has
native ASOF JOIN and executes the inequality range join directly, so both
custom compositions are verified against first-class implementations."""

from __future__ import annotations

from pyspark.sql import functions as F

from steampipe_sqlite_spark.operators.temporal import (
    asof_join,
    interval_overlap_join,
    range_join_binned,
)
from steampipe_sqlite_spark.plans.registry import presentation_sort, query, sql_query
from steampipe_sqlite_spark.tables import load_table


@query(
    "join_asof_events",
    oracle="""
SELECT l.event_id, l.user_id, l.ts,
       r.click_value, r.ts AS matched_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, value AS click_value
                FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
""",
)
def join_asof_events(spark, sf_dir):
    """Backward as-of join: each purchase matched to the user's most recent
    click at-or-before it.  Both sides are predicates over ONE event log,
    so this takes the asof_join_same_source fast path: a single CASE-tagged
    scan + one keyed window — no union, no join node, half the input I/O
    (0.56 s → 0.30 s at sf0.1; the two-input general form stays covered by
    join_asof_tolerance and the operator unit tests).  DuckDB's native
    ASOF JOIN is the oracle."""
    from steampipe_sqlite_spark.operators.temporal import asof_join_same_source

    events = load_table(spark, sf_dir, "events")
    matched = asof_join_same_source(
        events.withColumn("click_value", F.col("value")),
        key="user_id",
        ts="ts",
        left_pred="event_type = 'purchase'",
        right_pred="event_type = 'click'",
        left_cols=["event_id"],
        payload_cols=["click_value"],
    ).select("event_id", "user_id", "ts", "click_value", "matched_ts")
    # orderBy, not presentation_sort: one row per purchase — unbounded
    # output, so the parallel range sort is the scale path.  No persist:
    # with a single scan the range sort's boundary-sampling re-execution
    # is cheaper than materializing the cache (measured both ways).
    return matched.orderBy("event_id")


@query(
    "join_range_binned",
    oracle="""
SELECT s.event_id AS signup_id, COUNT(*) AS n_clicks
FROM (SELECT event_id, ts FROM events WHERE event_type = 'signup') s
JOIN (SELECT ts FROM events WHERE event_type = 'click') c
  ON c.ts >= s.ts AND c.ts < s.ts + INTERVAL 2 HOUR
GROUP BY s.event_id
ORDER BY signup_id
""",
)
def join_range_binned(spark, sf_dir):
    """Point-in-interval range join without a nested loop: clicks falling
    inside any signup's 2-hour window, via 2h-bin equi-join + exact
    residual.  DuckDB runs the plain inequality join as the oracle."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("click_ts")
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"),
    )
    joined = range_join_binned(
        clicks, signups, left_ts="click_ts", right_lo="lo", right_hi="hi",
        bin_seconds=7200,
    )
    return (
        joined.groupBy("signup_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .orderBy("signup_id")
    )


@query(
    "window_rollup_hierarchy",
    oracle="""
SELECT CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day_start, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day_start, event_type
""",
)
def window_rollup_hierarchy(spark, sf_dir):
    """Hypertable-style hierarchical rollup: the DAY aggregate is computed
    FROM the HOUR aggregate (counts and integer-cent sums are decomposable
    partials), not from raw events — at scale the hour layer is a
    materialized continuous aggregate and each coarser tier reads ~24x
    fewer rows.  The oracle aggregates raw events directly, proving the
    two-tier fold is exact."""
    events = load_table(spark, sf_dir, "events")
    hour = (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    day = (
        hour.groupBy(
            F.date_trunc("day", "hour_start").alias("day_start"), "event_type"
        ).agg(
            F.sum("n").alias("n"),
            (F.sum("cents").cast("double") / 100.0).alias("total_value"),
        )
    )
    return day.orderBy("day_start", "event_type")


@query(
    "sessionize_events",
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM s
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
""",
)
def sessionize_events(spark, sf_dir):
    """Sessionization: per-user event runs split on >30 min inactivity
    gaps — the canonical event-stream segmentation (same semantics as
    Structured Streaming's session window, computed batch-side).  One
    shuffle on user_id feeds BOTH the gap-flag window and the session
    aggregate; value totals use integer cents so the hash is
    summation-order-proof."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # timestamp difference as a day-time interval: valid for both TIMESTAMP
    # and TIMESTAMP_NTZ ts (NTZ forbids cast-to-long, so no epoch math)
    gap = F.col("ts") - F.lag("ts").over(w)
    flagged = events.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > F.expr("INTERVAL 30 MINUTES")), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sess = flagged.withColumn(
        "session_idx",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100.0
            ).alias("total_value"),
        )
        .orderBy("user_id", "session_idx")
    )


@query(
    "join_interval_overlap",
    oracle="""
SELECT s.event_id AS signup_id, COUNT(*) AS n_overlaps
FROM (SELECT event_id, ts AS lo, ts + INTERVAL 2 HOUR AS hi
      FROM events WHERE event_type = 'signup') s
JOIN (SELECT ts AS lo, ts + INTERVAL 1 HOUR AS hi
      FROM events WHERE event_type = 'purchase') p
  ON s.lo < p.hi AND p.lo < s.hi
GROUP BY s.event_id
ORDER BY signup_id
""",
)
def join_interval_overlap(spark, sf_dir):
    """Interval x interval overlap join (signup 2h windows vs purchase 1h
    windows) as a binned hash equi-join: each pair is emitted exactly once
    in the bin of the later start — no nested loop, no dedup shuffle.
    DuckDB executes the plain inequality join as the oracle."""
    events = load_table(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts").alias("s_lo"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("s_hi"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("p_lo"),
        (F.col("ts") + F.expr("INTERVAL 1 HOURS")).alias("p_hi"),
    )
    joined = interval_overlap_join(
        signups, purchases, "s_lo", "s_hi", "p_lo", "p_hi", bin_seconds=7200
    )
    return (
        joined.groupBy("signup_id")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
        .orderBy("signup_id")
    )


@query(
    "ts_gapfill_locf",
    oracle="""
WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
           FROM events),
keys AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT k.event_type, UNNEST(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
         FROM b, keys k),
obs AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS v
        FROM events GROUP BY 1, 2)
SELECT g.bucket AS hour_start, g.event_type,
       last_value(o.v IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.bucket ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_value,
       CAST(o.v IS NULL AS INT) AS is_gap
FROM grid g LEFT JOIN obs o ON g.bucket = o.bucket AND g.event_type = o.event_type
ORDER BY hour_start, g.event_type
""",
)
def ts_gapfill_locf_q(spark, sf_dir):
    """Hypertable-style gap filling: dense hourly bucket x event_type grid
    over the global time range, hourly totals joined on, missing buckets
    carried forward per type (LOCF).  Values fold as integer cents so the
    filled series is cross-engine exact; leading buckets before a type's
    first observation stay NULL on both engines."""
    from steampipe_sqlite_spark.operators.temporal import gapfill_locf

    events = load_table(spark, sf_dir, "events")
    out = gapfill_locf(events, "ts", "event_type", "value", step="1 hour")
    return out.selectExpr(
        "bucket AS hour_start", "k AS event_type", "v_filled AS total_value", "is_gap"
    ).orderBy("hour_start", "event_type")


@query(
    "cdc_latest_state",
    oracle="""
SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS r
  FROM events
) t WHERE r = 1
ORDER BY user_id
""",
)
def cdc_latest_state(spark, sf_dir):
    """CDC latest-record-wins compaction of the events changelog: current
    state per user_id, versioned by (ts, event_id).  One max_by hash
    aggregation (map-side partial per key — no full changelog sort); the
    oracle is the equivalent row_number window."""
    from steampipe_sqlite_spark.operators.temporal import latest_by_key

    events = load_table(spark, sf_dir, "events")
    return latest_by_key(
        events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_id", "ts", "event_type", "value"],
    ).orderBy("user_id")


@query(
    "cdc_scd2_intervals",
    oracle="""
SELECT user_id, event_id, value, ts AS valid_from,
       LEAD(ts) OVER w AS valid_to,
       CAST(LEAD(ts) OVER w IS NULL AS INT) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
ORDER BY user_id, valid_from, event_id
""",
)
def cdc_scd2_intervals_q(spark, sf_dir):
    """Type-2 SCD history from the events changelog: per-user validity
    intervals [valid_from, valid_to) with is_current on the open row —
    one keyed lead() window."""
    from steampipe_sqlite_spark.operators.temporal import scd2_intervals

    events = load_table(spark, sf_dir, "events")
    return scd2_intervals(
        events,
        key_cols=["user_id"],
        ts_col="ts",
        order_cols=["ts", "event_id"],
        payload_cols=["event_id", "value"],
    ).orderBy("user_id", "valid_from", "event_id")


@query(
    "ts_ewma_smooth",
    oracle="""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
  FROM events
),
rec AS (
  SELECT user_id, event_id, ts, value, r, value AS y FROM base WHERE r = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.ts, b.value, b.r,
         0.25 * b.value + 0.75 * rec.y
  FROM base b JOIN rec ON b.user_id = rec.user_id AND b.r = rec.r + 1
)
SELECT user_id, event_id, ts, value,
       CAST(ROUND(y * 1000000.0) AS BIGINT) AS ewma_u
FROM rec
ORDER BY user_id, r
""",
)
def ts_ewma_smooth(spark, sf_dir):
    """Per-user EWMA (alpha=0.25) of event values ordered by (ts,
    event_id) — sequential recursion via applyInPandas (one key shuffle);
    the oracle replays the identical recursion as a DuckDB recursive CTE,
    bit-exact because 0.25/0.75 are dyadic and both engines left-fold."""
    from steampipe_sqlite_spark.operators.temporal import ewma_by_key

    events = load_table(spark, sf_dir, "events")
    out = ewma_by_key(
        events,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.25,
    )
    # integer micro-units, not round(y, 6): the recursion's dyadic weights
    # times 2-decimal inputs yield EXACT terminating decimals, which land
    # on .5 rounding boundaries where Spark's shortest-string ROUND and
    # DuckDB's binary ROUND disagree (measured: 3 cells in 10k rows at
    # 6 dp).  Scale-0 rounding after an identical *1e6 multiply agrees on
    # every representable double — the corpus's integer-cents convention.
    return out.selectExpr(
        "user_id", "event_id", "ts", "value",
        "cast(round(ewma * 1000000.0) as bigint) AS ewma_u",
    ).orderBy("user_id", "ts", "event_id")


# Funnel analysis: staged conversion view → click → purchase per user,
# each stage strictly after the previous one.  Three per-user MIN
# aggregations chained by user-keyed joins — every intermediate is
# ≤ |users| rows (broadcastable), the events scan carries a pushed
# event_type filter per stage, and nothing is ever sorted globally:
# the shape holds on an unbounded event log.  Dialect-shared SQL.
from steampipe_sqlite_spark.plans.registry import sql_query

sql_query(
    "funnel_view_click_purchase",
    """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id AS user_id, v.t_view, c.t_click, p.t_purchase,
       1 + CAST(c.user_id IS NOT NULL AS INT)
         + CAST(p.user_id IS NOT NULL AS INT) AS stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
""",
)


# Cohort retention: users grouped by first-activity day (cohort), counted
# on each subsequent activity day as a day-offset matrix.  Two hash aggs
# (per-user min, then per-(user, day) distinct activity) and one
# broadcastable join back on user_id — no window, no global sort; the
# standard product-analytics rollup, linear on an unbounded log.
sql_query(
    "cohort_retention_daily",
    """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
)
SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(datediff(a.active_day, f.cohort_day) AS INT) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM activity a
JOIN firsts f ON a.user_id = f.user_id
GROUP BY f.cohort_day, datediff(a.active_day, f.cohort_day)
ORDER BY cohort_day, day_offset
""",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
)
SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(date_diff('day', f.cohort_day, a.active_day) AS INT) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM activity a
JOIN firsts f ON a.user_id = f.user_id
GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.active_day)
ORDER BY cohort_day, day_offset
""",
)


# Session statistics rollup over the 30-minute-gap sessionization: counts,
# bounces, and total duration as EXACT integers (sums + counts, never
# averages — ratios of integers are terminating decimals that hit the
# engines' ROUND divergence; consumers derive averages losslessly).
sql_query(
    "session_stats_rollup",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
  FROM flagged
),
sessions AS (
  SELECT user_id, sess_no, COUNT(*) AS n_events,
         CAST(unix_timestamp(MAX(ts)) - unix_timestamp(MIN(ts)) AS BIGINT) AS duration_s
  FROM numbered GROUP BY user_id, sess_no
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(duration_s) AS BIGINT) AS total_duration_s,
       CAST(MAX(duration_s) AS BIGINT) AS max_duration_s
FROM sessions
""",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
  FROM flagged
),
sessions AS (
  SELECT user_id, sess_no, COUNT(*) AS n_events,
         CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_s
  FROM numbered GROUP BY user_id, sess_no
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(SUM(duration_s) AS BIGINT) AS total_duration_s,
       CAST(MAX(duration_s) AS BIGINT) AS max_duration_s
FROM sessions
""",
)


# --- Hypertable rollups: OHLC candlesticks + time-weighted average --------
# Both are single SQL texts shared across engines apart from the epoch-
# micros spelling (Spark unix_micros vs DuckDB epoch_us).  Values fold as
# integer cents and weights as integer microseconds, so every aggregate is
# exact on both engines (registry header, numeric rules).

_OHLC_BODY = """
WITH pts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM pts
)
SELECT event_type, hour_start,
       CAST(MAX(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MAX(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM r
GROUP BY event_type, hour_start
ORDER BY event_type, hour_start
"""
# TimescaleDB candlestick/first()/last() analog: first/last tick per
# bucket via the two row_number windows (deterministic (ts, event_id)
# tie-break), high/low/volume from the same grouped pass.
sql_query("ts_ohlc_hourly", _OHLC_BODY, present_sort=["event_type", "hour_start"])


def _twap_body(eus):
    """eus: engine spelling of timestamp -> epoch microseconds (Spark
    needs a TIMESTAMP cast first: the parquet reader yields NTZ, which
    unix_micros rejects; session tz is pinned UTC so the cast is exact)."""
    return f"""
WITH pts AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
seg AS (
  SELECT event_type, hour_start, cents,
         {eus("ts")} AS t0,
         LEAD({eus("ts")}) OVER (PARTITION BY event_type, hour_start
                                 ORDER BY ts, event_id) AS t1,
         {eus("hour_start + INTERVAL 1 HOUR")} AS bucket_end
  FROM pts
)
SELECT event_type, hour_start,
       CAST(SUM(COALESCE(t1, bucket_end) - t0) AS BIGINT) AS covered_us,
       CAST(ROUND(CAST(SUM((COALESCE(t1, bucket_end) - t0) * cents) AS DOUBLE)
                  / GREATEST(CAST(SUM(COALESCE(t1, bucket_end) - t0) AS DOUBLE), 1e0))
            AS BIGINT) AS twap_cents,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM seg
GROUP BY event_type, hour_start
ORDER BY event_type, hour_start
"""


# Time-weighted average (hypertable time_weight analog): each tick's value
# holds until the next tick in the bucket (last tick: until bucket end) —
# a duration-weighted LOCF integral.  Weights are integer microseconds and
# values integer cents, so both SUMs are exact integers; the single final
# division is the only float step.
sql_query(
    "ts_twap_hourly",
    _twap_body(lambda x: f"unix_micros(cast({x} AS TIMESTAMP))"),
    oracle=_twap_body(lambda x: f"epoch_us({x})"),
    present_sort=["event_type", "hour_start"],
)


# Pipeline-monitoring shape: is this hour's event volume anomalous for its
# type?  Variance comes from integer moments (cnt·Σn² − (Σn)², all BIGINT)
# so both engines see the same exact values; mean/σ/z are then a fixed
# sequence of correctly-rounded IEEE ops, and the anomaly FLAG derives
# from the already-rounded integer-micro z, so no row flips membership on
# an ulp (filtering on the raw double would).
_ANOMALY_BODY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour_start,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS ss
  FROM hourly GROUP BY event_type
),
scored AS (
  SELECT hourly.event_type, hour_start, n,
         CAST(ROUND(1000000e0 * (n - CAST(s AS DOUBLE) / cnt)
              / SQRT(GREATEST((CAST(ss AS DOUBLE) * cnt - CAST(s AS DOUBLE) * s)
                              / (CAST(cnt AS DOUBLE) * cnt), 1e-12))) AS BIGINT) AS z_micro
  FROM hourly JOIN stats ON hourly.event_type = stats.event_type
)
SELECT event_type, hour_start, n, z_micro,
       CAST(z_micro >= 2000000 OR z_micro <= -2000000 AS INT) AS is_anomaly
FROM scored
ORDER BY event_type, hour_start
"""
sql_query(
    "ts_count_anomaly",
    _ANOMALY_BODY,
    present_sort=["event_type", "hour_start"],
)


@query(
    "join_asof_tolerance",
    oracle="""
SELECT l.event_id, l.user_id, l.ts,
       CASE WHEN r.ts >= l.ts - INTERVAL 2 HOUR THEN r.click_value END
         AS click_value,
       CASE WHEN r.ts >= l.ts - INTERVAL 2 HOUR THEN r.ts END AS matched_ts
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, value AS click_value
                FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
""",
)
def join_asof_tolerance(spark, sf_dir):
    """Bounded-staleness as-of join: each purchase matched to the user's
    most recent click at-or-before it ONLY if that click is within 2
    hours — older matches surface as NULL (the serving-cache staleness
    contract: a feature older than the tolerance must not be used).
    Exercises asof_join's tolerance parameter, previously implemented
    but never driver-checked; same one-shuffle union+window plan as
    join_asof_events, the tolerance is a post-window CASE."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    return asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["click_value"], tolerance="2 HOUR",
    ).orderBy("event_id")


@query(
    "ts_interval_union",
    oracle="""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + 1800000000 AS e_us
  FROM events WHERE event_type IN ('view', 'click')),
flagged AS (
  SELECT user_id, s_us, e_us,
         CASE WHEN s_us > COALESCE(MAX(e_us) OVER (
                PARTITION BY user_id ORDER BY s_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -9223372036854775808)
              THEN 1 ELSE 0 END AS new_island
  FROM iv),
grouped AS (
  SELECT user_id, s_us, e_us,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s_us, e_us
             ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged),
islands AS (
  SELECT user_id, island,
         CAST(MAX(e_us) - MIN(s_us) AS BIGINT) AS len_us
  FROM grouped GROUP BY user_id, island)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(len_us) AS BIGINT) AS covered_us
FROM islands
GROUP BY user_id
ORDER BY user_id
""",
)
def ts_interval_union(spark, sf_dir):
    """Interval-union coverage (gaps-and-islands): per user, total time
    covered by the union of 30-minute activity intervals opened by each
    view/click — overlaps merged exactly, the utilization statistic a
    rate-limiting / engagement pipeline computes.  Integer microseconds
    end to end.

    Scale shape: one keyed shuffle (user windows), running-max island
    detection, two keyed aggregates — no self-join of intervals (the
    naive overlap join is quadratic per user)."""
    events = load_table(spark, sf_dir, "events")
    iv = events.where("event_type IN ('view', 'click')").selectExpr(
        "user_id", "event_id",
        "unix_micros(cast(ts AS TIMESTAMP)) AS s_us",
        "unix_micros(cast(ts AS TIMESTAMP)) + 1800000000 AS e_us",
    )
    flagged = iv.selectExpr(
        "user_id", "s_us", "e_us",
        "CASE WHEN s_us > COALESCE(MAX(e_us) OVER ("
        " PARTITION BY user_id ORDER BY s_us, event_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
        " -9223372036854775808) THEN 1 ELSE 0 END AS new_island",
    )
    grouped = flagged.selectExpr(
        "user_id", "s_us", "e_us",
        "SUM(new_island) OVER (PARTITION BY user_id ORDER BY s_us, e_us"
        " ROWS UNBOUNDED PRECEDING) AS island",
    )
    islands = grouped.groupBy("user_id", "island").agg(
        F.expr("CAST(MAX(e_us) - MIN(s_us) AS BIGINT)").alias("len_us")
    )
    out = islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("len_us").cast("long").alias("covered_us"),
    )
    return out.orderBy("user_id")


@query(
    "user_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
numbered AS (
  SELECT user_id, d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS r
  FROM days),
islands AS (
  SELECT user_id, d - CAST(r AS INT) AS grp, CAST(COUNT(*) AS BIGINT) AS len
  FROM numbered GROUP BY user_id, d - CAST(r AS INT))
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(COUNT(*) AS BIGINT) AS n_streaks
FROM islands
GROUP BY user_id
ORDER BY user_id
""",
)
def user_activity_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands date trick (day minus row_number is constant within
    a consecutive run), the retention-quality statistic next to
    cohort_retention_daily.  Integer day arithmetic only.

    Scale shape: DISTINCT (user, day) compacts the event stream map-side
    first, so the per-user window runs over active DAYS (bounded by the
    date range), not raw events; two keyed aggregates after."""
    events = load_table(spark, sf_dir, "events")
    days = events.selectExpr("user_id", "CAST(ts AS DATE) AS d").distinct()
    numbered = days.selectExpr(
        "user_id", "d",
        "ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS r",
    )
    islands = (
        numbered.selectExpr("user_id", "date_sub(d, r) AS grp")
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("len"))
    )
    out = islands.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )
    return out.orderBy("user_id")


@query(
    "funnel_latency_stats",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id),
lat AS (
  SELECT user_id,
         CAST(epoch_us(first_purchase) - epoch_us(first_view) AS BIGINT) // 1000000
           AS latency_s
  FROM firsts
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_purchase >= first_view),
ranked AS (
  SELECT latency_s, ROW_NUMBER() OVER (ORDER BY latency_s) AS r,
         COUNT(*) OVER () AS n
  FROM lat)
SELECT CAST(MIN(n) AS BIGINT) AS n_converted,
       CAST(MIN(latency_s) AS BIGINT) AS min_s,
       CAST(MIN(CASE WHEN 2 * r >= n THEN latency_s END) AS BIGINT) AS median_s,
       CAST(MIN(CASE WHEN 10 * r >= 9 * n THEN latency_s END) AS BIGINT) AS p90_s,
       CAST(MAX(latency_s) AS BIGINT) AS max_s
FROM ranked
""",
)
def funnel_latency_stats(spark, sf_dir):
    """Time-to-convert distribution: per user, first view → first
    purchase latency (integer seconds), rolled up to count/min/median/
    p90/max.  Percentiles via the explicit rank inequality (smallest
    value whose rank reaches the quantile of n) — identical discrete
    semantics in any engine, unlike PERCENTILE_CONT's interpolation.

    Scale shape: the two firsts fold in ONE map-side-partial aggregate
    per user; the rank runs over CONVERTED USERS (≤ one row per user)
    through operators/scale.distributed_row_number — the earlier
    empty-OVER ROW_NUMBER/COUNT window single-partitioned the converted
    set (VERDICT r6); n comes from the rank helper's partition-count
    total.  Ties in latency_s rank arbitrarily in BOTH forms, and the
    rank-inequality percentiles are tie-invariant, so results are
    unchanged."""
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.expr("MIN(CASE WHEN event_type = 'view' THEN ts END)").alias("first_view"),
        F.expr("MIN(CASE WHEN event_type = 'purchase' THEN ts END)").alias(
            "first_purchase"
        ),
    )
    lat = firsts.where(
        "first_view IS NOT NULL AND first_purchase IS NOT NULL"
        " AND first_purchase >= first_view"
    ).selectExpr(
        "(unix_micros(cast(first_purchase AS TIMESTAMP))"
        " - unix_micros(cast(first_view AS TIMESTAMP))) div 1000000 AS latency_s"
    )
    from steampipe_sqlite_spark.operators.scale import distributed_row_number

    ranked = distributed_row_number(lat, [F.col("latency_s")], name="r")
    n = ranked._sgs_total_rows
    # MIN(lit(n)) not lit(n): over an empty converted set the oracle's
    # MIN(n) is NULL, and a bare literal would emit 0 instead.
    return ranked.agg(
        F.min(F.lit(n)).cast("long").alias("n_converted"),
        F.min("latency_s").cast("long").alias("min_s"),
        F.expr(f"MIN(CASE WHEN 2 * r >= {n} THEN latency_s END)")
        .cast("long")
        .alias("median_s"),
        F.expr(f"MIN(CASE WHEN 10 * r >= 9 * {n} THEN latency_s END)")
        .cast("long")
        .alias("p90_s"),
        F.max("latency_s").cast("long").alias("max_s"),
    )


@query(
    "attribution_last_touch",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events)
SELECT COALESCE(prev_type, '(none)') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM seq
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY touch_type
""",
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: each purchase credited to the user's
    immediately-preceding event type ('(none)' for session-opening
    purchases) — one keyed LAG window + a 6-row rollup.  The window
    total-orders on (ts, event_id) so ties are deterministic."""
    events = load_table(spark, sf_dir, "events")
    seq = events.selectExpr(
        "user_id", "event_type", "ts", "event_id",
        "LAG(event_type) OVER (PARTITION BY user_id"
        " ORDER BY ts, event_id) AS prev_type",
    )
    out = (
        seq.where("event_type = 'purchase'")
        .groupBy(F.expr("COALESCE(prev_type, '(none)')").alias("touch_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"))
    )
    return presentation_sort(out, ["touch_type"])


_SEASONAL_NAIVE_BODY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
matched AS (
  SELECT cur.event_type,
         cur.cents AS actual, prev.cents AS forecast
  FROM hourly cur
  JOIN hourly prev
    ON prev.event_type = cur.event_type
   AND prev.h + INTERVAL 24 HOURS = cur.h)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(ABS(actual - forecast)) AS BIGINT) AS mae_num_cents,
       CAST(SUM(ABS(actual - forecast)) // COUNT(*) AS BIGINT)
         AS mae_cents_floor
FROM matched
GROUP BY event_type
ORDER BY event_type
"""
# Seasonal-naive backtest (forecast each hour by the value 24h earlier,
# the standard baseline every forecaster must beat), scored by MAE over
# integer cents.  The 24h shift is an equi-join on the shifted bucket —
# gap-safe where LAG(24 ROWS) silently misreads sparse series — and at
# scale it's a per-event_type co-partitioned self-join of the HOURLY
# aggregate (map-side partial first), never of raw events.
sql_query(
    "ts_seasonal_naive_mae",
    _SEASONAL_NAIVE_BODY.replace(" // ", " div "),
    oracle=_SEASONAL_NAIVE_BODY,
    present_sort=["event_type"],
)


_TRANSITION_BODY = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
pairs AS (
  SELECT prev AS src_event, event_type AS dst_event,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev IS NOT NULL
  GROUP BY prev, event_type),
tot AS (
  SELECT src_event, CAST(SUM(n) AS BIGINT) AS row_total
  FROM pairs GROUP BY src_event)
SELECT p.src_event, p.dst_event, p.n, t.row_total,
       CAST(p.n * 1000000 {op} t.row_total AS BIGINT) AS share_ppm
FROM pairs p JOIN tot t ON t.src_event = p.src_event
ORDER BY p.src_event, p.dst_event
"""
# First-order Markov transition matrix of user event streams: per
# (from, to) event-type pair, the count and exact row-normalized ppm —
# the behavioral-model / anomaly-baseline primitive.  The LAG window is
# PARTITIONED by user (parallel, bounded per-key state); the matrix
# itself is |types|^2 = 25 rows, and its row totals join broadcast-sized.
sql_query(
    "events_transition_matrix",
    _TRANSITION_BODY.format(op="div"),
    oracle=_TRANSITION_BODY.format(op="//"),
    present_sort=["src_event", "dst_event"],
)


def _interarrival_body(eus, op):
    return f"""
WITH seq AS (
  SELECT user_id,
         ({eus('ts')} - LAG({eus('ts')}) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id))
           {op} 1000000 AS gap_s
  FROM events),
gaps AS (SELECT gap_s FROM seq WHERE gap_s IS NOT NULL),
bucketed AS (
  SELECT gap_s,
         CASE WHEN gap_s <= 0 THEN 0
              ELSE length(CAST(gap_s AS VARCHAR)) END AS bucket
  FROM gaps)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


# Inter-arrival-time histogram in decimal-decade buckets (bucket = digit
# count of the gap in whole seconds — an exact integer log10 both engines
# compute identically from the int's decimal rendering, where FLOOR(LOG10)
# would 1-ulp-flip on exact powers of ten).  Session-timeout calibration:
# the gap distribution's knee IS the right sessionize threshold.
# LAG partitions by user; the histogram is <=12 buckets.
sql_query(
    "events_interarrival_hist",
    _interarrival_body(lambda x: f"unix_micros(cast({x} AS TIMESTAMP))", "div")
    .replace("AS VARCHAR", "AS STRING"),
    oracle=_interarrival_body(lambda x: f"epoch_us({x})", "//"),
    present_sort=["bucket"],
)


_GROWTH_BODY = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
  FROM events GROUP BY 1),
first_seen AS (
  SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS day
  FROM events GROUP BY user_id),
new_by_day AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM first_seen GROUP BY day)
SELECT CAST(d.day AS TIMESTAMP) AS day, d.n_events, d.n_active,
       COALESCE(n.n_new, 0) AS n_new,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily d LEFT JOIN new_by_day n ON n.day = d.day
ORDER BY d.day
"""
# Daily growth curve: events, DAU, new users (first-seen day), and the
# cumulative registered-user count — the activation dashboard.  The
# running sum's window is over the DAY-level aggregate (bounded: one row
# per day — 36.5k rows even for a century), which is the documented
# exception to the no-global-window rule; the per-user first-seen min is
# an ordinary map-side-partial aggregate.
sql_query("events_growth_daily", _GROWTH_BODY, present_sort=["day"])


_CROSSINGS_BODY = """
WITH seq AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS cents,
         LAG(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
  FROM events)
SELECT event_type,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <= 25000
                      AND cents > 25000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_up_crossings,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND prev > 25000
                      AND cents <= 25000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_down_crossings,
       CAST(SUM(CASE WHEN cents > 25000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM seq
GROUP BY event_type
ORDER BY event_type
"""
# Threshold-crossing counter (value crossing 250.00 in integer cents,
# both directions) per event-type stream — the alert-dedup primitive: an
# alert fires on CROSSINGS, not on every above-threshold sample.  One
# keyed LAG window folded straight into a 5-row aggregate.
sql_query("ts_threshold_crossings", _CROSSINGS_BODY, present_sort=["event_type"])


@query(
    "join_scd2_point_in_time",
    oracle="""
WITH views AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
purch_raw AS (
  SELECT user_id, ts, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS purchase_cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'purchase'),
purch AS (
  SELECT user_id, ts, purchase_cents FROM purch_raw WHERE rn = 1),
matched AS (
  SELECT v.user_id, v.event_id,
         (SELECT p.purchase_cents FROM purch p
          WHERE p.user_id = v.user_id AND p.ts <= v.ts
          ORDER BY p.ts DESC LIMIT 1) AS active_cents
  FROM views v)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_views,
       CAST(COUNT(active_cents) AS BIGINT) AS n_covered,
       CAST(SUM(COALESCE(active_cents, 0)) AS BIGINT) AS sum_active_cents
FROM matched
GROUP BY user_id
ORDER BY user_id
""",
)
def join_scd2_point_in_time(spark, sf_dir):
    """Point-in-time (SCD2 AS-OF) lookup: each 'view' event is joined to
    the purchase record ACTIVE at its timestamp (the most recent
    purchase at-or-before — exactly the dimension row whose
    [valid_from, valid_to) interval covers the fact ts, without ever
    materializing valid_to).  The warehouse pattern for joining facts to
    slowly-changing dimensions; rides operators/temporal.asof_join
    (union + one keyed window — one shuffle on user_id, cost independent
    of interval lengths; a naive BETWEEN range join explodes on long
    validity windows).  The oracle spells the same semantics as a
    correlated top-1 subquery.  The right side is first deduped to ONE
    row per (user, ts) keeping the highest event_id — same-instant
    purchases otherwise leave both the window's last() and the oracle's
    LIMIT 1 free to pick either row (the corpus determinism convention:
    every order must be total)."""
    from steampipe_sqlite_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    views = events.where("event_type = 'view'").selectExpr(
        "user_id", "ts", "event_id"
    )
    purch = (
        events.where("event_type = 'purchase'")
        .selectExpr(
            "user_id", "ts", "event_id",
            "CAST(ROUND(value * 100) AS BIGINT) AS purchase_cents",
        )
        .selectExpr(
            "user_id", "ts", "purchase_cents",
            "ROW_NUMBER() OVER (PARTITION BY user_id, ts"
            " ORDER BY event_id DESC) AS rn",
        )
        .where("rn = 1")
        .drop("rn")
    )
    matched = asof_join(
        views, purch, key="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["purchase_cents"],
    )
    out = matched.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_views"),
        F.count("purchase_cents").cast("long").alias("n_covered"),
        F.expr("CAST(SUM(COALESCE(purchase_cents, 0)) AS BIGINT)").alias(
            "sum_active_cents"
        ),
    )
    return presentation_sort(out, ["user_id"])


_AUTOCORR_BODY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
pairs AS (
  SELECT cur.event_type, cur.x AS x, nxt.x AS y
  FROM hourly cur
  JOIN hourly nxt
    ON nxt.event_type = cur.event_type
   AND nxt.h = cur.h + INTERVAL 1 HOURS),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY event_type)
SELECT event_type, n, sx, sy, sxx, syy, sxy
FROM m
ORDER BY event_type
"""
# Lag-1 autocorrelation of hourly event counts per stream — the
# seasonality / burstiness diagnostic deciding whether seasonal-naive
# (ts_seasonal_naive_mae) is even the right baseline.  The 1h shift is a
# gap-safe equi-join on the shifted HOURLY aggregate (same reasoning as
# the seasonal query).  Emits the six EXACT integer moments only — the
# caller computes Pearson r = (n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) *
# sqrt(n*syy - sy^2)) from them (same caller-side-ratio convention as
# emb_label_centroid_geometry).  The earlier in-query DOUBLE emission
# deviated from the corpus' exact-integer rule and silently lost
# exactness past 2^53 (ADVICE r6); moments themselves are exact BIGINTs
# at any realistic scale (hourly counts ~1e6 -> sxx ~1e12 per pair row).
sql_query("ts_autocorr_lag1", _AUTOCORR_BODY, present_sort=["event_type"])


_CUSUM_BODY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
base AS (
  SELECT event_type,
         CAST(SUM(cents) {op} COUNT(*) AS BIGINT) AS target
  FROM hourly GROUP BY event_type),
dev AS (
  SELECT h.event_type, h.h, h.cents - b.target AS d
  FROM hourly h JOIN base b ON b.event_type = h.event_type),
cum0 AS (
  SELECT event_type, h,
         CAST(SUM(d) OVER (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS c
  FROM dev),
cum AS (
  SELECT event_type, h, c,
         CAST(MIN(c) OVER (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_min
  FROM cum0),
scored AS (
  SELECT event_type, h, c - LEAST(run_min, 0) AS cusum,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY c - LEAST(run_min, 0) DESC, h) AS rnk
  FROM cum)
SELECT event_type, cusum AS max_cusum_cents, h AS peak_hour
FROM scored WHERE rnk = 1
ORDER BY event_type
"""
# One-sided CUSUM change detection per stream, in its prefix closed form:
# the recursive S_t = max(0, S_{t-1} + dev_t) equals
# C_t - min(0, min_{k<=t}(C_k)) for C = running sum of deviations (the
# 0 is C_0 — dropping it overstates early minima and truncates peaks) — which turns
# an inherently sequential recurrence into two stacked keyed windows
# (cumsum, then running min of the cumsum) Spark can run partitioned and
# in one pass.  Emits each stream's peak accumulated upward drift and
# when it peaked — the changepoint alarm.  All integer cents; target =
# floor-mean per stream.
sql_query(
    "ts_cusum_changepoint",
    _CUSUM_BODY.format(op="div"),
    oracle=_CUSUM_BODY.format(op="//"),
    present_sort=["event_type"],
)


# Mann-Kendall trend test inputs per event stream (Mann 1945, Kendall's
# S): all C(n,2) day-pair sign comparisons of the daily value totals —
# S > 0 is an upward trend, |S| near n(n-1)/2 is monotone.  Exact
# integer S plus the tie-corrected pair counts callers need for the
# variance term.  The pair join LOOKS quadratic but its input is the
# per-(stream, day) AGGREGATE — bounded by the calendar (≤366 rows per
# stream-year), not the corpus — so the self-join is a few-thousand-row
# broadcast at any data scale; the unbounded event stream is reduced
# first by one map-side-partial hash aggregate.  Integer cents
# throughout; the shared text runs verbatim on both engines.
sql_query(
    "ts_mann_kendall_daily",
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.cents > a.cents THEN 1
              WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(sgn) AS BIGINT) AS s_stat,
       CAST(SUM(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
FROM pairs
GROUP BY event_type
ORDER BY event_type
""",
    present_sort=["event_type"],
)
