"""Temporal join operators Spark lacks as built-ins: as-of join and
binned range join — expressed as compositions of DataFrame ops (no UDFs,
no BNL), the shapes that survive 1000 executors.

- asof_join: union + keyed window with last(ignorenulls) — ONE shuffle on
  the key, no join node at all, no O(n·m) pair space.  (The naive
  inequality join degenerates to BroadcastNestedLoop; the union-window
  form is the published large-scale pattern.)
- range_join_binned: equi-join on time bins + exact residual filter —
  turns an inequality join (BNL in Spark) into a hash join whose fan-out
  is interval_width/bin_width per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    tolerance: str | None = None,
) -> DataFrame:
    """For each left row: the most recent right row with
    ``right.ts <= left.ts`` on the same key (backward as-of, inclusive —
    DuckDB's ``ASOF JOIN`` semantics, so it oracle-checks directly).

    Shape: tag and union both sides, one window over (key ORDER BY ts,
    side) carrying the right payload forward with last(ignorenulls).
    Right sorts before left at equal ts ⇒ inclusive match.  Cost: one hash
    shuffle on key + one sort — independent of match distances.

    ``tolerance`` (e.g. '2 hours') drops matches older than
    left.ts - tolerance, emitted as NULL payload (DuckDB: add the bound to
    the ASOF condition).
    """
    # All projections compose as selectExpr strings: the Column-chain form
    # cost one py4j round-trip per column (~0.16 s per build on the asof
    # headline query); strings make each select a single call.
    lcols = [c for c in left.columns]
    rt = right.schema[right_ts].dataType.simpleString()
    l = left.selectExpr(
        f"`{key}` AS _k",
        f"`{left_ts}` AS _ts",
        "1 AS _side",
        *[f"`{c}`" for c in lcols],
        *[
            f"CAST(NULL AS {right.schema[c].dataType.simpleString()}) AS `_p_{c}`"
            for c in payload_cols
        ],
        f"CAST(NULL AS {rt}) AS _rts",
    )
    r = right.selectExpr(
        f"`{key}` AS _k",
        f"`{right_ts}` AS _ts",
        "0 AS _side",
        *[
            f"CAST(NULL AS {left.schema[c].dataType.simpleString()}) AS `{c}`"
            for c in lcols
        ],
        *[f"`{c}` AS `_p_{c}`" for c in payload_cols],
        f"`{right_ts}` AS _rts",
    )
    over = (
        "OVER (PARTITION BY _k ORDER BY _ts ASC, _side ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    filled = r.unionByName(l).selectExpr(
        *[f"`{c}`" for c in lcols],
        "_side",
        "_ts",
        *[f"last(`_p_{c}`, true) {over} AS `{c}`" for c in payload_cols],
        f"last(_rts, true) {over} AS _matched_ts",
    )
    out = filled.where("_side = 1")
    if tolerance is not None:
        in_window = f"_matched_ts >= _ts - INTERVAL {tolerance}"
        out = out.selectExpr(
            *[f"`{c}`" for c in lcols],
            *[f"CASE WHEN {in_window} THEN `{c}` END AS `{c}`" for c in payload_cols],
            f"CASE WHEN {in_window} THEN _matched_ts END AS matched_ts",
        )
    else:
        out = out.selectExpr(
            *[f"`{c}`" for c in lcols],
            *[f"`{c}`" for c in payload_cols],
            "_matched_ts AS matched_ts",
        )
    return out


def asof_join_same_source(
    source: DataFrame,
    key: str,
    ts: str,
    left_pred: str,
    right_pred: str,
    left_cols: list[str],
    payload_cols: list[str],
    tolerance: str | None = None,
    validate: bool = False,
) -> DataFrame:
    """:func:`asof_join` specialization for the common log-processing case
    where BOTH sides are predicates over ONE source (purchase vs click
    rows of the same event log): the tag-and-union shape collapses to a
    single scan with CASE-tagged columns — no union node, half the input
    I/O, same one-shuffle window (measured 0.56 s → 0.30 s on the sf0.1
    headline as-of query; at 100 TB the saved scan is the dominant term).

    ``left_pred`` / ``right_pred``: SQL boolean strings over ``source``'s
    columns; they MUST be disjoint (a row matching both would join to
    itself — callers on a type/status column get this for free).
    Output: one row per left row — ``left_cols`` + most-recent-at-or-
    before ``payload_cols`` (NULL when no prior right row) + matched_ts.
    ``tolerance`` matches :func:`asof_join`'s (e.g. ``'2 HOUR'``): stale
    matches beyond it surface as NULL — the fast path is feature-par with
    the general form.

    ``validate=True`` spends one extra (early-exiting, LIMIT-1) job to
    check the disjointness precondition and raises ``ValueError`` if any
    row matches BOTH predicates — such a row would silently join to
    itself at zero distance (ADVICE r8).  Off by default: callers
    predicating on a single type/status column are disjoint by
    construction; turn it on when the predicates are hand-written
    boolean expressions.
    """
    if validate:
        if not source.where(f"({left_pred}) AND ({right_pred})").isEmpty():
            raise ValueError(
                "asof_join_same_source: left_pred and right_pred are not "
                f"disjoint — a row matches both ({left_pred!r} AND "
                f"{right_pred!r}); such rows would match themselves at "
                "zero distance. Fix the predicates or use asof_join with "
                "two distinct frames."
            )
    scan = source.where(f"({left_pred}) OR ({right_pred})")
    u = scan.selectExpr(
        f"`{key}` AS _k",
        f"`{ts}` AS _ts",
        f"CASE WHEN {left_pred} THEN 1 ELSE 0 END AS _side",
        *[f"CASE WHEN {left_pred} THEN `{c}` END AS `{c}`" for c in left_cols],
        *[
            f"CASE WHEN {right_pred} THEN `{c}` END AS `_p_{c}`"
            for c in payload_cols
        ],
        f"CASE WHEN {right_pred} THEN `{ts}` END AS _rts",
    )
    over = (
        "OVER (PARTITION BY _k ORDER BY _ts ASC, _side ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    out = (
        u.selectExpr(
            *[f"`{c}`" for c in left_cols],
            f"_k AS `{key}`",
            f"_ts AS `{ts}`",
            "_side",
            *[f"last(`_p_{c}`, true) {over} AS `{c}`" for c in payload_cols],
            f"last(_rts, true) {over} AS matched_ts",
        )
        .where("_side = 1")
        .drop("_side")
    )
    if tolerance is not None:
        # same post-window CASE as asof_join: a match older than the
        # tolerance surfaces as NULL payload/matched_ts
        in_window = f"matched_ts >= `{ts}` - INTERVAL {tolerance}"
        out = out.selectExpr(
            *[f"`{c}`" for c in left_cols],
            f"`{key}`",
            f"`{ts}`",
            *[f"CASE WHEN {in_window} THEN `{c}` END AS `{c}`" for c in payload_cols],
            f"CASE WHEN {in_window} THEN matched_ts END AS matched_ts",
        )
    return out


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_lo: str,
    right_hi: str,
    bin_seconds: int,
    extra_key: str | None = None,
) -> DataFrame:
    """Join left points to right intervals containing them
    (``lo <= ts < hi``) without a nested-loop plan: both sides bucket time
    into ``bin_seconds`` bins — each interval explodes to the bins it
    covers, each point to its single bin — then a hash equi-join on
    (bin[, extra_key]) and the exact residual filter.

    Fan-out per interval row = ceil(interval/bin) + 1; pick bin_seconds
    near the typical interval length.  This is how Spark's own optimizer
    handles range joins on Delta (public technique: bin bucketing).
    """
    epoch_l = F.unix_timestamp(F.col(left_ts).cast("timestamp"))
    epoch_lo = F.unix_timestamp(F.col(right_lo).cast("timestamp"))
    epoch_hi = F.unix_timestamp(F.col(right_hi).cast("timestamp"))

    lb = left.withColumn("_bin", F.floor(epoch_l / bin_seconds))
    rb = right.withColumn(
        "_bin",
        F.explode(F.sequence(F.floor(epoch_lo / bin_seconds), F.floor(epoch_hi / bin_seconds))),
    )
    on = ["_bin"] + ([extra_key] if extra_key else [])
    joined = lb.join(rb, on=on).filter(
        (F.col(left_ts) >= F.col(right_lo)) & (F.col(left_ts) < F.col(right_hi))
    )
    return joined.drop("_bin")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bin_seconds: int,
) -> DataFrame:
    """Interval × interval overlap join (``l_lo < r_hi AND r_lo < l_hi``,
    half-open) without a nested loop: both interval sets explode to their
    covered time bins and hash-equi-join on the bin.

    Each overlapping pair shares the bin of the LATER start, so the join
    keeps only that one bin per pair (``_bin == greatest(floor(l_lo/bin),
    floor(r_lo/bin))``) — pairs emerge exactly once with no dedup shuffle.
    Fan-out per row = ceil(span/bin) + 1; cost stays linear in rows ×
    fan-out, never |left| × |right|.
    """
    def binned(df: DataFrame, lo: str, hi: str, tag: str) -> DataFrame:
        e_lo = F.unix_timestamp(F.col(lo).cast("timestamp"))
        e_hi = F.unix_timestamp(F.col(hi).cast("timestamp"))
        return df.withColumn(
            f"_{tag}_start_bin", F.floor(e_lo / bin_seconds)
        ).withColumn(
            "_bin",
            F.explode(
                F.sequence(F.floor(e_lo / bin_seconds), F.floor(e_hi / bin_seconds))
            ),
        )

    lb = binned(left, left_lo, left_hi, "l")
    rb = binned(right, right_lo, right_hi, "r")
    joined = lb.join(rb, on="_bin").filter(
        (F.col("_bin") == F.greatest("_l_start_bin", "_r_start_bin"))
        & (F.col(left_lo) < F.col(right_hi))
        & (F.col(right_lo) < F.col(left_hi))
    )
    return joined.drop("_bin", "_l_start_bin", "_r_start_bin")


def gapfill_locf(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    step: str = "1 hour",
) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward — the
    hypertable `time_bucket_gapfill + locf` operation.

    Pipeline (all declarative, one keyed shuffle for the window):
    1. bucket observations per (time bucket, key) — values fold as
       integer cents (order-independent, cross-engine exact);
    2. build the dense bucket×key grid from the GLOBAL time bounds (a
       1-row aggregate broadcast-crossed onto the distinct keys — the
       scalar-join shape, no driver collect);
    3. left-join observations onto the grid;
    4. carry the last non-null value forward per key (`last(v, true)`
       window); buckets before a key's first observation stay NULL.

    Scale: grid cardinality = keys × buckets (bounded, data-independent);
    the LOCF window partitions by key so state never crosses executors.
    """
    bucket = f"date_trunc('hour', {ts_col})" if step == "1 hour" else None
    assert bucket is not None, "only 1-hour steps wired so far"
    obs = df.selectExpr(
        f"{bucket} AS bucket", f"{key_col} AS k",
        f"cast(round({value_col} * 100) as bigint) AS cents",
    ).groupBy("bucket", "k").agg(
        F.expr("cast(sum(cents) as double) / 100.0 AS v")
    )
    bounds = df.selectExpr(
        f"min({bucket}) AS lo", f"max({bucket}) AS hi"
    )
    keys = df.selectExpr(f"{key_col} AS k").distinct()
    grid = keys.crossJoin(F.broadcast(bounds)).selectExpr(
        "k", "explode(sequence(lo, hi, interval 1 hour)) AS bucket"
    )
    joined = grid.join(obs, ["bucket", "k"], "left")
    over = (
        "OVER (PARTITION BY k ORDER BY bucket ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return joined.selectExpr(
        "bucket",
        "k",
        f"last(v, true) {over} AS v_filled",
        "cast(v IS NULL as int) AS is_gap",
    )


def latest_by_key(
    df: "DataFrame",
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str],
) -> "DataFrame":
    """CDC "latest record wins" compaction: reduce a changelog to the
    current state per key — the core of a MERGE/upsert materialization
    (the batch analog of a streaming keyed-state snapshot).

    Shape: ONE hash aggregation with ``max_by(payload_struct,
    order_struct)`` — Spark structs compare lexicographically, so
    ``order_cols`` acts as a composite version (e.g. (ts, seq) with seq
    breaking same-timestamp ties).  max_by partial-aggregates map-side
    (each task keeps one candidate row per key before the shuffle), so at
    100 TB this moves ~|keys| rows per task instead of sorting the whole
    changelog the way the equivalent row_number()-over-window does.
    """
    payload = ", ".join(payload_cols)
    version = ", ".join(order_cols)
    agg = df.groupBy(*key_cols).agg(
        F.expr(f"max_by(struct({payload}), struct({version})) AS _latest")
    )
    return agg.select(*key_cols, "_latest.*")


def scd2_intervals(
    df: "DataFrame",
    key_cols: list[str],
    ts_col: str,
    order_cols: list[str],
    payload_cols: list[str],
) -> "DataFrame":
    """Type-2 slowly-changing-dimension history from a changelog: each
    change row becomes a validity interval [valid_from, valid_to) with
    ``valid_to`` = the key's next change (NULL while current), plus an
    ``is_current`` flag.

    Shape: one keyed window (shuffle on key, sort by version within) —
    lead() for the closing edge.  Per-key history is assumed to fit a
    task's sort spill budget (true for any realistic entity changelog;
    a key with 10^9 versions is a data bug, not a plan input).
    """
    over = (
        f"OVER (PARTITION BY {', '.join(key_cols)} "
        f"ORDER BY {', '.join(order_cols)} ASC)"
    )
    return df.selectExpr(
        *key_cols,
        *payload_cols,
        f"{ts_col} AS valid_from",
        f"lead({ts_col}) {over} AS valid_to",
        f"cast(lead({ts_col}) {over} IS NULL AS int) AS is_current",
    )


def ewma_by_key(
    df: "DataFrame",
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.25,
) -> "DataFrame":
    """Exponentially-weighted moving average per key:
    ``y_0 = x_0;  y_i = alpha*x_i + (1-alpha)*y_{i-1}`` over the key's
    rows ordered by ``order_cols`` — the standard streaming smoother /
    online feature.

    The recursion is inherently sequential per key, which no windowed SQL
    rewrite expresses stably (the closed form needs (1-alpha)^-j terms
    that overflow after a few hundred rows), so this is the applyInPandas
    case: ONE shuffle on the key, then an in-memory pass per group.  Keys
    are assumed task-sized (same contract as every keyed window); at
    100 TB the shuffle is the only distributed cost and state is one
    float per in-flight group.

    Numerics: pick ``alpha`` with an exactly-representable complement
    (0.25 → 0.75) and both engines' left-fold recursions are bit-identical
    — the DuckDB oracle replays the recursion with a recursive CTE.
    """
    import pandas as pd

    roles = [*key_cols, *order_cols, value_col]
    if len(set(roles)) != len(roles):
        # a column in two roles double-selects inside the pandas fn and
        # pdf[value_col] comes back 2-D — fail at the API with the cause
        # instead of an AttributeError deep in a worker
        raise ValueError(
            f"key_cols/order_cols/value_col must be disjoint, got {roles}"
        )

    out_cols = [*key_cols, *order_cols, value_col, "ewma"]
    fields = df.select(*key_cols, *order_cols, value_col).schema.fields
    schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    ) + ", ewma double"

    # Partition-wise smoothing (r15, guide §4): the former
    # groupBy.applyInPandas invoked the pandas fn ONCE PER KEY — at sf0.1
    # that is 1500 python calls of ~1.8 ms each (sort_values + copy + ewm
    # per tiny group), 2.7 of the query's 2.87 s; the shuffle+sort twin
    # alone runs in 0.19 s.  Now ONE key-hashed repartition +
    # sortWithinPartitions makes every key's rows contiguous and ordered,
    # and a mapInPandas stage smooths ALL keys in a batch with ONE
    # vectorized groupby.ewm call (C loop), carrying (key, last_ewma)
    # across Arrow batch boundaries so a key spanning batches continues
    # its recursion exactly (the recursion only needs y_{t-1}; a carry
    # row with value=y_prev re-seeds ewm(adjust=False) bit-identically,
    # and a NaN carry re-poisons via the cummax mask).  Order columns
    # sort nulls LAST to replay pandas sort_values' NaN placement.
    #
    # pandas ewm(adjust=False) runs the identical left fold in C:
    # y_0 = x_0, y_t = alpha*x_t + (1-alpha)*y_{t-1}.  beta is exactly
    # 1.0 - alpha and IEEE a*x + b*y is order-insensitive for the
    # commuted addition, so on non-null runs this is bit-identical to
    # the per-row Python loop it replaced (r13; hash-parity re-proven
    # against the recursive-CTE oracle).  NULL semantics differ: ewm
    # SKIPS NaN and resumes smoothing, the left fold POISONS every
    # subsequent value (alpha*NaN + beta*prev = NaN) — the per-group
    # cummax mask restores the fold's behavior so a null mid-series
    # cannot silently smooth over the gap (code-review r13).
    n_keys = len(key_cols)

    def smooth_partition(batches):
        carry_key: tuple | None = None
        carry_val = float("nan")
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf[[*key_cols, *order_cols, value_col]]
            first_key = tuple(pdf.iloc[0, :n_keys])
            prepended = carry_key is not None and len(first_key) == len(
                carry_key
            ) and all(
                (pd.isna(a) and pd.isna(b)) or a == b
                for a, b in zip(first_key, carry_key)
            )
            if prepended:
                seed = pdf.iloc[[0]].copy()
                seed[value_col] = carry_val
                pdf = pd.concat([seed, pdf], ignore_index=True)
            else:
                pdf = pdf.reset_index(drop=True)
            vals = pdf[value_col].astype("float64")
            keys = [pdf[k] for k in key_cols]
            ewma = (
                vals.groupby(keys, sort=False, dropna=False)
                .ewm(alpha=alpha, adjust=False)
                .mean()
                .reset_index(level=list(range(n_keys)), drop=True)
                .sort_index()
            )
            # per-group poison mask, cythonized (no per-group lambdas):
            # cummax over the 0/1 null indicator within each group
            poison = (
                vals.isna()
                .astype("int8")
                .groupby(keys, sort=False, dropna=False)
                .cummax()
                .astype(bool)
            )
            out = pdf.copy()
            out["ewma"] = ewma.mask(poison)
            carry_key = tuple(pdf.iloc[-1, :n_keys])
            carry_val = out["ewma"].iloc[-1]
            yield out.iloc[1:] if prepended else out

    return (
        df.select(*dict.fromkeys(out_cols[:-1]))
        .repartition(*key_cols)
        .sortWithinPartitions(
            *key_cols, *[F.asc_nulls_last(c) for c in order_cols]
        )
        .mapInPandas(smooth_partition, schema_str)
    )
