"""Scale toolkit: the partitioning techniques that keep joins and
orderings healthy at 100 TB — targeted skew salting, distributed global
ranks and running sums, and Python-stage right-sizing.

None of these change results; they change plan shape.  Plan-level proofs
live in tests/test_scale_toolkit.py.

Lifetime: a DataFrame's intermediates live exactly as long as the
DataFrame does.  The offset-baking helpers (:func:`distributed_row_number`,
:func:`distributed_running_sum`) compute per-partition offsets from a
``repartitionByRange`` copy whose boundaries come from sampling, so the
copy is an eager ``localCheckpoint``: its blocks are freed with the
DataFrame that references them and are immune to
``spark.catalog.clearCache()``, so a recompute can never re-sample the
boundaries under the baked offsets.  The trade-off: a lost checkpoint
block (a dead executor) fails the query loudly instead of recomputing it
under different boundaries.  Reuse persists elsewhere in the package (a
frame read twice within one query) are plain ``.persist()`` and last
until ``clearCache()`` or session stop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join_hot_keys(
    left: DataFrame,
    right: DataFrame,
    key: str,
    hot_keys: list,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with TARGETED salting: only rows whose key is in the
    known-hot set get a salt in [0, n_salts); everything else keeps salt
    0, and the right side is replicated ONLY for the hot keys (one row
    stays one row for the long tail).  The shuffle key is (key, salt), so
    each hot key's rows land on ``n_salts`` reducers while the tail pays
    nothing — unlike a blanket salt, whose ×n_salts right-side explode
    costs n_salts× build even when 99.9% of keys are cold (refuted in
    DEADENDS.md, "Blanket-salted skew join").

    This is the production pattern when the hot set is known ahead of the
    join (a heavy-hitter sketch over yesterday's partition, a static
    "null/default key" list).  When the hot set is NOT known, prefer AQE's
    runtime skew split (on in session.py) for sort-merge joins; this
    operator also covers shuffle-hash joins, which AQE's splitter does not.

    ``how`` supports ``inner`` (default), ``left`` (ADVICE r10) and
    ``right`` (VERDICT r11 #6): salting preserves outer semantics because
    the PRESERVED side's rows each carry exactly one salt and the other
    side is replicated across ALL salts for hot keys (salt 0 for cold),
    so an unmatched preserved row is unmatched at every salt and surfaces
    once with nulls.  ``right`` is the mirrored construction — salt the
    right, replicate the left.  ``full`` is impossible under salting
    (BOTH sides would have to be single-salt, leaving hot keys unsplit);
    use AQE's runtime skew join for full outer.  Measured by
    tools/skew_join_probe.py.
    """
    if how not in ("inner", "left", "right"):
        raise ValueError(
            f"salted_join_hot_keys supports how='inner'|'left'|'right', got {how!r}"
        )
    if not hot_keys:
        # no declared hot set — the salt would be constant 0 everywhere,
        # a plain join with bookkeeping overhead; do the plain join
        return left.join(right, [key], how)
    hot = F.col(key).isin(*[F.lit(k) for k in hot_keys])

    def one_salt(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_salt",
            F.when(
                hot, F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
            ).otherwise(F.lit(0)).cast("int"),
        )

    def all_salts(df: DataFrame) -> DataFrame:
        # sequence/array of int literals already yields int elements,
        # matching the other side's cast — no cast around the generator
        # (Catalyst rejects expressions nested over explode()).
        return df.withColumn(
            "_salt",
            F.when(hot, F.sequence(F.lit(0), F.lit(n_salts - 1))).otherwise(
                F.array(F.lit(0))
            ),
        ).withColumn("_salt", F.explode("_salt"))

    if how == "right":
        l_salted, r_salted = all_salts(left), one_salt(right)
    else:
        l_salted, r_salted = one_salt(left), all_salts(right)
    return l_salted.join(r_salted, [key, "_salt"], how).drop("_salt")


# Above this many range partitions, per-partition offsets attach via a
# broadcast equi-join on ``_pid`` instead of a ``create_map`` literal: the
# literal costs O(num_partitions) Catalyst expression nodes PER REFERENCE
# (analysis time + codegen size), which is fine to ~10⁴ partitions but not
# at 100 TB with default 128 MB splits (~10⁶ partitions).  The broadcast
# side is one (int, long) row per partition — metadata-sized at any SF —
# and a broadcast hash join adds no shuffle, so the plan shape is
# unchanged.  Module-level so tests can monkeypatch it to 0 and prove the
# two paths produce identical output.
_OFFSETS_BROADCAST_THRESHOLD = 10_000


def _check_prefix_sum_reserved(df: DataFrame, name: str) -> None:
    """The two-phase prefix-sum helpers stage ``_pid`` and ``_off`` working
    columns and emit ``name``: an input already carrying one of those
    would be silently overwritten then dropped (or made ambiguous on the
    broadcast-join path) — corrupting data is worse than demanding a
    rename."""
    clash = sorted({"_pid", "_off", name} & set(df.columns))
    if clash:
        raise ValueError(
            f"distributed prefix-sum: input columns {clash} collide with "
            "the reserved working/output names (_pid/_off/rank name) — "
            "rename them first"
        )


def _with_partition_offsets(ranged: DataFrame, offsets: dict) -> DataFrame:
    """Attach each row's partition prefix offset as column ``_off``.

    ``ranged`` must carry ``_pid`` (spark_partition_id at checkpoint time);
    ``offsets`` maps pid -> exclusive prefix total.  Small maps inline as
    a ``create_map`` literal (zero extra plan nodes beyond the map);
    large maps broadcast-join so plan size stays O(1) in partition count
    (see ``_OFFSETS_BROADCAST_THRESHOLD``)."""
    if len(offsets) <= _OFFSETS_BROADCAST_THRESHOLD:
        expr = F.create_map(
            *[F.lit(x) for pair in offsets.items() for x in pair]
        )[F.col("_pid")]
        return ranged.withColumn("_off", expr)
    off_df = ranged.sparkSession.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()],
        schema="_pid int, _off long",
    )
    # inner join is total: every ranged row's _pid has exactly one offsets
    # row by construction (offsets came from grouping ranged by _pid)
    return ranged.join(F.broadcast(off_df), "_pid")


def _prefix_over_range(
    df: DataFrame,
    order_cols: list,
    name: str,
    num_partitions: int | None,
    part_total,
    local,
) -> tuple[DataFrame, int]:
    """The two-phase composition both offset-baking helpers share.

    Range-shuffle ``df`` on ``order_cols`` into an eager checkpoint tagged
    with ``_pid``, collect ``part_total`` per partition (one long each),
    prefix-sum those on the driver into offsets, and emit ``name`` as
    ``local(w)`` (``w`` = the partition-local order window) plus its
    partition's offset.  Returns the frame and the grand total."""
    from pyspark.sql import Column, Window

    _check_prefix_sum_reserved(df, name)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [c if isinstance(c, Column) else F.col(c) for c in order_cols]
    ranged = (
        df.repartitionByRange(n, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # one long per partition — metadata, not data (same class as a
    # parquet footer read); ordering by _pid preserves the range order
    totals = sorted(
        (r["_pid"], r["tot"])
        for r in ranged.groupBy("_pid").agg(part_total.alias("tot")).collect()
    )
    offsets, acc = {}, 0
    for pid, tot in totals:
        offsets[pid] = acc
        acc += tot or 0
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = (
        _with_partition_offsets(ranged, offsets)
        .withColumn(name, (local(w) + F.col("_off")).cast("long"))
        .drop("_pid", "_off")
    )
    return out, acc


def distributed_row_number(
    df: DataFrame,
    order_cols: list,
    name: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ROW_NUMBER without the single-partition WindowExec.

    An empty-OVER window (``ROW_NUMBER() OVER (ORDER BY ...)``) forces
    Spark to move EVERY row to one partition — correct, and fatal at
    100 TB (one task sorts the world; Spark itself warns
    "No Partition Defined for Window operation").  This is the published
    two-phase composition instead:

    1. ``repartitionByRange`` on the order keys — a range shuffle that
       keeps global order across partitions (equal keys co-locate);
    2. per-partition local row_number (window PARTITIONED by
       ``spark_partition_id()`` — parallel, no global exchange);
    3. per-partition counts (a metadata-sized action: one long per
       partition) prefix-summed on the driver and added as offsets.

    Results equal the window form whenever ``order_cols`` is a total
    order (the corpus determinism convention).  Cost: one range shuffle +
    one count job over the checkpointed ranged data vs one all-to-one
    shuffle — the difference between "works at any SF" and "driver OOM".

    Offsets attach via :func:`_with_partition_offsets`: a ``create_map``
    literal up to ``_OFFSETS_BROADCAST_THRESHOLD`` partitions, a broadcast
    equi-join on ``_pid`` beyond it — so there is no literal-size bound at
    100 TB partition counts.
    """
    out, rows = _prefix_over_range(
        df, order_cols, name, num_partitions, F.count(F.lit(1)),
        lambda w: F.row_number().over(w),
    )
    # total row count — already computed for the offsets; callers needing
    # COUNT(*) OVER () alongside the rank read this instead of re-scanning
    out._sgs_total_rows = rows
    return out


def distributed_running_sum(
    df: DataFrame,
    value_col: str,
    order_cols: list,
    name: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running SUM(value_col) over a total order without the
    single-partition WindowExec — the prefix-sum sibling of
    :func:`distributed_row_number` (same two-phase composition): range
    shuffle on the order keys, local cumsum windowed by
    ``spark_partition_id()``, per-partition TOTALS (one long per
    partition) prefix-summed on the driver and added as offsets.

    Results equal ``SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    whenever ``order_cols`` is a total order.  The building block for
    anything needing global cumulative position at 100 TB: systematic
    weighted sampling, quantile-by-position splits, contiguous shard
    assignment by byte budget."""
    from pyspark.sql import Window

    v = F.col(value_col)
    out, total = _prefix_over_range(
        df, order_cols, name, num_partitions, F.sum(v).cast("long"),
        lambda w: F.sum(v).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out._sgs_total = total  # grand total of value_col, free from the offsets
    return out


def coalesce_for_python(df: DataFrame, bytes_per_task: int = 64 << 20) -> DataFrame:
    """Right-size a DataFrame's partitioning for an Arrow/Python stage.

    A Python stage (mapInPandas / pandas_udf) pays a fixed per-task cost —
    worker handshake, Arrow stream setup, and (cold) interpreter imports —
    that JVM stages don't.  Measured here: decoding 5 000 binary payloads
    took 0.31 s in 1 task but 1.0 s spread over 32 tasks of ~150 rows each.
    The scale-correct sizing is BYTES PER TASK, not core count: aim for
    ``bytes_per_task`` of input per Python task so the fixed cost amortizes.
    At 100 TB this yields thousands of tasks (full parallelism); at
    test scale it collapses a 32-way scan to the handful of tasks the work
    actually needs.  ``coalesce`` merges scan splits without a shuffle.
    """
    try:
        files = df.inputFiles()
        import os

        total = sum(os.path.getsize(f.removeprefix("file:")) for f in files)
    except Exception:  # noqa: BLE001 — non-file sources keep their layout
        return df
    if not total:
        return df
    k = max(1, total // bytes_per_task)
    # coalesce never increases partition count, so this is a no-op when the
    # scan already has <= k splits
    return df.coalesce(int(k))
