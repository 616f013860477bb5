"""Scale-toolkit proofs: targeted salting preserves results, AQE splits a
skewed join, distributed ranks and running sums match the window form
without a single-partition stage."""

import pytest
from pyspark.sql import functions as F

from steampipe_sqlite_spark.operators.scale import salted_join_hot_keys
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _shuffled_counts(spark):
    """~20k rows of a hash-aggregated (shuffled) input for the held-frame
    tests: many rank ties on ``count``, broken by ``k``."""
    return spark.range(400_000).selectExpr("id % 20011 AS k", "id").groupBy("k").count()


def test_salted_hot_keys_join_matches_plain(spark):
    """Targeted salting must be value-exact, not just count-exact: hot
    rows fan over n_salts, cold rows keep salt 0, and every (key, payload)
    pairing survives — compare full aggregate fingerprints per key."""
    lineitem = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    right = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    hot = [r.l_orderkey for r in lineitem.groupBy("l_orderkey").count()
           .orderBy(F.desc("count")).limit(3).collect()]

    def fingerprint(df):
        return {
            (r.l_orderkey, r.n, r.q, r.p)
            for r in df.groupBy("l_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity") * 100).cast("long").alias("q"),
                F.sum(F.length("o_orderpriority")).alias("p"),
            )
            .collect()
        }

    plain = lineitem.join(right, "l_orderkey")
    salted = salted_join_hot_keys(lineitem, right, "l_orderkey", hot, n_salts=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert fingerprint(salted) == fingerprint(plain)


def test_salted_hot_keys_left_join_matches_plain(spark):
    """how='left' (ADVICE r10): an unmatched left row carries exactly one
    salt and the right side is replicated across all salts for hot keys,
    so it surfaces once with nulls — both through the salted path and
    the empty-hot-set plain-join fallback."""
    lineitem = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    # drop half the orders so some left rows are unmatched
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    right = orders.withColumnRenamed("o_orderkey", "l_orderkey").filter(
        F.col("l_orderkey") % 2 == 0
    )
    hot = [r.l_orderkey for r in lineitem.groupBy("l_orderkey").count()
           .orderBy(F.desc("count")).limit(3).collect()]

    def fingerprint(df):
        return {
            (r.l_orderkey, r.n, r.matched)
            for r in df.groupBy("l_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("o_orderpriority").alias("matched"),
            )
            .collect()
        }

    plain = lineitem.join(right, "l_orderkey", "left")
    salted = salted_join_hot_keys(
        lineitem, right, "l_orderkey", hot, n_salts=8, how="left"
    )
    assert fingerprint(salted) == fingerprint(plain)
    fallback = salted_join_hot_keys(lineitem, right, "l_orderkey", [], how="left")
    assert fingerprint(fallback) == fingerprint(plain)
    with pytest.raises(ValueError):
        salted_join_hot_keys(lineitem, right, "l_orderkey", hot, how="full")


def test_salted_hot_keys_right_join_matches_plain(spark):
    """how='right' (VERDICT r11 #6): the mirrored construction — right
    rows carry exactly one salt and the LEFT side is replicated across
    all salts for hot keys — so an unmatched right row surfaces once with
    nulls and matched multiplicities are exact.  The skewed fact table
    sits on the preserved (right) side here."""
    lineitem = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    left = orders.withColumnRenamed("o_orderkey", "l_orderkey").filter(
        F.col("l_orderkey") % 2 == 0
    )
    hot = [r.l_orderkey for r in lineitem.groupBy("l_orderkey").count()
           .orderBy(F.desc("count")).limit(3).collect()]

    def fingerprint(df):
        return {
            (r.l_orderkey, r.n, r.matched)
            for r in df.groupBy("l_orderkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("o_orderpriority").alias("matched"),
            )
            .collect()
        }

    plain = left.join(lineitem, "l_orderkey", "right")
    salted = salted_join_hot_keys(
        left, lineitem, "l_orderkey", hot, n_salts=8, how="right"
    )
    assert fingerprint(salted) == fingerprint(plain)
    fallback = salted_join_hot_keys(left, lineitem, "l_orderkey", [], how="right")
    assert fingerprint(fallback) == fingerprint(plain)


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling (session.py enables it): a hot key whose
    shuffle partition dwarfs the median gets split across reducers —
    the runtime answer to skew that makes hand-salting optional."""
    left = spark.range(500_000).select(
        F.when(F.col("id") < 400_000, F.lit(0)).otherwise(F.col("id") % 64).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(64).select(F.col("id").alias("k"), (F.col("id") * 10).alias("w"))
    conf = spark.conf
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    # session.py auto-disables AQE below 1 GiB of input; this test drives
    # the ≥1 GiB behavior, so force it on (runtime-settable).
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    old_parts = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.shuffle.partitions", "32")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try:
        joined = left.join(right, "k")
        n = sum(1 for _ in joined.toLocalIterator())
        assert n == 500_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, "hot partition not split"
        assert "skewed" in plan, "no skewed AQEShuffleRead"
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_parts)
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


class TestDistributedRowNumber:
    """distributed_row_number: global ROW_NUMBER parity WITHOUT the
    single-partition WindowExec (the empty-OVER form's scale killer)."""

    def test_parity_with_window_form(self, spark):
        from pyspark.sql import functions as F

        from steampipe_sqlite_spark.operators.scale import distributed_row_number

        df = spark.range(0, 5000).selectExpr("id", "(id * 37) % 1000 AS v")
        got = distributed_row_number(
            df, [F.col("v").desc(), F.col("id")], name="rn", num_partitions=8
        )
        expected = df.selectExpr(
            "id", "v", "ROW_NUMBER() OVER (ORDER BY v DESC, id) AS rn"
        )
        assert {(r.id, r.rn) for r in got.collect()} == {
            (r.id, r.rn) for r in expected.collect()
        }

    def test_no_single_partition_sort(self, spark):
        from pyspark.sql import functions as F

        from steampipe_sqlite_spark.operators.scale import distributed_row_number

        df = spark.range(0, 5000).selectExpr("id", "id % 97 AS v")
        got = distributed_row_number(df, [F.col("v"), F.col("id")], num_partitions=8)
        # the work is spread: the pre-offset data really lives in >1
        # partition (the empty-OVER window would collapse to exactly 1) —
        # the baked offsets cover all 8 range partitions of the
        # checkpointed copy
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "keys: [0,1,2,3,4,5,6,7]" in plan
        assert "SinglePartition" not in plan
        # and rn is a correct total sequence
        rns = [r.rn for r in got.orderBy("rn").collect()]
        assert rns == list(range(1, 5001))

    def test_broadcast_offsets_path_identical(self, spark, monkeypatch):
        """Beyond _OFFSETS_BROADCAST_THRESHOLD partitions the offsets
        attach via broadcast equi-join on _pid instead of a create_map
        literal (VERDICT r11 #4 — the literal is O(num_partitions) plan
        nodes, unreachable headroom at 100 TB split counts).  Force the
        broadcast path and prove output identity for both helpers, and
        that the plan carries a broadcast exchange but no map literal."""
        from pyspark.sql import functions as F

        from steampipe_sqlite_spark.operators import scale
        from steampipe_sqlite_spark.operators.scale import (
            distributed_row_number,
            distributed_running_sum,
        )

        df = spark.range(0, 5000).selectExpr(
            "id", "(id * 37) % 1000 AS v", "id % 13 AS w"
        )
        lit_rn = distributed_row_number(
            df, [F.col("v"), F.col("id")], name="rn", num_partitions=8
        )
        lit_cum = distributed_running_sum(
            df, "w", [F.col("v"), F.col("id")], name="cum", num_partitions=8
        )
        lit_rows = {(r.id, r.rn) for r in lit_rn.collect()}
        lit_cums = {(r.id, r.cum) for r in lit_cum.collect()}
        spark.catalog.clearCache()

        monkeypatch.setattr(scale, "_OFFSETS_BROADCAST_THRESHOLD", 0)
        bc_rn = distributed_row_number(
            df, [F.col("v"), F.col("id")], name="rn", num_partitions=8
        )
        bc_cum = distributed_running_sum(
            df, "w", [F.col("v"), F.col("id")], name="cum", num_partitions=8
        )
        plan = bc_rn._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "map_from" not in plan and "keys:" not in plan
        assert {(r.id, r.rn) for r in bc_rn.collect()} == lit_rows
        assert {(r.id, r.cum) for r in bc_cum.collect()} == lit_cums

    def test_reserved_working_names_rejected(self, spark):
        """Inputs already carrying _pid/_off (or the output name) would be
        silently overwritten then dropped by the two-phase composition —
        both helpers must raise instead (code-review r12)."""
        import pytest

        from steampipe_sqlite_spark.operators.scale import (
            distributed_row_number,
            distributed_running_sum,
        )

        df_off = spark.range(10).selectExpr("id", "id * 2 AS _off")
        with pytest.raises(ValueError, match="_off"):
            distributed_row_number(df_off, ["id"], num_partitions=2)
        df_pid = spark.range(10).selectExpr("id", "id AS _pid", "id AS w")
        with pytest.raises(ValueError, match="_pid"):
            distributed_running_sum(df_pid, "w", ["id"], num_partitions=2)
        df_name = spark.range(10).selectExpr("id", "id AS rn")
        with pytest.raises(ValueError, match="rn"):
            distributed_row_number(df_name, ["id"], name="rn", num_partitions=2)

    def test_held_frame_survives_clear_cache(self, spark):
        """A held result read again after ``clearCache()`` must rank
        exactly as before.  Each read is a projection of the held frame,
        so Spark plans it afresh: a persisted range copy dropped by the
        clear would be recomputed with re-sampled boundaries over this
        shuffled input, moving rows across partitions under the offsets
        baked from the first run."""
        from steampipe_sqlite_spark.operators.scale import distributed_row_number

        df = _shuffled_counts(spark)
        n = df.count()
        got = distributed_row_number(
            df, [F.col("count"), F.col("k")], num_partitions=4
        )
        first = sorted(r.rn for r in got.select("rn").collect())
        spark.catalog.clearCache()
        second = sorted(r.rn for r in got.select("rn").collect())
        assert first == list(range(1, n + 1))
        assert second == list(range(1, n + 1))


class TestDistributedRunningSum:
    """distributed_running_sum: global prefix-sum parity WITHOUT the
    single-partition WindowExec (same two-phase shape as row_number)."""

    def test_parity_with_window_form(self, spark):
        from steampipe_sqlite_spark.operators.scale import distributed_running_sum

        df = spark.range(0, 5000).selectExpr("id", "(id * 37) % 100 + 1 AS w")
        got = distributed_running_sum(df, "w", ["id"], name="cum", num_partitions=8)
        expected = df.selectExpr(
            "id",
            "CAST(SUM(w) OVER (ORDER BY id ROWS UNBOUNDED PRECEDING) AS BIGINT)"
            " AS cum",
        )
        assert {(r.id, r.cum) for r in got.collect()} == {
            (r.id, r.cum) for r in expected.collect()
        }

    def test_no_single_partition_window(self, spark):
        from steampipe_sqlite_spark.operators.scale import distributed_running_sum

        df = spark.range(0, 5000).selectExpr("id", "id % 13 + 1 AS w")
        got = distributed_running_sum(df, "w", ["id"], num_partitions=8)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "keys: [0,1,2,3,4,5,6,7]" in plan
        assert "SinglePartition" not in plan

    def test_held_frame_survives_clear_cache(self, spark):
        """Running-sum twin of the row_number held-frame test: the same
        held frame collected before and after ``clearCache()`` must carry
        the exact global prefix sums both times."""
        from steampipe_sqlite_spark.operators.scale import distributed_running_sum

        df = _shuffled_counts(spark)
        acc, expected = 0, {}
        for r in sorted(df.collect(), key=lambda r: (r["count"], r.k)):
            acc += r["count"]
            expected[r.k] = acc
        got = distributed_running_sum(
            df, "count", [F.col("count"), F.col("k")], num_partitions=4
        )
        first = {r.k: r.cum for r in got.select("k", "cum").collect()}
        spark.catalog.clearCache()
        second = {r.k: r.cum for r in got.select("k", "cum").collect()}
        assert first == expected
        assert second == expected


def test_gapfill_locf_semantics(spark):
    """Gap-filled series invariants: dense grid (hours x keys), gaps carry
    the previous observed value, non-gaps equal their own bucket total,
    leading gaps stay NULL."""
    from steampipe_sqlite_spark.operators.temporal import gapfill_locf
    from steampipe_sqlite_spark.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    out = gapfill_locf(events, "ts", "event_type", "value").orderBy("k", "bucket")
    rows = out.collect()
    hours = {r.bucket for r in rows}
    keys = {r.k for r in rows}
    assert len(rows) == len(hours) * len(keys), "grid must be dense"
    prev = {}
    for r in rows:
        if r.is_gap:
            expected = prev.get(r.k)  # None before the first observation
            assert r.v_filled == expected, (r.k, r.bucket, r.v_filled, expected)
        else:
            assert r.v_filled is not None
            prev[r.k] = r.v_filled
