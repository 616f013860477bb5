"""Layout advisor: workload plans in, ranked optimize_layout calls out.

The advisor mechanizes the optimize_layout docstring's decision table from
the same physical-plan facts the plan proofs pin — Exchange
hashpartitioning keys (bucket signal) and PushedFilters (partition /
sort / Z-order signals)."""

import os

from pyspark.sql import functions as F

from steampipe_sqlite_spark.advisor import advise_layout
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _rec_for(recs, table):
    matches = [r for r in recs if r["table"] == table]
    return matches[0] if matches else None


def test_shuffle_keys_survive_nested_parens():
    """hashpartitioning args are extracted with a balanced-paren walk: a
    nested expression key must not truncate the list at its inner ')'
    (code-review r12 — a [^)]* regex dropped every column after it)."""
    from steampipe_sqlite_spark.advisor import _shuffle_keys

    plan = (
        "+- Exchange hashpartitioning(coalesce(a#1, b#2), c#3, 200), "
        "ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "+- Exchange hashpartitioning(d#4L, 32), REPARTITION_BY_COL\n"
    )
    assert _shuffle_keys(plan) == [("a", "b", "c"), ("d",)]


def test_window_group_limit_is_not_a_global_window_hazard():
    """_plan_scale_hazards must fire on the actual Window operator only:
    a WindowGroupLimit (the rank<=k prune Spark inserts ABOVE the
    window) sitting within 3 lines of an Exchange SinglePartition is
    not the all-rows-to-one-task shape and must not be flagged
    (ADVICE r12)."""
    from steampipe_sqlite_spark.advisor import _plan_scale_hazards

    prune_only = (
        "+- WindowGroupLimit [rank#9], 10\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
        "      +- Sort [k#1 ASC NULLS FIRST], false, 0\n"
    )
    assert _plan_scale_hazards(prune_only) == set()

    # the REALISTIC full group-limit plan Spark emits for rank()<=k over
    # an empty partition: Window / WindowGroupLimit Final / Sort /
    # Exchange SinglePartition / WindowGroupLimit Partial — the exchange
    # input is pruned to k rows per partition by the partial, so the
    # Window-above must not be flagged either (code-review r13)
    full_prune = (
        "+- Window [rank(v#2) windowspecdefinition(v#2 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS rnk#7], [v#2 ASC NULLS FIRST]\n"
        "   +- WindowGroupLimit [v#2 ASC NULLS FIRST], rank(v#2), 10, Final\n"
        "      +- Sort [v#2 ASC NULLS FIRST], false, 0\n"
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=5]\n"
        "            +- WindowGroupLimit [v#2 ASC NULLS FIRST], rank(v#2), 10, Partial\n"
    )
    assert _plan_scale_hazards(full_prune) == set()

    real_global = (
        "+- Window [row_number() windowspecdefinition(k#1 ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) "
        "AS rn#7], [k#1 ASC NULLS FIRST]\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=3]\n"
    )
    assert _plan_scale_hazards(real_global) == {"single_partition_window"}


class TestAdvisor:
    def test_repeated_shuffle_key_recommends_bucket(self, spark):
        """q3+q18 both hash-partition on l_orderkey (join at scale, the
        groupBy at broadcast scale) — the advisor must surface lineitem
        bucket_by l_orderkey with both queries as evidence."""
        from steampipe_sqlite_spark.plans.registry import collect

        q, _ = collect()
        recs = advise_layout(
            spark, SF_DIR, {"tpch_q3": q["tpch_q3"], "tpch_q18": q["tpch_q18"]}
        )
        rec = _rec_for(recs, "lineitem")
        assert rec is not None
        assert rec["axis"] == "bucket_by"
        assert rec["columns"] == ["l_orderkey"]
        assert rec["evidence"]["queries"] == ["tpch_q18", "tpch_q3"]
        assert "bucket_by='l_orderkey'" in rec["suggested_call"]

    def test_observed_walls_reprice_the_cross_table_rank(self, spark):
        """With ``observed_s`` the benefit side is priced in measured
        seconds, not bare query count (r14 payback probe): a 3-query
        floor-bound equality trio (0.15 s walls) must rank BELOW a
        2-query multi-second bucket pair — while the default count rank
        (no walls) keeps the trio first, pinning that the parameter, not
        a weight change, flips the order."""
        from steampipe_sqlite_spark.plans.registry import collect

        q, _ = collect()
        od = load_table(spark, SF_DIR, "orders")
        workload = {
            "tpch_q3": q["tpch_q3"],
            "tpch_q18": q["tpch_q18"],
            "p1": od.filter("o_orderpriority = '1-URGENT'").groupBy().count(),
            "p2": od.filter("o_orderpriority = '2-HIGH'").agg(F.count("*")),
            "p3": od.filter("o_orderpriority = '5-LOW'").groupBy().count(),
        }
        by_count = [
            (r["table"], r["axis"]) for r in advise_layout(spark, SF_DIR, workload)
        ]
        walls = {"tpch_q3": 3.0, "tpch_q18": 3.7, "p1": 0.15, "p2": 0.15, "p3": 0.15}
        by_secs = [
            (r["table"], r["axis"])
            for r in advise_layout(spark, SF_DIR, workload, observed_s=walls)
        ]
        assert by_count.index(("orders", "partition_by")) < by_count.index(
            ("lineitem", "bucket_by")
        ), "count rank should keep the 3-query trio first"
        assert by_secs.index(("lineitem", "bucket_by")) < by_secs.index(
            ("orders", "partition_by")
        ), "seconds rank must put the heavy bucket pair first"

    def test_low_cardinality_equality_recommends_partition(self, spark):
        """Repeated pushed equality on event_type (5 distinct values) —
        partition_by, the directory-pruning axis."""
        ev = load_table(spark, SF_DIR, "events")
        workload = {
            "clicks": ev.filter(F.col("event_type") == "click").groupBy().count(),
            "views": ev.filter(F.col("event_type") == "view").agg(
                F.sum("value")
            ),
        }
        recs = advise_layout(spark, SF_DIR, workload)
        rec = _rec_for(recs, "events")
        assert rec is not None
        assert rec["axis"] == "partition_by"
        assert rec["columns"] == ["event_type"]
        assert rec["evidence"]["count"] == 2

    def test_range_filter_mix_recommends_zorder(self, spark):
        """Repeated range filters on BOTH ts and value — the multi-column
        footer-stats case: order_by over the mix (Z-order)."""
        ev = load_table(spark, SF_DIR, "events")
        workload = {
            "w1": ev.filter("value > 50 AND ts >= timestamp'2024-01-02'").groupBy().count(),
            "w2": ev.filter("value < 10 AND ts < timestamp'2024-01-05'").agg(
                F.count("*")
            ),
        }
        recs = advise_layout(spark, SF_DIR, workload)
        rec = _rec_for(recs, "events")
        assert rec is not None
        assert rec["axis"] == "order_by"
        assert sorted(rec["columns"]) == ["ts", "value"]

    def test_high_cardinality_equality_falls_to_order_by(self, spark):
        """estimate_ndv=False assumes high cardinality: an equality-only
        filter column must NOT get partition_by (directory explosion) —
        it falls to the sorted layout."""
        ev = load_table(spark, SF_DIR, "events")
        workload = {
            "u1": ev.filter(F.col("user_id") == 7).groupBy().count(),
            "u2": ev.filter(F.col("user_id") == 9).agg(F.sum("value")),
        }
        recs = advise_layout(spark, SF_DIR, workload, estimate_ndv=False)
        rec = _rec_for(recs, "events")
        assert rec is not None
        assert rec["axis"] == "order_by"
        assert rec["columns"] == ["user_id"]

    def test_runner_up_axis_surfaces_as_alternative(self, spark):
        """A table that is BOTH joined-on and range-filtered keeps the
        runner-up axis visible: q1/q3/q6 push l_shipdate ranges (count 3)
        while q3/q18 shuffle on l_orderkey (count 2) — the sort wins the
        top slot on evidence, the bucket stays as an alternative instead
        of being silently dropped."""
        from steampipe_sqlite_spark.plans.registry import collect

        q, _ = collect()
        workload = {n: q[n] for n in ("tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18")}
        rec = _rec_for(advise_layout(spark, SF_DIR, workload), "lineitem")
        assert rec is not None
        assert rec["axis"] == "order_by"
        assert rec["columns"] == ["l_shipdate"]
        assert rec["evidence"]["count"] == 3
        alts = {(a["axis"], tuple(a["columns"])) for a in rec["alternatives"]}
        assert ("bucket_by", ("l_orderkey",)) in alts

    def test_ingest_cost_flips_zorder_count_win_to_bucket(self, spark):
        """Benefit/cost ranking (VERDICT r12 #4): a 3-query Z-order
        signal must NOT outrank a 2-query bucket signal on the same
        table: the Z-order ingest premium is ~5x the bucket's (2.15 vs
        0.45 s/M, zorder_skip_probe vs bucketed_layout_probe), so the
        bucket pays back faster despite less evidence (payback rank
        2 x 1.0/0.45 = 4.4 vs 3 x 2.8/2.15 = 3.9).  Pre-r13 count-first
        ranking chose order_by here (3 > 2) — this pins the flip.

        Uses a SHORT tempdir (long paths elide in plan toString; the
        ReadSchema/inputFiles fallback covers them, pinned separately by
        test_long_sf_dir_path_still_attributes_scans)."""
        import shutil
        import tempfile

        sf = tempfile.mkdtemp(prefix="adv")
        n = 200_000
        spark.range(n).selectExpr(
            "id AS event_id",
            "id % 5000 AS user_id",
            "CAST(id % 1000 AS DOUBLE) AS value",
            "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0, id % 86400) AS ts",
            "CASE WHEN id % 2 = 0 THEN 'click' ELSE 'view' END AS event_type",
        ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
        ev = load_table(spark, sf, "events")
        workload = {
            # 2 queries shuffling on user_id -> bucket evidence
            "j1": ev.groupBy("user_id").agg(F.sum("value")),
            "j2": ev.groupBy("user_id").agg(F.count("*")),
            # 3 queries range-filtering the (value, ts) mix -> Z-order
            "w1": ev.filter("value > 900 AND ts >= timestamp'2024-01-01 12:00:00'")
            .groupBy().count(),
            "w2": ev.filter("value < 50 AND ts < timestamp'2024-01-01 06:00:00'")
            .agg(F.count("*")),
            "w3": ev.filter("value > 990 AND ts >= timestamp'2024-01-01 20:00:00'")
            .agg(F.sum("value")),
        }
        rec = _rec_for(advise_layout(spark, sf, workload), "events")
        assert rec is not None
        assert rec["axis"] == "bucket_by", (
            f"payback rank must pick the cheap bucket over the 3-query "
            f"Z-order, got {rec['axis']} {rec['columns']}"
        )
        assert rec["columns"] == ["user_id"]
        assert rec["evidence"]["count"] == 2
        # the flip is real: the displaced Z-order carried MORE queries
        alt = next(a for a in rec["alternatives"] if a["axis"] == "order_by")
        assert alt["evidence"]["count"] == 3
        assert len(alt["columns"]) > 1  # the priced premium is the mix
        # and both candidates carry their priced ingest estimate
        assert alt["est_ingest_s"] > rec["est_ingest_s"] > 0
        shutil.rmtree(sf, ignore_errors=True)

    def test_long_sf_dir_path_still_attributes_scans(self, spark, tmp_path):
        """Plan toString ELIDES long locations (".../deep/dirs/ev...") —
        before r13 every scan under a deep sf_dir went unattributed and
        the advisor emitted nothing.  The ReadSchema unique-owner
        fallback (filter facts) and the inputFiles fallback (shuffle
        attribution) must both recover; pytest's tmp_path is exactly the
        failing shape."""
        sf = str(tmp_path / "an" / "extra" / "deep" / "dir")
        os.makedirs(sf, exist_ok=True)
        spark.range(10_000).selectExpr(
            "id AS event_id",
            "id % 50 AS user_id",
            "CAST(id % 100 AS DOUBLE) AS value",
            "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0, id) AS ts",
            "'click' AS event_type",
        ).write.mode("overwrite").parquet(f"{sf}/events.parquet")
        ev = load_table(spark, sf, "events")
        workload = {
            "j1": ev.groupBy("user_id").agg(F.sum("value")),
            "j2": ev.groupBy("user_id").agg(F.count("*")),
            "r1": ev.filter("value > 90").groupBy().count(),
            "r2": ev.filter("value < 5").agg(F.count("*")),
        }
        # the plan really does elide this path (precondition of the test)
        from steampipe_sqlite_spark.advisor import _plan_string

        assert "events.parquet" not in _plan_string(workload["j1"])
        recs = advise_layout(spark, sf, workload)
        rec = _rec_for(recs, "events")
        assert rec is not None, "deep-path scans went unattributed"
        axes = {rec["axis"]} | {a["axis"] for a in rec["alternatives"]}
        assert "bucket_by" in axes  # inputFiles fallback (shuffle keys)
        assert "order_by" in axes  # ReadSchema fallback (filter facts)

    def test_single_query_signal_is_not_enough(self, spark):
        """One-shot workloads never pay the ingest rewrite: a signal seen
        in a single query yields no recommendation."""
        ev = load_table(spark, SF_DIR, "events")
        workload = {
            "only": ev.filter(F.col("event_type") == "click").groupBy().count()
        }
        assert advise_layout(spark, SF_DIR, workload) == []

    def test_scale_notes_surface_broadcast_join_keys(self, spark):
        """At sample scale q3/q18's fact joins broadcast — no exchange on
        the join keys, so no recommendation — but those keys become hash
        exchanges at production scale.  with_notes=True must surface them
        as broadcast_join_key notes on the tables that own them, and must
        NOT note keys that already carry exchange evidence."""
        from steampipe_sqlite_spark.plans.registry import collect

        q, _ = collect()
        recs, notes = advise_layout(
            spark, SF_DIR,
            {"tpch_q3": q["tpch_q3"], "tpch_q18": q["tpch_q18"]},
            with_notes=True,
        )
        noted = {(n["table"], n["column"]) for n in notes}
        assert ("orders", "o_custkey") in noted
        assert ("customer", "c_custkey") in noted
        # l_orderkey already has exchange evidence (bucket rec) — no note
        assert ("lineitem", "l_orderkey") not in noted
        assert all(n["kind"] == "broadcast_join_key" for n in notes)
        assert _rec_for(recs, "lineitem")["axis"] == "bucket_by"

    def test_scale_hazard_notes_flag_global_window_and_cartesian(self, spark):
        """Plan-level lints: an empty-OVER window (Exchange SinglePartition
        into Window) and an unconditioned join are scale killers the
        layout axes can't fix — with_notes=True must flag both by query,
        and a healthy workload must produce neither."""
        from pyspark.sql import Window
        from steampipe_sqlite_spark.plans.registry import collect

        ev = load_table(spark, SF_DIR, "events")
        docs = load_table(spark, SF_DIR, "documents")
        bad = {
            "global_rn": ev.withColumn(
                "rn", F.row_number().over(Window.orderBy("event_id"))
            ),
            # shuffle_replicate_nl forces the true CartesianProduct node
            # (an unhinted tiny cross join broadcasts instead — bounded by
            # the broadcast threshold, deliberately NOT flagged: the
            # corpus' 1-row scalar crossJoins are that shape)
            "cross": ev.hint("shuffle_replicate_nl").crossJoin(docs.limit(5)),
        }
        _, notes = advise_layout(spark, SF_DIR, bad, with_notes=True)
        kinds = {n["kind"]: n["queries"] for n in notes}
        assert kinds.get("single_partition_window") == ["global_rn"]
        assert kinds.get("cartesian_product") == ["cross"]

        q, _ = collect()
        _, clean_notes = advise_layout(
            spark, SF_DIR,
            {"tpch_q3": q["tpch_q3"], "win_global_rownum_scale": q["win_global_rownum_scale"]},
            with_notes=True,
        )
        hazards = {n["kind"] for n in clean_notes} & {
            "single_partition_window", "cartesian_product"
        }
        assert not hazards, (
            f"corpus queries (incl. the distributed_row_number-based "
            f"global rank) must lint clean, got {hazards}"
        )

    def test_suggested_call_round_trips_through_deploy(self, spark, tmp_path, monkeypatch):
        """The emitted suggested_call must be a valid optimize_layout
        invocation: deploy the partition recommendation and verify the
        registered read actually prunes."""
        import steampipe_sqlite_spark.tables as T

        monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "layout"))
        ev = load_table(spark, SF_DIR, "events")
        workload = {
            "clicks": ev.filter(F.col("event_type") == "click").groupBy().count(),
            "views": ev.filter(F.col("event_type") == "view").groupBy().count(),
        }
        rec = _rec_for(advise_layout(spark, SF_DIR, workload), "events")
        T.optimize_layout(spark, SF_DIR, rec["table"], partition_by=rec["columns"][0])
        try:
            T._invalidate_session_table(spark, SF_DIR, "events")
            df = T.load_table(spark, SF_DIR, "events").filter(
                F.col("event_type") == "click"
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "PartitionFilters" in plan and "event_type" in plan.split(
                "PartitionFilters"
            )[1][:200]
        finally:
            T.drop_layout(spark, SF_DIR, "events")
