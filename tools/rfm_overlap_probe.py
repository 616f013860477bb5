"""A/B: rfm_segmentation's chained 3-pass rank vs thread-overlapped ranks.

Round-14 left rfm's residual 1.95 s as "chained 3-pass rank latency …
could overlap the three independent rank computations from a thread pool
(guide §2.6) at the cost of join-back shuffles" and deferred it.  This
probe measures that trade honestly:

- CHAINED (shipped): d1 = rank(anchored), d2 = rank(d1), d3 = rank(d2) —
  each pass's repartitionByRange samples THE PREVIOUS PASS'S WINDOW
  OUTPUT (so d2/d3 pay an extra evaluation of the upstream window in
  their sampling job), and the three (sample job → shuffle → count
  collect) phases serialize.
- OVERLAPPED (candidate): three ranks each computed directly from the
  persisted customer aggregate in InheritableThreads (concurrent jobs
  back-fill each other's barriers, guide §2.6), then two customer-grain
  join-backs on o_custkey re-assemble the scored frame.

Output equality is asserted exactly (sorted collect comparison) before
any timing.  Interleaved same-window pairs, median+MAD, DuckDB sentinel
bracket — the same discipline as tools/focused_ab.py.

Usage: python tools/rfm_overlap_probe.py [sf_dir] [rounds]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import inheritable_thread_target
from pyspark.sql import functions as F


def _sentinel(sf_dir: str) -> float:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    t0 = time.perf_counter()
    con.execute(
        f"SELECT count(*), sum(r_regionkey) FROM "
        f"read_parquet('{sf_dir}/region.parquet')"
    ).fetchall()
    return round(time.perf_counter() - t0, 4)


def _overlapped(spark, sf_dir):
    """Probe-local overlapped form of rfm_segmentation (same math)."""
    from steampipe_sqlite_spark.operators.scale import distributed_row_number
    from steampipe_sqlite_spark.plans.registry import presentation_sort
    from steampipe_sqlite_spark.plans.relational import load_table

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr("MAX(CAST(o_orderdate AS DATE))").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("monetary_cents"),
    )
    anchor = orders.agg(F.expr("MAX(CAST(o_orderdate AS DATE))").alias("max_d"))
    anchored = per_cust.crossJoin(F.broadcast(anchor)).selectExpr(
        "o_custkey",
        "datediff(max_d, last_order) AS recency_days",
        "freq",
        "monetary_cents",
    ).persist()
    anchored.count()  # materialize once so the three samplers hit cache

    specs = [
        ("_rn_r", [F.col("recency_days"), F.col("o_custkey")]),
        ("_rn_f", [F.col("freq"), F.col("o_custkey")]),
        ("_rn_m", [F.col("monetary_cents"), F.col("o_custkey")]),
    ]
    results: dict[str, object] = {}

    def build(name, cols):
        d = distributed_row_number(anchored, cols, name=name)
        # force the helper's construction jobs (sample + count) NOW, on
        # this thread, so the three phases overlap
        results[name] = (d.select("o_custkey", name), d._sgs_total_rows)

    import threading

    threads = [
        threading.Thread(target=inheritable_thread_target(build), args=(n, c))
        for n, c in specs
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    (r_df, n), (f_df, _), (m_df, _) = (
        results["_rn_r"], results["_rn_f"], results["_rn_m"]
    )
    scored = (
        anchored.join(r_df, "o_custkey")
        .join(f_df, "o_custkey")
        .join(m_df, "o_custkey")
        .selectExpr(
            "o_custkey",
            "recency_days",
            "freq",
            "monetary_cents",
            f"((_rn_r - 1) * 5) div {max(n, 1)} + 1 AS r_score",
            f"((_rn_f - 1) * 5) div {max(n, 1)} + 1 AS f_score",
            f"((_rn_m - 1) * 5) div {max(n, 1)} + 1 AS m_score",
        )
    )
    out = scored.groupBy(
        F.expr("CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)").alias("rfm")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
    )
    return presentation_sort(out, ["rfm"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    from steampipe_sqlite_spark.plans.registry import collect
    from steampipe_sqlite_spark.session import get_spark

    queries, _ = collect()
    chained_fn = queries["rfm_segmentation"]
    spark = get_spark()
    s_before = _sentinel(sf_dir)

    def run(fn):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).collect()
        return time.perf_counter() - t0, rows

    # equality gate first
    _, a = run(chained_fn)
    _, b = run(_overlapped)
    assert [tuple(r) for r in a] == [tuple(r) for r in b], "outputs differ!"
    print(f"equality: OK ({len(a)} rows)", file=sys.stderr)

    chained, overlapped = [], []
    for i in range(rounds):
        chained.append(run(chained_fn)[0])
        overlapped.append(run(_overlapped)[0])
        print(
            f"round {i + 1}: chained {chained[-1]:.2f} overlapped {overlapped[-1]:.2f}",
            file=sys.stderr,
        )
    med = statistics.median
    mad = lambda xs: med([abs(x - med(xs)) for x in xs])  # noqa: E731
    print(
        json.dumps(
            {
                "metric": "rfm_overlap_ab",
                "chained": {"med": round(med(chained), 3), "mad": round(mad(chained), 3), "best": round(min(chained), 3)},
                "overlapped": {"med": round(med(overlapped), 3), "mad": round(mad(overlapped), 3), "best": round(min(overlapped), 3)},
                "noise": {"sentinel_before": s_before, "sentinel_after": _sentinel(sf_dir)},
                "rounds": rounds,
                "sf": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
