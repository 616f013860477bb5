"""Scale probe for the r7 global-window rewrites (VERDICT r6 "What's
wrong" #1): distributed_row_number / distributed_running_sum vs the old
empty-OVER window spellings, on a replicated documents corpus.

The five rewritten queries (pack_length_buckets, pack_context_windows,
rfm_segmentation, stats_gini_spend, funnel_latency_stats) all shared one
anti-pattern: a global order statistic via ``OVER (ORDER BY ...)`` with
no PARTITION BY, which Spark executes by moving EVERY row to ONE
partition (WindowExec warns exactly this).  This probe makes the scale
argument measurable on the two documents-shaped queries:

1. replicate documents REPS× (doc_id re-keyed to stay unique; text
   blanked — neither query reads it) into .cache/winscale/;
2. at 1× and REPS×, time the LIVE corpus queries (distributed helpers)
   against the pre-r7 spellings (reconstructed inline below, verbatim);
3. assert both forms agree at 1× (same rows) before timing anything.

Usage: python tools/window_scale_probe.py [reps]   (default 1000)
Prints one JSON line:
  {"reps": N, "rows": ..., "queries": {q: {"old_1x": s, "new_1x": s,
   "old_Nx": s, "new_Nx": s}}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from steampipe_sqlite_spark.plans.registry import collect
from steampipe_sqlite_spark.session import get_spark
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache",
    "winscale",
)


# --- pre-r7 spellings, verbatim from git fc74250 (the single-reducer
# forms the rewrite replaced) -----------------------------------------


def old_pack_length_buckets(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    t = docs.select("doc_id", "n_chars", F.ntile(16).over(w).alias("bucket"))
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_len"),
            F.max("n_chars").alias("max_len"),
            F.sum("n_chars").alias("total_chars"),
            (F.max("n_chars") * F.count(F.lit(1)) - F.sum("n_chars")).alias(
                "padding_waste"
            ),
        )
        .orderBy("bucket")
    )


def old_pack_context_windows(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    binned = docs.selectExpr(
        "doc_id",
        "n_chars",
        "sum(n_chars) OVER (ORDER BY md5(cast(doc_id AS string)), doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
    ).selectExpr("doc_id", "n_chars", "cum", "(cum - n_chars) div 65536 AS bin")
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("packed_chars"),
            F.sum(
                F.expr("CASE WHEN cum > (bin + 1) * 65536 THEN 1 ELSE 0 END")
            ).cast("bigint").alias("n_straddle"),
        )
        .orderBy("bin")
    )


def old_rfm_segmentation(spark, sf_dir):
    """Pre-r7 spelling (git fc74250): three empty-OVER global windows over
    the per-customer aggregate frame."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.expr("MAX(CAST(o_orderdate AS DATE))").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.expr("CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "monetary_cents"
        ),
    )
    anchor = orders.agg(F.expr("MAX(CAST(o_orderdate AS DATE))").alias("max_d"))
    anchored = per_cust.crossJoin(F.broadcast(anchor)).selectExpr(
        "o_custkey", "datediff(max_d, last_order) AS recency_days",
        "freq", "monetary_cents",
    )
    scored = anchored.selectExpr(
        "o_custkey", "recency_days", "freq", "monetary_cents",
        "((ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) - 1) * 5)"
        " div (COUNT(*) OVER ()) + 1 AS r_score",
        "((ROW_NUMBER() OVER (ORDER BY freq, o_custkey) - 1) * 5)"
        " div (COUNT(*) OVER ()) + 1 AS f_score",
        "((ROW_NUMBER() OVER (ORDER BY monetary_cents, o_custkey) - 1) * 5)"
        " div (COUNT(*) OVER ()) + 1 AS m_score",
    )
    out = (
        scored.groupBy(
            F.expr("CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)").alias("rfm")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
    )
    from steampipe_sqlite_spark.plans.registry import presentation_sort

    return presentation_sort(out, ["rfm"])


def build_orders_replica(spark, reps: int) -> int:
    """Replicate orders REPS x with o_custkey re-keyed, so the
    per-customer aggregate frame (the windows' input) scales by REPS."""
    orders = load_table(spark, SF_DIR, "orders")
    n_cust = 15000  # sf0.1 key space; re-key by offset to stay unique
    n_ord = 150000
    (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .select(
            (F.col("o_orderkey") + F.col("rep") * n_ord).alias("o_orderkey"),
            (F.col("o_custkey") + F.col("rep") * n_cust).alias("o_custkey"),
            F.lit("O").alias("o_orderstatus"),
            "o_totalprice",
            "o_orderdate",
            F.lit("1-URGENT").alias("o_orderpriority"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(SCRATCH, "orders.parquet"))
    )
    return orders.count() * reps


def build_replica(spark, reps: int) -> int:
    if os.path.exists(SCRATCH):
        shutil.rmtree(SCRATCH)
    os.makedirs(SCRATCH, exist_ok=True)
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    (
        docs.select("doc_id", "n_chars", "lang", "source")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .select(
            (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
            F.lit("").alias("text"),  # neither probe query reads text
            "lang",
            "source",
            "n_chars",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(SCRATCH, "documents.parquet"))
    )
    return n * reps


def best_of(spark, fn, runs=3):
    best = float("inf")
    for _ in range(runs):
        # the distributed helpers persist their ranged input, and Spark's
        # CacheManager dedups identical plans across rebuilds — without a
        # clear, runs 2+ would time a cache read, not the pipeline
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    # clamp to >= 2: at reps == 1 the f"old_{reps}x" keys would collide
    # with the literal "old_1x" baselines and silently overwrite them
    reps = max(int(sys.argv[1]) if len(sys.argv) > 1 else 1000, 2)
    spark = get_spark("window-scale-probe")
    queries, _ = collect()
    # each timed run calls the registered fn, so it REBUILDS the
    # distributed helpers' offset pass rather than re-collecting a plan
    # whose offsets are already baked literals
    new = {
        name: queries[name]
        for name in ("pack_length_buckets", "pack_context_windows")
    }
    old = {
        "pack_length_buckets": old_pack_length_buckets,
        "pack_context_windows": old_pack_context_windows,
    }

    # rfm arm: orders are 30× documents, so its replica runs at reps/10
    # (the windows' INPUT is the per-customer aggregate — re-keyed
    # customers scale it by the same factor).  Registered BEFORE the
    # guard loop so every arm gets the same 1×-agreement check.
    rfm_reps = max(reps // 10, 2)
    new["rfm_segmentation"] = queries["rfm_segmentation"]
    old["rfm_segmentation"] = old_rfm_segmentation

    # correctness guard: old and new forms must agree at 1× before any
    # timing claims
    for name in new:
        a = sorted(map(tuple, new[name](spark, SF_DIR).collect()))
        b = sorted(map(tuple, old[name](spark, SF_DIR).collect()))
        assert a == b, f"{name}: rewrite disagrees with the old form at 1x"

    rows = build_replica(spark, reps)
    orows = build_orders_replica(spark, rfm_reps)

    out: dict[str, dict[str, float]] = {}
    for name in new:
        fn_new, fn_old = new[name], old[name]
        nreps = rfm_reps if name == "rfm_segmentation" else reps
        out[name] = {
            "old_1x": best_of(spark, lambda: fn_old(spark, SF_DIR).collect()),
            "new_1x": best_of(spark, lambda: fn_new(spark, SF_DIR).collect()),
            f"old_{nreps}x": best_of(spark, lambda: fn_old(spark, SCRATCH).collect()),
            f"new_{nreps}x": best_of(spark, lambda: fn_new(spark, SCRATCH).collect()),
        }
    print(json.dumps(
        {"reps": reps, "rows": rows, "rfm_reps": rfm_reps, "orders_rows": orows,
         "queries": out}
    ))


if __name__ == "__main__":
    main()
