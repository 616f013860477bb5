"""Same-window interleaved A/B of pagerank_nano's r15 dangling-mass fold
(VERDICT r14 #8) against the r14 form, on a floorbound_scale_probe
replica fixture (build it first: `python tools/floorbound_scale_probe.py
graph_pagerank <reps>` keeps .cache/floorscale/x<reps>/).

Arm "r14": a ranks join in every round including round 1 (verbatim
pagerank_nano from 55281cd^).
Arm "r15" (shipped): identical loop, but round 1 is joinless edge
arithmetic (the initial ranks are a uniform constant).

RECORDED DEAD END (measured 2026-08-17, x1000 interleaved same-window):
the fuller dangling-mass fold — loop state excluding sinks + a
precomputed constant contribution leg — read r15-fold best 22.418 s
(all 22.4/26.6/56.0) vs r14 best 12.564 s (all 12.6/17.8/18.3): the
edges-sized anti-join materialization and semi-join split are two
one-time full edge passes that cost more than iters-1 rounds of sink
savings, and this corpus's graph (two coprime modular bijections) has
an EMPTY sink set, making the overhead pure loss.  The fold was
reverted; only the joinless round 1 shipped.

Usage: python tools/pagerank_ab_probe.py [reps] [n_pairs]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from steampipe_sqlite_spark.operators import graph as G
from steampipe_sqlite_spark.session import get_spark


def pagerank_nano_r14(edges, nodes, iters=3, damping_pct=85):
    """The r14 form, verbatim from git 55281cd^."""
    n = nodes.count()
    if n == 0:
        return nodes.select(F.col("node"), F.lit(0).cast("long").alias("rank_nano"))
    base = int((100 - damping_pct) * 1_000_000_000 // 100 // n)
    edges_p = edges.select("src", "dst").repartition("src")
    outdeg = edges_p.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    edges_deg = edges_p.join(outdeg, "src").select("src", "dst", "outdeg").persist()
    ranks = nodes.select(
        "node", F.lit(1_000_000_000 // n).cast("long").alias("rank_nano")
    )
    sinks = None
    for _ in range(int(iters)):
        contribs = (
            edges_deg.join(ranks.hint("shuffle_hash"), edges_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_nano div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("in_sum"))
        )
        if sinks is None:
            sinks = (
                nodes.join(contribs, "node", "left_anti")
                .select("node", F.lit(base).cast("long").alias("rank_nano"))
                .localCheckpoint(eager=False)
            )
        ranks = (
            contribs.selectExpr(
                "node",
                f"cast({base} + ({damping_pct} * in_sum) div 100"
                " AS bigint) AS rank_nano",
            )
            .unionAll(sinks)
            .localCheckpoint(eager=False)
        )
    return ranks


def main() -> None:
    args = [a for a in sys.argv[1:] if a.isdigit()]
    reps = int(args[0]) if args else 1000
    n_pairs = int(args[1]) if len(args) > 1 else 3
    sf_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".cache", "floorscale", f"x{reps}",
    )
    spark = get_spark("pagerank-ab")
    sc = spark.sparkContext

    def n_jobs() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    # the declared graph_pagerank query's graph: docs -> functional edges
    # (replicate the plan module's construction so both arms see the
    # exact declared shape)
    from steampipe_sqlite_spark.plans import llm  # noqa: F401  (registry import)
    from steampipe_sqlite_spark.plans.registry import QUERIES, collect

    collect()
    fn = QUERIES["graph_pagerank"]

    # NOTE: the A/B times the DECLARED query fn (arm r15) vs the same fn
    # with pagerank_nano monkeypatched to the r14 form (arm r14) — both
    # arms run the full declared plan on the same fixture.  (The declared
    # graph is two modular bijections — coprime multipliers — so its sink
    # set is EMPTY: this measures the fold's overhead-neutrality and the
    # joinless round 1, not the sink savings, which need a sink-bearing
    # graph — see the synthetic-arm test in test_graph.py.)
    def run(arm: str) -> float:
        spark.catalog.clearCache()
        sc.setJobDescription(f"pagerank-ab {arm}")
        orig = G.pagerank_nano
        if arm == "r14":
            G.pagerank_nano = pagerank_nano_r14
        try:
            j0 = n_jobs()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            w = time.perf_counter() - t0
            print(f"  {arm}: {w:.3f}s  jobs={n_jobs() - j0}", flush=True)
            return w
        finally:
            G.pagerank_nano = orig

    run("r15"), run("r14")  # warm-up pair
    a, b = [], []
    for i in range(n_pairs):
        b.append(run("r14"))
        a.append(run("r15"))
    print(
        f"r14: best {min(b):.3f}  all {sorted(b)}\n"
        f"r15: best {min(a):.3f}  all {sorted(a)}"
    )


if __name__ == "__main__":
    main()
