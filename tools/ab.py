"""The A/B harness: interleaved same-window pairs of two timed arms.

Every pair runs both arms back to back, alternating the order (AB, then
BA), so a co-tenant burst or a drift lands on both arms and the per-pair
ratio cancels it.  Before any timing, one untimed run of every arm warms
the JVM's JIT tiers and the page cache (a query at schedule position 0
read 0.285 s vs 0.166 s at the tail without it), and each comparison then
gets one untimed warm-up pair.  bench.py's contention sentinels bracket
the pairs so a reading can be rejected as contended before anyone argues
from it: readings several times their quiet-box values (see
`bench._mc_sentinel`) mean co-tenant load.

Usage:
  python tools/ab.py [--sf DIR] [--pairs N] QUERY...
      each registered QUERY on Spark (`toPandas`) against its DuckDB
      oracle SQL on the same parquet
  python tools/ab.py [--sf DIR] [--pairs N] --arms mod:fa mod:fb
      two importable ``(spark, sf_dir) -> DataFrame`` callables, each
      materialized with `toPandas`

--sf defaults to $SPARK_GRAFT_SF_DIR, as in bench.py, and the session is
sized from it; a replica dir from tools/replica.py times the same queries
at scale.  Spark arms run after `spark.catalog.clearCache()`.  Prints one
JSON line:
  {"metric": "ab", "sf": ..., "pairs": N,
   "results": {name: {"arms": {arm: {"med", "mad", "best", "wins"}},
                      "ratios": [first/second per pair],
                      "ratio_med", "ratio_mad"}},
   "noise": {"mc_before", "mc_after", "sentinel_before", "sentinel_after"}}
A pair's win goes to the faster arm; ties count for neither.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

Arm = Callable[[], float]


def med_mad(xs: "list[float]") -> "tuple[float, float]":
    """Median and median absolute deviation: the statistic for every
    interleaved reading in this repo (bench.py imports it)."""
    m = statistics.median(xs)
    return m, statistics.median(abs(x - m) for x in xs)


def interleave(first: Arm, second: Arm, n: int) -> "tuple[list[float], list[float]]":
    """``n`` timed pairs; even pairs run first-then-second, odd pairs
    second-then-first.  Returns each arm's samples in pair order."""
    a: list[float] = []
    b: list[float] = []
    for i in range(n):
        if i % 2 == 0:
            a.append(first())
            b.append(second())
        else:
            b.append(second())
            a.append(first())
    return a, b


def summarize(labels: "tuple[str, str]", a: "list[float]", b: "list[float]") -> dict:
    ratios = [x / y for x, y in zip(a, b)]
    arms = {}
    for label, mine, other in ((labels[0], a, b), (labels[1], b, a)):
        m, mad = med_mad(mine)
        arms[label] = {
            "med": round(m, 4),
            "mad": round(mad, 4),
            "best": round(min(mine), 4),
            "wins": sum(x < y for x, y in zip(mine, other)),
        }
    r_med, r_mad = med_mad(ratios)
    return {
        "arms": arms,
        "ratios": [round(r, 3) for r in ratios],
        "ratio_med": round(r_med, 3),
        "ratio_mad": round(r_mad, 3),
    }


def _noise(sf_dir: str) -> "tuple[float, float]":
    import bench

    return bench._mc_sentinel(), bench._sentinel(sf_dir)


def run(sf_dir: str, n_pairs: int, comparisons: "dict[str, dict[str, Arm]]") -> dict:
    """Time each comparison's two labelled arms in ``n_pairs`` interleaved
    pairs, bracketed by the sentinels.  Ratios are first arm / second."""
    for arms in comparisons.values():  # discarded global warm pass
        for arm in arms.values():
            arm()
    mc_before, sentinel_before = _noise(sf_dir)
    results = {}
    for name, arms in comparisons.items():
        (la, fa), (lb, fb) = arms.items()
        interleave(fa, fb, 1)  # untimed warm-up pair
        results[name] = summarize((la, lb), *interleave(fa, fb, n_pairs))
    mc_after, sentinel_after = _noise(sf_dir)
    return {
        "metric": "ab",
        "sf": sf_dir,
        "pairs": n_pairs,
        "results": results,
        "noise": {
            "mc_before": mc_before,
            "mc_after": mc_after,
            "sentinel_before": sentinel_before,
            "sentinel_after": sentinel_after,
        },
    }


def _spark_arm(spark, fn, sf_dir: str) -> Arm:
    def arm() -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        return time.perf_counter() - t0

    return arm


def _duck_arm(con, sql: str) -> Arm:
    def arm() -> float:
        t0 = time.perf_counter()
        con.execute(sql).df()
        return time.perf_counter() - t0

    return arm


def _load(spec: str):
    module, _, attr = spec.partition(":")
    return getattr(importlib.import_module(module), attr)


def main(argv: "list[str] | None" = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    p.add_argument("--pairs", type=int, default=9)
    p.add_argument("--arms", nargs=2, metavar="MOD:FN")
    p.add_argument("queries", nargs="*", metavar="QUERY")
    args = p.parse_args(argv)
    if not args.sf:
        p.error("--sf DIR (or $SPARK_GRAFT_SF_DIR) is required")
    if bool(args.arms) == bool(args.queries):
        p.error("give either QUERY... or --arms mod:fa mod:fb")

    # the session sizes itself (shuffle partitions, AQE, heap) from
    # $SPARK_GRAFT_SF_DIR, so it must name the data being timed
    os.environ["SPARK_GRAFT_SF_DIR"] = args.sf
    from steampipe_sqlite_spark.session import get_spark

    spark = get_spark("ab")
    if args.arms:
        fa, fb = (_load(s) for s in args.arms)
        comparisons = {
            " vs ".join(args.arms): {
                args.arms[0]: _spark_arm(spark, fa, args.sf),
                args.arms[1]: _spark_arm(spark, fb, args.sf),
            }
        }
    else:
        from bench import duckdb_connect
        from steampipe_sqlite_spark.plans.registry import collect

        queries, oracles = collect()
        missing = [q for q in args.queries if q not in queries or q not in oracles]
        if missing:
            p.error(f"not registered, or no oracle SQL: {missing}")
        con = duckdb_connect(args.sf)
        comparisons = {
            q: {
                "spark": _spark_arm(spark, queries[q], args.sf),
                "duckdb": _duck_arm(con, oracles[q]),
            }
            for q in args.queries
        }
    print(json.dumps(run(args.sf, args.pairs, comparisons)))


if __name__ == "__main__":
    main()
