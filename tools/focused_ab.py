"""Focused interleaved A/B for a handful of queries (VERDICT r11 #3).

The full interleaved harness (tools/bench_interleaved.py) answers "did the
headline set move"; THIS answers "did query X's engine leg move" with the
highest signal the box allows: DuckDB noise sentinels bracket the run (so a
reading can be rejected as contended before anyone argues from it), each
query gets warm pairs then N engine-alternating timed pairs, and the output
carries median + MAD per leg.  This is the exact pattern that attributed
mm_image_decode's r10 contract-bench drift to window load (BASELINE.md
round-11 section); generalized so the next drifting query costs one command
instead of a bespoke script.

Usage: python tools/focused_ab.py [sf_dir] [rounds] query [query ...]
Prints one JSON line:
  {"metric": "focused_ab", "queries": {q: {"spark": med, "spark_mad": ...,
   "duckdb": med, "duckdb_mad": ...}}, "noise": {"sentinel_before": s,
   "sentinel_after": s}, "rounds": N, "sf": ...}

Reading it: sentinels ≤ ~0.01 s = quiet window, readings usable; tens of
ms = contended, re-run later.  MAD >> a leg's median move means the move
is within noise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _sentinel(sf_dir: str) -> float:
    """Fixed tiny 1-thread DuckDB aggregation, timed cold — same probe as
    bench.py's noise field, so readings are comparable across artifacts."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    t0 = time.perf_counter()
    con.execute(
        f"SELECT count(*), sum(r_regionkey) FROM "
        f"read_parquet('{sf_dir}/region.parquet')"
    ).fetchall()
    dt = time.perf_counter() - t0
    con.close()
    return round(dt, 4)


def med_mad(xs: "list[float]") -> "tuple[float, float]":
    """Median and median-absolute-deviation — the shared statistic for
    every interleaved A/B reading (bench.py imports this so its in-artifact
    interleaved stats can never drift from focused_ab's attribution
    stats — code-review r13)."""
    m = statistics.median(xs)
    return m, statistics.median(abs(x - m) for x in xs)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    rounds = 9
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    if args and args[0].isdigit():
        rounds = int(args.pop(0))
    names = args
    if not names:
        sys.exit("usage: focused_ab.py [sf_dir] [rounds] query [query ...]")

    import duckdb

    from steampipe_sqlite_spark.plans.registry import collect
    from steampipe_sqlite_spark.session import get_spark

    spark = get_spark("focused-ab")
    queries, oracles = collect()
    missing = [n for n in names if n not in queries or n not in oracles]
    if missing:
        sys.exit(f"not registered (or no oracle): {missing}")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    def spark_run(name: str) -> float:
        fn = queries[name]
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).toPandas()
        return time.perf_counter() - t0

    def duck_run(name: str) -> float:
        t0 = time.perf_counter()
        con.execute(oracles[name]).df()
        return time.perf_counter() - t0

    sentinel_before = _sentinel(sf_dir)
    samples: dict[str, dict[str, list[float]]] = {
        n: {"spark": [], "duckdb": []} for n in names
    }
    for n in names:  # global warm pass (JIT tiering + page cache)
        spark_run(n)
        duck_run(n)
    for n in names:
        spark_run(n)  # per-query warm pair
        duck_run(n)
        for _ in range(rounds):
            samples[n]["spark"].append(spark_run(n))
            samples[n]["duckdb"].append(duck_run(n))

    per_query = {}
    for n in names:
        sm, smad = med_mad(samples[n]["spark"])
        dm, dmad = med_mad(samples[n]["duckdb"])
        per_query[n] = {
            "spark": round(sm, 3),
            "spark_mad": round(smad, 3),
            "duckdb": round(dm, 3),
            "duckdb_mad": round(dmad, 3),
        }
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "focused_ab",
                "queries": per_query,
                "noise": {
                    "sentinel_before": sentinel_before,
                    "sentinel_after": _sentinel(sf_dir),
                },
                "rounds": rounds,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
