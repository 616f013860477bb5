"""Interleaved Spark/DuckDB bench: median + MAD per engine per query.

VERDICT r6 #5: the committed bench artifact has twice read >2x while
quiet-window readings sat under it, because a single contended DuckDB
run (the minhash leg alone swings +-0.6 s) can move the best-of-5
rollup.  This harness removes that failure mode by ALTERNATING engines
WITHIN each query's sample block — Spark(q), DuckDB(q), Spark(q), ...
N pairs, then the next query — so a contention burst lands on both
engines' samples of the SAME query symmetrically (it cancels out of
that query's ratio), and by reporting per-query MEDIAN (burst-robust)
with MAD (so a reader can see the spread) rather than best-of.

Schedule note: a full round-robin over all queries per round was
measured first and rejected — it reads ~40% worse for Spark across the
board because each run re-faults the page cache and JIT locality the
16 other queries just evicted (the same effect bench.py documents for
its hybrid schedule), i.e. it measures locality loss, not engine speed.
Per-query engine pairing keeps locality warm while preserving the
burst symmetry that motivated the harness.

Usage: python tools/bench_interleaved.py [sf_dir] [N]
Prints one JSON line:
  {"metric": "headline_median_interleaved", "value": <spark total>,
   "duckdb_total": ..., "ratio_vs_duckdb": ...,
   "queries": {q: {"spark": med, "spark_mad": ..., "duckdb": med,
                   "duckdb_mad": ...}}, "rounds": N, "sf": ...}

bench.py (best-of-5 hybrid) remains the driver contract; this is the
noise-robust companion measurement committed alongside it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from steampipe_sqlite_spark.plans.registry import collect
from steampipe_sqlite_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import duckdb

    spark = get_spark("bench-interleaved")
    queries, oracles = collect()
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

    names = [n for n in HEADLINE if n in oracles]
    samples: dict[str, dict[str, list[float]]] = {
        n: {"spark": [], "duckdb": []} for n in names
    }
    # DISCARDED global warm pass (round 8, same fix as bench.py): without
    # it the first queries in the schedule pay JIT tiering + page-cache
    # population for everyone — tpch_q1 measured 0.285 s at position 0 vs
    # 0.166 s re-sampled at the schedule tail of the same process, and
    # this harness's r7 artifact showed q1 with the largest MAD in the
    # set for exactly this reason.
    for n in names:
        spark_run(n)
        duck_run(n)
    for n in names:
        # one untimed warm-up pair (codegen/JIT on the Spark side, page
        # cache on both), then N timed engine-alternating pairs
        spark_run(n)
        duck_run(n)
        for _ in range(rounds):
            samples[n]["spark"].append(spark_run(n))
            samples[n]["duckdb"].append(duck_run(n))

    def med_mad(xs: list[float]) -> tuple[float, float]:
        m = statistics.median(xs)
        return m, statistics.median(abs(x - m) for x in xs)

    per_query: dict[str, dict[str, float]] = {}
    s_total = d_total = 0.0
    for n in names:
        sm, smad = med_mad(samples[n]["spark"])
        dm, dmad = med_mad(samples[n]["duckdb"])
        per_query[n] = {
            "spark": round(sm, 3),
            "spark_mad": round(smad, 3),
            "duckdb": round(dm, 3),
            "duckdb_mad": round(dmad, 3),
        }
        s_total += sm
        d_total += dm

    print(
        json.dumps(
            {
                "metric": "headline_median_interleaved",
                "value": round(s_total, 3),
                "unit": "sec",
                "duckdb_total": round(d_total, 3),
                "ratio_vs_duckdb": round(s_total / d_total, 3) if d_total else None,
                "queries": per_query,
                "rounds": rounds,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
