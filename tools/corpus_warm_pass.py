"""Warm-timed wall of EVERY declared query at one scale factor.

Round-14 did this pass ad hoc (it is how emb_neardup_cosine's 51.8 s and
win_range_frame's 10.4 s single-task collapses were found); round 15 makes
it a committed tool so the sweep is repeatable.  For each query in the
registry: clear caches, build the DataFrame, run it once to warm
(construction + codegen + page cache), then time ``toPandas()`` once —
the same action the driver's correctness gate pays, so walls here are
comparable round-over-round.  The session recycles every 50 queries
(bounded executor memory; same schedule the oracle sweeps use) and after
every query that raises, so one wedged session cannot turn the rest of
its 50-query block into errors.

Co-tenant noise on this box inflates single readings 2–20x in bursts
(BASELINE.md), so this pass is a WALL FINDER, not an A/B instrument:
anything that reads slow here must be re-measured best-of-N in a fresh
session before it is called a regression.

Usage: python tools/corpus_warm_pass.py [sf_dir] [out.json] [query ...]
Prints one JSON line {"metric": "corpus_warm_pass", "sf": ..., "walls":
{name: sec desc-sorted, top 40}, "errors": [names that raised],
"codegen_compiles": n, "jit_compile_ms": ms} and writes the full dict to
out.json if given.  The last two are the JVM's compile work over the whole
pass, warm runs included: generated classes Spark compiled (Janino, on a
codegen-cache miss) and milliseconds the JIT spent compiling.  An errored
query's wall is -1.0, which sorts last and falls out of the top 40 — read
"errors".
With explicit query names the pass times ONLY those, best-of-3 (the
outlier re-measure mode: this box's co-tenant bursts inflate single
readings up to ~17x — measured in-process on emb_neardup_cosine this
round: 10.3 / 9.0 / 167.0 s for three consecutive identical runs — so a
single-shot wall is a finder, never an attribution).
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from steampipe_sqlite_spark.plans.registry import collect
from steampipe_sqlite_spark.session import get_spark


def _compile_work(jvm) -> tuple[int, int]:
    """(generated classes compiled, JIT compile ms) so far in this JVM.
    Both counters are JVM-wide, so they survive the session recycling."""
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return int(compiles.getCount()), int(jit.getTotalCompilationTime())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    queries, _ = collect()
    names = sys.argv[3:] or list(queries)
    reps = 3 if sys.argv[3:] else 1
    walls: dict[str, float] = {}
    spark = jvm = None
    for i, name in enumerate(names):
        if spark is None or (i and i % 50 == 0):
            if spark is not None:
                spark.stop()
            spark = get_spark()
        if jvm is None:
            jvm = spark.sparkContext._jvm
            start = _compile_work(jvm)
        fn = queries[name]
        spark.catalog.clearCache()
        try:
            spark.sparkContext.setJobDescription(f"warm-pass: {name}")
            fn(spark, sf_dir).toPandas()  # warm: construction+codegen+cache
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).toPandas()  # timed: the driver-gate action
                best = min(best, time.perf_counter() - t0)
            walls[name] = round(best, 3)
            spark.sparkContext.setJobDescription(None)
        except Exception as e:  # keep sweeping; a red here is a bug report
            walls[name] = -1.0
            print(f"ERROR {name}: {e}", file=sys.stderr)
            # the failure may have wedged the session: start a fresh one
            with contextlib.suppress(Exception):
                spark.stop()
            spark = None
        print(f"{i + 1}/{len(names)} {name} {walls[name]}", file=sys.stderr)
    end = _compile_work(jvm)
    if spark is not None:
        spark.stop()
    ordered = dict(sorted(walls.items(), key=lambda kv: -kv[1]))
    errors = [n for n, w in walls.items() if w < 0]
    line = {
        "metric": "corpus_warm_pass",
        "sf": sf_dir,
        "walls": ordered,
        "errors": errors,
        "codegen_compiles": end[0] - start[0],
        "jit_compile_ms": end[1] - start[1],
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(line, f, indent=1)
    print(json.dumps({**line, "walls": dict(list(ordered.items())[:40])}))


if __name__ == "__main__":
    main()
