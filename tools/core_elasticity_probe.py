"""Core-elasticity probe: the same plans, fewer/more cores.

The engine's 100 TB argument is scale-OUT: per-core, a vectorized C++
single-process engine wins (BASELINE.md scaling probes), but the Spark
plans recruit every core/executor the cluster has, and partition counts
— not code — set the parallelism.  Every existing probe varies DATA at
fixed cores; this one varies CORES at fixed data, which is the lever a
1000-executor deployment actually pulls.  It runs the REGISTERED corpus
queries (registry fns, not re-implemented shapes) on the cached 100x
replica universe (tools/floorbound_scale_probe.build: 60M lineitem /
15M orders / 1.5M customer) under local[4] / local[8] / local[16] /
local[32] sessions, each session sized by the engine's own policy
(session.py reads SPARK_GRAFT_SF_DIR).

PASS = wall-clock falls ~linearly with cores until a shape's serial
fraction (shuffle barriers, final single-partition stages) floors it —
i.e. the plans have no hidden single-core stage that would cap a
cluster.

Usage: python tools/core_elasticity_probe.py [reps] [cpus ...]
       (defaults: 100 4 8 16 32)
Prints one JSON line: {query: {cpus: best_s}}.

Committed reading (round 10, 100x sf0.1, best-of-3 warm, after the
data-sized-heap fix this probe motivated — see below; taken under the
then-default 16m scan splits.  A later re-sweep under the data-derived
128m policy — BASELINE.md round-10 continuation — reads q1
7.06/4.77/2.77/1.85, q3 12.44/7.34/5.17/3.07, q9 9.41/5.00/3.84/2.35:
monotone on every doubling, q3/q9 faster at 32 cores, q1's absolutes
in a busier window; the scaling property holds under both policies):

  query     local[4]   local[8]   local[16]   local[32]   4->32 speedup
  tpch_q1     5.732      3.529      1.960       1.336         4.3x
  tpch_q3    11.918      7.683      5.024       3.676         3.2x
  tpch_q9     9.458      5.427      3.339       2.663         3.6x

  Reading: monotone core recruitment on every shape, every doubling —
  near-linear through 16 cores, 1.25-1.5x for the last doubling, where
  a single shared-memory JVM splits memory bandwidth and one GC across
  32 threads (separate executors on a real cluster do not).  No shape
  plateaus or regresses: there is no hidden single-core stage (the
  window-rewrite probe pinned that class separately), so partition
  count — cluster width — is the only cap.  The SMJ shapes stay
  shuffle-bound.

  The probe paid for itself before its table settled: the FIRST sweep
  showed q3/q9 REGRESSING 16->32 cores (5.40 -> 7.13 s, 3.00 -> 3.94).
  Instrumenting wall vs JVM CPU-seconds showed bimodal behavior at 32
  threads on the then-default 16g heap: healthy runs at ~80 CPU-s
  (wall 3.9 s — FASTER than 16 cores), sick runs ballooning
  progressively to 245-310 CPU-s (wall 11-17 s) as old-gen pressure
  accumulated across runs, while a 32g heap held 74-86 CPU-s and
  3.8-4.6 s wall on all five consecutive runs.  The allocation rate of
  32 concurrent SMJ sort tasks on a GB-scale corpus outgrows 16g; at 16
  threads it never trips.  Fix: session._driver_mem() now follows the
  same input-sizing policy as shuffle partitions and AQE (>= 1 GiB
  input -> 32g default, explicit SPARK_GRAFT_DRIVER_MEM always wins) —
  the table above is the post-fix sweep, storm-free.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.floorbound_scale_probe import build  # noqa: E402
from steampipe_sqlite_spark.plans.registry import collect  # noqa: E402
from steampipe_sqlite_spark.session import get_spark, stop_spark  # noqa: E402

QUERIES = ["tpch_q1", "tpch_q3", "tpch_q9"]
TABLES = {"lineitem", "orders", "customer", "part", "supplier", "nation"}


def main() -> None:
    args = [int(a) for a in sys.argv[1:]] or [100, 4, 8, 16, 32]
    reps, cpus_list = args[0], args[1:] or [4, 8, 16, 32]

    spark = get_spark("elasticity")
    sf_dir = build(spark, reps, TABLES)
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir

    queries, _ = collect()
    results: dict = {n: {} for n in QUERIES}
    for cpus in cpus_list:
        stop_spark()
        spark = get_spark("elasticity", cpus=cpus)
        for name in QUERIES:
            fn = queries[name]
            fn(spark, sf_dir).toPandas()  # warm: codegen + page cache
            best = min(
                _timed(lambda: fn(spark, sf_dir).toPandas()) for _ in range(3)
            )
            results[name][cpus] = round(best, 3)
            print(f"# cpus={cpus} {name}: {best:.3f}s", file=sys.stderr)
    print(json.dumps({"reps": reps, **results}))


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


if __name__ == "__main__":
    main()
