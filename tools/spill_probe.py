"""Spill probe: shrink the heap until the engine must spill, and measure
the tax — completing the scale-evidence matrix (tools/replica.py + ab.py =
data scale and cores, skew_join = keys, THIS = memory).

At 100 TB the per-task memory budget is whatever the executor grants —
a plan is only deployable if it degrades to disk spill instead of dying
when the working set outgrows the budget.  The probe runs the REGISTERED
tpch_q3 (sort-merge join: two 60M/15M-row sorts) and tpch_q18 (hash
aggregate over 60M rows into 15M groups, then join) on the cached 100x
replica universe under progressively smaller heaps via
SPARK_GRAFT_DRIVER_MEM (in local mode the driver heap IS the executor
memory), one fresh session per arm, and reads task-level
memoryBytesSpilled / diskBytesSpilled from the UI REST status API
(SPARK_GRAFT_UI=on, the same numbers the Spark UI shows).

PASS = every arm that completes returns row-identical results; spill
bytes appear as the heap shrinks while wall degrades gracefully; an arm
that cannot finish records an honest "oom"/"error" status instead of a
number (that heap is below the engine's floor for this input, which the
data-sized _driver_mem policy exists to avoid).

Usage: python tools/spill_probe.py [reps] [heap ...]
       (defaults: 2 32g 8g 4g 2g; the tools/replica.py corpus under
       .cache/replica)
Prints one JSON line per query.

Committed reading (round 10, local[32], 100x sf0.1 = 60M lineitem /
15M orders / 1.5M customer, best-of-2 warm per arm, fingerprints
row-identical across every completing arm of a query; taken under the
then-default 16m scan splits — sessions now keep Spark's 128m
default, which shifts absolutes mildly but not the degradation
property this probe pins):

  query     heap   wall     spilled (mem-deserialized / disk)
  tpch_q3   32g    3.35 s   0 / 0
            8g     3.83 s   0 / 0
            4g     3.85 s   1.34 GB / 0.57 GB
            2g      java.lang.OutOfMemoryError: Java heap space
  tpch_q18  32g    5.10 s   0 / 0
            8g     6.32 s   6.58 GB / 0.79 GB
            4g     6.14 s   9.62 GB / 1.24 GB
            2g      executor task failure (heap exhaustion mid-task)

  Reading: both shapes degrade the way a deployable plan must — the
  SMJ sorts and the hash aggregate detect memory pressure and spill
  (UnsafeExternalSorter / hash-agg fallback), and the tax is MILD:
  +15-24% wall for a 4-8x smaller heap, results identical to the
  in-memory run.  q18 spills at 8g already (15M-group hash aggregate
  holds whole grouped rows; biggest working set) while q3's sorts
  first spill at 4g; at 4g q18 spills MORE yet runs no slower than 8g
  — once the aggregate is disk-backed, extra spill volume rides the
  same sequential writes on this box's page cache.  The 2g arms are
  the floor the input-sized _driver_mem policy (session.py, round-10
  GC-storm fix) exists to keep sessions above: ~2g of execution+
  storage share across 32 concurrent tasks leaves under ~40 MB per
  task — less than one 32 MB shuffle partition's in-flight batch plus
  sort overhead, so tasks die at allocation time before the spill
  machinery can help.  Deployment translation: executors sized by the
  session's 32 MB/partition rule with ~4x headroom run in-memory;
  tighter ones pay a measured 15-24% spill tax but complete with
  identical results — no plan in the corpus carries an all-in-memory
  assumption.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.replica import build  # noqa: E402
from steampipe_sqlite_spark.plans.registry import collect  # noqa: E402
from steampipe_sqlite_spark.session import get_spark, stop_spark  # noqa: E402

TABLES = {"lineitem", "orders", "customer"}
PROBE_QUERIES = ["tpch_q3", "tpch_q18"]


def session_spill(spark) -> dict:
    """Sum task-level spill bytes across every stage of the session, from
    the UI REST status API (requires SPARK_GRAFT_UI=on)."""
    app = spark.sparkContext.applicationId
    base = spark.sparkContext.uiWebUrl
    stages = json.load(
        urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages")
    )
    return {
        "memory_spilled": sum(s["memoryBytesSpilled"] for s in stages),
        "disk_spilled": sum(s["diskBytesSpilled"] for s in stages),
        "stages": len(stages),
    }


def run_arm(name: str, heap: str, sf_dir: str, reps: int) -> None:
    """One (query, heap) measurement in THIS process — invoked as a
    subprocess by main(), because a heap small enough to kill the JVM
    (the probe's whole point) also kills the py4j gateway for every
    later arm in the same Python process."""
    import hashlib

    os.environ["SPARK_GRAFT_UI"] = "on"
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    spark = get_spark(f"spillprobe-{heap}-{name}")
    queries, _ = collect()
    # house measurement convention (as tools/ab.py):
    # rebuild the registered query and clear persisted data
    # between reps — otherwise rep 2 reads an InMemoryRelation and the
    # "best" is a cache hit, not the join/aggregate under test
    fn = queries[name]
    best = float("inf")
    fingerprint = None
    for _ in range(reps):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        rows = [tuple(r) for r in fn(spark, sf_dir).collect()]
        best = min(best, time.perf_counter() - t0)
        canon = "\n".join(sorted(map(str, rows)))
        fingerprint = [len(rows), hashlib.md5(canon.encode()).hexdigest()[:16]]
    print(
        json.dumps(
            {
                "best_s": round(best, 3),
                **session_spill(spark),
                "fingerprint": fingerprint,
            }
        ),
        flush=True,
    )
    stop_spark()


def main() -> None:
    import subprocess

    if sys.argv[1:2] == ["--arm"]:
        run_arm(sys.argv[2], sys.argv[3], sys.argv[4], int(sys.argv[5]))
        return

    reps = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 2
    heaps = [a for a in sys.argv[1:] if not a.isdigit()] or ["32g", "8g", "4g", "2g"]

    spark = get_spark("spillprobe-build")
    sf_dir = build(spark, 100, TABLES)
    stop_spark()

    out: dict = {q: {} for q in PROBE_QUERIES}
    for heap in heaps:
        for name in PROBE_QUERIES:
            try:
                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--arm", name, heap, sf_dir, str(reps),
                    ],
                    capture_output=True,
                    text=True,
                    # a heap in GC-death-spiral territory can thrash for
                    # many minutes before the JVM admits OOM — cap it and
                    # record the timeout as the (equally disqualifying)
                    # outcome for that heap size
                    timeout=480,
                )
            except subprocess.TimeoutExpired:
                out[name][heap] = {"status": "timeout_gc_thrash", "limit_s": 480}
                continue
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
            try:
                out[name][heap] = json.loads(last)
                # incremental echo: a wall-clock cap on the PARENT must
                # not lose arms that already finished
                print(
                    json.dumps({"arm": name, "heap": heap, **out[name][heap]}),
                    flush=True,
                )
            except ValueError:
                tail = (proc.stderr or proc.stdout or "")[-400:]
                # honest failure record: the heap is below the engine's
                # floor for this input; surface the JVM's last words
                marker = "OutOfMemoryError" if "OutOfMemoryError" in tail else "error"
                out[name][heap] = {"status": marker, "rc": proc.returncode,
                                   "detail": tail.replace("\n", " ")[-200:]}

    for name in PROBE_QUERIES:
        fps = {
            tuple(v["fingerprint"])
            for v in out[name].values()
            if "fingerprint" in v
        }
        print(
            json.dumps(
                {"query": name, "arms": out[name], "all_arms_agree": len(fps) == 1}
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
