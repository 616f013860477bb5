"""Concurrency probe: head-of-line blocking under a mixed workload —
the eighth scale-evidence axis, and the one closest to the product.

A steampipe-shaped engine serves INTERACTIVE queries: a dashboard's
sub-second lookups land while somebody's 60M-row scan is mid-flight.
Every other probe measures one query at a time; this one measures what
the scheduler does to the SMALL query when a BIG one owns the cores.

Workload: one heavy thread loops the REGISTERED tpch_q3 on the 100x
replica (~3.5 s/iteration, hundreds of tasks/stage) while four client
threads fire the REGISTERED tpch_q6 on the driver sf0.1 fixture
(~0.1 s isolated) back-to-back; per-arm fresh sessions via
SPARK_GRAFT_SCHEDULER (session.py):

  fifo  -- Spark's default: stages run in submission order; a tiny
           job's 8 tasks queue behind whatever slice of the heavy
           stage's task backlog is ahead of them.
  fair  -- spark.scheduler.mode=FAIR + the shipped allocation file
           (session.py sets spark.scheduler.allocation.file to the
           package's fairscheduler.xml, which declares the default
           pool schedulingMode FAIR).  The file is load-bearing
           (ADVICE r10): WITHOUT it, FAIR mode builds the default
           pool with an internal FIFO comparator — every job lands in
           that one pool, so task ordering is mechanically identical
           to FIFO mode and the earlier r10 delta was co-tenant
           noise, not the scheduler.  With it, the tiny job's tasks
           genuinely round-robin with the heavy stage's per freed
           slot.

Metrics: tiny-query p50/p95/max latency during contention, isolated
baseline from a pre-pass, heavy iterations completed — PASS = FAIR
holds tiny-query latency near isolated while costing the heavy side
little; results identical across arms.

Usage: python tools/concurrency_probe.py [tiny_queries_per_thread]
       (default 12; tools/replica.py corpus under .cache/replica)
Prints one JSON line per arm.

Committed reading (round 11, local[32], heavy = tpch_q3@100x looping,
4 tiny-client threads x 12 tpch_q6@sf0.1 each = 48 tiny queries per
arm, A/B/B/A order, results stable in every arm; the allocation file
is in effect, so the fair arm is REAL fair — the round-10 reading was
taken without it, when both arms were mechanically FIFO, and its
similar-looking delta is therefore attributed to window noise, not
the scheduler):

  arm (order)   tiny p50    tiny p95    tiny max    heavy iter median
  fifo (1st)     1.715 s     2.623 s     2.803 s        3.67 s
  fair (2nd)     0.921 s     1.456 s     1.479 s        5.64 s
  fair (3rd)     0.853 s     2.333 s     2.412 s        6.48 s
  fifo (4th)     2.098 s     2.849 s     3.337 s        3.45 s

  Reading: the effect survives counterbalancing — both fair arms beat
  both fifo arms on tiny p50 by ~2x regardless of position, so it is
  the scheduler, not cache warm-up or co-tenant drift.  FIFO queues
  the tiny query's 8 tasks behind the heavy stage's hundreds —
  median ~1.7-2.1 s and a 2.8-3.3 s tail for a ~0.1 s query: the
  dashboard stalls whenever the warehouse breathes.  FAIR's per-job
  round-robin (now real: the default pool's internal comparator is
  FAIR via the allocation file) halves the median, and the ceiling it
  converges to (~0.9 s) is the heavy query's per-STAGE granularity —
  a running task is never preempted, so the tiny job waits for slots
  to free, not for whole stages to drain.  The cost is real and
  measured, not waved away: heavy iterations slow 3.5 -> 5.6-6.5 s
  while tiny clients are active (tiny jobs now steal slots from every
  heavy stage).  That trade IS the deployment decision:
  SPARK_GRAFT_SCHEDULER=fair (session.py) for mixed interactive
  serving — on a real cluster, weighted scheduler pools per tenant
  class — FIFO for pure batch where stage-at-a-time throughput wins.
  At 1000 executors the FIFO penalty grows with the heavy backlog
  (minutes of queued tasks), while FAIR's floor stays one stage-slot
  away; the ~2x measured here UNDERSTATES it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.replica import build  # noqa: E402
from steampipe_sqlite_spark.plans.registry import collect  # noqa: E402
from steampipe_sqlite_spark.session import get_spark, stop_spark  # noqa: E402

SF_TINY = "/root/testdata/sf0.1"
TINY_THREADS = 4


def run_arm(mode: str, x100: str, per_thread: int) -> dict:
    os.environ["SPARK_GRAFT_SCHEDULER"] = mode
    os.environ["SPARK_GRAFT_SF_DIR"] = x100  # size the session for the heavy side
    spark = get_spark(f"concprobe-{mode}")
    queries, _ = collect()
    q3 = queries["tpch_q3"]
    q6 = queries["tpch_q6"]

    # isolated tiny baseline in THIS session (warm codegen first)
    q6(spark, SF_TINY).collect()
    isolated = []
    for _ in range(6):
        t0 = time.perf_counter()
        q6(spark, SF_TINY).collect()
        isolated.append(time.perf_counter() - t0)
    q3(spark, x100).collect()  # warm the heavy plan too

    stop_evt = threading.Event()
    heavy_durs: list = []
    tiny_lat: list = []
    tiny_rows: set = set()
    lock = threading.Lock()

    def heavy():
        while not stop_evt.is_set():
            t0 = time.perf_counter()
            q3(spark, x100).collect()
            heavy_durs.append(time.perf_counter() - t0)

    def tiny():
        for _ in range(per_thread):
            t0 = time.perf_counter()
            rows = q6(spark, SF_TINY).collect()
            dt = time.perf_counter() - t0
            with lock:
                tiny_lat.append(dt)
                tiny_rows.add(str(sorted(map(str, rows))))

    ht = threading.Thread(target=heavy, daemon=True)
    ht.start()
    time.sleep(0.5)  # let the heavy stage own the cores first
    clients = [threading.Thread(target=tiny) for _ in range(TINY_THREADS)]
    t_start = time.perf_counter()
    for c in clients:
        c.start()
    for c in clients:
        c.join()
    contention_window = time.perf_counter() - t_start
    stop_evt.set()
    ht.join(timeout=60)
    out = {
        "arm": mode,
        "tiny_isolated_p50_s": round(statistics.median(isolated), 3),
        "tiny_p50_s": round(statistics.median(tiny_lat), 3),
        "tiny_p95_s": round(sorted(tiny_lat)[int(0.95 * len(tiny_lat)) - 1], 3),
        "tiny_max_s": round(max(tiny_lat), 3),
        "tiny_n": len(tiny_lat),
        "heavy_iters": len(heavy_durs),
        # median of the heavy query's OWN per-iteration walls — iteration
        # boundaries straddle the contention window, so window/iters
        # would smear the head start and tail overhang into the rate
        "heavy_iter_median_s": round(statistics.median(heavy_durs), 2)
        if heavy_durs
        else None,
        "contention_window_s": round(contention_window, 2),
        "tiny_results_stable": len(tiny_rows) == 1,
    }
    stop_spark()
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    per_thread = int(sys.argv[1]) if len(sys.argv) > 1 else 12

    spark = get_spark("concprobe-build")
    x100 = build(spark, 100, {"lineitem", "orders", "customer"})
    stop_spark()

    # Counterbalanced A/B/B/A arm order (ADVICE r10): a fixed fifo-then-
    # fair order confounds the scheduler with page-cache warm-up and
    # co-tenant drift; running both orders exposes any order effect
    # directly in the paired readings.
    for mode in ("fifo", "fair", "fair", "fifo"):
        run_arm(mode, x100, per_thread)
    del os.environ["SPARK_GRAFT_SCHEDULER"]


if __name__ == "__main__":
    main()
