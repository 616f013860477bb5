"""Paged-bridge probe: protocol throughput and host-budget compliance
under REAL Spark parallelism.

test_pagedhttp_connector proves the paged protocol's semantics (call
accounting, retry replay, host-wide throttle) — this probe puts
NUMBERS on it through the full Spark scan path:

1. **Throughput arm** (no throttle, no injected latency): N partitions x
   P pages x R rows scanned through Engine.sql — reports pages/s and
   rows/s, i.e. the bridge's protocol overhead per page fetch.
2. **Budget arm** (rate_limit_rps): same scan; every Python worker
   draws from the connection's one host-wide token bucket.  Afterwards
   the call log's monotonic timestamps (CLOCK_MONOTONIC is system-wide
   on Linux, so executor-worker processes are comparable) are replayed
   to check the token-bucket CONTRACT aggregated across all workers:
   any window of T seconds serves at most burst + T x rps (burst
   defaults to one second's allowance, so a first second of up to
   2 x rps, sustained rps thereafter).  PASS = the peak sliding 1 s
   window <= burst + rps and the whole run's sustained rate
   (calls - burst)/wall <= rps — the host-budget claim measured, not
   asserted, under genuine multi-process execution.

Usage: python tools/paged_scan_probe.py [n_partitions] [n_pages] [page_size] [rps]
Prints one JSON line.

Committed reading (SPARK_GRAFT_CPUS=4, i.e. local[4], 4-core box,
8 partitions x 50 pages x 200 rows, rps=100 burst default; two runs,
interleaved with two runs of the previous reader, which gave each
partition its own Spark task instead of dealing the 8 chains into 4
tasks of 2 threads each):

  throughput arm: 400 pages / 80k rows in 0.54-0.63 s -> 638-745
    pages/s, 128-149k rows/s through SQL->DataSource->token-chain->Arrow
    (the previous reader: 688-724 pages/s in the same window; with no
    page latency the scan is CPU-bound, so threads neither help nor hurt)
  budget arm: 400 calls, one token each, in 3.18-3.23 s across 8
    partitions in 4 tasks; peak sliding-1s aggregate 199-200 <=
    burst(100) + rps(100); sustained rate 93.0-94.4 <= 100 rps ->
    within_budget TRUE.  The previous reader: 3.20-3.25 s, peak 199,
    sustained 92.5-93.7.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    n_part = int(args[0]) if len(args) > 0 else 8
    n_pages = int(args[1]) if len(args) > 1 else 50
    page_size = int(args[2]) if len(args) > 2 else 200
    rps = float(args[3]) if len(args) > 3 else 100.0

    from steampipe_sqlite_spark.engine import Engine
    from steampipe_sqlite_spark.session import get_spark

    spark = get_spark("pagedprobe")
    out: dict = {
        "n_partitions": n_part, "n_pages": n_pages, "page_size": page_size,
    }

    # one directory for the three scans' call logs, removed on exit
    log_dir = tempfile.TemporaryDirectory(prefix="pagedprobe")

    def scan(extra_cfg: dict, tag: str) -> tuple[float, int, str]:
        log = os.path.join(log_dir.name, f"{tag}.jsonl")
        eng = Engine(spark)
        eng.load("steampipe_sqlite_spark.sources.pagedhttp:PagedHttpConnector")
        eng.configure(
            "paged",
            json.dumps(
                {
                    "n_partitions": n_part,
                    "n_pages": n_pages,
                    "page_size": page_size,
                    "call_log": log,
                    "cache": False,  # measure the protocol, not the cache
                    **extra_cfg,
                }
            ),
        )
        t0 = time.perf_counter()
        n = eng.sql("SELECT COUNT(*) AS n FROM paged_items").first().n
        return time.perf_counter() - t0, n, log

    # warm the session + DataSource plumbing once (tiny scan)
    scan({"n_pages": 1}, "warm")

    wall, rows, _ = scan({}, "free")
    pages = n_part * n_pages
    out["throughput"] = {
        "wall_s": round(wall, 3),
        "rows": rows,
        "pages": pages,
        "pages_per_s": round(pages / wall, 1),
        "rows_per_s": round(rows / wall, 1),
    }

    wall_b, rows_b, log = scan({"rate_limit_rps": rps}, "budget")
    with open(log) as f:
        ts = sorted(json.loads(line)["ts"] for line in f if line.strip())
    log_dir.cleanup()
    # peak aggregate request rate over any sliding 1 s window
    peak = 0
    j = 0
    for i in range(len(ts)):
        while ts[i] - ts[j] > 1.0:
            j += 1
        peak = max(peak, i - j + 1)
    burst_total = rps  # TokenBucket default: one second's allowance
    sustained = (len(ts) - burst_total) / wall_b if wall_b > 0 else 0.0
    out["budget"] = {
        "rps_configured": rps,
        "wall_s": round(wall_b, 3),
        "calls": len(ts),
        "peak_1s_aggregate_rate": peak,
        "sustained_rate": round(sustained, 1),
        # contract: any 1 s window <= burst + rps; sustained <= rps
        "within_budget": peak <= burst_total + rps * 1.05
        and sustained <= rps * 1.05,
    }
    assert rows_b == rows
    print(json.dumps(out))


if __name__ == "__main__":
    main()
