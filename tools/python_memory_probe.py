"""Python-worker memory probe: measure what bounds the Pandas-UDF paths.

The JVM half of the memory story is measured (tools/spill_probe.py:
sorts/aggregates spill gracefully).  The Python half cannot spill — a
pandas frame either fits in the worker or the worker dies — so the
deployable question is WHAT SIZES that frame.  The engine's claim,
stated across operators/multimodal.py and operators/temporal.py, is:

  mapInPandas    -> the ARROW BATCH bounds worker memory (a config
                    knob: spark.sql.execution.arrow.maxRecordsPerBatch),
                    NOT the partition and NOT the corpus;
  applyInPandas  -> the largest GROUP bounds worker memory (a data
                    property — the "keys are assumed task-sized"
                    contract on ewma_by_key and every keyed window).

This probe turns both sentences into numbers, using REGISTERED engine
surfaces: knn_cosine_blas (mapInPandas GEMM over embeddings) on 100x /
1000x replica corpora, and operators/temporal.ewma_by_key on the skew
probe's 4M-row universe keyed two ways — by the 45%-hot key (violating
the task-sized contract: one 1.8M-row group) and by a ~10k-cardinality
column (honoring it).  Worker memory is read as max VmHWM (peak-RSS
high-water mark, no sampling race) across the session's pyspark.daemon
processes, fresh session per arm so each reading is arm-only.

PASS = blas worker peak is ~flat when the corpus grows 10x at fixed
batch size, and drops when the batch shrinks; ewma worker peak tracks
the largest group, not the table; the numbers justify the corpus
audit table below.

Corpus applyInPandas/withState audit (group-size bound at 100 TB):
  ewma_by_key / asof keyed windows  per-entity series — task-sized by
                                    contract (documented on the op)
  search_mmr_diversified            pool^2 pair grid per query — fixed
                                    (pool=10), never corpus-sized
  group_zscore_pandas               groups by event_type (LOW cardinality
                                    — corpus-scale groups at 100 TB).
                                    SURFACE WITNESS of the applyInPandas
                                    API; its window-function SQL twin in
                                    the same query file is the
                                    deployment path, noted on the op.
  streaming withState ops           per-user state, O(one float) per
                                    in-flight key by construction

Usage: python tools/python_memory_probe.py [big_reps]   (default 1000)
Prints one JSON line per arm.

Committed reading (round 10, local[32]; embeddings dim=64, 10 query
vectors; skew universe f4M/k400k, hot key = 1.8M rows):

  arm                                corpus      worker peak   wall
  blas mapInPandas, batch 64k        200k vecs    133.6 MB     3.80 s
  blas mapInPandas, batch 64k        2M vecs      153.4 MB     4.72 s
  blas mapInPandas, batch 4k         2M vecs      134.6 MB     3.81 s
  ewma applyInPandas, ~10k groups    4M rows      119.5 MB    11.2 s
  ewma applyInPandas, 45%-hot key    4M rows      463.4 MB   124.6 s

  Reading: the mapInPandas claim holds — 10x the corpus moved the
  worker peak +15% (the larger per-partition batch at the same 64k
  cap: ~52k-row partitions x 64 dims x 8 B ~= 27 MB, visible over the
  ~130 MB interpreter+numpy baseline) while shrinking the batch knob
  16x took the peak back to the small-corpus level at unchanged wall:
  the batch, never the corpus, is what a worker holds.  The
  applyInPandas contract is real in both directions: honored
  (~10k task-sized groups), workers stay at ~120 MB; violated by one
  45%-hot key, the worker that receives the group pays 3.9x the
  memory (1.8M rows materialized as one pandas frame + its sort copy)
  and the ARM pays 11x the wall — the group is processed by ONE
  worker while 31 cores idle, the straggler form of the memory bug.
  Deployment translation: cap arrow.maxRecordsPerBatch against
  spark.executor.pyspark.memory for map-shaped Python stages; for
  keyed ones the group-size audit above is the memory plan — and the
  one corpus op with unbounded groups (group_zscore_pandas) is an API
  witness whose deployment path is its exchange-free window twin.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tools.replica import build  # noqa: E402
from tools.skew_join_probe import build as build_skew  # noqa: E402
from steampipe_sqlite_spark.plans.registry import collect  # noqa: E402
from steampipe_sqlite_spark.session import get_spark, stop_spark  # noqa: E402


def worker_peak_mb() -> dict:
    """Max VmHWM (peak RSS high-water mark) over live pyspark.daemon
    processes — read post-run, so no sampling race; fresh sessions per
    arm make the peak arm-only."""
    peak_kb, n = 0, 0
    for cmdf in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            if b"pyspark.daemon" not in open(cmdf, "rb").read():
                continue
            status = open(os.path.join(os.path.dirname(cmdf), "status")).read()
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    peak_kb = max(peak_kb, int(line.split()[1]))
                    n += 1
        except OSError:
            continue  # process exited mid-scan
    return {"worker_peak_mb": round(peak_kb / 1024, 1), "workers_seen": n}


def run_arm(label: str, sf_dir: str, fn, conf: dict | None = None) -> dict:
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    spark = get_spark(f"pymem-{label}")
    for k, v in (conf or {}).items():
        spark.conf.set(k, v)
    t0 = time.perf_counter()
    n = fn(spark)
    wall = time.perf_counter() - t0
    out = {"arm": label, "rows": n, "wall_s": round(wall, 2), **worker_peak_mb()}
    stop_spark()
    print(json.dumps(out), flush=True)
    return out


def main() -> None:
    big = int(sys.argv[1]) if len(sys.argv) > 1 else 1000

    spark = get_spark("pymem-build")
    x100 = build(spark, 100, {"embeddings"})
    xbig = build(spark, big, {"embeddings"})
    skew = build_skew(spark, 4_000_000, 400_000)
    stop_spark()

    queries, _ = collect()
    blas = queries["knn_cosine_blas"]

    def run_blas(sf_dir):
        return lambda spark: len(blas(spark, sf_dir).collect())

    def run_ewma(key_col):
        def go(spark):
            from steampipe_sqlite_spark.operators.temporal import ewma_by_key

            facts = spark.read.parquet(
                os.path.join(skew, "facts.parquet")
            ).withColumn("ord", F.xxhash64("pad"))
            if key_col != "key":
                # ~10k-cardinality contract-honoring keying of the SAME rows
                facts = facts.withColumn(
                    "gkey", F.pmod(F.xxhash64("pad", F.lit(7)), F.lit(10_000))
                )
            return ewma_by_key(
                facts, [key_col if key_col == "key" else "gkey"], ["ord"], "val"
            ).count()

        return go

    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    run_arm("blas_x100_batch64k", x100, run_blas(x100))
    run_arm("blas_xbig_batch64k", xbig, run_blas(xbig))
    run_arm("blas_xbig_batch4k", xbig, run_blas(xbig), {batch_conf: "4096"})
    run_arm("ewma_tasksized_keys", skew, run_ewma("gkey"))
    run_arm("ewma_hot_key", skew, run_ewma("key"))


if __name__ == "__main__":
    main()
