"""SparkSession factory tuned for this engine.

Local mode is the test bed (local[N], one JVM); the settings below are chosen
so the same code scales to a multi-executor cluster:

- AQE auto (runtime re-plan, skew-join splitting, partition coalescing):
  always on at cluster data volumes — it replaces hand-tuned partition
  counts at 100 TB — but skipped below 1 GiB of input where its per-stage
  re-planning is measurable overhead and there is nothing to coalesce.
- shuffle.partitions sized to the INPUT DATA (32 MB per partition), not
  the core count — correct at 17 MB and at 100 TB alike.
- Scan split size left at Spark's default: tables.compacted_path already
  rewrites a single-row-group fixture into K one-row-group files (a
  build-once copy owned by derived.py), so file scans fan out without a
  split-size override (DEADENDS.md).
- Arrow enabled for every Python<->JVM hop (Pandas UDFs, createDataFrame,
  Python DataSource batches).
- Session timezone pinned UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# One shuffle partition per this many input bytes. Post-shuffle data is
# usually no larger than its input, so this keeps every reducer partition
# comfortably in memory while bounding task-scheduling overhead: 17 MB of
# sf0.1 parquet → 8 partitions; 100 TB → ~3M initial partitions, which is
# what AQE coalescing is designed to shrink at runtime.
_BYTES_PER_SHUFFLE_PARTITION = 32 << 20

# Below this much input, adaptive execution is pure overhead: AQE breaks
# each query into per-shuffle-stage jobs and re-plans between them
# (measured here: +0.1–0.4 s per query at sf0.1, where every shuffle is
# <20 MB and there is nothing to coalesce or skew-split). At or above the
# threshold — any realistic cluster run — AQE is always on.
_AQE_MIN_INPUT_BYTES = 1 << 30

# Generated classes the JVM keeps compiled (spark.sql.codegen.cache.
# maxEntries; Spark's default is 100).  Measured at sf0.01 on local[4]:
# one perfbench `corpus` cycle compiles 328 distinct classes, so at
# 100 the LRU evicts each class before its plan comes round again and
# every cycle recompiles all of them (Janino, then the JIT).  1000 holds
# that cycle three times over.  The whole 293-query warm pass compiles
# 3,727 distinct classes, but a 5000-entry cache that keeps them all
# raised the pass's peak RSS from 3,785 to 4,253 MB (+12%), against
# 3,954 MB (+4.5%) at 1000.  A static conf: the JVM reads it once, when
# it compiles its first class.
_CODEGEN_CACHE_ENTRIES = 1000


def _driver_mem(nbytes: int) -> str:
    """Heap sized to the data, like shuffle partitions and AQE.

    Measured (BASELINE.md "Round-10: core elasticity measured"): a 16g
    heap is stable for 32-thread sort-merge joins at sf0.1 but suffers
    PROGRESSIVE GC storms on GB-scale inputs — repeated tpch_q3 runs on
    the 100× replica (60M-row SMJ, local[32]) read 84 → 245 → 310 JVM
    CPU-seconds (wall 4.4 → 17.1 s) as old-gen pressure accumulated,
    while a 32g heap held 74–86 CPU-s / 3.8–4.6 s wall across every run.
    At 16 threads the allocation rate halves and 16g suffices — the
    pathology is cores × data, so the heap follows the same input-sizing
    policy as the rest of the session.  Explicit SPARK_GRAFT_DRIVER_MEM
    always wins (smaller boxes, CI containers)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return "32g" if nbytes >= _AQE_MIN_INPUT_BYTES else "16g"


def _input_bytes() -> int:
    """Total size of the parquet inputs the session will read (from
    $SPARK_GRAFT_SF_DIR), or 0 if unknown.

    A ``<table>.parquet`` entry may be a single file (the driver's
    testdata) or a DIRECTORY of part files (anything Spark wrote —
    replica corpora, compacted caches).  ``os.path.getsize`` on a
    directory returns the dirent size (~4 KB), which under-counted a
    1.5 GB replica as ~24 KB and left the session sized for sf0.1 —
    8 reducers and no AQE against 60M rows (round 9, found via the
    floor-bound probe: tpch_q3 read 5.9 s at 100× under the missized
    session)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def _size(path: str) -> int:
        # Per-file tolerance (ADVICE r9): a temp/part file deleted
        # concurrently mid-walk must not discard the accumulated total —
        # returning 0 sizes the session as "unknown input" (AQE off,
        # minimum reducers), the exact missizing this walk exists to fix.
        try:
            return os.path.getsize(path)
        except OSError:
            return 0

    total = 0
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(_size(os.path.join(root, f)) for f in files)
        else:
            total += _size(p)
    return total


def _shuffle_partitions(nbytes: int, cpus: int) -> int:
    """Size the initial shuffle partition count to the DATA, not the core
    count: a fixed `cores` setting means 32 near-empty reducer tasks per
    stage at test scale (measured 0.2–0.4 s/query of pure scheduling) and
    would be far too FEW at 100 TB. Data-derived, it is right at both ends."""
    data = nbytes // _BYTES_PER_SHUFFLE_PARTITION
    return max(8, min(cpus * 4, data)) if data else max(8, cpus // 4)


def _aqe_enabled(nbytes: int) -> bool:
    return nbytes >= _AQE_MIN_INPUT_BYTES


def get_spark(app_name: str = "steampipe_sqlite_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    n = str(cpus or _DEFAULT_CPUS)
    nbytes = _input_bytes()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(_shuffle_partitions(nbytes, int(n))))
        .config("spark.sql.adaptive.enabled", str(_aqe_enabled(nbytes)).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Keep Spark's default parallelismFirst=TRUE: coalescing toward
        # the 64 MB advisory size was measured 2.5× slower on CPU-heavy
        # post-shuffle stages at 100× sf0.1 (join_asof_events keyed-window
        # sort 4.1 s → 10.4–13.2 s; tpch_q3 SMJ 4.2 s → 6.3–14.9 s) —
        # size-first coalescing starves the sort/join of cores exactly
        # when the work is largest.  Cost of parallelism-first: ~0.5 s of
        # near-empty reducer scheduling on cheap hash aggregates
        # (window_tumbling_1h 0.46 → 0.95 s at 100×) — the right side of
        # the trade at every scale where AQE is on (round 9, measured via
        # the 100x replica; BASELINE.md "Round-9: floor-bound convergence").
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", _driver_mem(nbytes))
        # Scheduler mode: FIFO default (single-workload batch bed).
        # SPARK_GRAFT_SCHEDULER=fair enables FAIR job scheduling for
        # mixed interactive workloads — measured by
        # tools/concurrency_probe.py (FIFO head-of-line blocking vs
        # FAIR tiny-query latency under a heavy concurrent scan).
        .config(
            "spark.scheduler.mode",
            os.environ.get("SPARK_GRAFT_SCHEDULER", "FIFO").upper(),
        )
        # FAIR mode alone is not enough: with no allocation file every job
        # lands in the auto-built "default" pool whose internal mode is
        # hard-coded FIFO (FairSchedulableBuilder.buildDefaultPool), so
        # task scheduling stays head-of-line.  Ship an allocation file
        # declaring the default pool FAIR so round-robin across concurrent
        # jobs is real without per-job spark.scheduler.pool setup
        # (ADVICE r10; re-measured by tools/concurrency_probe.py).
        .config(
            "spark.scheduler.allocation.file",
            os.path.join(os.path.dirname(__file__), "fairscheduler.xml"),
        )
        # UI off by default (test-bed hygiene: no port squatting, less
        # startup); SPARK_GRAFT_UI=on exposes the REST status API the
        # measurement probes read task/spill metrics from.
        .config(
            "spark.ui.enabled",
            "true"
            if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "on", "true")
            else "false",
        )
        .config("spark.sql.parquet.filterPushdown", "true")
        # enable pushFilters on Python data sources (the connector bridge)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
