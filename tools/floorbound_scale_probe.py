"""Scale probe for the floor-bound headline shapes (round 8).

BENCH's ex-floor>2× set is dominated by queries whose DuckDB twin runs in
10-40 ms at sf0.1 — the ratio there measures Spark's fixed local-mode
overhead against a tiny denominator, not plan quality.  This probe makes
the convergence claim measurable for the two events-table members by
running the REAL corpus query functions and their REAL registered oracles
(via the plans registry — not re-implemented shapes) against a replicated
events fixture: 10× and 100× copies with user_id re-keyed per replica so
per-user event density — the asof window's work unit — is preserved.
PASS = ratio falls toward ~1 as data grows (Spark wall-clock ~flat, the
scan absorbing into the cores, while the single-process engine grows
~linearly).

Usage: python tools/floorbound_scale_probe.py [reps ...]   (default 1 10 100)
Prints one JSON line:
  {"rows": {rep: n},
   "join_asof_events": {rep: {"spark_s", "duckdb_s", "ratio"}},
   "window_tumbling_1h": {...}}

Committed reading (round 8, local[32], sf0.1 base = 100k events, corpus
query forms via the registry):

  reps   rows    join_asof_events s/d (ratio)   window_tumbling_1h s/d (ratio)
    1    100 k    0.322 / 0.031  (10.3×)          0.225 / 0.015  (15.4×)
   10      1 M    0.402 / 0.087  ( 4.6×)          0.220 / 0.016  (14.1×)
  100     10 M    2.483 / 0.831  ( 3.0×)          0.328 / 0.048  ( 6.9×)

  Tumbling: Spark wall-clock is ~FLAT across 100× data (0.23 → 0.33 s;
  the scan absorbs into the cores) — the sf0.1 ratio is fixed overhead
  over a 15 ms denominator.  As-of: both engines grow at 100× (the
  10M-row keyed window sort is real work) but the ratio falls
  monotonically 10.3 → 4.6 → 3.0; the Spark side partitions by user_id
  and scales OUT past one node, which the single-process engine cannot.

Committed reading (round 9 — probe extended to the knn family,
mm_image_decode, and tpch_q3 per VERDICT r8 #2/#4/#5; sessions are now
re-sized per corpus, which surfaced and fixed two engine defects first:
directory-parquet input sizing and AQE size-first coalescing — see
session.py.  spark_s / duckdb_s (ratio), quiet window, best-of-3):

  query                    1×                10×               100×
  knn_cosine_bruteforce    0.43/0.07 (6.6)   0.38/0.28 (1.3)   1.02/1.76 (0.58)
  knn_cosine_blas          0.57/0.07 (8.6)   0.79/0.26 (3.0)   0.44/1.67 (0.26)
  knn_cosine_ivf           0.94/0.16 (5.8)   0.78/1.00 (0.78)  0.95/2.92 (0.32)
  mm_image_decode          0.35/0.03 (10.4)  0.51/0.04 (12.7)  1.60/0.17 (9.2)
  join_asof_events         0.54/0.05 (11.5)  0.82/0.19 (4.4)   3.28/0.64 (5.2)
  window_tumbling_1h       0.53/0.02 (29.9)  0.42/0.03 (15.9)  0.69/0.06 (11.7)
  win_running_sum          0.43/0.05 (9.5)   0.79/0.15 (5.2)   6.90/1.78 (3.9)
  tpch_q3                  0.49/0.07 (6.8)   0.68/0.16 (4.2)   3.24/0.54 (6.0)
  tpch_q5                  0.65/0.06 (10.6)  0.58/0.10 (5.9)   4.39/0.46 (9.5)
  tpch_q9                  0.53/0.06 (8.7)   1.01/0.12 (8.3)   3.49/0.60 (5.8)

  tpch_q5 (arm added round 10 when the committed BENCH_r09 artifact put
  it in the ex-floor set at 2.2): Spark wall is FLAT 1×→10× (0.65 →
  0.58 s — the scan absorbs into the cores) and the ratio more than
  halves; the 100× bump is AQE's replan tax made visible in the
  executed plan — the optimizer statically plans SMJ for
  lineitem⋈orders and customer (so both shuffle WRITES happen, 60M +
  15M rows), then runtime stats convert every join to broadcast and the
  joins read the map output via AQEShuffleRead local.  The sunk shuffle
  writes are the delta vs q3/q9's floor at ~6.  Round-10 window context:
  the 2-stage floor sentinel read 0.224 s during this arm vs 0.13 in
  the r9 rows — the co-tenant tax inflates the Spark column of all
  three readings, so cross-round comparisons should lean on the trend,
  not the absolute ratios.

  knn family: the ratio CROSSES 1 — at 200k vectors the distributed
  scoring paths (expression fold / per-partition GEMM / IVF cell
  pruning) are outright FASTER than the single-process engine; the
  sf0.1 ex-floor readings (2.3–3.1×) are pure fixed overhead over a
  60–170 ms denominator.  mm_image_decode: Spark wall grows linearly
  with full map-only parallelism (0.35 → 1.60 s at 100×) while the
  ratio plateaus ~9–13 — the DuckDB "twin" computes a closed-form
  arithmetic derivation and never touches the binary payloads, so the
  plateau measures Python-decode tax vs a no-op, not a plan defect.
  tpch_q3 / asof: ratios fall to ~5–6 and floor there — at 60M rows the
  broadcast is no longer legal and the SMJ/keyed-window shuffle meets a
  single-process in-memory hash join; the Spark plan is the scale-OUT
  shape, which the comparison engine cannot extend past one node.
  tpch_q9 (row added round 9 when it grazed the 2× ex-floor bar at
  2.17): same family — facts replicated 100×, the
  part/supplier/nation catalog fixed (the DIMS model), so the
  part/supplier joins stay broadcast at every scale and only the
  lineitem⋈orders SMJ grows; ratio 8.7 → 8.3 → 5.8, converging like q3.
Round-10 re-reading of the heavy 100x arms AFTER the data-sized-heap
fix (session._driver_mem — the GC-storm defect the core-elasticity
probe surfaced; spark_s / duckdb_s (ratio), different box/window than
the r9 rows so compare trends, not absolutes):

  tpch_q3           4.23/0.58 (7.25)    tpch_q5   5.31/0.48 (11.2)
  tpch_q9           3.03/0.60 (5.02)    asof      2.37/0.66 (3.62)
  win_running_sum   7.91/3.73 (2.12)

  q9/asof/running-sum improved vs the r9 rows; q3/q5 read higher on
  this window (their SMJ is the shape with the widest window variance).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from pyspark.sql import functions as F

from steampipe_sqlite_spark.plans.registry import collect
from steampipe_sqlite_spark.session import get_spark, stop_spark
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.1"
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache",
    "floorscale",
)
# query name -> table its work scales with (each table is replicated with
# per-replica id re-keying so per-key density / query-set size is preserved:
# events re-keys user_id so the asof window's per-user work unit is constant;
# embeddings and documents re-key only the id, so the fixed query/filter
# sets — vec_id < 10, doc_id % 3 — keep their meaning while the corpus
# side grows).
NAMES = {
    "join_asof_events": ("events",),
    "window_tumbling_1h": ("events",),
    "win_running_sum": ("events",),
    "knn_cosine_bruteforce": ("embeddings",),
    "knn_cosine_blas": ("embeddings",),
    "knn_cosine_ivf": ("embeddings",),
    "mm_image_decode": ("documents",),
    # graph family: the functional two-out-edges graph is LINEAR in the
    # replica corpus (2N edges for N docs), so replication scales the
    # iterative join/aggregate work without the pair-quadratic hazard
    # below — added r13 to give the Pregel shape a measured curve
    "graph_pagerank": ("documents",),
    # mm_image_phash_neardup is deliberately NOT probe-able on this
    # replica fixture: the fake pixel plane is doc_id-arithmetic mod 256,
    # so id-rekeyed replicas multiply each near-dup CLASS's size by reps
    # and the query's pair output grows quadratically in class size —
    # at 100x the run wedges in the (legitimately) pair-sized tail, a
    # fixture artifact, not a plan defect (attempted + reverted r13).
    # Near-dup queries need content-unique scale fixtures.
    "tpch_q3": ("lineitem", "orders", "customer"),
    "tpch_q5": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "tpch_q9": ("lineitem", "orders", "part", "supplier", "nation"),
}

# Dimension tables are NOT replicated (written once at 1×): the realistic
# 100 TB growth model is more order volume over the same part/supplier
# catalog, and it keeps the existing fact rekey recipe valid — lineitem's
# l_partkey/l_suppkey still resolve against the fixed catalog while
# l_orderkey strides with the replicated orders.
DIMS = {"part", "supplier", "partsupp", "nation", "region"}

# (table, column) pairs re-keyed per replica.  Foreign keys share the
# referenced table's stride so join cardinality per key is preserved
# (each replica is a self-contained TPC-H-ish universe).
_REKEY = {
    "events": [("event_id", "events", "event_id"), ("user_id", "events", "user_id")],
    "embeddings": [("vec_id", "embeddings", "vec_id")],
    "documents": [("doc_id", "documents", "doc_id")],
    "customer": [("c_custkey", "customer", "c_custkey")],
    "orders": [
        ("o_orderkey", "orders", "o_orderkey"),
        ("o_custkey", "customer", "c_custkey"),
    ],
    "lineitem": [("l_orderkey", "orders", "o_orderkey")],
}


def _replicate(spark, reps: int, table: str, out: str, strides: dict) -> None:
    df = load_table(spark, SF_DIR, table)
    rep = F.broadcast(spark.range(reps).select(F.col("id").alias("rep")))
    rekeyed = {}
    for col, src_table, src_col in _REKEY.get(table, []):
        key = (src_table, src_col)
        if key not in strides:
            # stride by max+1, not count (sparse ids must not collide)
            strides[key] = (
                load_table(spark, SF_DIR, src_table).agg(F.max(src_col)).first()[0] + 1
            )
        rekeyed[col] = (F.col(col) + F.col("rep") * strides[key]).alias(col)
    rpl = df.crossJoin(rep).select(
        *[rekeyed.get(c, F.col(c)) for c in df.columns]
    )
    # cap the part-file count: reps//2 was fine through 1000x but wrote
    # 5000 files at 10000x — ~2200-map-task shuffles downstream and
    # per-file open overhead in BOTH engines' scans (r14)
    rpl.repartition(min(1024, max(32, reps // 2))).write.mode(
        "overwrite"
    ).parquet(out)


def build(spark, reps: int, tables: set) -> str:
    """Write each replica as <dir>/<table>.parquet so the REAL corpus
    query fns (load_table / register_views on an sf_dir) run against it
    unchanged."""
    sf_dir = os.path.join(SCRATCH, f"x{reps}")
    strides: dict = {}
    for table in sorted(tables):
        out = os.path.join(sf_dir, f"{table}.parquet")
        # Reuse only a COMPLETED write: the committer drops _SUCCESS at
        # commit, so an interrupted build (dir present, no marker) is
        # rebuilt instead of silently reused as the full replica corpus
        # (ADVICE r8; the overwrite mode makes the rebuild safe).
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            continue
        _replicate(spark, 1 if table in DIMS else reps, table, out, strides)
    return sf_dir


def main() -> None:
    names = [
        a for a in sys.argv[1:] if not a.isdigit() and not a.startswith("-")
    ] or list(NAMES)
    reps_list = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 10, 100]
    spark = get_spark("floorscale")
    queries, oracles = collect()
    tables = {t for n in names for t in NAMES[n]}
    rows, results = {}, {n: {} for n in names}
    for reps in reps_list:
        sf_dir = build(spark, reps, tables)
        # Re-derive the session from THIS corpus: shuffle-partition count
        # and AQE are input-sized at session build (session.py), so a
        # session built against sf0.1 would run the 100× replica with 8
        # reducers and no AQE — measuring a misconfigured session, not the
        # engine's sizing policy (round 9: tpch_q3 at 100× read 5.9 s that
        # way vs 3.2 s with the policy applied).
        os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
        stop_spark()
        spark = get_spark("floorscale")
        rows[reps] = {
            t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()
            for t in sorted(tables)
        }
        con = duckdb.connect()
        for t in sorted(tables):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
            )
        for name in names:
            fn = queries[name]
            spark.catalog.clearCache()
            fn(spark, sf_dir).toPandas()  # warm (codegen + page cache)
            con.execute(oracles[name]).df()
            best_s = best_d = float("inf")
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, sf_dir).toPandas()
                best_s = min(best_s, time.perf_counter() - t0)
                t0 = time.perf_counter()
                con.execute(oracles[name]).df()
                best_d = min(best_d, time.perf_counter() - t0)
            rec = {
                "spark_s": round(best_s, 3),
                "duckdb_s": round(best_d, 3),
                "ratio": round(best_s / best_d, 2),
            }
            results[name][reps] = rec
            print(f"# reps={reps} {name}: {rec}", file=sys.stderr)
        con.close()
    print(json.dumps({"rows": rows, **results}))
    # replica corpora are kept for re-runs (a quiet re-measure shouldn't
    # pay the 100× build again); pass --clean to reclaim the disk
    if "--clean" in sys.argv:
        shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
