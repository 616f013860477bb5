"""Benchmark harness (driver contract: the LAST stdout line is one
compact JSON summary).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], best-of-5 per query after a warm-up action, and
prints THREE JSON lines: a full diagnostic line (floor anatomy, noise
sentinels, ex-floor ratios, per-leg interleaved medians + MADs), a small
interleaved_pair_ratios line (per-query [ratio_med, ratio_mad] from the
engine-alternating pairs — ratio drift self-annotates, VERDICT r12 #6),
then a compact summary {"metric","value","unit","queries","duckdb","sf",
...} as the FINAL line — the driver keeps only the last ~2000 stdout
chars, and the single detail line outgrew that window in rounds 8-9
(parsed: null); test_bench_contract pins the compact + ratio lines'
sizes so both fit the tail capture together.

Round-15 additions (VERDICT r14 #2, additions-only — no timing machinery,
schedule, or field changed): a multi-core contention sentinel pair
(noise.mc_before/mc_after — the 1-thread sentinel cannot see the bursty
co-tenant load that inflates 32-thread legs), a per-query
min-across-ALL-runs dict on the detail line, and its one-number rollup
"qmin" on the compact line — the noise-robust reading PERF comparisons
should consult before calling a best-of-5 move a regression.

Also times DuckDB running each query's oracle SQL on the same parquet —
the repo's operative baseline is "engine ≤ 2× DuckDB wall-clock"
(BASELINE.md), so the ratio is part of the output: "duckdb" holds
per-query oracle seconds, "duckdb_total"/"ratio_vs_duckdb" the rollup
(queries without oracle SQL are engine-only and excluded from the ratio).

Headline set: the queries that exercise each execution shape — wide
aggregation, multi-way join, top-k, window, event-time bucketing, minhash
dedup, simhash, vector top-k (exact + IVF), binary decode — the plans that
must stay healthy at scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from steampipe_sqlite_spark.plans.registry import collect
from steampipe_sqlite_spark.session import get_spark

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q18",
    "win_running_sum",
    "window_tumbling_1h",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "knn_cosine_bruteforce",
    "knn_cosine_blas",
    "knn_cosine_ivf",
    "mm_image_decode",
    "join_asof_events",
    "curation_pipeline",
    # round 5: exact set-similarity join (prefix-filtered; 1.81x its
    # brute-force DuckDB oracle at sf0.1 when added)
    "dedup_ppjoin_exact",
    # round 14 (VERDICT r13 #5): the connector bridge path — 200k rows
    # through 8 opaque token chains; the DuckDB twin is same-output
    # generate_series arithmetic (see the query docstring), so this pair
    # tracks absolute bridge throughput, not work parity
    "bridge_paged_scan_bulk",
]

# best-of-5: machine contention on this box (see the noise sentinel and
# BASELINE.md) inflates individual runs 2-5x at random; two extra runs per
# query cost ~20s total and substantially tighten the minimum.
RUNS = 5


def _mc_sentinel() -> float:
    """Multi-core contention sentinel (VERDICT r14 #2): the 1-thread
    DuckDB sentinel below stays at ~6 ms while co-tenant bursts inflate
    the 32-thread Spark legs 2-5x — it provably cannot see the
    interference.  This probe CAN: $SPARK_GRAFT_CPUS threads each sum a
    private 4 MB numpy array 40 times (GIL released inside numpy, so the
    threads genuinely occupy every core); the wall-clock of the slowest
    thread measures how much of the machine this process actually got.
    Quiet-box reading ~0.05-0.15 s; readings several times that mean the
    surrounding measurements were taken under multi-core co-tenant load
    and must not be compared round-over-round as engine regressions."""
    import threading

    import numpy as np

    n = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    arrays = [np.ones(500_000, dtype=np.float64) for _ in range(n)]

    def spin(a):
        s = 0.0
        for _ in range(40):
            s += float(a.sum())
        return s

    threads = [threading.Thread(target=spin, args=(a,)) for a in arrays]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return round(time.perf_counter() - t0, 4)


def _parquet(sf_dir: str, table: str) -> str:
    """DuckDB's read_parquet path for ``table``: the file itself, or the
    part files of a directory Spark wrote (a tools/replica.py replica)."""
    path = f"{sf_dir}/{table}.parquet"
    return path + "/*.parquet" if os.path.isdir(path) else path


def _sentinel(sf_dir: str) -> float:
    """Noise sentinel: a fixed tiny DuckDB aggregation, timed cold.
    BASELINE.md documents multi-second machine noise on this box
    (dedup_minhash_lsh's DuckDB side alone swings 2-9 s between rounds);
    running the sentinel before the Spark pass and after the DuckDB pass
    lets a reader judge how contended THIS run was from the artifact
    itself."""
    import duckdb

    con = duckdb.connect()
    t0 = time.perf_counter()
    con.execute(
        f"SELECT count(*), sum(l_quantity) FROM read_parquet('{_parquet(sf_dir, 'lineitem')}')"
    ).df()
    return round(time.perf_counter() - t0, 4)


def duckdb_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_parquet(sf_dir, t)}')")
    return con


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    queries, oracles = collect()

    # warm the JVM + parquet footers once
    queries["tpch_q6"](spark, sf_dir).toPandas()
    sentinel_before = _sentinel(sf_dir)
    mc_before = _mc_sentinel()

    def _n_jobs() -> int:
        # DAGScheduler's job counter: cheap, exact, and local-mode only —
        # used to attribute the per-job scheduling floor to each query
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    # Run schedule: per query, one untimed warm-up PAIR then RUNS
    # engine-ALTERNATING pairs — Spark(q), DuckDB(q), ×RUNS — best per
    # engine.  Two failure modes shaped this:
    #   1. BURSTY co-tenant noise (BASELINE.md: spikes inflate runs 2-5×
    #      while a 1-thread sentinel stays at 6 ms).  The r5/r6 committed
    #      artifacts both read >2× because the old schedule ran the WHOLE
    #      Spark phase before the WHOLE DuckDB phase: a burst landing in
    #      one phase but not the other moves the ratio even though best-of
    #      protects each engine individually.  Pairing the engines run-by-
    #      run on the SAME query makes any burst symmetric in the ratio.
    #   2. Locality: full round-robin over all 17 queries re-faults the
    #      page cache / JIT profile the other queries evicted (~40% worse,
    #      measured — DEADENDS.md).  Alternating
    #      engines WITHIN one query keeps its data hot (both engines read
    #      the same parquet pages).
    def timed_run(name: str) -> float:
        # a fresh DataFrame per run: re-executing one DataFrame object
        # skips its completed shuffle stages (DAG-scheduler stage reuse),
        # which DuckDB's full re-runs do not get
        fn = queries[name]
        # drop persisted intermediates from prior runs: keeps each run
        # self-contained and the timings low-variance
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        # toPandas = the Arrow materialization path — symmetric with
        # DuckDB's .df(); row-object collect() pays per-row pickling that
        # no real consumer of either engine pays
        fn(spark, sf_dir).toPandas()
        return time.perf_counter() - t0

    con = duckdb_connect(sf_dir)

    def duck_run(name: str) -> float:
        t0 = time.perf_counter()
        con.execute(oracles[name]).df()  # Arrow→pandas materialization
        return time.perf_counter() - t0

    # DISCARDED global warm pass (VERDICT r7 #1): one untimed Spark+DuckDB
    # run of EVERY headline query before any measurement.  The paired
    # schedule alone left a head-of-schedule penalty — tpch_q1 measured
    # 0.285 s best-of-5 at position 0 but 0.166 s when re-sampled at the
    # tail of the SAME process (committed probe, round 8): the first
    # queries pay JIT tiering + page-cache population the rest inherit.
    # Warming the whole schedule first puts every query at "tail"
    # conditions.  The pass doubles as the job-anatomy measurement: job
    # count and Python-stage detection per query (floor_anatomy below).
    # Min ACROSS ALL RUNS (VERDICT r14 #2): every execution of a query in
    # this process — the anatomy pass, the untimed warm-up pair, and the 5
    # timed runs — is a sample of the same computation; the minimum over
    # all ~7 is the most noise-robust per-query reading this box can give
    # (BASELINE.md: bursts inflate individual runs 2-5x at random).  The
    # contract "queries" field keeps its exact best-of-5 semantics; this
    # rides alongside (detail line + 3rd element of each pair-ratio entry).
    best_all: dict[str, float] = {name: float("inf") for name in HEADLINE}

    anatomy: dict[str, dict] = {}
    for name in HEADLINE:
        fn = queries[name]
        spark.catalog.clearCache()
        j0 = _n_jobs()
        t0_an = time.perf_counter()
        df = fn(spark, sf_dir)
        df.toPandas()
        best_all[name] = min(best_all[name], time.perf_counter() - t0_an)
        jobs = _n_jobs() - j0  # includes any helper offset-collect jobs —
        # they run on every invocation, so they belong to the query's cost
        plan = df._jdf.queryExecution().executedPlan().toString()
        anatomy[name] = {
            "jobs": jobs,
            "python_stage": any(
                m in plan
                for m in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                          "BatchEvalPython", "MapInArrow")
            ),
        }
        if name in oracles:
            duck_run(name)

    # Each query's RUNS samples per engine are kept, not just the min:
    # the focused-A/B statistics (median + MAD per leg, and the per-PAIR
    # spark/duckdb ratio median + MAD — the engine-alternating schedule
    # makes each pair share its noise window) ride along in the artifact,
    # so a best-of-5 ratio drift self-annotates instead of costing a
    # round of tools/ab.py attribution (VERDICT r12 #6; r10
    # mm_image_decode and r11→r12 window_tumbling_1h were both this).
    from tools.ab import med_mad as _med_mad

    best: dict[str, float] = {name: float("inf") for name in HEADLINE}
    duck: dict[str, float] = {}
    interleaved: dict[str, dict] = {}
    pair_ratios: dict[str, list[float]] = {}
    for name in HEADLINE:
        has_oracle = name in oracles
        # untimed warm-up pair: codegen compilation and the JIT's
        # profiling tiers need executions before a query reaches steady
        # state (q1 was measured 2× slower on its first post-construction
        # runs); DuckDB gets the symmetric treatment (ADVICE r4)
        best_all[name] = min(best_all[name], timed_run(name))
        if has_oracle:
            duck_run(name)
        s_samples: list[float] = []
        d_samples: list[float] = []
        for _ in range(RUNS):
            s = timed_run(name)
            s_samples.append(s)
            best[name] = min(best[name], s)
            best_all[name] = min(best_all[name], s)
            if has_oracle:
                d_samples.append(duck_run(name))
        s_med, s_mad = _med_mad(s_samples)
        interleaved[name] = {
            "spark_med": round(s_med, 3),
            "spark_mad": round(s_mad, 3),
        }
        if has_oracle:
            d_med, d_mad = _med_mad(d_samples)
            duck[name] = round(min(d_samples), 3)
            interleaved[name]["duckdb_med"] = round(d_med, 3)
            interleaved[name]["duckdb_mad"] = round(d_mad, 3)
            r_med, r_mad = _med_mad(
                [s / d for s, d in zip(s_samples, d_samples) if d > 0]
            )
            pair_ratios[name] = [round(r_med, 2), round(r_mad, 2)]
    per_query = {name: round(v, 3) for name, v in best.items()}
    # full per-query dict rides the DETAIL line (the driver's 2000-char
    # tail capture has no room for 18 more names; BENCH_BUILDER_r{N}.jsonl
    # archives the detail line); the compact contract line carries the
    # one-number rollup "qmin_total" below.
    per_query_min_all = {name: round(v, 3) for name, v in best_all.items()}

    # Framework floor: the cheapest possible scan→shuffle→toPandas query
    # (a 1M-row range with an 8-key aggregation — no parquet, no real
    # compute).  Local-mode Spark pays ~0.2-0.3 s of job-submission, task
    # scheduling, and Arrow-collection cost per query regardless of plan;
    # queries whose best time sits at this floor have no plan-level
    # headroom left, and the honest per-query comparison vs an in-process
    # engine is (query - floor).
    import pyspark.sql.functions as F

    floor = float("inf")
    for _ in range(RUNS):
        t0 = time.perf_counter()
        spark.range(1_000_000, numPartitions=32).groupBy(
            (F.col("id") % 8).alias("k")
        ).count().toPandas()
        floor = min(floor, time.perf_counter() - t0)

    # Floor anatomy (VERDICT r7 #5): predict each query's irreducible
    # overhead from its measured job count and execution path, so a
    # floor-bound ex-floor ratio is a PREDICTED number, not an excuse.
    #   floor_python: the same minimal shape but through a mapInPandas
    #     stage — Python worker handshake + two Arrow hops, the honest
    #     1-job floor for any query with a Python stage;
    #   floor_marginal_job: cost of ONE extra job in the same action
    #     (a broadcast-collect alongside the main job), the increment for
    #     each job beyond the first.
    def _py_identity(it):
        yield from it

    floor_py = float("inf")
    py_shape = spark.range(100_000, numPartitions=4).select(
        (F.col("id") % 8).alias("k")
    )
    for _ in range(RUNS):
        t0 = time.perf_counter()
        py_shape.mapInPandas(_py_identity, "k long").groupBy("k").count().toPandas()
        floor_py = min(floor_py, time.perf_counter() - t0)
    floor_2job = float("inf")
    small = spark.range(8, numPartitions=1).select(F.col("id").alias("k"))
    base = spark.range(1_000_000, numPartitions=32).select(
        (F.col("id") % 8).alias("k")
    )
    for _ in range(RUNS):
        t0 = time.perf_counter()
        base.join(F.broadcast(small), "k").groupBy("k").count().toPandas()
        floor_2job = min(floor_2job, time.perf_counter() - t0)
    marginal_job = max(floor_2job - floor, 0.0)
    floor_anatomy = {}
    for name, a in anatomy.items():
        base_floor = floor_py if a["python_stage"] else floor
        a["predicted_floor_s"] = round(
            base_floor + max(a["jobs"] - 1, 0) * marginal_job, 3
        )
        floor_anatomy[name] = a

    noise = {
        "sentinel_before": sentinel_before,
        "sentinel_after": _sentinel(sf_dir),
        # multi-core contention probe (VERDICT r14 #2) — see _mc_sentinel
        "mc_before": mc_before,
        "mc_after": _mc_sentinel(),
    }
    total = round(sum(per_query.values()), 3)
    comparable = [n for n in HEADLINE if n in duck]
    eng_comp = sum(per_query[n] for n in comparable)
    duck_comp = sum(duck[n] for n in comparable)
    # Floor-adjusted per-query ratios: the conf-sweep (BASELINE.md round
    # 6) found the ~0.12 s 2-stage floor irreducible at the settings
    # level (locality.wait, revive.interval, compression, arrow batch,
    # GC all measured neutral-or-worse), so (query − floor)/duckdb is
    # the honest plan-quality number for an in-process-engine comparison
    # — it is what the 10×/100× scaling probes converge to as the floor
    # amortizes.  Since r8 the subtracted floor is PER QUERY: the
    # measured floor_anatomy prediction (execution-path base + measured
    # jobs × measured marginal-job cost), capped at the query's own time
    # — a multi-job or Python-stage query pays a measured, not asserted,
    # overhead budget.  Clamped at 0 for queries at their floor.
    ratio_ex_floor = {
        n: round(
            max(per_query[n] - floor_anatomy[n]["predicted_floor_s"], 0.0)
            / duck[n],
            2,
        )
        for n in comparable
        if duck[n] > 0
    }
    # Full diagnostic line (floor anatomy, noise sentinels, ex-floor
    # ratios) — for humans and BENCH_INTERLEAVED-style analysis.
    print(
        json.dumps(
            {
                "metric": "headline_total_best_of_5_detail",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "duckdb": duck,
                "duckdb_total": round(duck_comp, 3),
                "per_query_min_across_runs": per_query_min_all,
                "spark_stage_floor": round(floor, 3),
                "spark_python_floor": round(floor_py, 3),
                "spark_marginal_job": round(marginal_job, 3),
                "floor_anatomy": floor_anatomy,
                "noise": noise,
                # kept for the archived artifact schema: tables are always
                # read from their parquet files
                "deployed_layouts": [],
                "ratio_vs_duckdb": round(eng_comp / duck_comp, 3) if duck_comp else None,
                "ratio_ex_floor_per_query": ratio_ex_floor,
                # per-leg interleaved medians + MADs (full resolution —
                # this is the line BENCH_BUILDER_r{N}.jsonl archives)
                "interleaved": interleaved,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    # Per-PAIR ratio medians + MADs as their own middle line (~450
    # chars): the engine-alternating schedule makes each spark/duckdb
    # pair share its noise window, so [ratio_med, ratio_mad] per query is
    # the statistic that answers "is a best-of-5 ratio move real" without
    # a follow-up tools/ab.py run.  Kept SEPARATE from the compact
    # contract line (which must stay small) but small enough that the
    # driver's ~2000-char tail capture carries it alongside the compact
    # line — the archived BENCH_r{N}.json tail self-annotates drift.
    ratio_med_total = None
    im_comp = [n for n in comparable if "duckdb_med" in interleaved[n]]
    s_med_sum = sum(interleaved[n]["spark_med"] for n in im_comp)
    d_med_sum = sum(interleaved[n]["duckdb_med"] for n in im_comp)
    if d_med_sum:
        ratio_med_total = round(s_med_sum / d_med_sum, 3)
    print(
        json.dumps(
            {
                "metric": "interleaved_pair_ratios",
                "ratios": pair_ratios,
                "ratio_med_total": ratio_med_total,
            }
        )
    )
    # Compact contract line LAST (VERDICT r9 #3): the driver's tail
    # capture truncated the detail line in r8/r9 leaving "parsed": null,
    # so the machine-readable summary — totals + per-query spark/duckdb
    # seconds only — must be the final stdout line and stay small.
    # "noise" carries the sentinel pair (VERDICT r10 #8) so every archived
    # BENCH_rN.json records its own co-tenant-load context: readings with
    # sentinels well above the ~0.006 s quiet-box value were taken under
    # load and must not be compared as engine regressions.
    print(
        json.dumps(
            {
                "metric": "headline_total_best_of_5",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "duckdb": duck,
                "duckdb_total": round(duck_comp, 3),
                "ratio_vs_duckdb": round(eng_comp / duck_comp, 3) if duck_comp else None,
                # interleaved-medians rollup: when this and
                # ratio_vs_duckdb disagree, the best-of-5 number drifted
                # on noise — see the interleaved_pair_ratios line above
                "ratio_med": ratio_med_total,
                # min-across-ALL-runs rollup (VERDICT r14 #2): sum of each
                # query's minimum over every execution this process made
                # (anatomy + warm-ups + the 5 timed runs) — the noise-
                # robust total; per-query detail is on the first line
                "qmin": round(sum(best_all.values()), 3),
                "noise": {k: round(v, 4) for k, v in noise.items()},
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
