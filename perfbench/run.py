"""Closed-loop benchmark of the engine: ``corpus`` and ``bridge``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

One run sets up a Spark session, runs one untimed cold execution of every
op type of the workload, then runs whole shuffled cycles of the workload's
ops (one client, closed loop): as many as take about ``--seconds`` on a
4-core box, at least one, the same number on every run.

The parquet tables are generated inside the checkout (``datagen.py``);
``PERFBENCH_SF_DIR=<dir>`` runs on an existing directory of the same ten
tables instead, such as the engine's sf0.01 test fixtures.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the pinned environment and the ``bench._mc_sentinel`` readings
taken before and after the run.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
same untraced window, then a traced window and a second untraced window
of the same length, and reports the per-layer metrics (see
``perfbench/README.md``): spans around
the calls into each layer, Spark's status store and ``/proc``.  The spans
are written to ``perfbench/_work/`` when the run ends.

An end-to-end window with more than 5% CPU steal (time the hypervisor gives
to other guests) is run once more and the window with less steal is
reported.  Every result of every window is checked against an oracle after
the windows (value hash of the pandas frame); failures count in ``failed``.
"""

from __future__ import annotations

import argparse
import hashlib
import itertools
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import workloads as W  # noqa: E402
from spans import SparkStatus, Tracer, page_gaps_ms, patch_engine, read_call_log  # noqa: E402

END_TO_END = (
    ("setup_s", "s"),
    ("throughput_qps", "ops/s"),
    ("cpu_s_per_op", "s"),
    ("peak_rss_mb", "MB"),
)
# an op slower than this counts as failed (timed out)
OP_TIMEOUT_S = 60.0
# the layer spans must cover each traced op's wall to within this share
UNATTRIBUTED_MAX = 0.10
# an end-to-end window during which the hypervisor gives more than this
# share of the machine's CPU to other guests is measured once more, and the
# window with less steal is reported: co-tenant bursts of 10-27% steal
# slowed every op of a window by up to 45%
STEAL_RETRY = 0.05
DRIVER_MEM = "1g"


def per_layer_spec() -> list[tuple[str, str]]:
    names = [
        ("session.get_spark_s", "s"),
        ("engine.load_s", "s"),
        ("engine.sql_s", "s"),
        ("engine.configure_s", "s"),
        ("plans.construct_s", "s"),
        ("plans.construct_jobs", "count"),
        ("catalyst.plan_s", "s"),
        ("exec.action_s", "s"),
        ("exec.jobs_per_op", "count"),
        ("exec.stages_per_op", "count"),
        ("exec.tasks_per_op", "count"),
        ("exec.task_run_s", "s"),
        ("exec.task_cpu_s", "s"),
        ("exec.gc_s", "s"),
        ("exec.shuffle_write_mb", "MB"),
        ("exec.spill_mb", "MB"),
        ("exec.jvm_cpu_s_per_op", "s"),
        ("exec.pyworker_cpu_s_per_op", "s"),
        ("sources.pages_per_op", "count"),
        ("sources.fetch_amplification", "ratio"),
        ("sources.cache_hit_ratio", "ratio"),
        ("sources.page_gap_ms_p50", "ms"),
        ("sources.scan_task_s_p50", "s"),
        ("sources.execute_rows_per_s", "rows/s"),
        ("sources.retries", "count"),
        ("failed_frac", "ratio"),
        ("latency_p50_s", "s"),
        ("latency_p90_s", "s"),
        ("trace.overhead_frac", "ratio"),
        ("trace.unattributed_frac_max", "ratio"),
    ]
    for wl in W.WORKLOADS:
        names += [(f"op.{op.name}.p50_s", "s") for op in W.workload(wl).ops]
    return names


# -- environment ---------------------------------------------------------------


def repo_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "steampipe_sqlite_spark")) and os.path.isfile(
        os.path.join(ROOT, "bench.py")
    )


def pin_env(sf_dir: str) -> dict[str, str]:
    """Environment every run uses; returned so the output records it."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    pins = {
        # session.py defaults to 32 threads; use the cores this process has
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_SF_DIR": sf_dir,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # a fixed-size driver heap, so peak RSS does not follow GC sizing
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell",
    }
    os.environ.update(pins)
    for var in ("SPARK_GRAFT_UI", "STEAMPIPE_CACHE", "SPARK_GRAFT_AQE", "OMP_NUM_THREADS"):
        os.environ.pop(var, None)
    return pins


# -- oracles -------------------------------------------------------------------


def _frame_hash(pdf) -> str:
    from tools.selfcheck import value_hash

    return value_hash(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def parquet_oracles(names: tuple[str, ...], sf_dir: str) -> dict[str, str]:
    """Oracle hashes of the registry's DuckDB SQL, cached per data
    directory and SQL text (a changed generator writes a new directory)."""
    from bench import duckdb_connect
    from steampipe_sqlite_spark.plans.registry import collect

    _, oracles = collect()
    cache_path = os.path.join(WORK, "oracle_hashes.json")
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        cache = {}
    out: dict[str, str] = {}
    con = None
    for name in names:
        key = hashlib.sha256(f"{os.path.realpath(sf_dir)}\n{oracles[name]}".encode()).hexdigest()
        if key not in cache:
            con = con or duckdb_connect(sf_dir)
            cache[key] = _frame_hash(con.execute(oracles[name]).df())
        out[name] = cache[key]
    if con is not None:
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return out


def bridge_oracles() -> dict[tuple[str, str], str]:
    """(op name, region set) -> hash; ``live`` always has ``LIVE_CHAINS``."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for shape in W.BRIDGE_SHAPES:
        out[(f"live_{shape}", "live")] = _frame_hash(
            con.execute(W.bridge_oracle_sql(shape, W.LIVE_CHAINS)).df()
        )
        for region, chains in W.REGION_SETS.items():
            out[(f"hot_{shape}", region)] = _frame_hash(
                con.execute(W.bridge_oracle_sql(shape, chains)).df()
            )
    con.close()
    return out


# -- running ops ---------------------------------------------------------------


@dataclass
class Result:
    op: W.Op
    latency_s: float
    frame: object | None
    error: str | None
    region: str  # oracle key: region set for hot ops, "live" or "" otherwise
    jobs: tuple[int, int, int] = (0, 0, 0)  # job ids: op start, after construct, end


class Runner:
    def __init__(self, spark, wl: W.Workload, sf_dir: str, tracer: Tracer):
        from steampipe_sqlite_spark.engine import Engine
        from steampipe_sqlite_spark.plans.registry import collect

        self.spark = spark
        self.wl = wl
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.status = SparkStatus(spark)
        queries, _ = collect()
        # bypass the registry plan cache, as bench.py does
        self.plans = {
            op.arg: getattr(queries[op.arg], "__wrapped__", queries[op.arg])
            for op in wl.ops
            if op.kind == "plan"
        }
        self.call_logs = W.call_log_paths(WORK, wl)
        self.region = dict(wl.connections)
        self.engine = Engine(spark) if wl.connections else None

    def config(self, conn: str) -> str:
        chains = W.LIVE_CHAINS if conn == "live" else W.REGION_SETS[self.region[conn]]
        return W.bridge_config(chains, cache=conn != "live", call_log=self.call_logs[conn])

    def load(self) -> None:
        for conn in self.wl.connections:
            self.engine.load(W.PAGED, alias=conn, config=self.config(conn))

    def reset(self) -> None:
        """Put every connection back on its first region set (untimed)."""
        for conn, first in self.wl.connections.items():
            if self.region[conn] != first:
                self.region[conn] = first
                self.engine.configure(conn, self.config(conn))

    def run(self, op: W.Op) -> Result:
        tr = self.tracer
        if op.kind == "plan":
            # drop persisted intermediates of earlier ops, as bench.py does
            self.spark.catalog.clearCache()
        region = self.region.get(op.conn, "")
        j0 = self.status.next_job_id()
        j1 = j0
        frame = error = None
        t0 = time.perf_counter()
        try:
            with tr.span("op." + op.name):
                if op.kind == "configure":
                    self.region[op.conn] = "b" if region == "a" else "a"
                    region = self.region[op.conn]
                    self.engine.configure(op.conn, self.config(op.conn))
                else:
                    if op.kind == "plan":
                        with tr.span("plans.construct"):
                            df = self.plans[op.arg](self.spark, self.sf_dir)
                    else:
                        df = self.engine.sql(op.arg)
                    j1 = self.status.next_job_id()
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.action"):
                        frame = df.toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
        latency = time.perf_counter() - t0
        return Result(op, latency, frame, error, region, (j0, j1, self.status.next_job_id()))


def run_window(runner: Runner, seconds: float, seed: int) -> tuple[list[Result], float]:
    """The workload's whole cycles for a window of about ``seconds``."""
    results: list[Result] = []
    runner.reset()
    n = len(runner.wl.ops) * runner.wl.cycles(seconds)
    t0 = time.perf_counter()
    for _, op in itertools.islice(runner.wl.schedule(seed), n):
        runner.tracer.op = len(results)
        results.append(runner.run(op))
    runner.tracer.op = None
    return results, time.perf_counter() - t0


@dataclass
class Window:
    results: list[Result]
    wall: float
    cpu: dict[str, float]  # CPU seconds of the process tree, by process kind
    steal: float  # machine-wide steal share


def measure_window(runner: Runner, seconds: float, seed: int) -> Window:
    cpu0, machine0 = procstat.cpu_by_kind(procstat.tree()), procstat.cpu_times()
    results, wall = run_window(runner, seconds, seed)
    cpu1, machine1 = procstat.cpu_by_kind(procstat.tree()), procstat.cpu_times()
    return Window(results, wall, {k: cpu1[k] - cpu0[k] for k in cpu1}, procstat.steal_frac(machine0, machine1))


def steady_windows(runner: Runner, seconds: float, seed: int) -> list[Window]:
    """One window, and a second one when the first had more steal than
    ``STEAL_RETRY``; the caller reports the one with less steal."""
    windows = [measure_window(runner, seconds, seed)]
    if windows[0].steal > STEAL_RETRY:
        windows.append(measure_window(runner, seconds, seed))
    return windows


def check(results: list[Result], oracles: dict) -> list[str]:
    """Mark each result; returns one line per failed op."""
    failures = []
    for r in results:
        if r.error is None and r.latency_s > OP_TIMEOUT_S:
            r.error = f"timed out: {r.latency_s:.1f} s"
        if r.error is None and r.op.kind != "configure":
            key = r.op.arg if r.op.kind == "plan" else (r.op.name, r.region)
            if _frame_hash(r.frame) != oracles.get(key):
                r.error = "wrong result (value hash differs from the oracle)"
        if r.error is not None:
            failures.append(f"{r.op.name}: {r.error}")
        r.frame = None
    return failures


# -- metrics -------------------------------------------------------------------


def failed_frac(results: list[Result]) -> float:
    return sum(r.error is not None for r in results) / len(results)


def result_line(values: dict[str, float], spec, results: list[Result], cold_failures) -> dict:
    """The last stdout line: correctness, op counts and every metric of ``spec``."""
    failed = sum(r.error is not None for r in results)
    return {
        "correct": failed == 0 and not cold_failures,
        "attempted": len(results),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in spec},
    }


def _p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def end_to_end(results, wall, setup_s, cpu_s, peak_bytes) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "throughput_qps": len(results) / wall,
        "cpu_s_per_op": cpu_s / len(results),
        "peak_rss_mb": peak_bytes / 2**20,
    }


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(
    runner: Runner,
    tracer: Tracer,
    setup_spans: dict[str, float],
    untraced: list[Result],
    untraced_qps: float,
    traced: list[Result],
    traced_wall: float,
    cpu_kind: dict[str, float],
    calls: dict[str, list[dict]],
) -> dict[str, float]:
    m = {name: 0.0 for name, _ in per_layer_spec()}
    n = len(traced)
    spans = [s for s in tracer.spans if s.op is not None]
    own = tracer.self_times(spans)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    m["session.get_spark_s"] = setup_spans.get("session.get_spark", 0.0)
    m["engine.load_s"] = setup_spans.get("engine.load", 0.0)
    m["engine.sql_s"] = _mean(s.dur for s in by_name.get("engine.sql", []))
    m["engine.configure_s"] = _mean(s.dur for s in by_name.get("engine.configure", []))
    m["plans.construct_s"] = _mean(s.dur for s in by_name.get("plans.construct", []))
    plan_results = [r for r in traced if r.op.kind == "plan"]
    m["plans.construct_jobs"] = _mean(r.jobs[1] - r.jobs[0] for r in plan_results)
    m["catalyst.plan_s"] = _mean(s.dur for s in by_name.get("catalyst.plan", []))
    m["exec.action_s"] = _mean(s.dur for s in by_name.get("exec.action", []))
    roots = [s for s in spans if s.parent is None]
    m["trace.unattributed_frac_max"] = max((own[s.id] / s.dur for s in roots if s.dur > 0), default=0.0)

    status = runner.status
    status.drain()
    bridge = bool(runner.wl.connections)
    jobs = stages = tasks = 0
    run_s = cpu_s = gc_s = 0.0
    shuffle_b = spill_b = 0
    scan_task_s: list[float] = []
    for r in traced:
        stats = status.stages_of_jobs(r.jobs[1], r.jobs[2], with_tasks=bridge)
        jobs += r.jobs[2] - r.jobs[1]
        stages += len(stats)
        for st in stats:
            tasks += st.tasks
            run_s += st.run_s
            cpu_s += st.cpu_s
            gc_s += st.gc_s
            shuffle_b += st.shuffle_write_b
            spill_b += st.spill_b
        if bridge and stats:
            # the leaf stage (lowest id) is the connector scan
            scan_task_s += stats[0].task_s
    m["exec.jobs_per_op"] = jobs / n
    m["exec.stages_per_op"] = stages / n
    m["exec.tasks_per_op"] = tasks / n
    m["exec.task_run_s"] = run_s / n
    m["exec.task_cpu_s"] = cpu_s / n
    m["exec.gc_s"] = gc_s / n
    m["exec.shuffle_write_mb"] = shuffle_b / 2**20 / n
    m["exec.spill_mb"] = spill_b / 2**20 / n
    m["exec.jvm_cpu_s_per_op"] = cpu_kind["jvm"] / n
    m["exec.pyworker_cpu_s_per_op"] = cpu_kind["pyworker"] / n

    if bridge:
        queries = [r for r in traced if r.op.kind == "sql"]
        fetched = {c: len(v) for c, v in calls.items()}
        required = {c: 0 for c in calls}
        for r in queries:
            chains = W.LIVE_CHAINS if r.op.conn == "live" else W.REGION_SETS[r.region]
            required[r.op.conn] += W.required_pages(r.op.shape, chains)
        all_calls = [c for v in calls.values() for c in v]
        m["sources.pages_per_op"] = len(all_calls) / max(len(queries), 1)
        m["sources.fetch_amplification"] = fetched["live"] / max(required["live"], 1)
        m["sources.cache_hit_ratio"] = 1.0 - fetched["hot"] / max(required["hot"], 1)
        m["sources.page_gap_ms_p50"] = _median(page_gaps_ms(all_calls, W.PAGE_LATENCY_MS))
        m["sources.scan_task_s_p50"] = _median(scan_task_s)
        m["sources.execute_rows_per_s"] = execute_rows_per_s()
        m["sources.retries"] = float(sum(1 for c in all_calls if c["attempt"] > 1))

    m["latency_p50_s"] = statistics.median(r.latency_s for r in untraced)
    m["latency_p90_s"] = _p90([r.latency_s for r in untraced])
    m["trace.overhead_frac"] = 1.0 - (len(traced) / traced_wall) / untraced_qps
    for op in runner.wl.ops:
        m[f"op.{op.name}.p50_s"] = _median(r.latency_s for r in untraced if r.op.name == op.name)
    return m


def execute_rows_per_s(reps: int = 5, pages: int = 40) -> float:
    """In-process ``PagedHttpConnector.execute`` over one 0-latency chain."""
    from steampipe_sqlite_spark.sources.connector import Partition
    from steampipe_sqlite_spark.sources.pagedhttp import PagedHttpConnector

    cfg = json.dumps({"n_partitions": 1, "n_pages": pages, "page_size": W.PAGE_SIZE})
    rates = []
    for _ in range(reps):
        conn = PagedHttpConnector(cfg)
        t0 = time.perf_counter()
        rows = sum(b.num_rows for b in conn.execute("items", [], None, None, Partition(0, {"shard": 0})))
        rates.append(rows / (time.perf_counter() - t0))
    return statistics.median(rates)


# -- process lifetime ----------------------------------------------------------


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every descendant is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        rest = [p for p in procstat.tree() if p.pid != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p.pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


# -- main ----------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not repo_present():
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    sys.path.insert(0, ROOT)
    sf_dir = os.environ.get("PERFBENCH_SF_DIR")
    if not sf_dir:
        import datagen

        sf_dir = datagen.ensure(os.path.join(WORK, "data"), W.PARQUET_SF)
    pins = pin_env(sf_dir)
    from bench import _mc_sentinel

    wl = W.workload(args.workload)
    plan_names = tuple(op.arg for op in wl.ops if op.kind == "plan")
    oracles: dict = parquet_oracles(plan_names, sf_dir) if plan_names else {}
    if wl.connections:
        oracles.update(bridge_oracles())
    mc_before = _mc_sentinel()

    tracer = Tracer(enabled=bool(args.trace))
    sampler = procstat.PeakSampler(interval_s=0.5)
    with sampler:
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            from steampipe_sqlite_spark.session import get_spark

            spark = get_spark("perfbench")
        try:
            runner = Runner(spark, wl, sf_dir, tracer)
            with tracer.span("engine.load"):
                runner.load()
            # one untimed cold execution of every op type
            cold = [runner.run(op) for op in wl.ops]
            setup_s = time.perf_counter() - t0
            setup_spans = {s.name: s.dur for s in tracer.spans if s.parent is None}
            tracer.spans.clear()
            tracer.enabled = False

            if args.trace:
                windows = [measure_window(runner, args.seconds, args.seed)]
            else:
                windows = steady_windows(runner, args.seconds, args.seed)
            win = min(windows, key=lambda w: w.steal)
            results, wall = win.results, win.wall
            traced: list[Result] = []
            after: list[Result] = []
            if args.trace:
                offsets = {c: len(read_call_log(p)) for c, p in runner.call_logs.items()}
                tracer.enabled = True
                with patch_engine(tracer):
                    tw = measure_window(runner, args.seconds, args.seed)
                tracer.enabled = False
                traced = tw.results
                calls = {c: read_call_log(p)[offsets[c] :] for c, p in runner.call_logs.items()}
                # untraced windows before and after the traced one, so that
                # warm-up drift between windows cancels in the overhead
                aw = measure_window(runner, args.seconds, args.seed)
                after = aw.results
                layer = per_layer(
                    runner,
                    tracer,
                    setup_spans,
                    results,
                    (len(results) / wall + len(after) / aw.wall) / 2,
                    traced,
                    tw.wall,
                    tw.cpu,
                    calls,
                )
                tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        finally:
            shutdown(spark)
            for path in W.call_log_paths(WORK, wl).values():
                if os.path.exists(path):
                    os.remove(path)
    mc_after = _mc_sentinel()

    # every op run is checked, that of a window measured again too
    ran = [r for w in windows for r in w.results] + traced + after
    cold_failures = check(cold, oracles)
    failures = check(ran, oracles)
    if args.trace:
        layer["failed_frac"] = failed_frac(ran)
        line = result_line(layer, per_layer_spec(), ran, cold_failures)
    else:
        e2e = end_to_end(results, wall, setup_s, win.cpu["total"], sampler.peak_bytes)
        line = result_line(e2e, END_TO_END, ran, cold_failures)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "env": pins,
                "mc_before": mc_before,
                "mc_after": mc_after,
                "steal_frac": win.steal,
                "window_steal_fracs": [w.steal for w in windows],
                "cpu_by_kind": win.cpu,
                "window_s": wall,
                "ops": len(results),
                "cycles": len(results) // len(wl.ops),
                "op_latency_s": {
                    op.name: [round(r.latency_s, 4) for r in results if r.op is op] for op in wl.ops
                },
                "cold_failures": cold_failures,
            }
        )
    )
    for msg in cold_failures + failures:
        print("perfbench: " + msg, file=sys.stderr)
    if args.trace and layer["trace.unattributed_frac_max"] > UNATTRIBUTED_MAX:
        print(
            f"perfbench: layer spans leave {layer['trace.unattributed_frac_max']:.1%} "
            f"of an op's wall unattributed (limit {UNATTRIBUTED_MAX:.0%})",
            file=sys.stderr,
        )
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
