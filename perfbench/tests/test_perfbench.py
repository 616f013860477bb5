"""Tests of the benchmark's own machinery; none of them starts Spark.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys
import time
import types

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from spans import Tracer, page_gaps_ms  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class TestOutput:
    def test_metric_lists_match_benchmark_json(self):
        spec = _benchmark_json()
        assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
        assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_spec()
        assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)

    @pytest.mark.parametrize("section", ["end_to_end", "per_layer"])
    def test_every_metric_prints_with_its_unit(self, section):
        spec = _benchmark_json()[section]
        values = {m["name"]: 1.5 for m in spec}
        pairs = [(m["name"], m["unit"]) for m in spec]
        results = [run.Result(W.Op("q", "plan", "q"), 0.1, None, None, "")]
        line = json.loads(json.dumps(run.result_line(values, pairs, results, [])))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        for m in spec:
            assert line["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}


class _FakeRunner:
    """Stands in for ``run.Runner``: every op returns the same small frame."""

    def __init__(self, wl: W.Workload):
        self.wl = wl
        self.tracer = Tracer(enabled=False)

    def reset(self) -> None:
        pass

    def run(self, op: W.Op) -> run.Result:
        frame = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        return run.Result(op, 0.001, frame, None, "")


class TestCorrectness:
    def _window(self):
        wl = W.workload("corpus")
        results, _ = run.run_window(_FakeRunner(wl), 0.0, seed=7)
        return results

    def test_right_oracle_passes(self):
        results = self._window()
        good = run._frame_hash(pd.DataFrame({"k": [2, 1], "v": [1.5, 0.5]}))
        assert run.check(results, {name: good for name in W.OLAP + W.CURATION}) == []
        assert run.failed_frac(results) == 0.0

    def test_planted_wrong_oracle_fails_every_op(self):
        results = self._window()
        wrong = run._frame_hash(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]}))
        failures = run.check(results, {name: wrong for name in W.OLAP + W.CURATION})
        assert len(failures) == len(results)
        assert run.failed_frac(results) == 1.0
        assert run.result_line({}, [], results, [])["correct"] is False

    def test_stale_region_set_is_a_failure(self):
        """A hot op whose frame is the other region set's answer fails."""
        op = W.Op("hot_full_agg", "sql", "", "hot", "full_agg")
        frame = pd.DataFrame({"n": [1]})
        oracles = {("hot_full_agg", "a"): "not-this", ("hot_full_agg", "b"): run._frame_hash(frame)}
        results = [run.Result(op, 0.1, frame, None, "a")]
        assert run.check(results, oracles)
        assert run.failed_frac(results) == 1.0


class TestSchedule:
    def _take(self, wl: W.Workload, seed: int, cycles: int) -> list[str]:
        out = []
        for cycle, op in wl.schedule(seed):
            if cycle == cycles:
                return out
            out.append(op.name)
        return out

    @pytest.mark.parametrize("name", W.WORKLOADS)
    def test_seed_changes_order_not_counts(self, name):
        wl = W.workload(name)
        a, b = self._take(wl, 1, 3), self._take(wl, 2, 3)
        assert a != b
        assert collections.Counter(a) == collections.Counter(b)
        assert collections.Counter(a) == {op.name: 3 for op in wl.ops}

    def test_configure_ends_every_cycle(self):
        wl = W.workload("bridge")
        for seed in range(5):
            names = self._take(wl, seed, 3)
            per_cycle = len(wl.ops)
            for c in range(3):
                cycle = names[c * per_cycle : (c + 1) * per_cycle]
                assert cycle[-1] == "hot_configure"
                assert "hot_configure" not in cycle[:-1]

    def test_reset_returns_to_the_first_region_set(self):
        calls = []
        runner = types.SimpleNamespace(
            wl=W.workload("bridge"),
            region={"live": "live", "hot": "b"},
            engine=types.SimpleNamespace(configure=lambda conn, cfg: calls.append(conn)),
            config=lambda conn: "{}",
        )
        run.Runner.reset(runner)
        assert runner.region == {"live": "live", "hot": "a"} and calls == ["hot"]
        run.Runner.reset(runner)
        assert calls == ["hot"]

    def test_same_seed_same_order(self):
        wl = W.workload("bridge")
        assert self._take(wl, 5, 2) == self._take(wl, 5, 2)

    @pytest.mark.parametrize("steal, n", [(0.0, 1), (run.STEAL_RETRY, 1), (0.2, 2)])
    def test_window_with_steal_is_measured_again(self, monkeypatch, steal, n):
        monkeypatch.setattr(procstat, "steal_frac", lambda before, after: steal)
        wl = W.workload("bridge")
        windows = run.steady_windows(_FakeRunner(wl), 0.0, seed=1)
        assert len(windows) == n
        assert [len(w.results) for w in windows] == [len(wl.ops)] * n

    def test_window_runs_whole_cycles(self):
        wl = W.workload("bridge")
        assert wl.cycles(0.0) == 1
        assert wl.cycles(2.6 * wl.cycle_s) == 3
        results, _ = run.run_window(_FakeRunner(wl), 2 * wl.cycle_s, seed=3)
        assert collections.Counter(r.op.name for r in results) == {op.name: 2 for op in wl.ops}


class TestProcStat:
    BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\n"

    def test_reaped_child_cpu_is_still_counted(self):
        before = procstat.cpu_by_kind(procstat.tree())["total"]
        subprocess.run([sys.executable, "-c", self.BURN], check=True, timeout=60)
        after = procstat.cpu_by_kind(procstat.tree())["total"]
        assert after - before >= 0.35

    def test_reaped_grandchild_cpu_is_still_counted(self):
        nested = f"import subprocess, sys\nsubprocess.run([sys.executable, '-c', {self.BURN!r}], check=True)\n"
        before = procstat.cpu_by_kind(procstat.tree())["total"]
        subprocess.run([sys.executable, "-c", nested], check=True, timeout=60)
        after = procstat.cpu_by_kind(procstat.tree())["total"]
        assert after - before >= 0.35

    def test_live_child_is_in_the_tree(self):
        child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
        try:
            deadline = time.monotonic() + 10
            while child.pid not in {p.pid for p in procstat.tree()}:
                assert time.monotonic() < deadline
                time.sleep(0.05)
            assert procstat.rss_bytes(procstat.tree()) > 0
        finally:
            child.kill()
            child.wait(timeout=10)
        assert child.poll() is not None

    def test_peak_sampler_sees_the_tree(self):
        with procstat.PeakSampler(interval_s=0.05) as s:
            time.sleep(0.2)
        assert s.peak_bytes > 0


class TestSpans:
    def test_self_time_subtracts_children(self):
        tr = Tracer(enabled=True)
        with tr.span("op.x"):
            with tr.span("plans.construct"):
                time.sleep(0.02)
            time.sleep(0.01)
        own = tr.self_times()
        root, child = tr.spans
        assert child.parent == root.id
        assert own[root.id] == pytest.approx(root.dur - child.dur)
        assert own[child.id] == pytest.approx(child.dur)

    def test_disabled_tracer_records_nothing(self):
        tr = Tracer(enabled=False)
        with tr.span("op.x"):
            pass
        assert tr.spans == []

    def test_page_gaps_follow_each_chain(self):
        calls = [
            {"pid": 1, "partition": 0, "page": 0, "ts": 0.000},
            {"pid": 1, "partition": 0, "page": 1, "ts": 0.025},
            {"pid": 2, "partition": 1, "page": 0, "ts": 0.010},
            {"pid": 2, "partition": 1, "page": 1, "ts": 0.040},
        ]
        assert page_gaps_ms(calls, 20.0) == pytest.approx([5.0, 10.0])


class TestBridgeOracle:
    def test_required_pages(self):
        assert W.required_pages("full_agg", 8) == 8 * W.N_PAGES
        assert W.required_pages("in2", 8) == 2 * W.N_PAGES
        assert W.required_pages("in2", 6) == 1 * W.N_PAGES
        assert W.required_pages("point", 8) == 1

    def test_region_sets_have_different_answers(self):
        duckdb = pytest.importorskip("duckdb")
        con = duckdb.connect()
        for shape in W.BRIDGE_SHAPES:
            a, b = (
                run._frame_hash(con.execute(W.bridge_oracle_sql(shape, W.REGION_SETS[r])).df())
                for r in ("a", "b")
            )
            assert (a != b) == (shape != "point")


class TestData:
    def test_generator_version_names_the_directory(self, tmp_path):
        stale = tmp_path / "sf0.001-000000000000"
        stale.mkdir()
        d = datagen.ensure(str(tmp_path), 0.001)
        assert os.path.basename(d).startswith("sf0.001-") and d != str(stale)
        assert os.path.exists(os.path.join(d, ".complete"))
        assert not stale.exists()
        assert datagen.ensure(str(tmp_path), 0.001) == d

    @pytest.mark.skipif(
        not os.environ.get("PERFBENCH_SF_DIR"), reason="PERFBENCH_SF_DIR names no fixture directory"
    )
    def test_generated_tables_match_the_fixtures(self, tmp_path):
        """Same columns, physical types and row counts as the fixture tables
        at the benchmark's scale factor, and close distinct counts."""
        pq = pytest.importorskip("pyarrow.parquet")
        fixture = os.environ["PERFBENCH_SF_DIR"]
        gen = datagen.ensure(str(tmp_path), W.PARQUET_SF)
        for name in datagen.TABLES:
            a = pq.read_table(os.path.join(fixture, f"{name}.parquet"))
            b = pq.read_table(os.path.join(gen, f"{name}.parquet"))
            assert [(f.name, f.type) for f in a.schema] == [(f.name, f.type) for f in b.schema], name
            assert a.num_rows == b.num_rows, name
            for col in a.column_names:
                if pa_is_list(a.schema.field(col).type):
                    continue
                na = len(a.column(col).unique())
                nb = len(b.column(col).unique())
                assert abs(na - nb) <= max(0.1 * na, 2), (name, col, na, nb)


def pa_is_list(t) -> bool:
    import pyarrow as pa

    return pa.types.is_list(t) or pa.types.is_large_list(t)
