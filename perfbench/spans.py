"""Spans around calls into the engine's layers, timed from outside.

A span is (id, name, start, end, parent, op id); the layer is the name up
to the first dot (``op.*`` spans are the ops themselves).  Spans stay in
memory and are written as JSON lines when the run ends.  A layer's self
time is its spans' durations minus the part covered by their child spans.

:func:`patch_engine` wraps ``Engine.load/configure/sql/table`` on the
class for the duration of a traced window, so the views ``Engine.sql``
re-registers through ``Engine.table`` show up as nested spans; no engine
code changes.

:class:`SparkStatus` reads job, stage and task metrics from Spark's status
store through the JVM gateway, which works with the UI off.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def self_times(self, spans: list[Span] | None = None) -> dict[int, float]:
        spans = self.spans if spans is None else spans
        own = {s.id: s.dur for s in spans}
        for s in spans:
            if s.parent is not None and s.parent in own:
                own[s.parent] -= s.dur
        return own

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@contextlib.contextmanager
def patch_engine(tracer: Tracer):
    """Route the public ``Engine`` methods through ``tracer`` spans."""
    from steampipe_sqlite_spark.engine import Engine

    names = ("load", "configure", "sql", "table")
    saved = {n: Engine.__dict__[n] for n in names}
    try:
        for n in names:
            setattr(Engine, n, tracer.wrap(f"engine.{n}", saved[n]))
        yield
    finally:
        for n, fn in saved.items():
            setattr(Engine, n, fn)


def _opt(v):
    """Unwrap a Scala ``Option`` (or pass a plain value through)."""
    if hasattr(v, "isDefined"):
        return v.get() if v.isDefined() else None
    return v


def _seq(js) -> list:
    out = []
    it = js.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


@dataclass
class StageStats:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int
    task_s: list[float]


class SparkStatus:
    """Job/stage/task metrics of finished jobs from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def stages_of_jobs(self, first: int, end: int, with_tasks: bool = False) -> list[StageStats]:
        store = self._sc.statusStore()
        seen: set[int] = set()
        out: list[StageStats] = []
        for jid in range(first, end):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted or never submitted
                continue
            for sid in sorted(int(s) for s in _seq(job.stageIds())):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                durations: list[float] = []
                if with_tasks:
                    for t in _seq(store.taskList(sid, int(st.attemptId()), 100_000)):
                        d = _opt(t.duration())
                        if d is not None:
                            durations.append(float(d) / 1000.0)
                out.append(
                    StageStats(
                        sid,
                        int(st.numTasks()),
                        float(st.executorRunTime()) / 1000.0,
                        float(st.executorCpuTime()) / 1e9,
                        float(st.jvmGcTime()) / 1000.0,
                        int(st.shuffleWriteBytes()),
                        int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
                        durations,
                    )
                )
        return out


def read_call_log(path: str) -> list[dict]:
    try:
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []


def page_gaps_ms(calls: list[dict], latency_ms: float) -> list[float]:
    """Per-chain time between consecutive page fetches, minus the latency.

    Consecutive pages of one token chain are fetched by one task in one
    worker, so (pid, partition, page - 1 -> page) pairs are one chain step;
    what is left after the simulated latency is the per-page cost of the
    connector, the Arrow batch and the hand-off to Spark.
    """
    last: dict[tuple[int, int], dict] = {}
    gaps: list[float] = []
    for c in sorted(calls, key=lambda c: c["ts"]):
        key = (c["pid"], c["partition"])
        prev = last.get(key)
        if prev is not None and c["page"] == prev["page"] + 1:
            gaps.append((c["ts"] - prev["ts"]) * 1000.0 - latency_ms)
        last[key] = c
    return gaps
