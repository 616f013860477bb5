"""CPU and memory of a process tree, read from ``/proc``.

The benchmark process (the Spark driver) starts the JVM, the JVM starts
the PySpark daemon, and the daemon forks Python workers that come and go.  A process
tree's CPU is therefore counted as, for every live process in the tree,
its own user+system time plus the user+system time of its children that it
has already waited for (``cutime``/``cstime``).  A worker that exits and
is reaped by the daemon moves its time into the daemon's ``cutime``, so
the total never drops when a child goes away.

RSS is summed over the live tree; :class:`PeakSampler` polls it from a
background thread and keeps the peak.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    cpu_s: float  # own + reaped children, user + system
    rss_bytes: int
    kind: str  # "jvm", "pyworker" or "other"


def _read_stat(pid: int) -> tuple[int, float, int] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name (field 2) may contain spaces and parentheses
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    rss = int(fields[21]) * _PAGE
    return ppid, ticks / _CLK_TCK, rss


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return "other"
    exe = os.path.basename(argv[0]) if argv else b""
    if exe == b"java":
        return "jvm"
    if b"pyspark.daemon" in argv or b"pyspark.worker" in argv:
        return "pyworker"
    return "other"


def tree(root: int | None = None) -> list[Proc]:
    """Every live process descended from ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    stats: dict[int, tuple[int, float, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: list[Proc] = []
    todo = [root]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        out.append(Proc(pid, st[1], st[2], _kind(pid)))
        todo.extend(children.get(pid, ()))
    return out


def cpu_by_kind(procs: list[Proc]) -> dict[str, float]:
    out = {"jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for p in procs:
        out[p.kind] += p.cpu_s
    out["total"] = sum(out.values())
    return out


def rss_bytes(procs: list[Proc]) -> int:
    return sum(p.rss_bytes for p in procs)


def cpu_times() -> dict[str, int]:
    """Machine-wide CPU time counters (ticks) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, (int(x) for x in fields)))


def steal_frac(before: dict[str, int], after: dict[str, int]) -> float:
    """Share of machine CPU time the hypervisor gave to other guests."""
    total = sum(after.values()) - sum(before.values())
    return (after["steal"] - before["steal"]) / total if total else 0.0


class PeakSampler:
    """Polls the tree's summed RSS every ``interval_s`` and keeps the peak.

    Use as a context manager; ``peak_bytes`` is valid after exit.
    """

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, rss_bytes(tree()))

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
