"""The benchmark's workloads: op mixes, their schedule and their oracles.

An *op* is one plan call, one ``Engine.sql`` or one ``Engine.configure``.
Each workload is a closed loop with one client that runs whole *cycles*:
every op type of the mix once, the queries in an order the seed shuffles and
the ``Engine.configure`` writes last.  The seed never changes which ops run,
nor which region set a query reads, so every run of a workload does the same
work.

- ``corpus``: parquet plans at sf0.01.  The ``OLAP`` half is relational
  (scan, exchange, join and window work; ``rfm_segmentation`` adds eager
  offset jobs at construction) and has no Python stage; the ``CURATION``
  half is dedup, ANN and multimodal plans (array and higher-order-function
  expressions, iterative construction in ``dedup_components``, and
  pandas/Arrow Python stages).  ``op.<name>.p50_s`` tells the halves apart.
- ``bridge``: ``Engine.sql`` over two ``PagedHttpConnector`` connections.
  ``live`` has the scan cache off; ``hot`` has it on and takes one
  ``Engine.configure`` write at the end of each cycle that switches it
  between two region sets (8 or 6 token chains).  Every window starts on
  set ``a``, which set-up has cached.

Oracles: parquet ops hash against the registry's DuckDB oracle SQL; bridge
ops hash against DuckDB ``generate_series`` twins of the connector's row
function, one per region set.  Both use ``tools.selfcheck.value_hash``.
"""

from __future__ import annotations

import json
import os
import random
from collections.abc import Iterator
from dataclasses import dataclass, field

OLAP = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q6",
    "tpch_q9",
    "win_running_sum",
    "window_tumbling_1h",
    "join_asof_events",
    "rfm_segmentation",
)
CURATION = (
    "dedup_minhash_lsh",
    "dedup_components",
    "knn_cosine_pq",
    "mm_image_decode",
)
PARQUET_SF = 0.01

PAGED = "steampipe_sqlite_spark.sources.pagedhttp:PagedHttpConnector"
N_PAGES = 5
PAGE_SIZE = 250
PAGE_LATENCY_MS = 20
# token chains per region set of the ``hot`` connection; ``live`` always
# has 8, twice the task slots of a 4-core box
REGION_SETS = {"a": 8, "b": 6}
LIVE_CHAINS = 8
# global budget split over the 8 chains: 100 pages/s per chain, twice
# what one chain can ask for at 20 ms per page, so it never binds
RATE_LIMIT_RPS = 800
POINT_SEQ = 5 * N_PAGES * PAGE_SIZE + 3 * PAGE_SIZE + 17
IN_CHAINS = (3, 7)

# name -> SQL over the view ``{t}``; all integer aggregates so the
# comparison is exact
BRIDGE_SHAPES = {
    "full_agg": (
        "SELECT COUNT(*) AS n, SUM(seq) AS sum_seq, MAX(page) AS max_page, "
        "COUNT(DISTINCT item_id) AS n_ids FROM {t}"
    ),
    "in2": (
        "SELECT partition_id, COUNT(*) AS n, SUM(seq) AS sum_seq FROM {t} "
        f"WHERE partition_id IN {IN_CHAINS} GROUP BY partition_id"
    ),
    "point": f"SELECT seq, partition_id, page, item_id, value FROM {{t}} WHERE seq = {POINT_SEQ}",
}


def bridge_config(chains: int, cache: bool, call_log: str) -> str:
    cfg = {
        "n_partitions": chains,
        "n_pages": N_PAGES,
        "page_size": PAGE_SIZE,
        "page_latency_ms": PAGE_LATENCY_MS,
        "cache": cache,
        "rate_limit_rps": RATE_LIMIT_RPS,
        "rate_limit_scope": "global",
        "call_log": call_log,
    }
    return json.dumps(cfg, sort_keys=True)


def call_log_paths(work_dir: str, wl: "Workload") -> dict[str, str]:
    """One connector call log per connection of ``wl``, per process."""
    return {c: os.path.join(work_dir, f"calls-{os.getpid()}-{c}.jsonl") for c in wl.connections}


def required_pages(shape: str, chains: int) -> int:
    """Pages a scan needs when the connector prunes exactly on its quals."""
    if shape == "in2":
        return N_PAGES * sum(1 for c in IN_CHAINS if c < chains)
    if shape == "point":
        return 1
    return N_PAGES * chains


@dataclass(frozen=True)
class Op:
    name: str
    kind: str  # "plan", "sql" or "configure"
    arg: str = ""  # plan name, SQL text or target region set
    conn: str = ""  # bridge connection alias
    shape: str = ""  # bridge query shape


@dataclass
class Workload:
    name: str
    ops: tuple[Op, ...]
    # seconds one warm cycle takes on a 4-core box; sizes the window
    cycle_s: float
    connections: dict[str, str] = field(default_factory=dict)  # alias -> region set

    def cycles(self, seconds: float) -> int:
        """Whole cycles a window of about ``seconds`` runs.

        Fixed per ``seconds`` rather than read off the clock, so every run
        of a workload does the same work: a clock-based stop flips between
        n and n+1 cycles when a cycle takes about ``seconds``, and the first
        cycle after set-up is slower than later ones.
        """
        return max(1, round(seconds / self.cycle_s))

    def schedule(self, seed: int) -> Iterator[tuple[int, Op]]:
        """Endless (cycle index, op) stream.

        Each cycle shuffles the queries and ends with the configure writes,
        so every query of a cycle reads the same region set whatever the
        seed.
        """
        rng = random.Random(seed)
        queries = [op for op in self.ops if op.kind != "configure"]
        writes = [op for op in self.ops if op.kind == "configure"]
        cycle = 0
        while True:
            rng.shuffle(queries)
            for op in queries + writes:
                yield cycle, op
            cycle += 1


def _bridge_ops() -> tuple[Op, ...]:
    ops = []
    for conn in ("live", "hot"):
        for shape, sql in BRIDGE_SHAPES.items():
            ops.append(Op(f"{conn}_{shape}", "sql", sql.format(t=f"{conn}_items"), conn, shape))
    ops.append(Op("hot_configure", "configure", "", "hot"))
    return tuple(ops)


def workload(name: str) -> Workload:
    if name == "corpus":
        return Workload(name, tuple(Op(n, "plan", n) for n in OLAP + CURATION), 13.0)
    if name == "bridge":
        return Workload(name, _bridge_ops(), 7.5, {"live": "live", "hot": "a"})
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("corpus", "bridge")


# -- bridge oracles ------------------------------------------------------------


def _bridge_twin(chains: int) -> str:
    """DuckDB rows identical to what the connector serves for ``chains``."""
    return f"""
SELECT (p * {N_PAGES} + pg) * {PAGE_SIZE} + i AS seq,
       p AS partition_id, pg AS page,
       'item-' || p || '-' || pg || '-' || i AS item_id,
       round(((p + 1) * 100 + pg) + i / 1000.0e0, 3) AS value
FROM generate_series(0, {chains - 1}) t1(p),
     generate_series(0, {N_PAGES - 1}) t2(pg),
     generate_series(0, {PAGE_SIZE - 1}) t3(i)
"""


def bridge_oracle_sql(shape: str, chains: int) -> str:
    sql = BRIDGE_SHAPES[shape].format(t="items")
    # DuckDB SUM(bigint) is HUGEINT: cast so pandas sees int64 like Spark
    sql = sql.replace("SUM(seq) AS sum_seq", "CAST(SUM(seq) AS BIGINT) AS sum_seq")
    return f"WITH items AS ({_bridge_twin(chains)}) {sql}"
