"""Test-table catalog: load the driver's parquet tables and register views.

TESTDATA.md: tables ``region nation customer supplier part orders lineitem
events documents embeddings`` exist as one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

These are plain Catalyst parquet scans (columnar, predicate/column pushdown,
partition splitting at scale) — the right way to read files in Spark.  The
connector bridge in ``sources/`` is for *API-backed* tables, mirroring the
reference's virtual-table role; routing parquet through it would only add a
Python hop the reference architecture doesn't imply (its SQLite core reads
plugin rows, our Catalyst core reads parquet natively).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from steampipe_sqlite_spark import derived

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXTRA_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXTRA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

# Every column whose LOGICAL type is a timestamp; the physical parquet
# encoding may be timestamp[us] or TIMESTAMP(NANOS)-as-int64 depending on
# the round's fixture (tests/test_fixture_contract.py TS_OK) — load_table
# normalizes whichever arrives.
TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# per-session state, weakly keyed: a plain dict keyed by id(spark) breaks
# when CPython reuses a stopped session's address for a new one (observed
# as a cross-test failure) — the weak map dies with the session object
_SESSION_STATE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _session_state(spark: SparkSession) -> dict:
    global _SESSION_STATE
    if _SESSION_STATE is None:
        import weakref

        _SESSION_STATE = weakref.WeakKeyDictionary()
    state = _SESSION_STATE.get(spark)
    if state is None or getattr(spark.sparkContext, "_jsc", None) is None:
        # new session, or the same object was stop()ped and restarted
        state = {"nanos_set": False, "tables": {}}
        _SESSION_STATE[spark] = state
    return state


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """Pin the session confs correctness depends on, in ANY session.

    Our own session builder (session.py) sets these at build time, but the
    external driver runs queries in its own vanilla session — both confs
    are runtime-settable, so set them here where every table read funnels
    through.  Memoized per session: conf.set is a py4j round-trip and
    load_table runs per table per query.

    - ``nanosAsLong``: when events.parquet carries TIMESTAMP(NANOS) (it
      has, in some rounds' fixtures), a vanilla session's vectorized
      reader rejects it with PARQUET_TYPE_ILLEGAL; harmless for
      timestamp[us] fixtures.
    - ``session.timeZone=UTC``: unix_timestamp()/NTZ↔TZ casts in the
      date/epoch/temporal queries are session-timezone-dependent; the
      DuckDB oracles treat naive timestamps as UTC, so a non-UTC driver
      session would silently shift every epoch by the zone offset.
    """
    state = _session_state(spark)
    if not state["nanos_set"]:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        state["nanos_set"] = True


# ---------------------------------------------------------------------------
# Layout compaction (lakehouse OPTIMIZE analog).
#
# Spark parallelizes a parquet scan at ROW-GROUP granularity: a split only
# yields the row groups whose midpoint falls inside it.  The driver fixtures
# are written as ONE row group per table, so every scan — and the partial
# aggregation fused into its stage — runs as a single task no matter how
# many cores the session has (measured: tpch_q1 at sf0.1 runs its 600k-row
# scan+agg on 1 of 32 cores; rewriting lineitem into 32 files took the same
# query 1.47 s -> 0.30 s).  Real deployments solve exactly this with
# compaction jobs (Delta/Iceberg OPTIMIZE, Hive concatenate): pick a file/
# row-group layout sized so scans split across the cluster.  This is the
# single-process analog: on first load of a table whose layout cannot feed
# the session's cores, rewrite it ONCE into a directory of K row-group-
# sized files, a derived copy keyed by the file's (path, size, mtime) so a
# new fixture invalidates the copy (derived.py).  Values, schema (including
# physical TIMESTAMP(NANOS) — pyarrow preserves it), and row order are
# unchanged.
#
# At cluster scale this step is a NO-OP by construction: a 100 TB input has
# orders of magnitude more row groups than `_compact_target_k` returns, and
# the `rows < _COMPACT_MIN_ROWS` / `size > _COMPACT_MAX_BYTES` guards keep
# it from ever buffering more than a test-scale file in the driver.
# ---------------------------------------------------------------------------

# Under ~2k rows a single task beats any split's scheduling cost; above it,
# splitting is cheap insurance — per-row cost varies 1000× across workloads
# (a projected count vs. a 64-dim interpreted vector fold vs. a Python
# decode), so the floor is ROWS, not bytes: the 800 KB embeddings table
# costs more CPU per row than the 11 MB lineitem table.
_COMPACT_MIN_ROWS = 2_048
_COMPACT_MAX_BYTES = 2 << 30  # driver-side rewrite guard; bigger files => real cluster, no-op
_COMPACT_ROWS_PER_FILE_MIN = 64  # don't shred below this many rows per file


def _compact_target_k(rows: int, cores: int) -> int:
    return min(max(cores, 2), max(2, rows // _COMPACT_ROWS_PER_FILE_MIN))


def compacted_path(spark: SparkSession, path: str) -> str:
    """Return ``path`` or its compacted multi-file copy (built once, see
    :mod:`steampipe_sqlite_spark.derived`).

    Footer-only probe first (fast): a file already carrying >= K row groups
    splits fine natively and is returned untouched, and so is a directory
    (a table Spark wrote is already split).
    """
    try:
        if os.path.isdir(path) or os.stat(path).st_size > _COMPACT_MAX_BYTES:
            return path
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        rows = meta.num_rows
        cores = spark.sparkContext.defaultParallelism
        k = _compact_target_k(rows, cores)
        if rows < _COMPACT_MIN_ROWS or meta.num_row_groups >= k:
            return path
        step = -(-rows // k)  # ceil
        parts = tuple(f"part-{i:05d}.parquet" for i in range(-(-rows // step)))

        def build(out: str) -> None:
            table = pq.read_table(path)
            for i, name in enumerate(parts):
                pq.write_table(table.slice(i * step, step), os.path.join(out, name))

        return derived.ensure("compact", path, build, f"k{k}", parts=parts)
    except Exception:  # noqa: BLE001 — compaction must never fail a read
        return path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (memoized per session): the
    (possibly compacted) parquet scan with timestamp columns normalized.

    The memo returns the SAME immutable DataFrame (= analyzed logical plan)
    for repeated loads: ``spark.read.parquet`` is a py4j round-trip plus a
    footer read, measured at ~0.1 s per call — a 6-table query paid ~0.6 s
    of pure re-loading per construction.  DataFrames are immutable plans,
    so sharing is safe; executions are independent.
    """
    memo = _session_state(spark)["tables"]
    key = (sf_dir, name)
    cached = memo.get(key)
    if cached is not None:
        return cached
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(compacted_path(spark, os.path.join(sf_dir, f"{name}.parquet")))
    # The fixture's physical timestamp type has flipped between rounds:
    # TIMESTAMP(NANOS) (surfaced as long nanos under
    # spark.sql.legacy.parquet.nanosAsLong) and plain timestamp[us].
    # Never assume — sniff the read dtype and convert only when it is
    # actually a long.  Applied to EVERY timestamp-expected column
    # (TS_COLUMNS), not just events.ts: a date column flipping to
    # TIMESTAMP(NANOS) would otherwise surface as bigint and silently
    # break timestamp comparisons while the fixture tripwire stays green
    # (ADVICE r3).  Integer division: double division would lose
    # precision on ~1e18 nanosecond epochs.
    ts_cols = TS_COLUMNS.get(name)
    if ts_cols:
        from pyspark.sql import functions as F

        dtypes = dict(df.dtypes)
        for c in ts_cols:
            if dtypes.get(c) == "bigint":
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    memo[key] = df
    return df


def referenced_tables(sql: str) -> tuple[str, ...]:
    """Conservative scan for which catalog tables a SQL string touches.

    Word-boundary match against the known table names; empty result falls
    back to ALL_TABLES.  Registering only the referenced tables keeps a
    query over ``lineitem`` from failing on an unrelated table's read
    (and skips ~9 needless view registrations per query).
    """
    import re

    found = tuple(t for t in ALL_TABLES if re.search(rf"\b{t}\b", sql))
    return found or ALL_TABLES


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = ALL_TABLES) -> None:
    """Register one temp view per table for spark.sql() queries.

    Mirrors the reference's per-table module registration
    (/root/reference/configure_fn.go:167-182) — there DDL is synthesized
    into SQLite's catalog; here each table becomes a temp view over a
    native parquet scan.  Registration is memoized per (session, view
    name) -> sf_dir: every query calls this, and re-registering 10 views
    costs ~0.3 s of driver round-trips per query otherwise.  The memo is
    keyed per view, not per table set: a call with another set may have
    re-pointed one of this set's views at another sf_dir.  The memo rides
    the weak per-session state (NOT id(spark) — a GC'd session's reused
    id would make a fresh session skip registration and fail
    resolution).
    """
    views = _session_state(spark).setdefault("views", {})
    for name in tables:
        if views.get(name) != sf_dir:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            views[name] = sf_dir
