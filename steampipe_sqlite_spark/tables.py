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

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

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
# sized files under .cache/compact, keyed by (path, size, mtime) so a new
# fixture invalidates the copy.  Values, schema (including physical
# TIMESTAMP(NANOS) — pyarrow preserves it), and row order are unchanged.
#
# At cluster scale this step is a NO-OP by construction: a 100 TB input has
# orders of magnitude more row groups than `_compact_target_k` returns, and
# the `rows < _COMPACT_MIN_ROWS` / `size > _COMPACT_MAX_BYTES` guards keep
# it from ever buffering more than a test-scale file in the driver.  Turn
# off with SPARK_GRAFT_COMPACT=off.
# ---------------------------------------------------------------------------

_COMPACT_ROOT = os.environ.get(
    "SPARK_GRAFT_COMPACT_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "compact"),
)
# Under ~2k rows a single task beats any split's scheduling cost; above it,
# splitting is cheap insurance — per-row cost varies 1000× across workloads
# (a projected count vs. a 64-dim interpreted vector fold vs. a Python
# decode), so the floor is ROWS, not bytes: the 800 KB embeddings table
# costs more CPU per row than the 11 MB lineitem table.
_COMPACT_MIN_ROWS = 2_048
_COMPACT_MAX_BYTES = 2 << 30  # driver-side rewrite guard; bigger files => real cluster, no-op
_COMPACT_ROWS_PER_FILE_MIN = 64  # don't shred below this many rows per file


def _compact_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_COMPACT", "on").lower() not in ("off", "false", "0")


def _compact_target_k(rows: int, cores: int) -> int:
    return min(max(cores, 2), max(2, rows // _COMPACT_ROWS_PER_FILE_MIN))


def compacted_path(spark: SparkSession, path: str) -> str:
    """Return ``path`` or its compacted multi-file copy (building it once).

    Footer-only probe first (fast): a file already carrying >= K row groups
    splits fine natively and is returned untouched.
    """
    if not _compact_enabled():
        return path
    try:
        st = os.stat(path)
        if st.st_size > _COMPACT_MAX_BYTES:
            return path
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        rows = meta.num_rows
        cores = spark.sparkContext.defaultParallelism
        k = _compact_target_k(rows, cores)
        if rows < _COMPACT_MIN_ROWS or meta.num_row_groups >= k:
            return path
        key = hashlib.sha256(
            f"{os.path.abspath(path)}|{st.st_size}|{st.st_mtime_ns}|{k}".encode()
        ).hexdigest()[:16]
        dest = os.path.join(_COMPACT_ROOT, f"{key}-{os.path.basename(path)}")
        if os.path.isdir(dest):
            return dest
        tmp = f"{dest}.tmp.{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        table = pq.read_table(path)
        step = -(-rows // k)  # ceil
        for i in range(k):
            part = table.slice(i * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(tmp, f"part-{i:05d}.parquet"))
        try:
            os.rename(tmp, dest)  # atomic; loser of a race falls through
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
        return dest if os.path.isdir(dest) else path
    except Exception:  # noqa: BLE001 — layout optimization must never fail a read
        return path


# ---------------------------------------------------------------------------
# Bucketed layout deployment (lakehouse OPTIMIZE ... CLUSTER BY analog).
#
# The measured deployment story (tools/bucketed_layout_probe.py, round 10):
# registering q3/q18 over a 64-bucket orderkey layout runs the join
# EXCHANGE-FREE, 4.5-8.7x faster at 100x data (q3 5.40 s -> 1.12 s).  This
# is the engine-owned path to that plan (VERDICT r10 #3): pay ONE shuffle at
# ingest (`optimize_layout`), then every registered query discovers the
# bucketed copy through the same catalog funnel as `.cache/compact` —
# Catalyst sees the bucketing as a satisfied hash distribution and plans
# zero exchanges on the bucket key (proof: tests/test_plans.py
# test_optimized_layout_runs_q3_q18_exchange_free_on_orderkey).
#
# Spark keeps bucketing metadata in the CATALOG, not in the files, and the
# default in-memory catalog dies with the session — so the layout registry
# (a JSON file beside the data) records (source identity, bucket spec,
# schema DDL, location), and discovery re-creates the catalog entry in any
# new session with `CREATE TABLE ... USING PARQUET CLUSTERED BY ...
# LOCATION` over the already-written bucket files (bucket ids ride the
# part-file names, so the external-table form preserves them).  Fixture
# identity (size + mtime) keys the entry exactly like `.cache/compact`: a
# regenerated fixture silently invalidates the layout rather than serving
# stale rows.  At cluster scale the same two calls map onto real lakehouse
# primitives (Delta/Iceberg OPTIMIZE + a catalog the whole cluster shares);
# nothing here buffers data on the driver — the rewrite is a distributed
# write.  Turn discovery off with SPARK_GRAFT_LAYOUT=off.
# ---------------------------------------------------------------------------

def _layout_root() -> str:
    # resolved at call time: reading SPARK_GRAFT_LAYOUT_DIR once at import
    # silently ignored a dir set after import (ADVICE r11)
    return os.environ.get(
        "SPARK_GRAFT_LAYOUT_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".cache",
            "layout",
        ),
    )

# Engine-owned completion marker, written after the layout data commits.
# Deliberately NOT the committer's _SUCCESS (often disabled on object
# stores); removed FIRST in drop_layout so a torn rmtree can never leave
# a "complete" gutted directory.
_LAYOUT_COMPLETE_MARKER = "_sgs_layout_complete"


def _layout_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_LAYOUT", "on").lower() not in ("off", "false", "0")


def _layout_registry_path() -> str:
    return os.path.join(_layout_root(), "registry.json")


def _layout_registry() -> dict:
    import json

    try:
        with open(_layout_registry_path()) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _save_layout_registry(reg: dict) -> None:
    """Write the registry atomically (caller holds the registry lock):
    lock-free readers see either the old or the new complete file."""
    import json

    tmp = f"{_layout_registry_path()}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(reg, f, indent=1)
    os.replace(tmp, _layout_registry_path())


class _layout_lock:
    """flock around the registry read-modify-write: two processes deploying
    DIFFERENT tables concurrently would otherwise each read the registry,
    write back their own view, and the last writer would silently drop the
    other's entry (losing an entry only degrades to plain reads — never
    wrong rows — but the deployment would vanish).  Readers stay lock-free:
    the registry file is replaced atomically (os.replace), so a read sees
    either the old or the new complete file."""

    def __enter__(self):
        import fcntl

        root = _layout_root()
        os.makedirs(root, exist_ok=True)
        self._fd = os.open(os.path.join(root, ".registry.lock"), os.O_CREAT | os.O_RDWR)
        fcntl.flock(self._fd, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        import fcntl

        fcntl.flock(self._fd, fcntl.LOCK_UN)
        os.close(self._fd)
        return False


def _layout_key(sf_dir: str, name: str) -> str:
    return f"{os.path.abspath(sf_dir)}::{name}"


# Reserved registry key holding superseded/dropped layouts pending file
# reclamation.  Deleting a layout's files the instant its entry is replaced
# can fail a query planned over the old location in ANOTHER process
# mid-scan (FileNotFoundException — never wrong rows; ADVICE r11).  So
# reclamation is DEFERRED: the entry moves to this trash list and the files
# stay at their original path until a later deploy/drop sweeps entries
# older than the grace period, giving in-flight scans time to drain.
# Discovery never serves a trashed layout (its registry entry is gone).
# The key starts with "::" so no abspath-derived layout key can collide and
# layout_tables_for's split-on-"::" never mistakes it for a table.
_LAYOUT_TRASH_KEY = "::trash::"


def _reclaim_grace_s() -> float:
    return float(os.environ.get("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "600"))


def _enqueue_reclaim(reg: dict, entry: dict) -> None:
    """Move a replaced/dropped layout entry to the trash list (caller holds
    the registry lock).  Same-location duplicates collapse to one slot."""
    import time

    trash = [
        t for t in reg.get(_LAYOUT_TRASH_KEY, [])
        if t["location"] != entry["location"]
    ]
    trash.append(
        {
            "location": entry["location"],
            "catalog_name": entry.get("catalog_name"),
            "bucket_by": entry.get("bucket_by"),
            "ts": time.time(),
        }
    )
    reg[_LAYOUT_TRASH_KEY] = trash


def _catalog_table_points_at(spark: SparkSession, cat: str, location: str) -> bool:
    """True iff catalog table ``cat`` exists AND its LOCATION is
    ``location``.  The catalog name embeds the content tag but NOT the
    layout root, so a long-lived session that changes
    SPARK_GRAFT_LAYOUT_DIR between deploys could otherwise keep the name
    bound to the OLD root's files (ADVICE r11) — callers recreate the
    table on mismatch."""
    try:
        if not spark.catalog.tableExists(cat):
            return False
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {cat}").collect():
            if str(r[0]).strip() == "Location":
                got = str(r[1]).strip().removeprefix("file:")
                # realpath both sides: DESCRIBE may report the RESOLVED
                # path (symlinked tmpdirs, /private/var on macOS), and a
                # false mismatch here would leak a stale binding through
                # the location-gated drops
                return os.path.realpath(got) == os.path.realpath(location)
    except Exception:  # noqa: BLE001 — treat unreadable metadata as mismatch
        return False
    return False


def _bind_bucketed_table(
    spark: SparkSession,
    cat: str,
    location: str,
    schema_ddl: str,
    bucket_by: str,
    buckets: int,
    sort_by: str | None,
) -> None:
    """Bind catalog name ``cat`` to the bucket files already at
    ``location``, unless it points there already: absent, or bound to
    ANOTHER root's files (layout dir changed mid-session) — (re)create it.
    Bucket ids ride the part-file names, so the external table keeps the
    bucketing."""
    if _catalog_table_points_at(spark, cat, location):
        return
    spark.sql(f"DROP TABLE IF EXISTS {cat}")
    sorted_clause = f"SORTED BY ({sort_by}) " if sort_by else ""
    spark.sql(
        f"CREATE TABLE {cat} ({schema_ddl}) USING PARQUET "
        f"CLUSTERED BY ({bucket_by}) {sorted_clause}"
        f"INTO {buckets} BUCKETS LOCATION '{location}'"
    )


def _drop_table_if_points_at(spark: SparkSession, cat: str, location: str) -> None:
    """Drop catalog name ``cat`` ONLY if it still points at ``location``:
    the name is content-keyed without the layout root, so a same-spec
    redeploy under a different root REBINDS it, and reclaiming the old
    root's entry must not kill the live binding.  Best-effort."""
    if _catalog_table_points_at(spark, cat, location):
        try:
            spark.sql(f"DROP TABLE IF EXISTS {cat}")
        except Exception:  # noqa: BLE001 — cleanup best-effort
            pass


def _sweep_trash(reg: dict, spark: SparkSession) -> None:
    """Reclaim trash entries past the grace period (caller holds the
    registry lock).  A location whose ``.writing`` flock is held by a
    concurrent deployer is skipped this round — that deployer is
    resurrecting the same content-keyed location and must not have its
    files gutted between its completeness check and its registry write."""
    import fcntl
    import time

    trash = reg.get(_LAYOUT_TRASH_KEY, [])
    if not trash:
        return
    now = time.time()
    keep = []
    for t in trash:
        if now - t["ts"] < _reclaim_grace_s():
            keep.append(t)
            continue
        wl = None
        try:
            wl = os.open(f"{t['location']}.writing", os.O_CREAT | os.O_RDWR)
            fcntl.flock(wl, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            if wl is not None:
                os.close(wl)
            keep.append(t)  # a deployer holds this location — retry later
            continue
        try:
            if t.get("bucket_by") is not None and t.get("catalog_name"):
                _drop_table_if_points_at(spark, t["catalog_name"], t["location"])
            # completion marker FIRST: a torn rmtree must leave an
            # INCOMPLETE directory, never a "complete" gutted one a later
            # same-spec redeploy would reuse
            try:
                os.remove(os.path.join(t["location"], _LAYOUT_COMPLETE_MARKER))
            except OSError:
                pass
            shutil.rmtree(t["location"], ignore_errors=True)
        finally:
            fcntl.flock(wl, fcntl.LOCK_UN)
            os.close(wl)
            # the .writing lockfile is deliberately LEFT on disk: unlinking
            # a lockfile races with a concurrent opener (it can end up
            # holding a lock on the unlinked inode while a fresh file is
            # created — two "exclusive" holders).  A few empty lockfiles
            # under the layout root are cheaper than that split-brain.
    if keep:
        reg[_LAYOUT_TRASH_KEY] = keep
    else:
        reg.pop(_LAYOUT_TRASH_KEY, None)


def layout_tables_for(sf_dir: str) -> list[str]:
    """Table names with a registered layout for ``sf_dir`` — the public
    introspection surface (bench.py's integrity-transparency field uses
    it), so key-format knowledge stays in this module.  Empty when
    discovery is disabled (SPARK_GRAFT_LAYOUT=off): the engine reads the
    plain path then, and reporting a deployment would be the inverse
    misreading."""
    if not _layout_enabled():
        return []
    ap = os.path.abspath(sf_dir)
    return sorted(
        k.split("::", 1)[1]
        for k in _layout_registry()
        if k.split("::", 1)[0] == ap
    )


def _source_identity(path: str) -> dict:
    """Fixture identity for staleness checks.  A directory's own
    size/mtime does NOT change when a part file is rewritten in place, so
    directory-shaped tables (anything Spark wrote) fingerprint the full
    recursive (relpath, size, mtime) listing instead — folded into the
    mtime_ns slot so the registry entry shape stays uniform."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return {"size": st.st_size, "mtime_ns": st.st_mtime_ns}
    h = hashlib.sha256()
    total = 0
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            try:
                s = os.stat(fp)
            except OSError:
                continue
            total += s.st_size
            h.update(f"{os.path.relpath(fp, path)}|{s.st_size}|{s.st_mtime_ns};".encode())
    return {"size": total, "mtime_ns": int(h.hexdigest()[:15], 16)}


def optimize_layout(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bucket_by: str | None = None,
    buckets: int | None = None,
    sort_by: str | None = None,
    partition_by: str | None = None,
    order_by: list[str] | tuple[str, ...] | None = None,
    order_files: int = 32,
) -> str:
    """Rewrite ``table`` into an optimized physical layout and register it
    for discovery: every subsequent :func:`load_table` /
    :func:`register_views` for this (sf_dir, table) — in this session or a
    fresh one — reads the optimized copy.  Returns the catalog table name
    (bucketed mode) or the layout location (partitioned mode).

    Three layout axes, the three every lakehouse deployment uses:

    - ``bucket_by``/``buckets`` (+optional ``sort_by``): hash-bucketed
      table — equi-joins/aggregations on the bucket key plan with ZERO
      exchanges on that key.  One ingest-time shuffle buys every repeated
      big-fact join; measured 1.7-2.0x through this call on q3/q18 at
      100x data, 4.5-8.7x when the flat side hit its slow window
      (tools/bucketed_layout_probe.py).
    - ``partition_by``: hive-partitioned directory layout — equality/IN
      filters on the partition column prune to matching directories
      (PartitionFilters in the scan; untouched partitions are never read).
      The right axis for low-cardinality selective columns (event type,
      language, date bucket).  Readers recover partition values from
      directory names, so discovery restores the ORIGINAL column order and
      dtypes from the recorded schema (directory-name round-trips are
      string-typed until the cast).
    - ``order_by`` (+``order_files``): sorted / Z-ordered layout, the
      OPTIMIZE ZORDER analog — one column = plain range sort; several =
      Morton-code clustering (operators/scale.zorder_values), so EVERY
      listed column has narrow min/max per file and parquet footer stats
      skip non-matching row groups at read time for range/equality
      filters.  The right axis for high-cardinality range-filtered
      columns, where partitioning would explode the directory count.

    Exactly one axis per call (combined partition+bucket DDL rediscovery
    needs MSCK repair semantics — not supported).  Values, row multiset,
    and logical schema are unchanged (timestamp normalization is applied
    BEFORE the write, so the copy carries proper timestamps).  Undo with
    :func:`drop_layout`.

    **Which axis? (decision rule, each row backed by a committed probe —
    readings in BASELINE.md):**

    ====================================  ==============  =======================
    dominant access pattern               pick            measured payoff
    ====================================  ==============  =======================
    repeated equi-join / groupBy on one   bucket_by       q3 1.46x / q18 1.65x at
    key (fact-fact or fact-dim)                           100x quiet (4.5-8.7x
                                                          under load); orderkey
                                                          exchanges 4->0 / 2->0
                                                          (tools/bucketed_layout_
                                                          probe.py)
    selective equality/IN on a LOW-       partition_by    1.89x at 100M for a
    cardinality column (lang, type,                       1-of-5 partition read
    date bucket; <= ~10^3 values)                         (ceiling = selectivity;
                                                          tools/partition_prune_
                                                          probe.py)
    range/equality filters on ONE high-   order_by=[col]  row-group footer skip,
    cardinality column (ts, id, score)                    plain range sort — no
                                                          Morton overhead
    filter MIX across SEVERAL high-       order_by=       2.4-3.8x scan skip at
    cardinality columns (the "filter on   [c1, c2, ...]   100M; ingest premium
    two, partition by one" case)          (Z-order)       215 s at 100M — spend
                                                          it only when the mix is
                                                          real (tools/zorder_
                                                          skip_probe.py)
    ====================================  ==============  =======================

    Anti-rules: partitioning a high-cardinality column explodes directory
    counts (use order_by); bucketing helps joins/aggs on the bucket key
    only — a filter-dominated workload wants partition_by/order_by
    instead; every axis costs one ingest-time rewrite, so deploy for
    REPEATED access, not one-shot queries.
    """
    if sum(x is not None for x in (bucket_by, partition_by, order_by)) != 1:
        raise ValueError(
            "optimize_layout: pass exactly one of bucket_by, partition_by, order_by"
        )
    if bucket_by is not None and not buckets:
        raise ValueError("optimize_layout: bucket_by requires buckets")
    if order_by is not None and not order_by:
        raise ValueError("optimize_layout: order_by must name at least one column")

    src = os.path.join(sf_dir, f"{table}.parquet")
    ident = _source_identity(src)
    spec = (
        f"{os.path.abspath(src)}|{ident['size']}|{ident['mtime_ns']}"
        f"|{bucket_by}|{buckets}|{sort_by}|{partition_by}"
        f"|{list(order_by) if order_by else None}|{order_files}"
    )
    tag = hashlib.sha256(spec.encode()).hexdigest()[:12]
    catalog_name = f"sgs_layout_{table}_{tag}"
    location = os.path.join(_layout_root(), f"{tag}-{table}")

    # write OUTSIDE discovery: read the raw source (normalized), not a
    # previously-registered layout of itself
    df = _load_table_raw(spark, sf_dir, table)
    # The tag is content-keyed (source identity + full spec), so a COMPLETE
    # copy at this location is byte-equivalent to what this call would
    # write: skip the rewrite.  This makes redeploys cheap AND closes the
    # same-spec overwrite race (a second deployer must not delete files a
    # reader discovered through the registry mid-rewrite).  Completeness is
    # OUR OWN marker, written after the data commit — not the committer's
    # _SUCCESS, which environments commonly disable
    # (mapreduce.fileoutputcommitter.marksuccessfuljobs=false) and whose
    # absence would otherwise silently disable discovery forever.  The
    # write itself is serialized per LOCATION (flock on <location>.writing)
    # so two same-spec first deploys can't interleave their overwrite
    # commits; different specs have different locations and never contend.
    marker = os.path.join(location, _LAYOUT_COMPLETE_MARKER)
    os.makedirs(_layout_root(), exist_ok=True)
    wl = os.open(f"{location}.writing", os.O_CREAT | os.O_RDWR)
    try:
        import fcntl

        fcntl.flock(wl, fcntl.LOCK_EX)
        complete = os.path.exists(marker)
        if bucket_by is not None:
            if complete:
                _bind_bucketed_table(
                    spark, catalog_name, location, df.schema.toDDL(),
                    bucket_by, buckets, sort_by,
                )
            else:
                writer = df.write.mode("overwrite").bucketBy(buckets, bucket_by).option("path", location)
                if sort_by:
                    writer = writer.sortBy(sort_by)
                spark.sql(f"DROP TABLE IF EXISTS {catalog_name}")
                writer.saveAsTable(catalog_name)
        elif partition_by is not None:
            # partitioned mode needs no catalog entry: a plain parquet read
            # recovers the partitioning from the directory layout in ANY
            # session; discovery restores column order/dtypes (see
            # _layout_table_df)
            if not complete:
                df.write.mode("overwrite").partitionBy(partition_by).parquet(location)
            catalog_name = location
        else:
            # sorted / z-ordered mode: plain parquet files, clustered so
            # footer min/max stats skip row groups at read time — no catalog
            # entry, same discovery restore as partitioned mode
            if not complete:
                from pyspark.sql import functions as F

                from steampipe_sqlite_spark.operators.scale import zorder_write

                if len(order_by) == 1:
                    (
                        df.repartitionByRange(order_files, F.col(order_by[0]))
                        .sortWithinPartitions(order_by[0])
                        .write.mode("overwrite")
                        .parquet(location)
                    )
                else:
                    zorder_write(df, list(order_by), location, files=order_files)
            catalog_name = location
        if not complete:
            with open(marker, "w"):
                pass

        # registry phase runs while the location's .writing flock is STILL
        # HELD: _sweep_trash skips flocked locations, so a concurrent
        # sweeper cannot gut a same-spec resurrection between the
        # completeness check above and the entry write below.  Lock order
        # is location-flock then registry-flock everywhere a deploy takes
        # both; the sweeper's reverse order is non-blocking (LOCK_NB), so
        # no deadlock is possible.
        with _layout_lock():
            reg = _layout_registry()
            prev = reg.get(_layout_key(sf_dir, table))
            if prev and prev["location"] != location:
                # re-deployment with a new spec: the superseded copy is
                # unreachable once the entry is replaced — queue it for
                # DEFERRED reclamation (grace period lets in-flight scans
                # over the old location drain; ADVICE r11) instead of
                # deleting immediately or orphaning it under the layout root
                _enqueue_reclaim(reg, prev)
            # this deploy's location may itself be trash-pending (dropped or
            # superseded earlier, same content-keyed spec redeployed within
            # the grace window): resurrect it — the completeness check above
            # already reused its byte-equivalent files
            trash = [
                t for t in reg.get(_LAYOUT_TRASH_KEY, [])
                if t["location"] != location
            ]
            if trash:
                reg[_LAYOUT_TRASH_KEY] = trash
            else:
                reg.pop(_LAYOUT_TRASH_KEY, None)
            _sweep_trash(reg, spark)
            reg[_layout_key(sf_dir, table)] = {
                "source": ident,
                "bucket_by": bucket_by,
                "buckets": buckets,
                "sort_by": sort_by,
                "partition_by": partition_by,
                "order_by": list(order_by) if order_by else None,
                "location": location,
                "catalog_name": catalog_name,
                "schema_ddl": df.schema.toDDL(),
                # (name, sql-type) per column in ORIGINAL order — the
                # partitioned-mode restore list (DDL strings are not split-safe
                # for nested types like map<string,int>)
                "columns": list(df.dtypes),
            }
            _save_layout_registry(reg)
    finally:
        import fcntl

        fcntl.flock(wl, fcntl.LOCK_UN)
        os.close(wl)
    _invalidate_session_table(spark, sf_dir, table)
    return catalog_name


def drop_layout(spark: SparkSession, sf_dir: str, table: str) -> None:
    """Remove a deployed layout: registry entry and catalog table now,
    files via DEFERRED reclamation (trash list + grace-period sweep on the
    next deploy/drop — ADVICE r11: an immediate rmtree could fail a query
    planned over this location in another process mid-scan; discovery
    stops serving the layout the moment the entry is gone, so the delay
    only costs disk).  Set SPARK_GRAFT_LAYOUT_RECLAIM_GRACE=0 to reclaim
    on the next sweep regardless of age."""
    with _layout_lock():
        reg = _layout_registry()
        entry = reg.pop(_layout_key(sf_dir, table), None)
        if entry is not None:
            _enqueue_reclaim(reg, entry)
        _sweep_trash(reg, spark)
        _save_layout_registry(reg)
        if entry is not None and entry.get("bucket_by") is not None:
            # the catalog name dies with the registry entry (discovery
            # would re-create it); already-planned queries hold their file
            # listing and are unaffected.  Location-gated like
            # _sweep_trash (a same-spec deploy under another layout root
            # shares the content-keyed name).  The drop additionally needs
            # the LOCATION flock, non-blocking: a concurrent same-spec
            # redeploy holds that flock across its catalog re-point AND
            # registry phase, and location-gating alone cannot tell the
            # dying entry's binding from the redeploy's fresh one (same
            # name, same location) — if a deployer holds the flock, skip
            # the drop entirely; the winning serialization is then
            # "drop, then redeploy" and the binding must survive
            # (code-review r12, second pass).
            import fcntl

            wl = None
            try:
                wl = os.open(f"{entry['location']}.writing", os.O_CREAT | os.O_RDWR)
                fcntl.flock(wl, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                if wl is not None:
                    os.close(wl)
                    wl = None
            else:
                try:
                    _drop_table_if_points_at(
                        spark, entry["catalog_name"], entry["location"]
                    )
                finally:
                    fcntl.flock(wl, fcntl.LOCK_UN)
                    os.close(wl)
    if entry is None:
        return
    _invalidate_session_table(spark, sf_dir, table)


def _invalidate_session_table(spark: SparkSession, sf_dir: str, table: str) -> None:
    state = _session_state(spark)
    # abspath-insensitive: the registry keys on abspath(sf_dir) but the
    # session memo keys on the CALLER'S spelling — a relative-path
    # drop_layout must still evict the absolute-path memo entry (and vice
    # versa), or the session keeps serving a plan over removed files
    ap = os.path.abspath(sf_dir)
    for key in [k for k in state["tables"] if k[1] == table and os.path.abspath(k[0]) == ap]:
        state["tables"].pop(key, None)
    # force re-registration of temp views so spark.sql() sees the change
    state.pop("views", None)


def _layout_table_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """Return the bucketed-layout DataFrame for (sf_dir, name), or None.

    Never fails a read: any staleness (source regenerated, files removed)
    or DDL error falls back to the plain parquet path.
    """
    if not _layout_enabled():
        return None
    entry = _layout_registry().get(_layout_key(sf_dir, name))
    if entry is None:
        return None
    try:
        src = os.path.join(sf_dir, f"{name}.parquet")
        if (
            _source_identity(src) != entry["source"]
            or not os.path.isdir(entry["location"])
            # a location without the engine's completion marker is
            # mid-(re)write or torn — serving it would silently return
            # partial rows
            or not os.path.exists(
                os.path.join(entry["location"], _LAYOUT_COMPLETE_MARKER)
            )
        ):
            return None
        if entry.get("bucket_by") is None:
            # partitioned / sorted layouts need no catalog: a plain read
            # works in any session.  Partitioned reads move the partition
            # column to the END — and with INFERRED types the directory
            # STRING round-trip is lossy ('02134' infers as int 2134, a
            # silent value corruption), so the read is pinned to the
            # RECORDED schema (schema() disables partition-value inference
            # for declared columns) and the select restores the recorded
            # column order; for sorted layouts the select is a no-op
            # projection Catalyst collapses, leaving pushdown intact.
            from pyspark.sql import functions as F

            df = spark.read.schema(entry["schema_ddl"]).parquet(entry["location"])
            return df.select(
                *(F.col(n).cast(t).alias(n) for n, t in entry["columns"])
            )
        cat = entry["catalog_name"]
        _bind_bucketed_table(
            spark, cat, entry["location"], entry["schema_ddl"],
            entry["bucket_by"], entry["buckets"], entry["sort_by"],
        )
        return spark.table(cat)
    except Exception:  # noqa: BLE001 — layout discovery must never fail a read
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (memoized per session).

    The memo returns the SAME immutable DataFrame (= analyzed logical plan)
    for repeated loads: ``spark.read.parquet`` is a py4j round-trip plus a
    footer read, measured at ~0.1 s per call — a 6-table query paid ~0.6 s
    of pure re-loading per construction.  DataFrames are immutable plans,
    so sharing is safe; executions are independent.

    Resolution order: deployed bucketed layout (``optimize_layout``) if one
    is registered and fresh, else the plain (possibly compacted) parquet
    scan.
    """
    memo = _session_state(spark)["tables"]
    key = (sf_dir, name)
    cached = memo.get(key)
    if cached is not None:
        return cached
    _ensure_nanos_conf(spark)
    layout = _layout_table_df(spark, sf_dir, name)
    if layout is not None:
        # the bucketed copy was written post-normalization — serve as-is
        memo[key] = layout
        return layout
    df = _load_table_raw(spark, sf_dir, name)
    memo[key] = df
    return df


def _load_table_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The plain parquet read + timestamp normalization (no layout, no memo)."""
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
    native parquet scan.  Registration is memoized per (session, table
    set): every query calls this, and re-registering 10 views costs
    ~0.3 s of driver round-trips per query otherwise.  The memo rides the
    weak per-session state (NOT id(spark) — a GC'd session's reused id
    would make a fresh session skip registration and fail resolution).
    """
    views = _session_state(spark).setdefault("views", {})
    if views.get(tables) == sf_dir:
        return
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    views[tables] = sf_dir
