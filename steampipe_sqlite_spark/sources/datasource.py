"""Generic PySpark DataSource over any Connector — the vtab module analog.

Maps the reference's SQLite virtual-table contract onto the Python Data
Source API (PySpark ≥4.1):

| reference                                  | here                        |
|--------------------------------------------|-----------------------------|
| xConnect/declare (module.go:27-33)         | DataSource.schema()         |
| xBestIndex (table.go:74-180)               | Reader.pushFilters()        |
| xOpen/xFilter (cursor.go:39-59)            | Reader.partitions()/read()  |
| SDK hydrate goroutines (cursor.go:55)      | read()'s chain threads      |
| xNext/xColumn row loop (cursor.go:96-162)  | Arrow batch yield           |
| Omit:false re-check (table.go:126-129)     | all filters kept residual   |
| QueryContext JSON IR (table.go:166-177)    | reader instance state       |

Scale notes: read() executes on executor Python workers; the connector is
pickled with the reader, so its config travels to every worker.  The
connector's partitions (token chains: per-region, per-account, per-file)
are grouped round-robin into at most ``slots`` Spark InputPartitions, and
read() walks its group's chains concurrently on threads — a chain spends
most of its time waiting on API latency, so chains queue behind each
other in flight, not behind CPU slots.  The SDK does the same with its
hydrate goroutines; the reference's single cursor walks one chain at a
time (/root/reference/cursor.go:25-34).  Batches are Arrow record
batches, not per-row Python objects.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import queue
import threading
from collections.abc import Iterator, Sequence
from typing import Any

from pyspark.sql.datasource import (
    SimpleDataSourceStreamReader,
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringStartsWith,
)
from pyspark.sql.types import StructType

from steampipe_sqlite_spark.sources.cache import ScanCache
from steampipe_sqlite_spark.sources.connector import (
    ColumnType,
    Connector,
    Partition,
    Qual,
    TableSchema,
    bind_cidr,
    bind_ipaddr,
    bind_limit,
    bind_timestamp,
    check_required_quals,
)

FORMAT_NAME = "steampipe"

# process-level cache shared across scans (driver side; executors get
# fresh instances per worker — same semantics as the SDK's per-process cache)
_SCAN_CACHE = ScanCache()
# a task's chain threads share _SCAN_CACHE; its LRU bookkeeping is not
# thread-safe, so every get and put holds this lock
_SCAN_CACHE_LOCK = threading.Lock()

# Chains one Spark task walks at most.  Each chain is one thread holding
# up to _BATCHES_IN_FLIGHT batches; a connector with 1,000 partitions
# (files, accounts) gets more tasks, not hundreds of threads per worker.
MAX_CHAINS_PER_TASK = 8
# batches a chain may have fetched ahead of the task's consumer
_BATCHES_IN_FLIGHT = 2


def load_connector(path: str, config: str | None) -> Connector:
    """Instantiate a connector from its ``module:Class`` path."""
    mod_name, _, cls_name = path.partition(":")
    cls = getattr(importlib.import_module(mod_name), cls_name)
    conn: Connector = cls()
    if config:
        conn.set_config(config)
    return conn


def _bind_value(col_type: ColumnType, value: Any) -> Any:
    """Typed qual binding (reference cursor.go:211-233, mapping.go:88-169)."""
    if value is None:
        return None
    if col_type in (ColumnType.DATETIME, ColumnType.TIMESTAMP):
        return bind_timestamp(value)
    if col_type == ColumnType.IPADDR:
        return bind_ipaddr(value)
    if col_type in (ColumnType.CIDR, ColumnType.INET):
        return bind_cidr(value)
    if col_type == ColumnType.BOOL:
        return bool(value)
    return value


def filters_to_quals(
    filters: Sequence[Filter], table: TableSchema
) -> tuple[list[Qual], list[Filter]]:
    """Translate Spark Filter objects into connector quals.

    Returns (quals, convertible_filters).  A filter converts when it is a
    supported shape on a declared key column supporting that op — the
    analog of getPluginOperator + key-column check
    (/root/reference/mapping.go:32-59, table.go:216-244).  Filters on
    non-key columns are silently left to the engine, as in the reference.
    """
    quals: list[Qual] = []
    converted: list[Filter] = []
    for f in filters:
        try:
            parsed = _parse_filter(f)
        except ValueError:
            continue
        if parsed is None:
            continue
        col_name, op, value = parsed
        col = table.column(col_name)
        if col is None or col.require is None or op not in col.operators:
            continue
        try:
            if op == "in":
                # bind each element: bind_timestamp/ipaddr on a whole tuple
                # raises, and bool(tuple) would silently corrupt BOOL quals
                bound = tuple(_bind_value(col.type, v) for v in value)
            else:
                bound = _bind_value(col.type, value)
        except (ValueError, TypeError):
            continue  # unbindable value → leave the filter to the engine
        quals.append(Qual(col_name, op, bound))
        converted.append(f)
    return quals, converted


def _filter_column_names(filters: Sequence[Filter]) -> set[str]:
    """Best-effort column names from pushed filters, including shapes the
    qual translator rejects — gate input only (see check_required_quals).

    Untranslatable filters are unwrapped through ``child`` links
    RECURSIVELY (bounded) before reading ``attribute``: a doubly-nested
    shape (e.g. Not(Not(EqualTo(col, v))), or whatever future wrapper
    Spark pushes) still NAMES the column, and the reference's gate
    (table.go:182-214) passes on any constraint naming the column —
    stopping at one level would silently re-tighten the gate in that
    corner (ADVICE r11)."""
    names: set[str] = set()
    for f in filters:
        try:
            parsed = _parse_filter(f)
        except ValueError:
            parsed = None
        if parsed is not None:
            names.add(parsed[0])
            continue
        holder = f
        for _ in range(8):  # bound: wrapper chains are tiny in practice
            if holder is None:
                break
            attr = getattr(holder, "attribute", None)
            if attr and len(attr) == 1:
                names.add(attr[0])
                break
            holder = getattr(holder, "child", None)
    return names


def _parse_filter(f: Filter) -> tuple[str, str, Any] | None:
    def col(attr: tuple) -> str | None:
        return attr[0] if len(attr) == 1 else None  # no nested pushdown

    if isinstance(f, EqualTo):
        c = col(f.attribute)
        return (c, "=", f.value) if c else None
    if isinstance(f, Not) and isinstance(f.child, EqualTo):
        c = col(f.child.attribute)
        return (c, "<>", f.child.value) if c else None
    if isinstance(f, GreaterThan):
        c = col(f.attribute)
        return (c, ">", f.value) if c else None
    if isinstance(f, GreaterThanOrEqual):
        c = col(f.attribute)
        return (c, ">=", f.value) if c else None
    if isinstance(f, LessThan):
        c = col(f.attribute)
        return (c, "<", f.value) if c else None
    if isinstance(f, LessThanOrEqual):
        c = col(f.attribute)
        return (c, "<=", f.value) if c else None
    if isinstance(f, In):
        c = col(f.attribute)
        return (c, "in", tuple(f.value)) if c else None
    if isinstance(f, IsNull):
        c = col(f.attribute)
        return (c, "is_null", None) if c else None
    if isinstance(f, IsNotNull):
        c = col(f.attribute)
        return (c, "is_not_null", None) if c else None
    if isinstance(f, StringStartsWith):
        c = col(f.attribute)
        return (c, "prefix", f.value) if c else None
    return None


class ConnectorPartition(InputPartition):
    """One Spark task's share of a scan: the connector partitions (token
    chains) it walks concurrently."""

    def __init__(self, chains: list[Partition]):
        self.chains = chains


class _ChainEnd:
    """Queue marker: one chain of the group is exhausted."""


class ConnectorReader(DataSourceReader):
    """One scan of one connector table (xOpen..xClose lifecycle)."""

    def __init__(self, connector: Connector, table: TableSchema, options: dict):
        self.connector = connector
        self.table = table
        self.quals: list[Qual] = []
        raw_limit = options.get("limit")
        try:
            raw_limit = int(raw_limit)  # Spark options arrive as strings
        except (TypeError, ValueError):
            pass  # non-integer: bind_limit drops it
        self.limit = bind_limit(raw_limit)
        cols_opt = options.get("columns")
        self.columns: list[str] | None = json.loads(cols_opt) if cols_opt else None
        # the session's task slots (Engine.table sets it); without it each
        # chain is its own task
        self.slots = int(options.get("slots", 0))
        self._constrained: set[str] = set()

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """BestIndex analog.  Captures supported quals; yields back EVERY
        filter as residual so Catalyst re-applies them all — the exact
        Omit:false contract (/root/reference/table.go:126-129): the
        connector may over-return, the engine restores exactness."""
        self.quals, _ = filters_to_quals(filters, self.table)
        # every column a pushed filter NAMES, independent of op support or
        # translatability — the reference's gate counts any constraint
        # naming the column (table.go:182-214), so e.g. a range filter on
        # a required col whose declared operators are ('=',) must still
        # satisfy the gate and proceed to the connector
        self._constrained = _filter_column_names(filters)
        check_required_quals(self.table, self.quals, self._constrained)
        yield from filters

    def partitions(self) -> list[ConnectorPartition]:
        """The connector's partitions, dealt round-robin into at most
        ``slots`` groups of at most MAX_CHAINS_PER_TASK chains each."""
        # late required-check: pushFilters is skipped entirely for
        # filterless scans — mirror the reference where the missing-qual
        # error surfaces at execute time (/root/reference/table.go:156-164)
        check_required_quals(self.table, self.quals, self._constrained)
        parts = self.connector.partitions(self.table.name, self.quals)
        slots = self.slots or len(parts)
        groups = max(min(slots, len(parts)), -(-len(parts) // MAX_CHAINS_PER_TASK))
        return [ConnectorPartition(parts[g::groups]) for g in range(groups)]

    def read(self, partition: ConnectorPartition):
        """Walk the group's chains on one thread each and yield their
        batches as they arrive.  A bounded queue holds at most
        _BATCHES_IN_FLIGHT batches per chain; the first chain error fails
        the task; closing the generator (a satisfied LIMIT) stops every
        chain at its next batch and joins its thread."""
        chains = partition.chains
        out: queue.Queue = queue.Queue(maxsize=_BATCHES_IN_FLIGHT * len(chains))
        stop = threading.Event()

        def offer(item) -> bool:
            while not stop.is_set():
                try:
                    out.put(item, timeout=0.05)
                    return True
                except queue.Full:
                    pass
            return False

        def walk(part: Partition) -> None:
            try:
                with contextlib.closing(self._read_chain(part)) as batches:
                    for batch in batches:
                        if not offer(batch):
                            return
                offer(_ChainEnd)
            except BaseException as exc:  # noqa: BLE001
                # whatever ends a chain must reach the consumer, which
                # re-raises it; an unreported exit would leave it waiting
                offer(exc)

        threads = [
            threading.Thread(target=walk, args=(p,), name=f"sparktap-chain-{p.index}", daemon=True)
            for p in chains
        ]
        for t in threads:
            t.start()
        try:
            running = len(threads)
            while running:
                item = out.get()
                if item is _ChainEnd:
                    running -= 1
                elif isinstance(item, BaseException):
                    raise item
                else:
                    yield item
        finally:
            stop.set()
            for t in threads:
                t.join()

    def _read_chain(self, part: Partition):
        """One chain's batches through the scan cache: each chain has its
        own cache entry, keyed by its partition index."""
        options = self.connector.options
        if not options.cache:
            # caching and retries are orthogonal in the reference SDK:
            # cache=false skips only the cache get/put, the RetryHydrate
            # backoff still applies
            yield from self._execute_retrying(part)
            return
        quals_key = tuple((q.column, q.op, q.value) for q in self.quals)
        cols_key = tuple(self.columns) if self.columns is not None else None
        conn_cls = type(self.connector)
        key = ScanCache.key(
            f"{conn_cls.__module__}:{conn_cls.__qualname__}",
            self.connector.config,
            self.table.name,
            quals_key,
            cols_key,
            self.limit,
            part.index,
        )
        # an exact entry, or a broader cached scan filtered, projected and
        # sliced to this one: zero connector calls (cursor.go:70-92)
        with _SCAN_CACHE_LOCK:
            cached = _SCAN_CACHE.get(key)
        if cached is not None:
            yield from cached
            return
        batches = []
        for batch in self._execute_retrying(part):
            batches.append(batch)
            yield batch
        # per-connection overrides ride the connection config, as the
        # reference's config does in every ExecuteRequest (register.go:64)
        with _SCAN_CACHE_LOCK:
            _SCAN_CACHE.put(key, batches, options.cache_ttl_s, options.cache_max_bytes)

    def _execute_retrying(self, part: Partition):
        """Execute with the connection's retry policy (``options.retry``).

        SDK RetryHydrate analog: re-run the WHOLE scan on failure with
        exponential backoff.  When retries are configured, attempts are
        buffered before any yield — a mid-stream retry after partial
        output would duplicate rows (same reason the SDK retries the full
        hydrate call, never resumes one).  Without retries the scan
        streams batch-by-batch.  Throttling is the connector's: it debits
        once per upstream API request (SURVEY §7.5.5)."""

        def execute():
            return self.connector.execute(
                self.table.name, self.quals, self.columns, self.limit, part
            )

        retry = self.connector.options.retry
        if retry is None:
            yield from execute()
            return
        attempts, min_ms, max_ms = retry
        import time as _time

        last_exc: Exception | None = None
        for attempt in range(attempts + 1):
            if attempt:
                _time.sleep(min(max_ms, min_ms * (2 ** (attempt - 1))) / 1000.0)
            try:
                batches = list(execute())
                break
            except Exception as exc:  # noqa: BLE001 — connector errors are opaque
                last_exc = exc
                if not self.connector.is_retriable_error(exc):
                    raise
        else:
            raise last_exc  # type: ignore[misc]
        yield from batches


class ConnectorSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming face of the bridge: polls the connector by offset ranges.

    The offset is a per-table monotonically increasing sequence column the
    connector declares via the ``stream_offset_col`` option (default
    "seq"); each micro-batch reads [start, start+stream_batch) through the
    same quals path as batch scans, so the connector sees a ranged API
    call.  If fewer rows than the window come back the offset advances
    only past what arrived — an exhausted feed returns its offset
    unchanged and ``processAllAvailable()`` terminates.  readBetweenOffsets
    replays a committed range exactly (deterministic connectors ⇒
    exactly-once on restart).  The reference has no streaming at all
    (SURVEY.md §2.3) — this is the engine extension that makes live
    plugin tables tail-able.
    """

    def __init__(self, connector: Connector, table: TableSchema, options: dict):
        self.connector = connector
        self.table = table
        self.offset_col = options.get("stream_offset_col", "seq")
        self.batch = int(options.get("stream_batch", 100))
        self.fields = [c.name for c in table.columns]

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _fetch(self, lo: int, hi: int):
        quals = [Qual(self.offset_col, ">=", lo), Qual(self.offset_col, "<", hi)]
        rows = []
        for batch in self.connector.execute(self.table.name, quals, None, None):
            for row in batch.to_pylist():
                rows.append(tuple(row.get(f) for f in self.fields))
        return rows

    def read(self, start: dict):
        lo = start["pos"]
        rows = self._fetch(lo, lo + self.batch)
        return iter(rows), {"pos": lo + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._fetch(start["pos"], end["pos"]))


class ConnectorDataSource(DataSource):
    """Registered once per session by the engine facade (engine.py), which
    reads each connector table through it on demand (``Engine.table``, and
    ``Engine.sql`` per statement); no view is kept per table."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def __init__(self, options: dict):
        super().__init__(options)
        self.connector = load_connector(options["connector_class"], options.get("config"))
        table_name = options["table"]
        table = self.connector.get_schema().table(table_name)
        if table is None:
            raise ValueError(
                f"connector {self.connector.name!r} has no table {table_name!r}"
            )
        self.table = table

    def schema(self) -> StructType:
        # projection pushdown hint (B2 analog): the scan declares only the
        # requested columns, so read() yields narrow batches and the
        # connector fetches less.  The Python DS API has no engine-driven
        # pushColumns; narrowing is requested explicitly via
        # engine.table(columns=[...]).
        cols_opt = self.options.get("columns")
        return self.table.spark_schema(json.loads(cols_opt) if cols_opt else None)

    def reader(self, schema: StructType) -> ConnectorReader:
        return ConnectorReader(self.connector, self.table, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> ConnectorSimpleStreamReader:
        return ConnectorSimpleStreamReader(self.connector, self.table, dict(self.options))
