"""Deterministic test connectors — the engine's chaos-plugin analog.

The reference CI's only test is building against the SDK's public `chaos`
plugin (deterministic tables exercising all column types, errors, delays,
key columns — /root/reference/.github/workflows/test.yml:38-44).  These
connectors reproduce that role in-process (FIXTURES.md §4):

- ChaosConnector.all_types — one column per ColumnType, nulls every 7th row
- ChaosConnector.keyed     — required/optional key columns with per-op support
- ChaosConnector.flaky     — error/latency injection via config
- DynamicConnector         — schema derived from config (dynamic mode,
  /root/reference/constants.go:17-20)
"""

from __future__ import annotations

import datetime as dt
import json
import time
from collections.abc import Iterator

import pyarrow as pa

from steampipe_sqlite_spark.sources.config import parse_config
from steampipe_sqlite_spark.sources.connector import (
    ALL_OPERATORS,
    DYNAMIC,
    OPTIONAL,
    REQUIRED,
    STATIC,
    ColumnDef,
    ColumnType,
    Connector,
    Partition,
    Qual,
    Schema,
    TableSchema,
    rows_to_batches,
)

_EPOCH = dt.datetime(2024, 1, 1)


class ChaosConnector(Connector):
    """Static-mode connector with deterministic synthetic tables."""

    name = "chaos"

    def __init__(self, config: str | None = None, n_rows: int = 100):
        super().__init__(config)
        self.n_rows = n_rows
        self.call_log: list[dict] = []  # test observability: what was pushed

    def get_schema(self) -> Schema:
        return Schema(
            mode=STATIC,
            tables=(
                TableSchema(
                    "all_types",
                    (
                        ColumnDef("id", ColumnType.INT, OPTIONAL, ALL_OPERATORS),
                        ColumnDef("flag", ColumnType.BOOL),
                        ColumnDef("score", ColumnType.DOUBLE),
                        ColumnDef("name", ColumnType.STRING, OPTIONAL, ("=", "prefix")),
                        ColumnDef("doc", ColumnType.JSON),
                        ColumnDef("created_at", ColumnType.DATETIME, OPTIONAL, ("=", "<", "<=", ">", ">=")),
                        ColumnDef("ip", ColumnType.IPADDR, OPTIONAL, ("=",)),
                        ColumnDef("cidr", ColumnType.CIDR),
                        ColumnDef("path", ColumnType.LTREE),
                        ColumnDef("maybe", ColumnType.STRING),
                    ),
                ),
                TableSchema(
                    "keyed",
                    (
                        ColumnDef("tenant", ColumnType.STRING, REQUIRED, ("=", "in")),
                        ColumnDef("kind", ColumnType.STRING, OPTIONAL, ("=",)),
                        ColumnDef("seq", ColumnType.INT, OPTIONAL, ("=", "<", "<=", ">", ">=")),
                        ColumnDef("payload", ColumnType.STRING),
                    ),
                ),
                TableSchema(
                    "flaky",
                    (
                        ColumnDef("id", ColumnType.INT, OPTIONAL, ("=", "<", "<=", ">", ">=")),
                        ColumnDef("mode", ColumnType.STRING),
                    ),
                ),
            ),
        )

    def partitions(self, table: str, quals: list[Qual]) -> list[Partition]:
        """IN-list fan-out (SURVEY §4.3 note): a multi-value tenant qual on
        the keyed table becomes one scan partition per value, so Spark
        fetches each key's rows concurrently — per-value parallelism the
        reference's single cursor cannot express."""
        if table == "keyed":
            values: set = set()
            for q in quals:
                if q.column == "tenant":
                    values.update(q.value if q.op == "in" else [q.value])
            if len(values) > 1:
                return [
                    Partition(i, {"tenant": t}) for i, t in enumerate(sorted(values))
                ]
        return [Partition(0)]

    # -- row generators: raw rows; rows_to_batches applies quals and limit

    def _all_types_rows(self):
        for i in range(self.n_rows):
            yield {
                "id": i,
                "flag": i % 2 == 0,
                "score": i * 1.5,
                "name": f"item_{i:04d}",
                "doc": json.dumps({"i": i, "even": i % 2 == 0}),
                "created_at": _EPOCH + dt.timedelta(hours=i),
                "ip": f"10.0.{i % 256}.{(i * 7) % 256}",
                "cidr": f"10.{i % 256}.0.0/16",
                "path": f"root.n{i % 10}.leaf{i}",
                "maybe": None if i % 7 == 0 else f"v{i}",
            }

    def _keyed_rows(self, quals: list[Qual]):
        """A plain function returning a generator, so its tenant gate
        raises when ``execute`` starts, even at LIMIT 0 (where
        rows_to_batches pulls no row)."""
        tenants = [q for q in quals if q.column == "tenant" and q.op in ("=", "in")]
        # the required key column drives generation — the plugin-style
        # behavior where the qual IS the API call parameter.  When the
        # engine's name-presence gate passes a shape this connector can't
        # serve (e.g. a range qual on tenant), RAISE like a real plugin
        # does — silently returning a partial/empty set would violate the
        # over-return contract and poison the scan cache's subsumption
        # (an under-returned result must never be cached as the
        # no-qual superset).
        wanted = set()
        for q in tenants:
            wanted.update(q.value if q.op == "in" else [q.value])
        if not wanted:
            raise ValueError(
                "keyed: the 'tenant' key column requires an '=' or IN qual "
                "(the connector cannot enumerate tenants)"
            )
        return (
            {"tenant": tenant, "kind": f"kind{i % 3}", "seq": i, "payload": f"{tenant}:{i}"}
            for tenant in sorted(wanted)
            for i in range(self.n_rows)
        )

    def _flaky_rows(self, cfg: dict):
        error_at = cfg.get("error_at_row")
        delay_ms = cfg.get("delay_ms", 0)
        for i in range(self.n_rows):
            if error_at is not None and i == error_at:
                raise RuntimeError(f"chaos: injected error at row {i}")
            if delay_ms:
                time.sleep(delay_ms / 1000)
            yield {"id": i, "mode": "delay" if delay_ms else "ok"}

    def execute(
        self,
        table: str,
        quals: list[Qual],
        columns: list[str] | None,
        limit: int | None,
        partition: Partition | None = None,
    ) -> Iterator[pa.RecordBatch]:
        self.call_log.append(
            {
                "table": table,
                "quals": [(q.column, q.op, q.value) for q in quals],
                "columns": columns,
                "limit": limit,
            }
        )
        if self.config:
            # test hook: executor-side instances are fresh unpickles, so an
            # in-memory call_log is invisible to the driver — a config-named
            # file makes connector-call counts observable across processes
            try:
                sink = parse_config(self.config).get("count_calls_in")
            except Exception:  # noqa: BLE001
                sink = None
            if sink:
                with open(sink, "a") as fh:
                    fh.write(f"{table}\n")
        schema = self.get_schema().table(table)
        if schema is None:
            raise ValueError(f"unknown table {table!r}")
        if partition is not None and "tenant" in partition.info:
            # IN fan-out: this partition reads exactly one tenant's rows
            quals = [q for q in quals if q.column != "tenant"] + [
                Qual("tenant", "=", partition.info["tenant"])
            ]
        if table == "keyed":
            rows = self._keyed_rows(quals)
        elif table == "flaky":
            rows = self._flaky_rows(parse_config(self.config))
        else:
            rows = self._all_types_rows()
        yield from rows_to_batches(schema.arrow_schema(columns), rows, quals, limit)


class DynamicConnector(Connector):
    """Dynamic-mode connector: table set defined by the config string
    (JSON: {"tables": {"name": [["col", "int|string|double"], ...]}}) —
    the CSV-plugin analog (/root/reference/configure_fn.go:114-126)."""

    name = "dynamic"

    TYPE_MAP = {
        "int": ColumnType.INT,
        "string": ColumnType.STRING,
        "double": ColumnType.DOUBLE,
        "bool": ColumnType.BOOL,
        "timestamp": ColumnType.TIMESTAMP,
    }

    def __init__(self, config: str | None = None, n_rows: int = 10):
        super().__init__(config)
        self.n_rows = n_rows

    def get_schema(self) -> Schema:
        if not self.config:
            return Schema(tables=(), mode=DYNAMIC)
        spec = parse_config(self.config)
        tables = []
        for tname, cols in spec.get("tables", {}).items():
            defs = tuple(
                ColumnDef(cname, self.TYPE_MAP[ctype]) for cname, ctype in cols
            )
            tables.append(TableSchema(tname, defs))
        return Schema(tables=tuple(tables), mode=DYNAMIC)

    def execute(self, table, quals, columns, limit, partition=None):
        schema = self.get_schema().table(table)
        if schema is None:
            raise ValueError(f"unknown table {table!r}")

        def rows():
            for i in range(self.n_rows):
                row = {}
                for c in schema.columns:
                    if c.type == ColumnType.INT:
                        row[c.name] = i
                    elif c.type == ColumnType.DOUBLE:
                        row[c.name] = i / 2
                    elif c.type == ColumnType.BOOL:
                        row[c.name] = i % 2 == 0
                    elif c.type == ColumnType.TIMESTAMP:
                        row[c.name] = _EPOCH + dt.timedelta(days=i)
                    else:
                        row[c.name] = f"{c.name}_{i}"
                yield row

        yield from rows_to_batches(schema.arrow_schema(columns), rows(), quals, limit)


class ShardedConnector(Connector):
    """Static connector whose single ``metrics`` table scans in N parallel
    partitions (id-range shards) — the engine-extension analog of
    steampipe's per-connection parallelism; the reference itself is
    single-cursor (/root/reference/cursor.go:25-34).

    Each ``execute(partition=k)`` yields only shard k, so Spark schedules
    the N reads concurrently on executor Python workers.
    """

    name = "sharded"

    def __init__(self, config: str | None = None, n_rows: int = 1000, n_shards: int = 4):
        super().__init__(config)
        self.n_rows = n_rows
        self.n_shards = n_shards

    def get_schema(self) -> Schema:
        return Schema(
            mode=STATIC,
            tables=(
                TableSchema(
                    "metrics",
                    (
                        ColumnDef("id", ColumnType.INT, OPTIONAL, ("=", "<", "<=", ">", ">=")),
                        ColumnDef("shard", ColumnType.INT),
                        ColumnDef("value", ColumnType.DOUBLE),
                    ),
                ),
            ),
        )

    def partitions(self, table: str, quals: list[Qual]) -> list[Partition]:
        return [Partition(k, {"shard": k}) for k in range(self.n_shards)]

    def execute(self, table, quals, columns, limit, partition=None):
        shard = 0 if partition is None else partition.info["shard"]
        lo = shard * self.n_rows // self.n_shards
        hi = (shard + 1) * self.n_rows // self.n_shards
        arrow = self.get_schema().table(table).arrow_schema(columns)
        rows = ({"id": i, "shard": shard, "value": i * 0.25} for i in range(lo, hi))
        yield from rows_to_batches(arrow, rows, quals, limit)


class FeedConnector(Connector):
    """Deterministic event feed for the STREAMING side of the bridge: the
    ``ticks`` table is an append-only sequence (seq, ts, value) that the
    engine's SimpleDataSourceStreamReader polls by seq ranges — the
    zero-ETL analog of tailing a cloud audit-log API.

    Config (JSON): {"max_seq": N} bounds the feed so tests and
    processAllAvailable() terminate; a real connector would return
    whatever new rows the upstream API has.
    """

    name = "feed"

    def get_schema(self) -> Schema:
        return Schema(
            mode=STATIC,
            tables=(
                TableSchema(
                    "ticks",
                    (
                        ColumnDef("seq", ColumnType.INT, OPTIONAL, ("<", "<=", ">", ">=", "=")),
                        ColumnDef("ts", ColumnType.DATETIME),
                        ColumnDef("value", ColumnType.DOUBLE),
                    ),
                ),
            ),
        )

    def _max_seq(self) -> int:
        if self.config:
            try:
                return int(parse_config(self.config).get("max_seq", 1000))
            except (ValueError, TypeError):
                pass
        return 1000

    def execute(self, table, quals, columns, limit, partition=None):
        lo, hi = 0, self._max_seq()
        for q in quals:  # seq-range quals tighten generation (the API call)
            if q.column == "seq" and isinstance(q.value, int):
                if q.op == ">=":
                    lo = max(lo, q.value)
                elif q.op == ">":
                    lo = max(lo, q.value + 1)
                elif q.op == "<":
                    hi = min(hi, q.value)
                elif q.op == "<=":
                    hi = min(hi, q.value + 1)

        rows = (
            {"seq": i, "ts": _EPOCH + dt.timedelta(minutes=i), "value": round(i * 0.5, 2)}
            for i in range(lo, hi)
        )
        arrow = self.get_schema().table(table).arrow_schema(columns)
        yield from rows_to_batches(arrow, rows, quals, limit)
