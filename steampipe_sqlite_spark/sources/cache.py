"""TTL result cache for connector scans.

Parity with the reference's cache policy (B15, SURVEY.md §2.1):
- enabled by default; env ``STEAMPIPE_CACHE`` ("true"/"false") overrides
  (/root/reference/cache.go:11-21);
- TTL default 300 s (server-level default, /root/reference/register.go:17)
  capped by env ``STEAMPIPE_CACHE_MAX_TTL`` seconds
  (/root/reference/cache.go:23-33, default 10 h);
- bounded size (32 MB default, /root/reference/register.go:18) with LRU
  eviction.

Per-connection overrides ride the connection config, as the reference's
config rides every ExecuteRequest (reference register.go:52-64,
configure_fn.go:70-96): ``cache``, ``cache_ttl`` and ``cache_max_size_mb``,
parsed once per connection into ``config.ConnectionOptions``.

Keyed on (connector-class, connection-config, table, quals, columns, limit,
partition).  One lookup, :meth:`ScanCache.get`, tries the exact key first;
on a miss, qual-subsumption kicks in (SURVEY.md §7.5.4, the SDK cache
behavior wired at reference cursor.go:70-92): an unlimited cached
entry for the same connector/config/table/partition whose quals are a
SUBSET of the request's (→ its rows are a superset) and whose columns
cover the request's serves the scan with zero connector calls — the
residual quals are applied vectorized on the cached Arrow batches, columns
are projected to the requested schema, and the limit is applied by
slicing.
"""

from __future__ import annotations

import os
import time
from collections import OrderedDict
from dataclasses import dataclass

import pyarrow as pa

DEFAULT_TTL_S = 300
DEFAULT_MAX_TTL_S = 36_000  # 10 h, reference constants.go:8
DEFAULT_MAX_BYTES = 32 * 1024 * 1024


def cache_enabled() -> bool:
    v = os.environ.get("STEAMPIPE_CACHE")
    if v is None:
        return True
    return v.strip().lower() not in ("false", "0", "off")


def cache_max_ttl_s() -> int:
    v = os.environ.get("STEAMPIPE_CACHE_MAX_TTL")
    if v is None:
        return DEFAULT_MAX_TTL_S
    try:
        return max(int(v), 1)
    except ValueError:
        return DEFAULT_MAX_TTL_S


@dataclass
class _Entry:
    batches: list[pa.RecordBatch]
    nbytes: int
    expires_at: float


class ScanCache:
    """LRU + TTL cache of Arrow batches."""

    def __init__(self, ttl_s: float = DEFAULT_TTL_S, max_bytes: int = DEFAULT_MAX_BYTES):
        self.ttl_s = min(ttl_s, cache_max_ttl_s())
        self.max_bytes = max_bytes
        self._data: OrderedDict[tuple, _Entry] = OrderedDict()
        self._bytes = 0
        # per-connection byte totals, keyed (connector_cls, config) — lets
        # a connection-level cache_max_size_mb evict within one connection
        # without disturbing others sharing the process cache
        self._conn_bytes: dict[tuple, int] = {}
        self.hits = 0
        self.misses = 0

    @staticmethod
    def key(
        connector_cls: str,
        config: str | None,
        table: str,
        quals: tuple,
        columns: tuple | None,
        limit: int | None,
        partition: int = 0,
    ) -> tuple:
        # connector_cls (module:Class path) disambiguates two connector
        # classes exposing a same-named table with identical config — the
        # shared per-process cache must never serve one the other's rows
        return (connector_cls, config, table, quals, columns, limit, partition)

    def get(self, key: tuple) -> list[pa.RecordBatch] | None:
        """The rows cached for ``key``, or None.  An exact entry serves its
        stored batches; otherwise an entry covering ``key`` serves them
        through :func:`serve_from_superset`.  An entry covers the request
        when connector/config/table/partition match, it was NOT
        limit-truncated, its quals are a subset of the requested quals
        (fewer filters → more rows), and its columns are a superset of the
        requested columns.  Counts one hit or one miss."""
        if not cache_enabled():
            return None
        now = time.monotonic()
        entry = self._data.get(key)
        if entry is not None:
            if entry.expires_at >= now:
                self._data.move_to_end(key)
                self.hits += 1
                return entry.batches
            self._evict(key)
        cls_, config, table, quals, columns, limit, partition = key
        want_quals = set(quals)
        for cand, entry in self._data.items():
            c_cls, c_config, c_table, c_quals, c_cols, c_limit, c_part = cand
            if (c_cls, c_config, c_table, c_part) != (cls_, config, table, partition):
                continue
            if c_limit is not None or entry.expires_at < now:
                continue
            if not set(c_quals) <= want_quals:
                continue
            if c_cols is not None and (columns is None or not set(columns) <= set(c_cols)):
                continue
            self._data.move_to_end(cand)
            self.hits += 1
            residual = tuple(q for q in quals if q not in set(c_quals))
            return serve_from_superset(entry.batches, residual, columns, limit)
        self.misses += 1
        return None

    def put(
        self,
        key: tuple,
        batches: list[pa.RecordBatch],
        ttl_s: float | None = None,
        conn_max_bytes: int | None = None,
    ) -> None:
        """Insert; ``ttl_s``/``conn_max_bytes`` are per-connection
        overrides from the connection config (ConnectionOptions) —
        TTL capped by the process max like the server default, size
        enforced as an LRU budget over this connection's entries only."""
        if not cache_enabled():
            return
        ttl = min(ttl_s, cache_max_ttl_s()) if ttl_s is not None else self.ttl_s
        nbytes = sum(b.nbytes for b in batches)
        if nbytes > (self.max_bytes if conn_max_bytes is None else min(self.max_bytes, conn_max_bytes)):
            return
        if key in self._data:
            self._evict(key)
        conn = key[:2]
        self._data[key] = _Entry(batches, nbytes, time.monotonic() + ttl)
        self._bytes += nbytes
        self._conn_bytes[conn] = self._conn_bytes.get(conn, 0) + nbytes
        if conn_max_bytes is not None:
            while self._conn_bytes.get(conn, 0) > conn_max_bytes:
                oldest = next(k for k in self._data if k[:2] == conn)
                self._evict(oldest)
        while self._bytes > self.max_bytes and self._data:
            oldest = next(iter(self._data))
            self._evict(oldest)

    def _evict(self, key: tuple) -> None:
        entry = self._data.pop(key, None)
        if entry is not None:
            self._bytes -= entry.nbytes
            conn = key[:2]
            left = self._conn_bytes.get(conn, 0) - entry.nbytes
            if left > 0:
                self._conn_bytes[conn] = left
            else:
                self._conn_bytes.pop(conn, None)

    def clear(self) -> None:
        """Drop every entry and zero the hit/miss counters."""
        self._data.clear()
        self._bytes = 0
        self._conn_bytes.clear()
        self.hits = 0
        self.misses = 0


def _qual_mask(batch: pa.RecordBatch, column: str, op: str, value):
    import pyarrow.compute as pc

    arr = batch.column(column)
    if op == "=":
        return pc.equal(arr, value)
    if op == "<>":
        return pc.not_equal(arr, value)
    if op == "<":
        return pc.less(arr, value)
    if op == "<=":
        return pc.less_equal(arr, value)
    if op == ">":
        return pc.greater(arr, value)
    if op == ">=":
        return pc.greater_equal(arr, value)
    if op == "in":
        return pc.is_in(arr, value_set=pa.array(list(value), type=arr.type))
    if op == "is_null":
        return pc.is_null(arr)
    if op == "is_not_null":
        return pc.is_valid(arr)
    if op == "prefix":
        return pc.starts_with(arr, value)
    raise ValueError(f"unknown op {op!r}")


def serve_from_superset(
    batches: list[pa.RecordBatch],
    residual_quals: tuple,
    columns: tuple | None,
    limit: int | None,
) -> list[pa.RecordBatch]:
    """Turn a cached superset result into the requested subset result:
    vectorized residual filters (best-effort: an inapplicable qual is
    skipped — the engine re-filters over-returned rows by contract),
    column projection to the requested schema, limit by slicing."""
    out: list[pa.RecordBatch] = []
    remaining = limit
    for batch in batches:
        for column, op, value in residual_quals:
            try:
                mask = _qual_mask(batch, column, op, value)
            except Exception:
                continue  # over-return; engine re-filters
            batch = batch.filter(mask)
        if columns is not None:
            batch = batch.select(list(columns))
        if remaining is not None:
            if remaining <= 0:
                break
            if batch.num_rows > remaining:
                batch = batch.slice(0, remaining)
            remaining -= batch.num_rows
        if batch.num_rows:
            out.append(batch)
    return out
