"""JSON-lines file connector — DYNAMIC-schema sibling of the CSV connector.

The reference ecosystem's config-file plugins expose local structured files
as tables (the CSV plugin is the canonical one; JSON/JSONL is the same
dynamic-discovery lifecycle: schema depends on config, drop/recreate on
reconfigure — /root/reference/configure_fn.go:114-149).

Config (JSON or HCL): ``{"paths": ["/abs/file.jsonl", ...]}`` /
``paths = ["/abs/file.jsonl"]``.  One table per file (stem-named).  Column
set and types are inferred over a sample of rows; values outside the
sampled shape degrade to NULL rather than crashing the scan.  Type
widening: bool ⊂ int ⊂ double ⊂ string; nested objects/arrays surface as
JSON strings (queryable with the engine's JSON functions).

Scale note: as with CSV, big local files belong to Spark's native reader —
this connector exists for reference parity and API-ish small files.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from itertools import islice

import pyarrow as pa

from steampipe_sqlite_spark.sources.config import parse_config
from steampipe_sqlite_spark.sources.connector import (
    DYNAMIC,
    ColumnDef,
    ColumnType,
    Connector,
    Partition,
    Qual,
    Schema,
    TableSchema,
    rows_to_batches,
)

_INFER_SAMPLE_ROWS = 100

_RANK = {
    ColumnType.BOOL: 0,
    ColumnType.INT: 1,
    ColumnType.DOUBLE: 2,
    ColumnType.STRING: 3,
}


def _cell_type(v) -> ColumnType:
    if isinstance(v, bool):
        return ColumnType.BOOL
    if isinstance(v, int):
        return ColumnType.INT
    if isinstance(v, float):
        return ColumnType.DOUBLE
    return ColumnType.STRING  # str and nested (dict/list → JSON string)


def _widen(a: ColumnType, b: ColumnType) -> ColumnType:
    return a if _RANK[a] >= _RANK[b] else b


def _coerce(v, ctype: ColumnType):
    if v is None:
        return None
    try:
        if ctype == ColumnType.BOOL:
            return v if isinstance(v, bool) else None
        if ctype == ColumnType.INT:
            return int(v) if isinstance(v, (int, bool)) else None
        if ctype == ColumnType.DOUBLE:
            return float(v) if isinstance(v, (int, float, bool)) else None
        if isinstance(v, (dict, list)):
            return json.dumps(v, separators=(",", ":"), sort_keys=True)
        return str(v)
    except (TypeError, ValueError):
        return None


def _stem(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _objects(path: str) -> Iterator[dict]:
    """The file's JSON-object lines; blank, malformed and non-object lines
    are skipped, never fatal."""
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(obj, dict):
                yield obj


def _file_table(path: str) -> TableSchema:
    """The table one JSONL file exposes: columns in first-seen order, types
    widened over the first _INFER_SAMPLE_ROWS objects."""
    types: dict[str, ColumnType] = {}
    for row in islice(_objects(path), _INFER_SAMPLE_ROWS):
        for k, v in row.items():
            if v is None:
                types.setdefault(k, ColumnType.STRING)
            elif k in types:
                types[k] = _widen(types[k], _cell_type(v))
            else:
                types[k] = _cell_type(v)
    return TableSchema(_stem(path), tuple(ColumnDef(k, t) for k, t in types.items()))


class JsonlConnector(Connector):
    """Dynamic-mode connector over local JSON-lines files."""

    name = "jsonl"

    def _paths(self) -> list[str]:
        if not self.config:
            return []
        return list(parse_config(self.config).get("paths", []))

    def get_schema(self) -> Schema:
        return Schema(tables=tuple(map(_file_table, self._paths())), mode=DYNAMIC)

    def execute(
        self,
        table: str,
        quals: list[Qual],
        columns: list[str] | None,
        limit: int | None,
        partition: Partition | None = None,
    ) -> Iterator[pa.RecordBatch]:
        # infer only the scanned file: get_schema() would sample every one
        path = next((p for p in self._paths() if _stem(p) == table), None)
        if path is None:
            raise ValueError(f"unknown jsonl table {table!r}")
        schema = _file_table(path)
        types = {c.name: c.type for c in schema.columns}
        rows = (
            {k: _coerce(obj.get(k), t) for k, t in types.items()} for obj in _objects(path)
        )
        yield from rows_to_batches(schema.arrow_schema(columns), rows, quals, limit)
