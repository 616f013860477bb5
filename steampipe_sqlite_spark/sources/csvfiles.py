"""CSV file connector — the analog of steampipe-plugin-csv, the reference
ecosystem's canonical DYNAMIC-schema plugin (schema depends on config:
/root/reference/constants.go:17-20, drop/recreate on reconfigure at
/root/reference/configure_fn.go:114-149).

Config (JSON): {"paths": ["/abs/file.csv", ...], "header": true}
One table per file (stem-named); column types inferred from the first data
row (int → long, float → double, else string).  Stdlib csv only — no
pandas dependency on the read path; rows stream through the same
Arrow-batch pipeline as every other connector, and rows_to_batches honors
quals/limit row-at-a-time (advisory pushdown; the engine re-filters).

Note on scale: for big LOCAL csv/parquet data the right tool is Spark's
native reader (tables.py) — this connector exists for reference parity
(dynamic discovery + configure lifecycle) and for API-ish small files.
"""

from __future__ import annotations

import csv
import os
from collections.abc import Iterator

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


def _infer(value: str) -> ColumnType:
    try:
        int(value)
        return ColumnType.INT
    except ValueError:
        pass
    try:
        float(value)
        return ColumnType.DOUBLE
    except ValueError:
        return ColumnType.STRING


def _widen(a: ColumnType, b: ColumnType) -> ColumnType:
    """Least common type of two inferred cell types (INT ⊂ DOUBLE ⊂ STRING)."""
    if ColumnType.STRING in (a, b):
        return ColumnType.STRING
    if ColumnType.DOUBLE in (a, b):
        return ColumnType.DOUBLE
    return ColumnType.INT


def _infer_columns(header: list[str], rows: list[list[str]]) -> list[ColumnType]:
    """Infer per-column types over a sample of rows, widening as needed —
    a column whose first value looks numeric but later holds text becomes
    STRING (the reference CSV plugin treats all columns as text; we keep
    numerics only when the whole sample agrees)."""
    types = [ColumnType.INT] * len(header)
    seen = [False] * len(header)
    for row in rows:
        for i in range(len(header)):
            v = row[i] if i < len(row) else ""
            if v == "":
                continue
            t = _infer(v)
            types[i] = _widen(types[i], t) if seen[i] else t
            seen[i] = True
    return [t if s else ColumnType.STRING for t, s in zip(types, seen)]


def _coerce(value: str, ctype: ColumnType):
    if value == "":
        return None
    try:
        if ctype == ColumnType.INT:
            return int(value)
        if ctype == ColumnType.DOUBLE:
            return float(value)
    except ValueError:
        return None  # value outside the sampled shape → NULL, never crash
    return value


def _stem(path: str) -> str:
    return os.path.splitext(os.path.basename(path))[0]


def _file_table(path: str) -> TableSchema | None:
    """The table one CSV file exposes, its types inferred over the first
    _INFER_SAMPLE_ROWS rows; None for a file without a header row."""
    with open(path, newline="") as fh:
        reader = csv.reader(fh)
        try:
            header = next(reader)
        except StopIteration:
            return None
        sample = [row for _, row in zip(range(_INFER_SAMPLE_ROWS), reader)]
    types = _infer_columns(header, sample)
    return TableSchema(_stem(path), tuple(ColumnDef(name, t) for name, t in zip(header, types)))


class CsvConnector(Connector):
    """Dynamic-mode connector over local CSV files."""

    name = "csv"

    def _paths(self) -> list[str]:
        if not self.config:
            return []
        return list(parse_config(self.config).get("paths", []))

    def get_schema(self) -> Schema:
        tables = [t for t in map(_file_table, self._paths()) if t is not None]
        return Schema(tables=tuple(tables), mode=DYNAMIC)

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
        schema = None if path is None else _file_table(path)
        if schema is None:
            raise ValueError(f"unknown csv table {table!r}")
        types = {c.name: c.type for c in schema.columns}

        def rows():
            with open(path, newline="") as fh:
                for raw in csv.DictReader(fh):
                    yield {k: _coerce(v, types[k]) for k, v in raw.items() if k in types}

        yield from rows_to_batches(schema.arrow_schema(columns), rows(), quals, limit)
