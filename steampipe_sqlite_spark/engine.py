"""Engine facade: load connectors, discover schemas, reconfigure live,
and bind connector tables into SQL — the extension-load + configure-UDF
surface of the reference (SURVEY.md §3.1, §3.3).

Usage::

    eng = Engine(spark)
    eng.load("steampipe_sqlite_spark.sources.chaos:ChaosConnector")
    eng.sql("SELECT * FROM chaos_all_types WHERE id < 10")
    eng.configure("dynamic", '{"tables": {"t": [["x", "int"]]}}')

Static connectors discover their tables at load (reference
register.go:29-43); dynamic connectors on configure, and each reconfigure
replaces the table set with the fresh schema's (reference
configure_fn.go:114-149).  Nothing is registered in the session catalog:
``<alias>_<table>`` names exist only inside ``Engine.sql``, which binds
each reference of a statement to a fresh scan, and ``Engine.table``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from steampipe_sqlite_spark.sources.connector import STATIC, Schema
from steampipe_sqlite_spark.sources.datasource import (
    FORMAT_NAME,
    ConnectorDataSource,
    load_connector,
)


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        # Self-sufficiency on DEFAULT-config sessions (the external
        # driver's environment): the bridge reader implements
        # pushFilters, and Spark REFUSES to plan a pushdown-implementing
        # Python data source while spark.sql.python.filterPushdown.enabled
        # is false (DATA_SOURCE_PUSHDOWN_DISABLED) rather than silently
        # skipping pushdown.  It is a runtime SQL conf, so enable it
        # here instead of relying on session.get_spark having built the
        # session (caught by the r13 bridge corpus entries' vanilla
        # selfcheck).
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(ConnectorDataSource)
        # task slots a bridge scan groups its connector partitions into
        # (ConnectorReader.partitions)
        self._slots = spark.sparkContext.defaultParallelism
        # alias -> (class_path, config, schema)
        self._connections: dict[str, dict] = {}
        # Spark's parser substitutes ${var} first, so its spans index that
        self._substitute = spark._jvm.org.apache.spark.sql.internal.VariableSubstitution().substitute

    # -- loading (reference register.go) -----------------------------------

    def load(self, connector_class: str, alias: str | None = None, config: str | None = None) -> str:
        """Load a connector; static mode discovers its tables immediately
        (with blank config if none given — the reference sends Config:""
        for static plugins, register.go:49-69).  A mistyped engine option
        raises ``ValueError`` before the connection is added."""
        conn = load_connector(connector_class, config)
        alias = alias or conn.name
        self._connections[alias] = {
            "class": connector_class,
            "config": config,
            "schema": conn.get_schema(),
        }
        return alias

    # -- configure (reference configure_fn.go:12-149) ----------------------

    def configure(self, alias: str, config: str) -> None:
        """steampipe_configure_<alias>() analog: update config and refetch
        the schema, so a dynamic connector's table set follows the new
        config.  A config that fails validation or schema discovery leaves
        the previous one serving."""
        state = self._connections[alias]
        schema = load_connector(state["class"], config).get_schema()
        state["config"] = config
        state["schema"] = schema

    # -- table access ------------------------------------------------------

    def table(
        self,
        alias: str,
        table: str,
        limit: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Direct scan with optional fetch hints.

        ``limit`` is the connector-side fetch hint (B5 semantics: advisory,
        Spark still applies its own LIMIT); ``columns`` is explicit
        projection pushdown (B2) — the Python DS API has no pushColumns, so
        narrow scans are requested here.

        Limit: the returned DataFrame (like one from ``sql``) holds one
        relation, and PySpark 4.1.2 keeps one pushed-down reader per
        relation.  Re-deriving it with different filters shares that
        reader: ``df.where("partition_id = 3").count()`` then
        ``df.count()`` reads with the first filter's quals both times.
        Call ``table()`` or ``sql()`` again for each filtered query.
        """
        import json as _json

        state = self._connections[alias]
        reader = (
            self.spark.read.format(FORMAT_NAME)
            .option("connector_class", state["class"])
            .option("table", table)
            .option("slots", str(self._slots))
        )
        if state["config"]:
            reader = reader.option("config", state["config"])
        if limit is not None:
            reader = reader.option("limit", str(limit))
        if columns is not None:
            reader = reader.option("columns", _json.dumps(columns))
        # STATIC connectors: supply the schema explicitly from the copy
        # discovered at load()/configure() time — Spark then skips the
        # per-load() Python-worker schema round trip (measured 0.124 s ->
        # 0.012 s per load(); an Engine.load + table() pair paid it
        # twice).  DYNAMIC connectors keep the live round trip: their
        # schema is discovered from the source and may legitimately
        # change between calls.
        schema_obj = state["schema"]
        if schema_obj is not None and schema_obj.mode == STATIC:
            tschema = schema_obj.table(table)
            if tschema is not None:
                reader = reader.schema(tschema.spark_schema(columns))
        return reader.load()

    def stream(
        self,
        alias: str,
        table: str,
        offset_col: str = "seq",
        batch_rows: int = 100,
    ) -> DataFrame:
        """Tail a connector table as a Structured Streaming source.

        Engine extension (the reference is batch-only, SURVEY.md §2.3):
        micro-batches poll ``offset_col`` ranges of ``batch_rows`` through
        the same qual pushdown path as batch scans; deterministic
        connectors replay committed ranges exactly on restart.
        """
        state = self._connections[alias]
        reader = (
            self.spark.readStream.format(FORMAT_NAME)
            .option("connector_class", state["class"])
            .option("table", table)
            .option("stream_offset_col", offset_col)
            .option("stream_batch", str(batch_rows))
        )
        if state["config"]:
            reader = reader.option("config", state["config"])
        return reader.load()

    def sql(self, query: str) -> DataFrame:
        """Run SQL in which ``<alias>_<table>`` names a connector table.

        Spark's parser finds each single-part relation reference naming a
        loaded connection's table (and no WITH definition); each is bound
        to a fresh ``table()`` under a view name unique to this call, so
        it gets its own relation and pushed-down reader (PySpark 4.1.2
        keeps one per relation), as the reference runs xBestIndex per
        statement (reference table.go:74).  The views are dropped before
        this returns: ``spark.sql`` has analyzed the statement.

        ``SELECT steampipe_configure_<alias>(config) [FROM ...]`` works as
        in the reference (configure_fn.go:12-44, test.sql).  A Python UDF
        cannot mutate driver-side engine state, so the statement runs with
        the call replaced by its argument, each resulting config is applied
        in row order, and one NULL per application is returned.
        """
        tables = {
            f"{a}_{t.name}".lower(): (a, t.name)
            for a, state in self._connections.items()
            for t in state["schema"].tables
        }
        query = self._substitute(query)
        refs, calls, ctes = [], [], set()
        _walk(self.spark._jsparkSession.sessionState().sqlParser().parsePlan(query), refs, calls, ctes)
        edits, views = [], []  # (start, stop, replacement) over query
        try:
            for name, start, stop, alias_at in refs:
                if name.lower() in ctes or name.lower() not in tables:
                    continue
                views.append(f"sparktap_{uuid.uuid4().hex}")
                self.table(*tables[name.lower()]).createTempView(views[-1])
                edits.append((start, stop, views[-1]))
                if alias_at is not None:  # keep `<alias>_<table>.col` resolving
                    edits.append((alias_at + 1, alias_at, f" AS {query[start : stop + 1]}"))
            if not calls:
                return self.spark.sql(_rewrite(query, edits))
            name, start, stop, args = calls[0]
            alias = name.lower().removeprefix("steampipe_configure_")
            if alias not in self._connections:
                raise ValueError(f"no connection named {alias!r} is loaded")
            if len(args) != 1:
                raise TypeError(f"{name} takes one argument")
            edits += [(start, args[0][0] - 1, "("), (args[0][1] + 1, stop, ")")]
            configs = [row[0] for row in self.spark.sql(_rewrite(query, edits)).collect()]
        finally:
            for view in views:
                self.spark.catalog.dropTempView(view)
        for config in (c for c in configs if c is not None):
            if isinstance(config, (bytes, bytearray)):
                # BLOB argument accepted alongside TEXT, decoded to the
                # config string (configure_fn.go:55-60: SQLITE_BLOB →
                # string(values[0].Blob()))
                config = bytes(config).decode("utf-8")
            elif not isinstance(config, str):
                raise TypeError("expected a TEXT or BLOB argument")  # configure_fn.go:46-66
            self.configure(alias, config)
        return self.spark.createDataFrame(
            [(None,) for _ in configs], f"`steampipe_configure_{alias}` string"
        )

    def schema(self, alias: str) -> Schema:
        return self._connections[alias]["schema"]

    def tables(self, alias: str | None = None) -> list[str]:
        out = []
        for a, state in self._connections.items():
            if alias is None or a == alias:
                out.extend(f"{a}_{t.name}" for t in state["schema"].tables)
        return out


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _span(node) -> tuple[int, int]:
    """A parsed node's character span in the statement, stop inclusive."""
    return node.origin().startIndex().get(), node.origin().stopIndex().get()


def _walk(plan, refs: list, calls: list, ctes: set, parent=None) -> None:
    """Collect a parsed plan's single-part relation references (name,
    span, where an ``AS`` alias goes if it has none), configure calls
    (name, span, argument spans) and WITH-defined names."""
    kind = plan.nodeName()
    if kind == "UnresolvedRelation" and plan.multipartIdentifier().size() == 1:
        start, stop = _span(plan)
        above = parent.nodeName() if parent is not None else "SubqueryAlias"
        # TABLESAMPLE comes between a table name and its alias
        alias_at = None if above == "SubqueryAlias" else _span(parent)[1] if above == "Sample" else stop
        refs.append((plan.multipartIdentifier().head(), start, stop, alias_at))
    elif kind == "UnresolvedWith":
        ctes.update(r._1().lower() for r in _seq(plan.cteRelations()))
    elif kind == "ExplainCommand":
        _walk(plan.logicalPlan(), refs, calls, ctes)
    # innerChildren holds subquery plans and WITH definitions
    for child in _seq(plan.children()) + _seq(plan.innerChildren()):
        _walk(child, refs, calls, ctes, plan)
    exprs = _seq(plan.expressions())
    while exprs:
        expr = exprs.pop()
        if expr.nodeName() == "UnresolvedFunction" and expr.nameParts().size() == 1:
            name = expr.nameParts().head()
            if name.lower().startswith("steampipe_configure_"):
                calls.append((name, *_span(expr), [_span(a) for a in _seq(expr.arguments())]))
        exprs += _seq(expr.children())


def _rewrite(query: str, edits: list) -> str:
    """Apply disjoint (start, stop, replacement) edits; stop == start - 1
    inserts."""
    for start, stop, text in sorted(edits, reverse=True):
        query = query[:start] + text + query[stop + 1 :]
    return query
