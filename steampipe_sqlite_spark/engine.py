"""Engine facade: load connectors, discover schemas, register tables,
reconfigure live — the extension-load + configure-UDF surface of the
reference (SURVEY.md §3.1, §3.3).

Usage::

    eng = Engine(spark)
    eng.load("steampipe_sqlite_spark.sources.chaos:ChaosConnector")
    eng.sql("SELECT * FROM chaos_all_types WHERE id < 10")
    eng.configure("dynamic", '{"tables": {"t": [["x", "int"]]}}')

Static connectors register tables at load (reference register.go:29-43);
dynamic connectors register on configure, and each reconfigure drops the
old views and re-creates from the fresh schema
(reference configure_fn.go:114-149).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from steampipe_sqlite_spark.sources.connector import DYNAMIC, STATIC, Schema
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
        # alias -> (class_path, config, schema, view names)
        self._connections: dict[str, dict] = {}

    # -- loading (reference register.go) -----------------------------------

    def load(self, connector_class: str, alias: str | None = None, config: str | None = None) -> str:
        """Load a connector; static mode discovers and registers tables
        immediately (with blank config if none given — the reference sends
        Config:"" for static plugins, register.go:49-69).  A mistyped
        engine option raises ``ValueError`` before anything registers."""
        conn = load_connector(connector_class, config)
        alias = alias or conn.name
        schema = conn.get_schema()
        state = {
            "class": connector_class,
            "config": config,
            "schema": schema,
            "views": [],
        }
        self._connections[alias] = state
        if schema.mode != DYNAMIC or schema.tables:
            self._register_views(alias)
        return alias

    # -- configure (reference configure_fn.go:12-149) ----------------------

    def configure(self, alias: str, config: str) -> None:
        """steampipe_configure_<alias>() analog: update config, refetch
        schema, drop/recreate views for dynamic connectors.  A config that
        fails validation or schema discovery leaves the previous one
        serving."""
        state = self._connections[alias]
        conn = load_connector(state["class"], config)
        schema = conn.get_schema()
        old_mode = state["schema"].mode if state["schema"] else None
        state["config"] = config
        state["schema"] = schema
        if schema.mode == DYNAMIC or old_mode == DYNAMIC:
            self._drop_views(alias)
            self._register_views(alias)
        # static connectors keep their views; config affects future scans
        # through the refreshed option below
        else:
            self._register_views(alias)

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
                fields = tschema.spark_schema().fields
                if columns is not None:
                    fields = [f for f in fields if f.name in set(columns)]
                reader = reader.schema(T.StructType(fields))
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

    _CONFIGURE_RE = re.compile(r"steampipe_configure_([A-Za-z_]\w*)\s*\(", re.IGNORECASE)

    def sql(self, query: str) -> DataFrame:
        """Run SQL over the registered connector views.

        Views are re-registered first: with Python-DS filter pushdown, a
        relation instance bakes in the first query's pushed-down reader, so
        a long-lived temp view would silently reuse stale quals for a
        different query (observed on PySpark 4.1.2).  A fresh relation per
        query restores the per-query BestIndex semantics of the reference
        (xBestIndex runs per statement, /root/reference/table.go:74).

        ``SELECT steampipe_configure_<alias>(config)`` is supported as in
        the reference (/root/reference/configure_fn.go:12-44, registered
        register.go:22-27; usage /root/reference/test.sql) — including the
        `... FROM config_table` form.  A Spark Python UDF runs in executor
        workers and cannot mutate driver-side engine state, so the call is
        evaluated here instead: the argument expression is executed as a
        query, each resulting config string is applied in row order, and
        the statement returns one NULL per application (the reference
        function also yields NULL on success).
        """
        for alias in self._connections:
            self._register_views(alias)
        m = self._CONFIGURE_RE.search(query)
        if m:
            return self._configure_sql(query, m)
        return self.spark.sql(query)

    def _configure_sql(self, query: str, m: re.Match) -> DataFrame:
        alias = m.group(1).lower()
        if alias not in self._connections:
            raise ValueError(f"no connection named {alias!r} is loaded")
        # extract the balanced-paren argument expression of the call
        depth, in_str, i = 1, False, m.end()
        while i < len(query) and depth:
            ch = query[i]
            if in_str:
                in_str = ch != "'"
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        if depth:
            raise ValueError("unterminated steampipe_configure_* call")
        arg_expr = query[m.end() : i - 1]
        # run the statement with the call replaced by its argument, so
        # `SELECT steampipe_configure_x(config) FROM tbl` evaluates the
        # argument with full SQL semantics (any FROM/WHERE/ORDER applies)
        rewritten = query[: m.start()] + f"({arg_expr})" + query[i:]
        configs = [row[0] for row in self.spark.sql(rewritten).collect()]
        for config in configs:
            if config is None:
                continue
            if isinstance(config, (bytes, bytearray)):
                # BLOB argument accepted alongside TEXT, decoded to the
                # config string (configure_fn.go:55-60: SQLITE_BLOB →
                # string(values[0].Blob()))
                config = bytes(config).decode("utf-8")
            elif not isinstance(config, str):
                raise TypeError("expected a TEXT or BLOB argument")  # configure_fn.go:46-66
            self.configure(alias, config)
        return self.spark.createDataFrame(
            [(None,) for _ in configs],
            f"`steampipe_configure_{alias}` string",
        )

    def schema(self, alias: str) -> Schema:
        return self._connections[alias]["schema"]

    def tables(self, alias: str | None = None) -> list[str]:
        out = []
        for a, state in self._connections.items():
            if alias is None or a == alias:
                out.extend(f"{a}_{t.name}" for t in state["schema"].tables)
        return out

    # -- view management (reference configure_fn.go:131-149, 167-182) ------

    def _register_views(self, alias: str) -> None:
        state = self._connections[alias]
        views = []
        for t in state["schema"].tables:
            view = f"{alias}_{t.name}"
            self.table(alias, t.name).createOrReplaceTempView(view)
            views.append(view)
        state["views"] = views

    def _drop_views(self, alias: str) -> None:
        state = self._connections[alias]
        for view in state["views"]:
            self.spark.catalog.dropTempView(view)
        state["views"] = []
