"""Connector-contract unit tests (SURVEY.md §5 plan item 1) — pure Python,
no Spark."""

import datetime as dt
import json

import pyarrow as pa
import pytest

from steampipe_sqlite_spark.sources.cache import ScanCache, serve_from_superset
from steampipe_sqlite_spark.sources.chaos import ChaosConnector, DynamicConnector
from steampipe_sqlite_spark.sources.connector import (
    ColumnType,
    MissingRequiredQualError,
    Qual,
    bind_cidr,
    bind_ipaddr,
    bind_limit,
    bind_timestamp,
    check_required_quals,
)
from steampipe_sqlite_spark.sources.csvfiles import CsvConnector
from steampipe_sqlite_spark.sources.jsonlines import JsonlConnector


def collect(batches):
    return pa.Table.from_batches(list(batches)).to_pylist()


class TestSchemaDiscovery:
    def test_static_schema(self):
        schema = ChaosConnector().get_schema()
        assert {t.name for t in schema.tables} == {"all_types", "keyed", "flaky"}
        at = schema.table("all_types")
        # every reference column type is represented (mapping.go:74-84)
        assert {c.type for c in at.columns} >= {
            ColumnType.BOOL,
            ColumnType.INT,
            ColumnType.DOUBLE,
            ColumnType.STRING,
            ColumnType.JSON,
            ColumnType.DATETIME,
            ColumnType.IPADDR,
            ColumnType.CIDR,
            ColumnType.LTREE,
        }

    def test_spark_schema_types(self):
        at = ChaosConnector().get_schema().table("all_types")
        ddl = at.spark_schema().simpleString()
        assert "id:bigint" in ddl
        assert "flag:boolean" in ddl
        assert "created_at:timestamp" in ddl
        assert "doc:string" in ddl  # JSON as string (SURVEY §7.4)

    def test_dynamic_schema_from_config(self):
        c = DynamicConnector()
        assert c.get_schema().tables == ()
        c.set_config('{"tables": {"t1": [["x", "int"], ["y", "string"]]}}')
        schema = c.get_schema()
        assert [t.name for t in schema.tables] == ["t1"]
        assert [c.name for c in schema.table("t1").columns] == ["x", "y"]


class TestQualBinding:
    def test_timestamp_two_formats(self):
        # reference parses ts-format then date-only (mapping.go:140-154)
        assert bind_timestamp("2024-01-02 03:04:05.123456") == dt.datetime(
            2024, 1, 2, 3, 4, 5, 123456
        )
        assert bind_timestamp("2024-01-02 03:04:05") == dt.datetime(2024, 1, 2, 3, 4, 5)
        assert bind_timestamp("2024-01-02") == dt.datetime(2024, 1, 2)
        with pytest.raises(ValueError):
            bind_timestamp("not-a-date")

    def test_ip_and_cidr(self):
        assert bind_ipaddr("10.0.0.1") == "10.0.0.1"
        with pytest.raises(ValueError):
            bind_ipaddr("999.0.0.1")
        # valid CIDRs must bind — the reference's inverted check dropped
        # them (mapping.go:126-128)
        assert bind_cidr("10.0.0.0/24") == "10.0.0.0/24"
        with pytest.raises(ValueError):
            bind_cidr("10.0.0.0/99")

    def test_limit_non_integer_dropped(self):
        # cursor.go:203-207
        assert bind_limit(10) == 10
        assert bind_limit("ten") is None
        assert bind_limit(3.5) is None
        assert bind_limit(-1) is None
        assert bind_limit(True) is None

    def test_qual_matches(self):
        assert Qual("x", "=", 5).matches(5)
        assert not Qual("x", "=", 5).matches(6)
        assert Qual("x", "in", (1, 2)).matches(2)
        assert Qual("x", "is_null").matches(None)
        assert Qual("x", "prefix", "ab").matches("abc")
        assert not Qual("x", ">", 5).matches(None)


class TestRequiredKeyColumns:
    def test_missing_required_raises(self):
        keyed = ChaosConnector().get_schema().table("keyed")
        with pytest.raises(MissingRequiredQualError) as e:
            check_required_quals(keyed, [Qual("seq", ">", 5)])
        assert "tenant" in str(e.value)

    def test_equality_or_in_satisfies(self):
        keyed = ChaosConnector().get_schema().table("keyed")
        check_required_quals(keyed, [Qual("tenant", "=", "a")])
        check_required_quals(keyed, [Qual("tenant", "in", ("a", "b"))])

    def test_any_op_naming_the_column_satisfies(self):
        """Reference parity (table.go:182-214): the gate checks NAME
        PRESENCE among constraints, any operator — a range-only qual on
        the required column proceeds to the connector rather than erroring
        at the gate (VERDICT r10 'What's wrong' #1)."""
        keyed = ChaosConnector().get_schema().table("keyed")
        check_required_quals(keyed, [Qual("tenant", ">", "a")])
        check_required_quals(keyed, [Qual("tenant", "prefix", "a")])


class TestExecution:
    def test_multi_qual_per_column(self):
        # both quals reach the connector — fixing last-wins
        # (cursor.go:222-231)
        c = ChaosConnector(n_rows=50)
        rows = collect(
            c.execute(
                "keyed",
                [Qual("tenant", "=", "t1"), Qual("seq", ">", 5), Qual("seq", "<", 10)],
                None,
                None,
            )
        )
        assert [r["seq"] for r in rows] == [6, 7, 8, 9]
        assert c.call_log[-1]["quals"] == [
            ("tenant", "=", "t1"),
            ("seq", ">", 5),
            ("seq", "<", 10),
        ]

    def test_limit_short_circuit(self):
        c = ChaosConnector(n_rows=1000)
        rows = collect(c.execute("all_types", [], None, 7))
        assert len(rows) == 7

    def test_projection(self):
        c = ChaosConnector(n_rows=5)
        rows = collect(c.execute("all_types", [], ["id", "name"], None))
        assert set(rows[0].keys()) == {"id", "name"}

    def test_nulls_materialize(self):
        # divergence from reference zero-values (cursor.go:133-159)
        c = ChaosConnector(n_rows=8)
        rows = collect(c.execute("all_types", [], ["id", "maybe"], None))
        assert rows[0]["maybe"] is None
        assert rows[1]["maybe"] == "v1"

    def test_flaky_error_injection(self):
        c = ChaosConnector(n_rows=10)
        c.set_config('{"error_at_row": 3}')
        with pytest.raises(RuntimeError, match="injected error at row 3"):
            collect(c.execute("flaky", [], None, None))

    @pytest.mark.parametrize("quals", [[], [Qual("tenant", ">", "a")]])
    def test_keyed_tenant_gate_raises_at_limit_zero(self, quals):
        # LIMIT 0 pulls no row, but the gate is not a row: an unservable
        # tenant shape must still fail loudly, never come back empty
        c = ChaosConnector(n_rows=5)
        with pytest.raises(ValueError, match="requires an '=' or IN qual"):
            list(c.execute("keyed", quals, None, 0))

    @pytest.mark.parametrize("error_at", [5, 10])
    def test_no_row_past_the_limit_is_pulled(self, error_at):
        # generating row ``error_at`` raises; a LIMIT 5 scan must stop
        # before it, even when it is the very next row
        c = ChaosConnector(n_rows=20)
        c.set_config(f'{{"error_at_row": {error_at}}}')
        rows = collect(c.execute("flaky", [], None, 5))
        assert [r["id"] for r in rows] == [0, 1, 2, 3, 4]

    @pytest.mark.parametrize(
        "cls, ext, text",
        [(CsvConnector, "csv", "id\n1\n"), (JsonlConnector, "jsonl", '{"id": 1}\n')],
    )
    def test_file_scan_opens_only_its_own_file(self, tmp_path, cls, ext, text):
        # a scan infers its own file's schema; get_schema() would open
        # every configured path, here one that is gone
        (tmp_path / f"own.{ext}").write_text(text)
        c = cls(json.dumps({"paths": [str(tmp_path / f"own.{ext}"), str(tmp_path / f"gone.{ext}")]}))
        assert collect(c.execute("own", [], None, None)) == [{"id": 1}]


class TestScanCache:
    def make_batch(self, n=3):
        return pa.RecordBatch.from_pylist([{"x": i} for i in range(n)])

    def test_hit_and_miss(self):
        cache = ScanCache(ttl_s=60)
        key = ScanCache.key("m:C", None, "t", (), None, None)
        assert cache.get(key) is None
        cache.put(key, [self.make_batch()])
        assert cache.get(key) is not None
        assert cache.hits == 1 and cache.misses == 1
        cache.clear()
        assert (cache.hits, cache.misses) == (0, 0)

    def test_ttl_expiry(self, monkeypatch):
        cache = ScanCache(ttl_s=60)
        key = ScanCache.key("m:C", None, "t", (), None, None)
        cache.put(key, [self.make_batch()])
        import time as time_mod

        real = time_mod.monotonic()
        monkeypatch.setattr(time_mod, "monotonic", lambda: real + 61)
        assert cache.get(key) is None

    def test_env_disable(self, monkeypatch):
        monkeypatch.setenv("STEAMPIPE_CACHE", "false")
        cache = ScanCache(ttl_s=60)
        key = ScanCache.key("m:C", None, "t", (), None, None)
        cache.put(key, [self.make_batch()])
        assert cache.get(key) is None

    def test_max_ttl_env_caps(self, monkeypatch):
        monkeypatch.setenv("STEAMPIPE_CACHE_MAX_TTL", "10")
        cache = ScanCache(ttl_s=300)
        assert cache.ttl_s == 10

    def test_size_bound_evicts(self):
        cache = ScanCache(ttl_s=60, max_bytes=1)
        key = ScanCache.key("m:C", None, "t", (), None, None)
        cache.put(key, [self.make_batch()])  # larger than bound: not cached
        assert cache.get(key) is None

    def test_distinct_keys_by_quals(self):
        cache = ScanCache(ttl_s=60)
        k1 = ScanCache.key("m:C", None, "t", (("x", "=", 1),), None, None)
        k2 = ScanCache.key("m:C", None, "t", (("x", "=", 2),), None, None)
        cache.put(k1, [self.make_batch()])
        assert cache.get(k2) is None


class TestPerConnectionCacheOptions:
    """Connection-config cache overrides (reference register.go:52-64,
    configure_fn.go:70-96: config rides every ExecuteRequest; the SDK
    honors connection-level cache/cache_ttl; MaxCacheSizeMb rides
    SetAllConnectionConfigs)."""

    def make_batch(self, n=3):
        return pa.RecordBatch.from_pylist([{"x": i} for i in range(n)])

    def test_parse_overrides(self):
        from steampipe_sqlite_spark.sources.config import ConnectionOptions

        parse = ConnectionOptions.parse
        assert parse(None) == ConnectionOptions()
        assert parse('{"cache": false}') == ConnectionOptions(cache=False)
        o = parse('{"cache": true, "cache_ttl": 7, "cache_max_size_mb": 2}')
        assert (o.cache, o.cache_ttl_s, o.cache_max_bytes) == (True, 7, 2 * 1024 * 1024)
        # HCL form parses identically
        assert parse("cache_ttl = 9") == ConnectionOptions(cache_ttl_s=9)
        # junk config must not take down the scan path
        assert parse("not a config ][") == ConnectionOptions()

    @pytest.mark.parametrize("config", ['{"cache_ttl": 0.5}', '{"cache_max_size_mb": 0.5}'])
    def test_fractional_options_keep_caching(self, config):
        """A fractional TTL or size budget passes validation, so it must
        be honoured as given, not truncated to 0 s or 0 bytes (which
        turned the cache off): a rescan makes no new connector call."""
        from steampipe_sqlite_spark.sources import datasource as ds
        from steampipe_sqlite_spark.sources.chaos import ChaosConnector

        class Counting(ChaosConnector):
            calls = 0

            def execute(self, *a, **kw):
                Counting.calls += 1
                yield from super().execute(*a, **kw)

        ds._SCAN_CACHE.clear()
        conn = Counting(config)
        table = conn.get_schema().table("all_types")
        reader = ds.ConnectorReader(conn, table, {})
        part = reader.partitions()[0]
        first = [r for b in reader.read(part) for r in b.to_pylist()]
        again = [r for b in reader.read(part) for r in b.to_pylist()]
        ds._SCAN_CACHE.clear()
        assert Counting.calls == 1, "the rescan refetched: cache was off"
        assert again == first and first

    def test_two_connections_evict_independently_by_ttl(self, monkeypatch):
        """Two connections with different TTLs in one shared cache: the
        short-TTL connection's entry expires while the long-TTL one
        survives."""
        cache = ScanCache(ttl_s=600)
        k_short = ScanCache.key("m:C", '{"cache_ttl": 5}', "t", (), None, None)
        k_long = ScanCache.key("m:C", '{"cache_ttl": 500}', "t", (), None, None)
        cache.put(k_short, [self.make_batch()], ttl_s=5)
        cache.put(k_long, [self.make_batch()], ttl_s=500)
        import time as time_mod

        real = time_mod.monotonic()
        monkeypatch.setattr(time_mod, "monotonic", lambda: real + 60)
        assert cache.get(k_short) is None
        assert cache.get(k_long) is not None

    def test_per_connection_size_budget_is_isolated(self):
        """A connection-level size budget evicts that connection's LRU
        entries only; another connection's entries are untouched."""
        cache = ScanCache(ttl_s=600, max_bytes=10**9)
        batch = self.make_batch(100)
        budget = batch.nbytes + batch.nbytes // 2  # fits 1, not 2
        a1 = ScanCache.key("m:C", "cfgA", "t", (("x", "=", 1),), None, None)
        a2 = ScanCache.key("m:C", "cfgA", "t", (("x", "=", 2),), None, None)
        b1 = ScanCache.key("m:C", "cfgB", "t", (("x", "=", 1),), None, None)
        cache.put(b1, [batch])
        cache.put(a1, [batch], conn_max_bytes=budget)
        cache.put(a2, [batch], conn_max_bytes=budget)  # evicts a1, not b1
        assert cache.get(a1) is None
        assert cache.get(a2) is not None
        assert cache.get(b1) is not None

    def test_cache_disabled_connection_always_executes(self, spark, tmp_path):
        """cache=false in the connection config bypasses the shared cache:
        two identical scans hit the connector twice (observable via the
        chaos connector's call counter file)."""
        import json

        from steampipe_sqlite_spark.engine import Engine

        eng = Engine(spark)
        counter = str(tmp_path / "calls.cnt")
        cfg = json.dumps({"cache": False, "count_calls_in": counter})
        eng.load(
            "steampipe_sqlite_spark.sources.chaos:ChaosConnector",
            alias="nocache",
            config=cfg,
        )
        eng.sql("SELECT count(*) FROM nocache_all_types").collect()
        eng.sql("SELECT count(*) FROM nocache_all_types").collect()
        with open(counter) as fh:
            calls = len(fh.read().splitlines())
        assert calls >= 2


class TestQualSubsumption:
    """SDK-cache qual subsumption (SURVEY §7.5.4, reference cursor.go:70-92):
    a narrower scan is served from a cached broader result."""

    def wide_batch(self):
        return pa.RecordBatch.from_pylist(
            [{"x": i, "name": f"n{i}"} for i in range(10)]
        )

    def rows(self, batches):
        return [r for b in batches for r in b.to_pylist()]

    def test_subset_quals_served_from_superset(self):
        cache = ScanCache(ttl_s=60)
        full = ScanCache.key("m:C", None, "t", (), None, None)
        cache.put(full, [self.wide_batch()])
        want = ScanCache.key("m:C", None, "t", (("x", ">", 5),), None, None)
        out = cache.get(want)
        assert out is not None
        assert [r["x"] for r in self.rows(out)] == [6, 7, 8, 9]

    def test_subsumed_hit_counts_one_hit(self):
        """One lookup counts one hit or one miss: a subsumed hit is a hit,
        not also a miss of the exact key."""
        cache = ScanCache(ttl_s=60)
        cache.put(ScanCache.key("m:C", None, "t", (), None, None), [self.wide_batch()])
        want = ScanCache.key("m:C", None, "t", (("x", ">", 5),), None, None)
        assert cache.get(want)
        assert (cache.hits, cache.misses) == (1, 0)

    def test_column_projection_and_limit(self):
        cache = ScanCache(ttl_s=60)
        full = ScanCache.key("m:C", None, "t", (), None, None)
        cache.put(full, [self.wide_batch()])
        want = ScanCache.key("m:C", None, "t", (("x", ">=", 2),), ("name",), 3)
        rows = self.rows(cache.get(want))
        assert rows == [{"name": "n2"}, {"name": "n3"}, {"name": "n4"}]

    def test_limited_entry_never_subsumes(self):
        cache = ScanCache(ttl_s=60)
        truncated = ScanCache.key("m:C", None, "t", (), None, 5)
        cache.put(truncated, [self.wide_batch().slice(0, 5)])
        want = ScanCache.key("m:C", None, "t", (("x", ">", 1),), None, None)
        assert cache.get(want) is None

    def test_narrow_columns_never_subsume_wider(self):
        cache = ScanCache(ttl_s=60)
        narrow = ScanCache.key("m:C", None, "t", (), ("x",), None)
        cache.put(narrow, [self.wide_batch().select(["x"])])
        want = ScanCache.key("m:C", None, "t", (), None, None)
        assert cache.get(want) is None

    def test_other_connector_class_never_subsumes(self):
        cache = ScanCache(ttl_s=60)
        cache.put(ScanCache.key("m:A", None, "t", (), None, None), [self.wide_batch()])
        want = ScanCache.key("m:B", None, "t", (("x", ">", 5),), None, None)
        assert cache.get(want) is None

    def test_in_and_prefix_residuals(self):
        batches = [self.wide_batch()]
        out = serve_from_superset(batches, (("x", "in", (1, 3)),), None, None)
        assert [r["x"] for b in out for r in b.to_pylist()] == [1, 3]
        out = serve_from_superset(batches, (("name", "prefix", "n1"),), None, None)
        assert [r["name"] for b in out for r in b.to_pylist()] == ["n1"]

    def test_reader_serves_stricter_scan_with_zero_connector_calls(self):
        # end-to-end at the reader level: a full-table read populates the
        # cache; a stricter read (id > 5) must be answered entirely from it
        from steampipe_sqlite_spark.sources import datasource as ds
        from steampipe_sqlite_spark.sources.chaos import ChaosConnector
        from steampipe_sqlite_spark.sources.connector import Qual

        class Counting(ChaosConnector):
            calls = 0

            def execute(self, *a, **kw):
                Counting.calls += 1
                yield from super().execute(*a, **kw)

        ds._SCAN_CACHE.clear()
        conn = Counting()
        table = conn.get_schema().table("all_types")
        full = ds.ConnectorReader(conn, table, {})
        part = full.partitions()[0]
        n_full = sum(b.num_rows for b in full.read(part))
        assert Counting.calls == 1 and n_full > 0

        strict = ds.ConnectorReader(conn, table, {})
        strict.quals = [Qual("id", ">", 5)]
        rows = [r for b in strict.read(strict.partitions()[0]) for r in b.to_pylist()]
        assert Counting.calls == 1, "stricter scan must not touch the connector"
        assert rows and all(r["id"] > 5 for r in rows)
        ds._SCAN_CACHE.clear()
