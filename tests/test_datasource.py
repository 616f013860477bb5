"""End-to-end DataSource bridge tests: Spark SQL → pushFilters → connector
→ Arrow → Catalyst residual filter (SURVEY.md §3.2 traced on our engine)."""

import pytest

from steampipe_sqlite_spark.engine import Engine
from steampipe_sqlite_spark.sources.chaos import ChaosConnector
from steampipe_sqlite_spark.sources.connector import Qual
from steampipe_sqlite_spark.sources.datasource import filters_to_quals

CHAOS = "steampipe_sqlite_spark.sources.chaos:ChaosConnector"
DYNAMIC = "steampipe_sqlite_spark.sources.dynamic_mod_does_not_exist"


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine(spark)
    eng.load(CHAOS)
    return eng


class TestEndToEnd:
    def test_minimum_slice(self, engine):
        # SURVEY §7.3: one filtered/projected/limited SELECT end-to-end
        rows = engine.sql(
            "SELECT id, name FROM chaos_all_types WHERE id = 42 LIMIT 10"
        ).collect()
        assert len(rows) == 1
        assert rows[0].asDict() == {"id": 42, "name": "item_0042"}

    def test_all_types_roundtrip(self, engine):
        row = engine.sql("SELECT * FROM chaos_all_types WHERE id = 3").collect()[0].asDict()
        assert row["flag"] is False
        assert row["score"] == 4.5
        assert row["doc"] == '{"i": 3, "even": false}'
        assert row["created_at"].hour == 3
        assert row["ip"] == "10.0.3.21"
        assert row["cidr"] == "10.3.0.0/16"
        assert row["path"] == "root.n3.leaf3"

    def test_nulls(self, engine):
        rows = engine.sql(
            "SELECT id FROM chaos_all_types WHERE maybe IS NULL AND id < 20"
        ).collect()
        assert sorted(r.id for r in rows) == [0, 7, 14]

    def test_engine_refilters_overreturn(self, engine):
        # connector over-returns on non-key columns (score isn't a key
        # col); engine's residual filter restores exactness (Omit:false)
        rows = engine.sql(
            "SELECT id, score FROM chaos_all_types WHERE score > 145"
        ).collect()
        assert all(r.score > 145 for r in rows)
        assert len(rows) == 3  # ids 98,99 → 147.0, 148.5... n_rows=100

    def test_range_quals_both_pushed(self, spark):
        eng = Engine(spark)
        alias = eng.load(CHAOS, alias="chaos2")
        eng.sql(
            "SELECT * FROM chaos2_keyed WHERE tenant = 'a' AND seq > 5 AND seq < 9"
        ).collect()
        # verify through a direct connector call that the shape works;
        # executor-side call logs aren't visible on the driver, so assert
        # via result correctness instead
        rows = eng.sql(
            "SELECT seq FROM chaos2_keyed WHERE tenant = 'a' AND seq > 5 AND seq < 9"
        ).collect()
        assert sorted(r.seq for r in rows) == [6, 7, 8]

    def test_in_list_qual(self, engine):
        rows = engine.sql(
            "SELECT DISTINCT tenant FROM chaos_keyed WHERE tenant IN ('x', 'y')"
        ).collect()
        assert sorted(r.tenant for r in rows) == ["x", "y"]

    def test_missing_required_qual_errors(self, engine):
        with pytest.raises(Exception, match="tenant"):
            engine.sql("SELECT * FROM chaos_keyed").collect()

    def test_unsupported_op_on_required_col_reaches_connector(self, engine):
        """Reference gate parity END-TO-END (table.go:182-214): tenant
        declares operators ('=','in'), so a range filter is untranslatable
        — but it still NAMES the column, and the gate must count it (any
        constraint naming the column) and let the scan reach the
        CONNECTOR, whose own richer error surfaces instead of the gate's
        (before the round-11 fix, MissingRequiredQualError fired at
        planning).  The connector must raise rather than under-return:
        a silently-partial result would be cached as the no-qual superset
        and served to LATER stricter queries via subsumption."""
        with pytest.raises(Exception, match="cannot enumerate tenants"):
            engine.sql("SELECT * FROM chaos_keyed WHERE tenant > 'a'").collect()

    def test_limit_hint_and_projection(self, engine):
        df = engine.table("chaos", "all_types", limit=5, columns=["id", "name"])
        rows = df.collect()
        assert len(rows) == 5
        # unfetched columns surface as NULL, never wrong values
        assert rows[0].id == 0 and rows[0].name == "item_0000"

    def test_negative_limit_means_no_limit(self, engine):
        # cursor.go:203-207: a negative limit is no limit, so the scan
        # returns every row instead of asking the connector for zero
        assert len(engine.table("chaos", "all_types", limit=-1).collect()) == 100


class TestFilterTranslation:
    def test_supported_shapes(self):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            In,
            IsNull,
            StringStartsWith,
        )

        table = ChaosConnector().get_schema().table("all_types")
        quals, converted = filters_to_quals(
            [
                EqualTo(("id",), 5),
                GreaterThan(("id",), 1),
                In(("id",), (1, 2)),
                IsNull(("name",)),
                StringStartsWith(("name",), "item_"),
            ],
            table,
        )
        got = {(q.column, q.op) for q in quals}
        # name supports only =/prefix, so IsNull(name) is NOT pushed
        assert got == {("id", "="), ("id", ">"), ("id", "in"), ("name", "prefix")}

    def test_non_key_columns_not_pushed(self):
        from pyspark.sql.datasource import EqualTo

        table = ChaosConnector().get_schema().table("all_types")
        quals, _ = filters_to_quals([EqualTo(("score",), 1.5)], table)
        assert quals == []  # score is not a key column

    def test_unsupported_op_not_pushed(self):
        from pyspark.sql.datasource import LessThan

        table = ChaosConnector().get_schema().table("keyed")
        # kind supports '=' only
        quals, _ = filters_to_quals([LessThan(("kind",), "z")], table)
        assert quals == []

    def test_timestamp_binding(self):
        import datetime as dt

        from pyspark.sql.datasource import GreaterThan

        table = ChaosConnector().get_schema().table("all_types")
        quals, _ = filters_to_quals(
            [GreaterThan(("created_at",), "2024-01-02")], table
        )
        assert quals == [Qual("created_at", ">", dt.datetime(2024, 1, 2))]

    def test_filter_column_names_unwraps_nested_children(self):
        """Gate parity corner (ADVICE r11): an untranslatable filter whose
        column name sits BELOW one ``child`` level (e.g. Not(Not(EqualTo)))
        must still NAME the column for the required-key gate
        (table.go:182-214 passes on any constraint naming the column)."""
        from pyspark.sql.datasource import EqualTo, Not

        from steampipe_sqlite_spark.sources.datasource import (
            _filter_column_names,
        )

        double_not = Not(Not(EqualTo(("tenant",), "a")))
        assert _filter_column_names([double_not]) == {"tenant"}
        # single level still works, and translatable shapes unchanged
        assert _filter_column_names(
            [Not(EqualTo(("kind",), "x")), EqualTo(("id",), 1)]
        ) == {"kind", "id"}


class TestDynamicReconfigure:
    def test_configure_creates_and_drops(self, spark):
        eng = Engine(spark)
        eng.load("steampipe_sqlite_spark.sources.chaos:DynamicConnector", alias="dyn")
        assert eng.tables("dyn") == []
        eng.configure("dyn", '{"tables": {"t1": [["x", "int"]]}}')
        assert eng.sql("SELECT count(*) AS n FROM dyn_t1").collect()[0].n == 10
        # reconfigure: t1 dropped, t2 appears (configure_fn.go:131-149)
        eng.configure("dyn", '{"tables": {"t2": [["y", "string"]]}}')
        assert eng.sql("SELECT count(*) AS n FROM dyn_t2").collect()[0].n == 10
        with pytest.raises(Exception):
            eng.sql("SELECT * FROM dyn_t1").collect()


class TestConfigValidation:
    """Mistyped engine options fail at load/configure, naming the key,
    instead of being ignored or failing in a Python worker mid-scan."""

    @pytest.mark.parametrize(
        "config, key",
        [
            ('{"cache": "false"}', "cache"),
            ('{"cache_ttl": "5"}', "cache_ttl"),
            ('{"rate_limit_rps": "fast"}', "rate_limit_rps"),
            # a burst below 1 can never hold one call's token
            ('{"rate_limit_rps": 10, "rate_limit_burst": 0.5}', "rate_limit_burst"),
            ('{"retry_attempts": "x"}', "retry_attempts"),
            # attempts are whole: 2.5 is not silently truncated to 2
            ('{"retry_attempts": 2.5}', "retry_attempts"),
        ],
    )
    def test_load_rejects_mistyped_option(self, spark, request, config, key):
        # one alias per case: a wrongly accepted case cannot fail the next
        alias = f"badcfg{request.node.callspec.indices['config']}"
        eng = Engine(spark)
        with pytest.raises(ValueError, match=f"'{key}'"):
            eng.load(CHAOS, alias=alias, config=config)
        assert not spark.catalog.tableExists(f"{alias}_all_types")

    def test_failed_configure_keeps_previous_config(self, spark):
        eng = Engine(spark)
        eng.load("steampipe_sqlite_spark.sources.chaos:DynamicConnector", alias="keep")
        eng.configure("keep", '{"tables": {"t1": [["x", "int"]]}}')
        with pytest.raises(ValueError, match="'cache'"):
            eng.configure("keep", '{"tables": {"t2": [["y", "int"]]}, "cache": "false"}')
        assert eng.tables("keep") == ["keep_t1"]
        assert eng.sql("SELECT count(*) AS n FROM keep_t1").collect()[0].n == 10


SHARDED = "steampipe_sqlite_spark.sources.chaos:ShardedConnector"


class TestParallelScan:
    @pytest.fixture(scope="class")
    def sharded(self, spark):
        eng = Engine(spark)
        eng.load(SHARDED)
        return eng

    def test_partitions_scan_in_parallel(self, sharded):
        df = sharded.table("sharded", "metrics")
        assert df.rdd.getNumPartitions() == 4, "connector declared 4 shards"
        assert df.count() == 1000
        # each Spark partition held exactly its shard
        per_shard = {r.shard: r.cnt for r in df.groupBy("shard").count().withColumnRenamed("count", "cnt").collect()}
        assert per_shard == {0: 250, 1: 250, 2: 250, 3: 250}

    def test_quals_reach_every_partition(self, sharded):
        rows = sharded.sql(
            "SELECT id, shard FROM sharded_metrics WHERE id >= 900"
        ).collect()
        assert len(rows) == 100
        assert {r.shard for r in rows} == {3}


class TestInListFanOut:
    def test_in_qual_becomes_per_value_partitions(self, engine):
        df = engine.sql(
            "SELECT tenant, seq FROM chaos_keyed WHERE tenant IN ('t1', 't2', 'acme')"
        )
        rows = df.collect()
        assert {r.tenant for r in rows} == {"t1", "t2", "acme"}
        assert len(rows) == 300  # 100 per tenant
        assert df.rdd.getNumPartitions() == 3

    def test_single_tenant_stays_single_partition(self, engine):
        df = engine.sql("SELECT seq FROM chaos_keyed WHERE tenant = 't1'")
        assert df.count() == 100
        assert df.rdd.getNumPartitions() == 1


class TestCrossConnectorJoin:
    def test_join_across_two_connectors(self, spark):
        """Two live connectors joined in one SQL statement — the zero-ETL
        promise: chaos.all_types × sharded.metrics on id, filters pushed
        to each source independently."""
        eng = Engine(spark)
        eng.load(CHAOS)
        eng.load(SHARDED)
        rows = eng.sql(
            """
            SELECT a.id, a.name, m.shard, m.value
            FROM chaos_all_types a
            JOIN sharded_metrics m ON a.id = m.id
            WHERE a.id < 20 AND m.value > 1.0
            ORDER BY a.id
            """
        ).collect()
        assert [r.id for r in rows] == list(range(5, 20))
        assert all(r.value == r.id * 0.25 and r.name == f"item_{r.id:04d}" for r in rows)


class TestSideTables:
    def test_side_table_create_insert_join(self, spark, engine, tmp_path):
        """The reference's test.sql pattern: users create ordinary side
        tables next to plugin tables and join them (SURVEY §2.3
        Transactions/DML row — plugin tables read-only, side tables live
        in spark_catalog)."""
        loc = tmp_path / "cfg"
        spark.sql("DROP TABLE IF EXISTS side_config")
        spark.sql(
            f"CREATE TABLE side_config (id BIGINT, label STRING) USING parquet LOCATION '{loc}'"
        )
        spark.sql("INSERT INTO side_config VALUES (3, 'three'), (7, 'seven')")
        rows = engine.sql(
            """
            SELECT s.label, a.name FROM side_config s
            JOIN chaos_all_types a ON a.id = s.id
            ORDER BY s.id
            """
        ).collect()
        assert [(r.label, r.name) for r in rows] == [
            ("three", "item_0003"),
            ("seven", "item_0007"),
        ]
        spark.sql("DROP TABLE side_config")
