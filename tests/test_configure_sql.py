"""SQL-callable configure + HCL config strings.

Mirrors the reference's configure surface: the scalar function
``steampipe_configure_<alias>(config)`` callable from SQL — including the
`SELECT steampipe_configure_x(config) FROM config_table` idiom its
test.sql demonstrates (/root/reference/test.sql:10-14, configure_fn.go:12-44)
— and HCL connection-config strings alongside JSON
(/root/reference/test.sql:4-8).
"""

import pytest

from steampipe_sqlite_spark.engine import Engine
from steampipe_sqlite_spark.sources.config import ConfigError, parse_config

DYN = "steampipe_sqlite_spark.sources.chaos:DynamicConnector"
CSV = "steampipe_sqlite_spark.sources.csvfiles:CsvConnector"


class TestConfigureSql:
    def test_literal_argument(self, spark):
        eng = Engine(spark)
        eng.load(DYN, alias="dyn")
        out = eng.sql(
            """SELECT steampipe_configure_dyn('{"tables": {"t1": [["x", "int"]]}}')"""
        ).collect()
        assert len(out) == 1 and out[0][0] is None  # NULL on success
        assert eng.sql("SELECT count(*) AS n FROM dyn_t1").collect()[0].n == 10

    def test_from_config_table(self, spark):
        # the reference's test.sql pattern: configs staged in a side table,
        # applied via SELECT steampipe_configure_x(config) FROM tbl
        eng = Engine(spark)
        eng.load(DYN, alias="dyn")
        spark.createDataFrame(
            [(1, '{"tables": {"t1": [["x", "int"]]}}'),
             (2, '{"tables": {"t2": [["y", "string"]]}}')],
            "seq int, config string",
        ).createOrReplaceTempView("dyn_config")
        out = eng.sql(
            "SELECT steampipe_configure_dyn(config) FROM dyn_config ORDER BY seq"
        ).collect()
        assert len(out) == 2
        # last config wins: t1 dropped, t2 live (configure_fn.go:131-149)
        assert eng.sql("SELECT count(*) AS n FROM dyn_t2").collect()[0].n == 10
        with pytest.raises(Exception):
            eng.sql("SELECT * FROM dyn_t1").collect()

    def test_unknown_alias_raises(self, spark):
        eng = Engine(spark)
        with pytest.raises(ValueError, match="no connection"):
            eng.sql("SELECT steampipe_configure_nope('{}')")

    @pytest.mark.parametrize(
        "query, expected",
        [
            ("SELECT 'call steampipe_configure_dyn( later' AS s", "call steampipe_configure_dyn( later"),
            ("SELECT 'plain' AS s -- steampipe_configure_dyn(\n", "plain"),
        ],
    )
    def test_call_text_in_literal_or_comment_is_plain_sql(self, spark, query, expected):
        # only a parsed function call configures; the same text inside a
        # string literal or a comment is ordinary SQL
        eng = Engine(spark)
        eng.load(DYN, alias="dyn")
        assert eng.sql(query).collect()[0].s == expected
        assert eng.tables("dyn") == []

    def test_non_text_argument_raises(self, spark):
        eng = Engine(spark)
        eng.load(DYN, alias="dyn")
        with pytest.raises(TypeError, match="TEXT"):
            eng.sql("SELECT steampipe_configure_dyn(42)")

    def test_blob_argument_accepted(self, spark):
        # configure_fn.go:55-60: SQLITE_BLOB → string(values[0].Blob());
        # a binary literal (Spark X'..' hex → BinaryType) must configure
        # exactly like the equivalent TEXT
        eng = Engine(spark)
        eng.load(DYN, alias="dyn")
        cfg = '{"tables": {"tb": [["x", "int"]]}}'
        hexlit = cfg.encode("utf-8").hex().upper()
        out = eng.sql(f"SELECT steampipe_configure_dyn(X'{hexlit}')").collect()
        assert len(out) == 1 and out[0][0] is None
        assert eng.sql("SELECT count(*) AS n FROM dyn_tb").collect()[0].n == 10


class TestHclConfig:
    def test_reference_examples_parse(self):
        # both forms from /root/reference/test.sql:4-8
        assert parse_config('{"profile":"silverwater", "regions":["*"]}') == {
            "profile": "silverwater",
            "regions": ["*"],
        }
        assert parse_config('profile = "silverwater"') == {"profile": "silverwater"}

    def test_hcl_values(self):
        cfg = parse_config(
            'profile = "aaa"  # comment\n'
            "regions = [\"us-east-1\",\n  \"eu-west-1\"]\n"
            "max_results = 500\nratio = 0.5\nenabled = true\n"
        )
        assert cfg == {
            "profile": "aaa",
            "regions": ["us-east-1", "eu-west-1"],
            "max_results": 500,
            "ratio": 0.5,
            "enabled": True,
        }

    def test_garbage_raises(self):
        with pytest.raises(ConfigError):
            parse_config("this is not a config")

    def test_csv_connector_accepts_hcl(self, spark, tmp_path):
        p = tmp_path / "pets.csv"
        p.write_text("name,age\nrex,3\nmia,5\n")
        eng = Engine(spark)
        eng.load(CSV, alias="files", config=f'paths = ["{p}"]')
        rows = eng.sql("SELECT name, age FROM files_pets ORDER BY name").collect()
        assert [(r.name, r.age) for r in rows] == [("mia", 5), ("rex", 3)]

    def test_configure_sql_with_hcl_literal(self, spark, tmp_path):
        p = tmp_path / "cities.csv"
        p.write_text("city\nparis\n")
        eng = Engine(spark)
        eng.load(CSV, alias="files")
        eng.sql(f"SELECT steampipe_configure_files('paths = [\"{p}\"]')")
        assert eng.sql("SELECT count(*) AS n FROM files_cities").collect()[0].n == 1
