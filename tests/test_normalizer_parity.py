"""The Spark text normalizer against its RE2 Arrow twin.

``functions/text.normalize_text`` and ``normalize_sql`` (its SQL
spelling: the same expression tree) run java.util.regex inside Spark;
``normalize_text_arrow_udf`` runs pyarrow's RE2 in a pandas UDF.  Both
claim the oracle's semantics: lower, every character outside
[a-z0-9 CJK] to a space, whitespace runs collapsed, trimmed.  Each form
is collected to pandas and compared with ``assert_frame_equal``.
"""

import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from steampipe_sqlite_spark.functions.text import (
    normalize_sql,
    normalize_text,
    normalize_text_arrow_udf,
)
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

EDGE = {
    "cjk": "数据处理 Spark快速 一丁 鿿end",
    "tabs_newlines": "a\tb\n\nc\r\nd\x0be \t ",
    "accented_upper": "ÉCOLE Ça ÑANDÚ Straße",
    "dotted_capital_i": "İstanbul",
    "punctuation_runs": "wait...what?!?! -- (yes) #tag __x__ 3.14",
    "empty": "",
    "null": None,
}
# strings on which the forms are known to differ, and how
DIFFERS = {
    "dotted_capital_i": "Java lowercases U+0130 to 'i' + U+0307, whose combining"
    " dot becomes a space ('i stanbul'); RE2's utf8_lower gives 'istanbul'",
}


def _forms(df):
    """(id, column, sql, arrow) per row, in id order."""
    arrow = normalize_text_arrow_udf()
    return (
        df.select(
            "id",
            normalize_text(F.col("text")).alias("column"),
            F.expr(normalize_sql("text")).alias("sql"),
            arrow(F.col("text")).alias("arrow"),
        )
        .orderBy("id")
        .toPandas()
    )


def _assert_parity(pdf):
    def form(name):
        return pdf[["id", name]].rename(columns={name: "norm"})

    assert_frame_equal(form("column"), form("sql"))
    assert_frame_equal(form("column"), form("arrow"))


@pytest.fixture(scope="module")
def edge_forms(spark):
    df = spark.createDataFrame(list(enumerate(EDGE.values())), "id int, text string")
    return _forms(df)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.xfail(strict=True, reason=DIFFERS[n]))
        if n in DIFFERS
        else n
        for n in EDGE
    ],
)
def test_edge_string(edge_forms, name):
    row = edge_forms[edge_forms.id == list(EDGE).index(name)]
    _assert_parity(row.reset_index(drop=True))


def test_documents(spark):
    docs = load_table(spark, SF_DIR, "documents").select(F.col("doc_id").alias("id"), "text")
    _assert_parity(_forms(docs))
