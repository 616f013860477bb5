"""tables.register_views: each temp view reads the sf_dir of the call that
last registered it, across table sets and sf dirs in one session (the
tier-1 session mixes sf0.001 and sf0.01 queries)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from steampipe_sqlite_spark.tables import register_views

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


def _rows(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


def test_view_follows_latest_sf_dir_across_table_sets(spark):
    small, mid = _rows(SF_SMALL, "lineitem"), _rows(SF_MID, "lineitem")
    assert small != mid
    register_views(spark, SF_MID, ("region", "nation"))
    register_views(spark, SF_SMALL, ("lineitem",))
    assert spark.table("lineitem").count() == small
    register_views(spark, SF_MID, ("lineitem", "orders"))
    assert spark.table("lineitem").count() == mid
    # the ("lineitem",) set was seen before, but its view now points at
    # sf0.01: it must be re-pointed, not skipped
    register_views(spark, SF_SMALL, ("lineitem",))
    assert spark.table("lineitem").count() == small
