"""Layout compaction (tables.compacted_path): the lakehouse-OPTIMIZE analog
that splits single-row-group fixture files so scans parallelize.

Correctness contract: the compacted copy is value-identical, schema-identical,
and row-order-identical to the original; the cache key invalidates on any
(path, size, mtime) change; guards keep the step a no-op on already-splittable
or tiny inputs.  Tests that build a copy point the derived-copy root at
their tmp_path, so the suite leaves the repo's .cache as it found it.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest

from steampipe_sqlite_spark import derived
from steampipe_sqlite_spark.tables import compacted_path, load_table

SF_MID = "/root/testdata/sf0.01"


@pytest.fixture()
def scratch(tmp_path, monkeypatch):
    """A scratch dir for source copies; derived copies go under it too."""
    monkeypatch.setattr(derived, "ROOT", str(tmp_path / "cache"))
    src = tmp_path / "src"
    src.mkdir()
    return str(src)


def test_compacted_values_and_order_identical(spark, scratch):
    src = os.path.join(SF_MID, "lineitem.parquet")
    dst = compacted_path(spark, src)
    assert dst != src, "sf0.01 lineitem (60k rows, 1 row group) should compact"
    orig = pq.read_table(src)
    comp = pq.read_table(dst)
    assert comp.schema.equals(orig.schema)
    assert comp.num_rows == orig.num_rows
    # row order preserved: sequential slices written in order
    assert comp.equals(orig)


def test_compaction_multiplies_scan_partitions(spark):
    li = load_table(spark, SF_MID, "lineitem")
    assert li.rdd.getNumPartitions() > 1


def test_small_table_not_compacted(spark):
    src = os.path.join(SF_MID, "nation.parquet")
    assert compacted_path(spark, src) == src


def test_cache_invalidates_on_mtime_change(spark, scratch):
    src = os.path.join(scratch, "lineitem.parquet")
    shutil.copyfile(os.path.join(SF_MID, "lineitem.parquet"), src)
    first = compacted_path(spark, src)
    assert first != src
    os.utime(src, (1_000_000_000, 1_000_000_000))
    second = compacted_path(spark, src)
    assert second != src
    assert second != first, "mtime change must produce a fresh compacted copy"


def test_already_multi_rowgroup_file_skipped(spark, scratch):
    src = os.path.join(scratch, "multi.parquet")
    t = pq.read_table(os.path.join(SF_MID, "lineitem.parquet"))
    # write with tiny row groups: more groups than any target k
    pq.write_table(t, src, row_group_size=1000)
    assert pq.ParquetFile(src).metadata.num_row_groups >= 32
    assert compacted_path(spark, src) == src


def test_timestamp_nanos_physical_type_preserved(spark, scratch):
    """events carries the fixture's timestamp flavor; compaction must not
    change the physical type the nanosAsLong sniff keys on."""
    src = os.path.join(SF_MID, "events.parquet")
    dst = compacted_path(spark, src)
    if dst == src:
        pytest.skip("events too small to compact at this SF")
    assert pq.read_table(dst).schema.equals(pq.read_table(src).schema)
