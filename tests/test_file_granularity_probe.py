"""Pins for tools/file_granularity_probe.py: the probe must keep
replaying the REGISTERED tpch_q1 under the house measurement convention
(clearCache per rep), and its granularity builder
must actually fan the rows out (a silent .coalesce or a write that
ignores n_files would turn the probe into a same-layout comparison)."""

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import file_granularity_probe as P


def test_probe_replays_registered_q1_with_house_convention():
    src = inspect.getsource(P.main)
    assert "tpch_q1" in src and "clearCache" in src


def test_granularity_builder_writes_requested_file_count(spark, tmp_path):
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    spark.range(10_000).selectExpr("id", "id % 7 as v").write.parquet(
        str(src_dir / "lineitem.parquet")
    )
    import tools.file_granularity_probe as fg

    orig = fg.SCRATCH
    fg.SCRATCH = str(tmp_path / "scratch")
    try:
        out_dir = fg.build_granularity(spark, str(src_dir), 8)
        part_dir = os.path.join(out_dir, "lineitem.parquet")
        n = sum(1 for f in os.listdir(part_dir) if f.endswith(".parquet"))
        assert n == 8
        assert (
            spark.read.parquet(part_dir).count() == 10_000
        )
    finally:
        fg.SCRATCH = orig
