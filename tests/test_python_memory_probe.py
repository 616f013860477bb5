"""Pins for tools/python_memory_probe.py: the probe must keep measuring
the REGISTERED blas query (not a re-implemented GEMM), the ewma operator
must reject overlapping column roles loudly (the probe's first cut hit
the silent form: value_col == order_col double-selects in pandas and
dies as an AttributeError deep in a worker), and the VmHWM reader must
parse /proc status lines."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_probe_measures_registered_blas_query():
    import inspect

    from tools import python_memory_probe as P

    src = inspect.getsource(P.main)
    assert "knn_cosine_blas" in src


def test_ewma_rejects_overlapping_column_roles(spark):
    from steampipe_sqlite_spark.operators.temporal import ewma_by_key

    df = spark.createDataFrame([(1, 2, 3.0)], "k long, o long, v double")
    with pytest.raises(ValueError, match="disjoint"):
        ewma_by_key(df, ["k"], ["v"], "v")
    with pytest.raises(ValueError, match="disjoint"):
        ewma_by_key(df, ["k"], ["k"], "v")
    # disjoint roles still work
    assert ewma_by_key(df, ["k"], ["o"], "v").count() == 1


def test_worker_peak_reader_handles_no_workers():
    from tools.python_memory_probe import worker_peak_mb

    out = worker_peak_mb()
    # may be 0 workers (no live session in this test process) but the
    # reader must return the schema the probe records
    assert set(out) == {"worker_peak_mb", "workers_seen"}
    assert out["worker_peak_mb"] >= 0
