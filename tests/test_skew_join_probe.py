"""Pins for tools/skew_join_probe.py: the skew-marker parser must keep
recognizing Spark's AQE skew-split plan rendering, and the probe's
deterministic key layout must keep producing the hot shares the committed
reading is based on (a silent when()-chain reorder would re-run the probe
on uniform keys and report a no-op)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.skew_join_probe import HOT_SHARES, skew_markers


def test_skew_marker_parser_matches_spark_plan_rendering():
    # AQE's final plan renders the split join as `SortMergeJoin(skew=true)`
    # and each split reader as `AQEShuffleRead skewed` — both count.
    split = """
AdaptiveSparkPlan isFinalPlan=true
+- SortMergeJoin(skew=true) [key#1L], [key#5L], Inner
   :- Sort [key#1L ASC NULLS FIRST], false, 0
   :  +- AQEShuffleRead skewed
   :     +- ShuffleQueryStage 0
   +- Sort [key#5L ASC NULLS FIRST], false, 0
      +- AQEShuffleRead skewed
         +- ShuffleQueryStage 1
"""
    assert skew_markers(split) == 3
    whole = split.replace("(skew=true)", "").replace(" skewed", "")
    assert skew_markers(whole) == 0


def test_hot_share_layout_is_the_documented_one():
    # the committed reading's anatomy: key 0 = 45%, 1 = 10%, 2 = 5%;
    # shares are percents of fact rows and must stay under the uniform
    # tail's start index so hot ids never collide with tail ids
    assert HOT_SHARES == [(0, 45), (1, 10), (2, 5)]
    assert sum(s for _, s in HOT_SHARES) < 100


def test_hot_key_assignment_narrow_band_wins(spark, monkeypatch, tmp_path):
    """Regression for the when()-chain order: id%100 in [0,20) must map to
    key 0 (not get captured by the cumulative <30 band for key 1)."""
    from steampipe_sqlite_spark import derived
    from tools.skew_join_probe import build

    monkeypatch.setattr(derived, "ROOT", str(tmp_path))
    base = build(spark, 10_000, 1_000)
    facts = spark.read.parquet(os.path.join(base, "facts.parquet"))
    shares = {
        r.key: r.n
        for r in facts.groupBy("key").count().withColumnRenamed("count", "n")
        .where("key < 3").collect()
    }
    assert shares[0] == 4500 and shares[1] == 1000 and shares[2] == 500
