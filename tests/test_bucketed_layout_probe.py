"""Pins for tools/bucketed_layout_probe.py: the probe's plan-text parser
must keep recognizing the fact-join exchanges it exists to count, and the
probe must keep reading the REGISTERED corpus SQL (not a re-implemented
shape — the r8 probe-methodology rule)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bucketed_layout_probe import BUCKET_KEYS, _fact_join_exchanges


def test_fact_join_exchange_counter_matches_spark_plan_rendering():
    # Spark's executedPlan().toString() renders shuffle nodes exactly as
    # `Exchange hashpartitioning(<key>#<id>, <n>), ...` — one per line.
    flat = """
AdaptiveSparkPlan isFinalPlan=true
+- SortMergeJoin [l_orderkey#1L], [o_orderkey#2L], Inner
   :- Sort [l_orderkey#1L ASC NULLS FIRST], false, 0
   :  +- Exchange hashpartitioning(l_orderkey#1L, 200), ENSURE_REQUIREMENTS
   :     +- FileScan parquet [l_orderkey#1L]
   +- Sort [o_orderkey#2L ASC NULLS FIRST], false, 0
      +- Exchange hashpartitioning(o_orderkey#2L, 200), ENSURE_REQUIREMENTS
         +- Exchange hashpartitioning(o_custkey#3L, 200), ENSURE_REQUIREMENTS
            +- FileScan parquet [o_orderkey#2L, o_custkey#3L]
"""
    # the two order-key exchanges count; the customer-key one does not
    assert _fact_join_exchanges(flat) == 2
    bucketed = flat.replace("Exchange hashpartitioning(l_orderkey", "X(l")
    bucketed = bucketed.replace("Exchange hashpartitioning(o_orderkey", "X(o")
    assert _fact_join_exchanges(bucketed) == 0


def test_probe_reads_the_registered_corpus_sql():
    from steampipe_sqlite_spark.plans.registry import collect

    q, _ = collect()
    sql_text = q["tpch_q3"].__doc__
    # the registry stores the Spark SQL on the query fn (sql_query sets
    # __doc__); the probe runs THAT query over the deployed layout
    assert "FROM lineitem" in sql_text and "JOIN orders" in sql_text
    # the bucket keys are the join's equi-keys — a key rename in the
    # fixture would silently turn the probe into a no-op comparison
    for key in BUCKET_KEYS.values():
        assert key in sql_text
