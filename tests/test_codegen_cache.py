"""Spark's generated-class cache (session.py): plans that together compile
more classes than Spark's default cache of 100 must not evict each other,
and a repeat of a plan compiles nothing."""

from steampipe_sqlite_spark.plans.registry import collect

SF_DIR = "/root/testdata/sf0.001"


def _compiles(spark) -> int:
    """Generated classes compiled so far in this JVM (one per cache miss)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_SOURCE_CODE_SIZE().getCount()


def _run(spark, fn) -> int:
    spark.catalog.clearCache()
    before = _compiles(spark)
    fn(spark, SF_DIR).toPandas()
    return _compiles(spark) - before


def test_plans_past_the_default_cache_size_compile_nothing_on_repeat(spark):
    queries, _ = collect()
    # about 70 + 70 + 90 classes when cold: past Spark's default of 100
    names = ["rfm_segmentation", "dedup_components", "knn_cosine_pq"]
    for n in names:
        _run(spark, queries[n])
    # rfm_segmentation's classes are the least recently used: a cache of
    # 100 has evicted them.  The other two used to inline a fresh limit
    # counter into their emptiness probes, so each run was new source.
    assert {n: _run(spark, queries[n]) for n in names} == dict.fromkeys(names, 0)
