"""One-off config experiment: time the headline set under extra Spark confs.

Usage: python tools/conf_experiment.py '{"spark.foo": "bar", ...}' [sf_dir]

Seeds the overrides through PYSPARK_SUBMIT_ARGS (picked up when the JVM
launches, so static confs apply too), builds the engine session as bench.py
would, runs each headline query best-of-3, and prints one JSON line —
compare against bench.py's baseline.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    overrides = json.loads(sys.argv[1]) if len(sys.argv) > 1 else {}
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    if overrides:
        confs = " ".join(f"--conf {k}={v}" for k, v in overrides.items())
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"{confs} pyspark-shell"

    from steampipe_sqlite_spark.session import get_spark
    from steampipe_sqlite_spark.plans.registry import collect
    from bench import HEADLINE

    spark = get_spark("exp")
    for k in overrides:
        try:
            assert spark.conf.get(k) == str(overrides[k]), k
        except Exception:  # noqa: BLE001 — some confs aren't readable back
            pass

    queries, _ = collect()
    queries["tpch_q6"](spark, sf_dir).toPandas()  # warm

    per = {}
    for name in HEADLINE:
        fn = queries[name]
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            best = min(best, time.perf_counter() - t0)
        per[name] = round(best, 3)
    print(json.dumps({"overrides": overrides, "total": round(sum(per.values()), 3), "queries": per}))


if __name__ == "__main__":
    main()
