"""Skew-join probe: measure the engine's two answers to a hot key.

Every join story so far (the data- and core-scale replica readings) ran
UNIFORM keys — replicas re-keyed per copy exactly so that per-key
density stays flat.  Real corpora are zipfian: one null-ish or
default key owning 10-30% of a fact table is the classic 100 TB
straggler, where a 1000-executor cluster waits on the one reducer that
got the hot key.  The engine keeps two mitigations; this probe turns
each into a measurement, against the unmitigated baseline, on the same
deterministic skewed universe:

  aqe_skew_on   -- the session default: AQE runtime skew split
                   (spark.sql.adaptive.skewJoin), which detects the
                   oversized post-shuffle partition and splits it across
                   tasks, replicating the matching build side.
  aqe_skew_off  -- the straggler baseline: same plan, splitter disabled;
                   one task sorts/joins the whole hot key.
  salted_hot    -- operators/scale.salted_join_hot_keys: salts only the
                   known-hot keys, right side replicated only for them —
                   the production pattern when the hot set is known
                   (heavy-hitter sketch over yesterday's partition),
                   and the only option of the three for shuffle-HASH
                   joins, which AQE's splitter does not cover.

Universe (deterministic, no rand()): facts(fact_rows) with key 0 owning
45% of rows, key 1 10%, key 2 5%, the rest uniform over n_keys via
xxhash64; a 16-char incompressible pad keeps shuffle bytes honest while
letting the hot reducer's sort — not the map-side write — set the wall.
dims(n_keys) carries a 64-char pad so its estimated size clears the 64m
broadcast threshold — the join MUST shuffle, which is the scenario.

PASS = all three arms return identical aggregates; aqe_skew_on beats
aqe_skew_off by roughly the straggler's serial tail; the executed plan
of the aqe_skew_on arm carries skew-split markers at the default-engaging
scale and the probe reports whether the 256 MB default threshold engaged
at each scale (the known gap: partitions skewed-but-small stay whole).

Usage: python tools/skew_join_probe.py [fact_rows_millions] [n_keys_millions]
       (defaults: 40 4; a second small-scale pass at 1/10 both runs
       automatically to measure threshold engagement vs scale)
Prints one JSON line per scale.

Committed reading (round 10, local[32], 40M facts / 4M dims, key 0 =
45% of fact rows = 18M rows ≈ 1 GB of one reducer's input; each arm in
its own session, best-of-3 warm, all four arms row-identical; the
salted_full arm -- a blanket salt on every key -- has since been deleted
as refuted, see DEADENDS.md "Blanket-salted skew join"):

  arm            40M facts    4M facts (1/10 scale)
  aqe_skew_on       6.94 s       0.72 s
  aqe_skew_off     15.98 s       0.75 s
  salted_full      13.06 s       2.84 s   (arm deleted)
  salted_hot        9.70 s       1.07 s

  At 40M the runtime splitter engages (SortMergeJoin(skew=true) +
  `coalesced and skewed` reader in the executed plan) and is worth
  2.3x wall vs the disabled baseline's single-reducer sort of 18M
  rows.  It beats even perfect-knowledge targeted salting (9.70 s)
  because the split replicates three DIM ROWS at runtime, while
  salting pays a second shuffle key column plus fanout bookkeeping up
  front; blanket salting gives back most of the win (13.06 s)
  replicating the 4M-row build side 8x for a tail that never needed
  it — and it loses the broadcast option permanently.  At 1/10 scale
  the hot partition is ~100 MB — under the 256 MB default threshold —
  so the splitter does NOT engage, and the measurement shows why that
  default is right: the whole join is 0.7 s and skew_off ties skew_on
  at the noise floor, while both salted arms only ADD overhead (the
  blanket form 4x).  A reducer bounded by the session's 32 MB input
  sizing only benefits from splitting once it reaches hundreds of MB.

  Deployment note: at 1000 executors the straggler tail scales with
  fact_rows/cluster-width while the healthy stages shrink, so the
  2.3x here UNDERSTATES the win at 100 TB (the tail is minutes, not
  seconds).  Playbook the numbers support: keep AQE skew split on
  (session default) and let it handle unknown skew; reach for
  salted_join_hot_keys only for shuffle-HASH plans (AQE's splitter
  covers sort-merge only) or pipelines with a known hot set below the
  engagement threshold; never blanket-salt.

Aggregate skew needs no salt: a salted two-stage groupBy lost to the
plain one on the same corpus (DEADENDS.md "Salted algebraic groupBy"),
and its measuring arm has been deleted with it.

Methodology notes, both measured: (1) the first cut ran all arms in one
JVM and the last arm read 2x its isolated wall — a dozen consecutive
GB-scale SMJs accumulate old-gen pressure that taxes whoever runs last
(the core-elasticity probe's pathology; arms now get fresh sessions).
(2) A first cut with a 48-char fact pad and a 20% hot key showed all
arms within 10%: the 3.5 GB uniform shuffle WRITE dominated wall and
masked the straggler.  Skew only decides wall when the hot reducer's
sort+join exceeds the map-side work — which is exactly the 100 TB
regime, where map tasks scale out but the hot reducer does not.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from steampipe_sqlite_spark import derived  # noqa: E402
from steampipe_sqlite_spark.operators.scale import salted_join_hot_keys  # noqa: E402
from steampipe_sqlite_spark.session import get_spark, stop_spark  # noqa: E402

# Deterministic hot-key layout: (key, share of fact rows). Together 60% —
# the pathological-but-real "null/default key" shape (a 45% hot key is one
# bad upstream default away on any corpus); the remaining 40% spreads
# uniformly over the key space via xxhash64.  At the first cut (20/10/5,
# 48-char pad) every arm tied within 10%: the 3.5 GB shuffle WRITE
# dominated wall and masked the straggler — the skew lesson is only
# measurable when the hot reducer's sort+join exceeds the map-side work.
HOT_SHARES = [(0, 45), (1, 10), (2, 5)]
N_SALTS = 8


def _pad(col, n_hexes: int, seed_base: int):
    """n_hexes * 16 chars of xxhash64-derived hex — incompressible, so
    shuffle-byte accounting (what AQE's splitter sees) is honest."""
    return F.concat(
        *[
            F.lpad(F.hex(F.xxhash64(col, F.lit(seed_base + i))), 16, "0")
            for i in range(n_hexes)
        ]
    )


def build(spark, fact_rows: int, n_keys: int) -> str:
    """Write facts/dims parquet once and return their directory: a derived
    copy (steampipe_sqlite_spark/derived.py) keyed on this file, so a
    HOT_SHARES or pad change rebuilds instead of reusing a corpus with the
    old distribution."""

    def write(out: str) -> None:
        pct = F.pmod(F.col("id"), F.lit(100))
        # chained when(): narrowest band first, so the first hot key's
        # band wins before the wider cumulative band assigns the next key
        key, acc = None, 0
        for k, share in HOT_SHARES:
            cond = pct < F.lit(acc + share)
            key = F.when(cond, F.lit(k)) if key is None else key.when(cond, F.lit(k))
            acc += share
        tail = F.pmod(F.xxhash64("id"), F.lit(n_keys - len(HOT_SHARES))) + F.lit(
            len(HOT_SHARES)
        )
        key = key.otherwise(tail)
        (
            spark.range(fact_rows)
            .select(
                key.cast("long").alias("key"),
                F.pmod(F.col("id"), F.lit(9973)).alias("val"),
                # one hex block (16 chars): enough to keep shuffle bytes
                # honest, small enough that the hot reducer's sort — not
                # the uniform map-side shuffle write — sets the wall
                _pad(F.col("id"), 1, 11).alias("pad"),
            )
            .repartition(64)
            .write.parquet(os.path.join(out, "facts.parquet"))
        )
        (
            spark.range(n_keys)
            .select(
                F.col("id").alias("key"),
                F.pmod(F.col("id") * 7, F.lit(10)).alias("dval"),
                _pad(F.col("id"), 4, 31).alias("dpad"),
            )
            .repartition(16)
            .write.parquet(os.path.join(out, "dims.parquet"))
        )

    return derived.ensure(
        "skewprobe", __file__, write, f"f{fact_rows}", f"k{n_keys}",
        parts=("facts.parquet", "dims.parquet"),
    )


def _agg(joined):
    return (
        joined.groupBy("dval")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").alias("s"),
            F.sum(F.length("pad") + F.length("dpad")).alias("b"),
        )
        .orderBy("dval")
    )


def skew_markers(plan: str) -> int:
    """Count skew-split evidence in an executed AQE plan: Spark marks the
    split SMJ `(skew=true)`/`isSkew=true` and the reader `skewed`."""
    low = plan.lower()
    return low.count("skew=true") + low.count("skewed")


def _run(df) -> list:
    return [tuple(r) for r in df.collect()]


def _best_of(fn, n: int = 3):
    best, last = float("inf"), None
    for _ in range(n):
        t0 = time.perf_counter()
        last = fn()
        best = min(best, time.perf_counter() - t0)
    return best, last


ARMS = {
    # arm -> (skew splitter on?, join builder)
    "aqe_skew_on": (True, lambda f, d: f.join(d, "key")),
    "aqe_skew_off": (False, lambda f, d: f.join(d, "key")),
    "salted_hot": (
        False,
        lambda f, d: salted_join_hot_keys(
            f, d, "key", [k for k, _ in HOT_SHARES], N_SALTS
        ),
    ),
}


def probe_scale(base: str, reps: int = 3) -> dict:
    """Run every arm in its OWN SparkSession (fresh JVM heap, shared OS
    page cache): the first cut ran all arms in one JVM and the last arm
    read 2x its isolated wall — a dozen consecutive GB-scale SMJs
    accumulate old-gen pressure that taxes whoever runs last, the same
    pathology the core-elasticity probe caught (session._driver_mem).
    Arm isolation makes the comparison an engine property again."""
    arms, plans, results = {}, {}, {}
    for name, (skew_on, build_join) in ARMS.items():
        spark = get_spark(f"skewprobe-{name}")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(skew_on).lower()
        )
        facts = spark.read.parquet(os.path.join(base, "facts.parquet"))
        dims = spark.read.parquet(os.path.join(base, "dims.parquet"))
        q = lambda: _agg(build_join(facts, dims))  # noqa: E731
        arms[name], results[name] = _best_of(lambda: _run(q()), reps)
        frame = q()
        frame.collect()  # executed plan is only final after a run
        plans[name] = skew_markers(
            frame._jdf.queryExecution().executedPlan().toString()
        )
        stop_spark()

    baseline = results["aqe_skew_on"]
    agree = all(results[a] == baseline for a in arms)
    return {
        "base": os.path.basename(base),
        "arms_s": {a: round(s, 3) for a, s in arms.items()},
        "skew_markers": plans,
        "splitter_engaged": plans["aqe_skew_on"] > 0,
        "all_arms_agree": agree,
        "groups": len(baseline),
    }


def main() -> None:
    fact_m = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    keys_m = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    for divisor in (1, 10):
        # build with a default session, then size every arm session from
        # the corpus it will read
        spark = get_spark("skewprobe-build")
        base = build(
            spark, fact_m * 1_000_000 // divisor, keys_m * 1_000_000 // divisor
        )
        stop_spark()
        os.environ["SPARK_GRAFT_SF_DIR"] = base
        print(json.dumps(probe_scale(base)), flush=True)


if __name__ == "__main__":
    main()
