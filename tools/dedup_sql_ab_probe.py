"""Same-window interleaved A/B of the dedup construction-floor rewrite
attempt (VERDICT r14 #5): minhash/simhash pipelines as ONE parameterized
spark.sql statement per stage vs the chained-DataFrame-op form.

RESULT (2026-08-17, sf0.1, 4 interleaved pairs per arm order-alternated,
one session): the SQL form is a measured DEAD END and was REVERTED —
the chained form ships.

- all-SQL (both stages as spark.sql): minhash best 2.07/med 2.16 vs
  chain 1.64/1.82; simhash 1.13/1.40 vs 0.96/1.21 — consistently slower
  in 7/8 pairs.  Root cause visible in the captured plans: a DataFrame
  passed as a spark.sql PARAMETER resolves through a generated temp
  view, and the persisted signature/fingerprint cache MISSES under that
  indirection (InMemoryTableScan gone; the fingerprint aggregate re-ran
  per join face, partially rescued by ReusedExchange).  Construction
  was genuinely 2x cheaper (0.37 vs 0.74 s minhash, 0.19 vs 0.28 s
  simhash, same-window) but execution losses exceeded it.
- hybrid (SQL signature/fingerprint stage only, chained cache-preserving
  pair stage): simhash dead even (0.969 vs 0.976 best); minhash still
  slower in 3/4 pairs (med 1.76 vs 1.45) — no reproducible win.

Motivation for the attempt (still true, recorded for the next reader):
classic DataFrame ops run the JVM analyzer EAGERLY per transformation,
so the minhash build makes ~820 py4j round trips (~0.8 s construction
wall, 40% of the query's total at sf0.1).  Any future retry must keep
the within-query caches hitting — i.e. avoid DataFrame-parameter
spark.sql across a persist boundary.

Arm "sql": whatever operators.dedup currently ships (the chained form
after the revert, so the two arms now measure the same code — rerun
only makes sense with a candidate rewrite applied to the module).
Arm "chain": the r14 chained form, verbatim from git 33f5eba, inlined.

Both arms run ALTERNATING in ONE session (shared noise window, per
box-noise memory): full declared-query wall (construction + persist +
orderBy + toPandas) with clearCache between runs, best/median per arm,
plus a one-shot sorted-collect parity check.

Usage: python tools/dedup_sql_ab_probe.py [N_PAIRS] [SF_DIR]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from steampipe_sqlite_spark.operators import dedup as D
from steampipe_sqlite_spark.operators.dedup import _band_projection, _hash64, _spread
from steampipe_sqlite_spark.session import get_spark
from steampipe_sqlite_spark.tables import load_table


# ---- the r14 chained-op forms, verbatim from git 33f5eba ----------------

def chain_minhash_signatures_oph(df, text_col, id_col, num_hashes, shingle_k, hash_family):
    from steampipe_sqlite_spark.functions.text import normalize_text

    normed = _spread(df).select(
        F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("norm")
    )
    ex = normed.select(
        "id",
        "norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("norm") - F.lit(shingle_k - 1), F.lit(1)))
        ).alias("i"),
    ).select("id", F.expr(f"substr(norm, i, {shingle_k})").alias("s"))
    h, width = _hash64(F.col("s"), hash_family)
    shift = width - (num_hashes.bit_length() - 1)
    hb = ex.select("id", h.alias("h")).withColumn(
        "b", F.shiftrightunsigned(F.col("h"), shift)
    )
    mins = ", ".join(f"min(CASE WHEN b = {i} THEN h END)" for i in range(num_hashes))
    return (
        hb.groupBy("id")
        .agg(F.expr(f"array({mins}) AS ms"), F.expr("min(h) AS gmin"))
        .select("id", F.expr("transform(ms, m -> coalesce(m, gmin)) AS sig"))
    )


def chain_minhash_lsh_pairs(df, text_col, id_col, num_hashes, bands, shingle_k,
                            threshold, hash_family):
    sigs = chain_minhash_signatures_oph(
        df, text_col, id_col, num_hashes, shingle_k, hash_family
    ).persist()
    banded = sigs.select(
        "id",
        F.expr(f"explode(array({_band_projection(num_hashes, bands, hash_family)})) as bk"),
    ).select("id", "bk.band", "bk.band_sig")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            [
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_sig") == F.col("b.band_sig"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.expr(
        "cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) as double)"
        f" / {float(num_hashes)}"
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold)
    )


def chain_simhash_fingerprints(df, text_col, id_col, hash_family):
    from steampipe_sqlite_spark.functions.text import tokens

    h, width = _hash64(F.col("t"), hash_family)
    bits = width
    ex = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("t"),
    ).withColumn("h", h)
    mask = 1 | (1 << 21) | (1 << 42)
    votes = ex.groupBy("id").agg(
        F.expr("count(1) as n"),
        *[F.expr(f"sum(shiftrightunsigned(h, {b}) & {mask}) as s{b}") for b in range(21)],
        F.expr("sum(shiftrightunsigned(h, 63)) as s63"),
    )
    m21 = (1 << 21) - 1

    def _count(b: int) -> str:
        if b == 63:
            return "s63"
        return f"(shiftrightunsigned(s{b % 21}, {21 * (b // 21)}) & {m21})"

    fp_sql = " | ".join(
        f"shiftleft(cast(({_count(b)}*2 > n) as long), {b})" for b in range(bits)
    )
    return votes.select(F.col("id"), F.expr(fp_sql).alias("fp"))


def chain_simhash_pairs(df, text_col, id_col, max_hamming, hash_family):
    fp = chain_simhash_fingerprints(df, text_col, id_col, hash_family=hash_family).persist()
    bw = 16 if hash_family == "xxhash64" else 15
    bands = fp.select(
        "id",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("fp", bw * band).bitwiseAND(F.lit((1 << bw) - 1))
                    for band in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            [
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---- harness -------------------------------------------------------------

def main() -> None:
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("dedup-sql-ab")
    docs = load_table(spark, sf_dir, "documents")

    def arm_minhash_sql():
        return D.minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=64, bands=16, threshold=0.5,
            hash_family="md5",
        )

    def arm_minhash_chain():
        return chain_minhash_lsh_pairs(
            docs, "text", "doc_id", 64, 16, 5, 0.5, "md5"
        )

    def arm_simhash_sql():
        return D.simhash_pairs(docs, "text", "doc_id", max_hamming=8, hash_family="md5")

    def arm_simhash_chain():
        return chain_simhash_pairs(docs, "text", "doc_id", 8, "md5")

    def run(build) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        pairs = build().persist()
        pairs.orderBy("id_a", "id_b").toPandas()
        return time.perf_counter() - t0

    # parity first (one shot, sorted collect)
    for name, new, old in (
        ("minhash", arm_minhash_sql, arm_minhash_chain),
        ("simhash", arm_simhash_sql, arm_simhash_chain),
    ):
        spark.catalog.clearCache()
        a = [tuple(r) for r in new().orderBy("id_a", "id_b").collect()]
        spark.catalog.clearCache()
        b = [tuple(r) for r in old().orderBy("id_a", "id_b").collect()]
        assert a == b, f"{name}: PARITY FAIL ({len(a)} vs {len(b)} rows)"
        print(f"{name}: parity OK ({len(a)} rows)", flush=True)

    for name, new, old in (
        ("minhash", arm_minhash_sql, arm_minhash_chain),
        ("simhash", arm_simhash_sql, arm_simhash_chain),
    ):
        # warm both arms once
        run(new), run(old)
        sql_t, chain_t = [], []
        for i in range(n_pairs):
            # alternate order within the pair to cancel drift
            if i % 2 == 0:
                sql_t.append(run(new))
                chain_t.append(run(old))
            else:
                chain_t.append(run(old))
                sql_t.append(run(new))
            print(
                f"{name} pair {i}: sql={sql_t[-1]:.3f} chain={chain_t[-1]:.3f}",
                flush=True,
            )
        print(
            f"{name}: sql best={min(sql_t):.3f} med={statistics.median(sql_t):.3f} | "
            f"chain best={min(chain_t):.3f} med={statistics.median(chain_t):.3f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
