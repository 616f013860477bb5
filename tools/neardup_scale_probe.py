"""Content-unique scale probes for the near-dup family (round 14,
VERDICT r13 #3).

Why the floorbound replica fixture can't measure this family: its pixel
plane is doc_id-arithmetic mod 256, so id-rekeyed replicas multiply each
near-dup CLASS's size by the replica count and the pair output grows
quadratically — a fixture artifact (documented in
floorbound_scale_probe.NAMES, attempted + reverted r13).

Two arms, selected by argv ("phash", "fuzzy"; default both):

== phash arm (parity + recall + the entropy ceiling, 1x/10x) ==

Content-unique planes via a Lehmer/Park-Miller mix (public-domain
MINSTD constants): px[j] = ((eff * C_j) % 2147483647) % 256 with
C_j = 48271^(j+1) mod M31, where ``eff`` is the PLANTED near-dup map
(doc i < 2K pairs with doc i+K; K = n_images/100).  The banded-LSH +
hamming stages run UNCHANGED — operators.multimodal.image_phash_pairs
on the Spark side, the registered oracle with only the px CTE swapped
(plans.multimodal._phash_oracle_sql(px_value_sql=...)) on DuckDB.  A
reading proves planted recall (all K found, hamming 0) and bit-exact
pair-count parity between engines at scale.

THE CEILING, measured so it is a reading and not a surprise: the stub
FIMG container carries 8 sample bytes tiled into a CIRCULANT 8x8 plane,
and the DCT-median-sign of circulant matrices collapses — 20,000 random
Lehmer planes yield only ~2,600 distinct 64-bit hashes (2.7% of random
pairs sit at hamming <= 6).  So with ANY fixture, hamming<=6 output on
this container is inherently ~quadratic in the corpus; no content-unique
construction can fix what the hash cannot separate.  This bounds the
phash arm to 1x/10x.  It is a CONTAINER property, not a plan property:
a real decoder hands a full-entropy pixel plane to the SAME code path
(operator docstring), and the plan shape itself — band equi-join, never
all-pairs — is the one whose candidate linearity is already measured at
64x on the simhash family (tools/dedup_scale_probe.py; image_phash_pairs
is documented as the identical shape).

== fuzzy arm (the family's honest >=100x linear curve, 1x..1000x) ==

The registered ``join_fuzzy_blocked_prefix`` corpus query (6-char-prefix
blocking + length gate + levenshtein <= 3) runs UNCHANGED — real query
fn, real oracle — over a generated documents table whose ``text`` is
content-unique: 3 Lehmer mixes base-26-encoded (~93 bits; birthday-safe
to 5M docs), with K = n/100 planted pairs (partner = copy with 2
in-prefix substitutions after the blocking prefix -> edit distance 2,
same 6-prefix, same length).  Expected extra candidates from random
6-prefix collisions: C(n,2)/26^6 (~40k at 5M docs), none of which pass
levenshtein <= 3.  Output pairs = K + 0, LINEAR by construction, at
every scale.

Usage: python tools/neardup_scale_probe.py [phash|fuzzy] [reps ...]
Defaults: phash 1 10; fuzzy 1 10 100 1000.
Prints one JSON line per (arm, reps).

Committed readings: BASELINE.md "Round-14: content-unique near-dup
evidence".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from pyspark.sql import functions as F

BASE_IMAGES = 1667  # images at sf0.1 (doc_id % 3 == 0 of 5000 docs)
BASE_DOCS = 5000  # documents at sf0.1
M31 = 2147483647
LEHMER = 48271
PX_C = [pow(LEHMER, j + 1, M31) for j in range(8)]

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".cache",
    "neardup",
)


# ---------------------------------------------------------------- phash --
def _eff_sql(k: int) -> str:
    """The planted near-dup map over doc_id = 3*i: docs 3i (i<2K) share
    eff with their partner via i mod K; everyone else is themselves."""
    return (
        f"(CASE WHEN doc_id < {6 * k} THEN doc_id % {3 * k} ELSE doc_id END)"
    )


def _px_value_sql(k: int) -> str:
    """px value for free vars (doc_id, j) — consumed by the oracle's px
    CTE (plans.multimodal._phash_oracle_sql) and mirrored byte-for-byte
    in the Spark payload build below."""
    eff = _eff_sql(k)
    branches = " ".join(
        f"WHEN {j} THEN (({eff} * {c}) % {M31}) % 256"
        for j, c in enumerate(PX_C)
    )
    return f"(CASE j {branches} END)"


def _build_phash(spark, reps: int) -> tuple[str, int, int]:
    n = BASE_IMAGES * reps
    k = max(1, n // 100)
    out_dir = os.path.join(SCRATCH, f"phash_x{reps}")
    out = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        (
            spark.range(n)
            .select((F.col("id") * 3).alias("doc_id"))
            .repartition(min(256, max(8, reps)))
            .write.mode("overwrite")
            .parquet(out)
        )
    return out_dir, n, k


def _media_df(spark, sf_dir: str, k: int):
    """(doc_id, kind, payload) with the content-unique plane — the same
    FIMG container synthesize_media emits (operators/multimodal.py:85),
    only the 8 sample bytes differ."""
    from steampipe_sqlite_spark.operators.multimodal import (
        IMG_MAGIC,
        _int32be,
        _u8,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    eff = _eff_sql(k)
    width = "cast(64 + (doc_id * 37) % 193 as int)"
    height = "cast(48 + (doc_id * 53) % 145 as int)"
    channels = "cast(1 + (doc_id % 2) * 2 as int)"
    px = "concat(" + ", ".join(
        _u8(f"(({eff} * {c}) % {M31}) % 256") for c in PX_C
    ) + ")"
    magic = "X'" + IMG_MAGIC.hex().upper() + "'"
    payload = (
        f"concat({magic}, {_int32be(width)}, {_int32be(height)}, "
        f"{_u8(channels)}, {px})"
    )
    return docs.selectExpr(
        "doc_id", "'image' AS kind", f"{payload} AS payload"
    )


def run_phash(reps: int) -> dict:
    from steampipe_sqlite_spark.operators.multimodal import (
        image_phash,
        image_phash_pairs,
    )
    from steampipe_sqlite_spark.plans.multimodal import _phash_oracle_sql
    from steampipe_sqlite_spark.session import get_spark, stop_spark

    spark = get_spark("neardup")
    sf_dir, n, k = _build_phash(spark, reps)
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    stop_spark()
    spark = get_spark("neardup")

    pairs = image_phash_pairs(_media_df(spark, sf_dir, k), max_hamming=6)
    pairs.count()  # warm
    best_s = float("inf")
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n_pairs = pairs.count()
        best_s = min(best_s, time.perf_counter() - t0)
    # planted recall: doc 3i (i < K) pairs with doc 3(i+K)
    planted_found = pairs.filter(
        (F.col("id_a") < 3 * k) & (F.col("id_b") == F.col("id_a") + 3 * k)
    ).count()
    # band-candidate volume (pre-hamming) — the ceiling metric
    fp = image_phash(_media_df(spark, sf_dir, k))
    bands = fp.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("phash", 16 * b).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    candidates = (
        bands.groupBy("band_idx", "band_val")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) / 2")).cast("long"))
        .first()[0]
    )
    distinct_hashes = fp.select("phash").distinct().count()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = _phash_oracle_sql(px_value_sql=_px_value_sql(k))
    count_sql = f"SELECT COUNT(*) FROM ({oracle})"
    con.execute(count_sql).df()  # warm
    best_d = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        n_pairs_d = con.execute(count_sql).df().iloc[0, 0]
        best_d = min(best_d, time.perf_counter() - t0)
    return {
        "arm": "phash",
        "reps": reps,
        "images": n,
        "planted": k,
        "spark_pairs": int(n_pairs),
        "duckdb_pairs": int(n_pairs_d),
        "planted_found": int(planted_found),
        "candidates": int(candidates),
        "distinct_hashes": int(distinct_hashes),
        "spark_s": round(best_s, 2),
        "duckdb_s": round(best_d, 2),
        "ratio": round(best_s / best_d, 2),
    }


# ---------------------------------------------------------------- fuzzy --
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _mix_text_exprs(k: int) -> str:
    """Spark SQL for the content-unique text: three Lehmer mixes
    base-26-encoded (10 chars each, ~93 bits total).  Planted partners
    (docs [K, 2K)) copy doc (id-K)'s string and substitute positions 8
    and 12 (inside the 24-char prefix, after the 6-char blocking
    prefix) -> levenshtein 2, same length, same block."""
    mixes = [48271, 16807, 69621]

    def b26(m: int) -> str:
        # 10 base-26 chars of ((eff * m) % M31) * 8191 % M31 — two mixes
        # deep so consecutive ids do not share prefixes
        v = f"((((eff * {m}) % {M31}) * 8191) % {M31})"
        chars = ", ".join(
            f"substr('{_ALPHA}', cast({v} div {26 ** p} % 26 as int) + 1, 1)"
            for p in range(10)
        )
        return f"concat({chars})"

    base = "concat(" + ", ".join(b26(m) for m in mixes) + ")"
    return f"""
    WITH eff_map AS (
      SELECT id AS doc_id,
             CASE WHEN id < {2 * k} THEN id % {k} ELSE id END AS eff,
             CASE WHEN id >= {k} AND id < {2 * k} THEN 1 ELSE 0 END AS is_partner
      FROM rng)
    SELECT doc_id,
           CASE WHEN is_partner = 1 THEN
             concat(substr(base, 1, 8),
                    substr('{_ALPHA}',
                           (ascii(substr(base, 9, 1)) - ascii('a') + 1) % 26 + 1, 1),
                    substr(base, 10, 3),
                    substr('{_ALPHA}',
                           (ascii(substr(base, 13, 1)) - ascii('a') + 1) % 26 + 1, 1),
                    substr(base, 14))
           ELSE base END AS text
    FROM (SELECT doc_id, is_partner, {base} AS base FROM eff_map)
    """


def _build_fuzzy(spark, reps: int) -> tuple[str, int, int]:
    n = BASE_DOCS * reps
    k = max(1, n // 100)
    out_dir = os.path.join(SCRATCH, f"fuzzy_x{reps}")
    out = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        spark.range(n).createOrReplaceTempView("rng")
        (
            spark.sql(_mix_text_exprs(k))
            .repartition(min(256, max(8, reps)))
            .write.mode("overwrite")
            .parquet(out)
        )
    return out_dir, n, k


def run_fuzzy(reps: int) -> dict:
    from steampipe_sqlite_spark.plans.registry import collect
    from steampipe_sqlite_spark.session import get_spark, stop_spark

    spark = get_spark("neardup")
    sf_dir, n, k = _build_fuzzy(spark, reps)
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    stop_spark()
    spark = get_spark("neardup")
    queries, oracles = collect()
    fn = queries["join_fuzzy_blocked_prefix"]
    df = fn(spark, sf_dir)
    df.count()  # warm
    best_s = float("inf")
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n_pairs = df.count()
        best_s = min(best_s, time.perf_counter() - t0)
    planted_found = df.filter(
        (F.col("doc_a") < k) & (F.col("doc_b") == F.col("doc_a") + k)
    ).count()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    count_sql = (
        "SELECT COUNT(*) FROM ("
        + oracles["join_fuzzy_blocked_prefix"]
        + ")"
    )
    con.execute(count_sql).df()  # warm
    best_d = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        n_pairs_d = con.execute(count_sql).df().iloc[0, 0]
        best_d = min(best_d, time.perf_counter() - t0)
    return {
        "arm": "fuzzy",
        "reps": reps,
        "docs": n,
        "planted": k,
        "spark_pairs": int(n_pairs),
        "duckdb_pairs": int(n_pairs_d),
        "planted_found": int(planted_found),
        "spark_s": round(best_s, 2),
        "duckdb_s": round(best_d, 2),
        "ratio": round(best_s / best_d, 2),
    }


def main() -> None:
    arms = [a for a in sys.argv[1:] if a in ("phash", "fuzzy")] or [
        "phash",
        "fuzzy",
    ]
    reps_arg = [int(a) for a in sys.argv[1:] if a.isdigit()]
    for arm in arms:
        reps_list = reps_arg or ([1, 10] if arm == "phash" else [1, 10, 100, 1000])
        for reps in reps_list:
            out = run_phash(reps) if arm == "phash" else run_fuzzy(reps)
            print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
