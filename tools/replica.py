"""The replica builder: the sf0.1 fixture copied REPS times, re-keyed so
every registered query runs on it unchanged, for timing at scale.

Usage: python tools/replica.py REPS
Builds every table of the sf0.1 fixture as ``<table>.parquet``
directories of one derived replica directory and prints it.  The
directory is ``.cache/replica/sf0.1-x<REPS>-<path hash>-<content key>``
(steampipe_sqlite_spark/derived.py), so a regenerated fixture gets a new
replica instead of the old one.  Time queries
on it with the A/B harness, which sizes its session from --sf:

  python tools/ab.py --sf "$(python tools/replica.py 10)" QUERY...

and vary cores with SPARK_GRAFT_CPUS.  Each table is built on first use
and published by an atomic rename, so an interrupted build is rebuilt,
never silently read as the full replica.

The replica rules, each chosen so that a query's per-key work and its
output per replica stay what they are at 1x:

- Fact ids are re-keyed per replica by a stride of max(id)+1 (not count:
  sparse ids must not collide).  Foreign keys share the referenced
  table's stride (`_REKEY`), so each replica is a self-contained
  TPC-H-ish universe and join cardinality per key is preserved; events
  re-keys user_id so the as-of window's per-user work unit is constant.
- Dimension tables (`DIMS`) are written once at 1x: more order volume
  over the same part/supplier catalog, so l_partkey/l_suppkey still
  resolve while l_orderkey strides with orders.
- documents' ``text`` goes through a per-replica seeded bijection of
  [a-z0-9] (identity for replica 0; upper case maps to the upper case of
  the lowercase image, so a lowercasing normalizer sees the substituted
  stream).  A bijection keeps every within-replica similarity exact and
  makes cross-replica overlap ~zero, so near-dup output grows linearly:
  sf0.001 x1/x2/x4 reads dedup_ppjoin_exact 28/56/112 pairs,
  dedup_minhash_lsh 28/56/112, join_fuzzy_blocked_prefix 29/58/116.
  Without it, each near-dup class grows by REPS and pair output grows
  quadratically.  Perturbations must be measure-preserving: a
  per-token replica tag shared one shingle by every document and took
  1x minhash candidates from 230k to 9.8M.
  mm_image_phash_neardup still grows quadratically: its pixel plane is
  doc_id arithmetic mod 256, which the bijection does not touch.

Readings taken on these replicas are in BASELINE.md ("Readings from the
folded scale probes" and the round sections it indexes).
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from steampipe_sqlite_spark import derived
from steampipe_sqlite_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.1"

DIMS = {"part", "supplier", "partsupp", "nation", "region"}

# (table, column) pairs re-keyed per replica, as (column, referenced
# table, referenced column)
_REKEY = {
    "events": [("event_id", "events", "event_id"), ("user_id", "events", "user_id")],
    "embeddings": [("vec_id", "embeddings", "vec_id")],
    "documents": [("doc_id", "documents", "doc_id")],
    "customer": [("c_custkey", "customer", "c_custkey")],
    "orders": [
        ("o_orderkey", "orders", "o_orderkey"),
        ("o_custkey", "customer", "c_custkey"),
    ],
    "lineitem": [("l_orderkey", "orders", "o_orderkey")],
}

ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
_TRANSLATE_FROM = ALPHABET + ALPHABET[:26].upper()


def _bijection(rep: int) -> str:
    """Replica ``rep``'s image of ``_TRANSLATE_FROM``: a seeded
    permutation of [a-z0-9] (random.Random(rep), so distinct replicas'
    maps are unrelated), identity for replica 0."""
    chars = list(ALPHABET)
    if rep:
        random.Random(rep).shuffle(chars)
    dst = "".join(chars)
    return dst + dst[:26].upper()


def _replicate(spark, reps: int, table: str, out: str, strides: dict) -> None:
    df = load_table(spark, SF_DIR, table)
    rep = F.broadcast(
        spark.createDataFrame(
            [(r, _bijection(r)) for r in range(reps)], "rep long, text_map string"
        )
    )
    cols = {}
    for col, src_table, src_col in _REKEY.get(table, []):
        key = (src_table, src_col)
        if key not in strides:
            strides[key] = (
                load_table(spark, SF_DIR, src_table).agg(F.max(src_col)).first()[0] + 1
            )
        cols[col] = F.col(col) + F.col("rep") * strides[key]
    if table == "documents":
        cols["text"] = F.expr(f"translate(text, '{_TRANSLATE_FROM}', text_map)")
    rpl = df.crossJoin(rep).select(
        *[cols[c].alias(c) if c in cols else F.col(c) for c in df.columns]
    )
    # cap the part-file count: reps//2 wrote 5000 files at 10000x, which
    # meant ~2200-map-task shuffles downstream and per-file open overhead
    # in both engines' scans
    rpl.repartition(min(1024, max(32, reps // 2))).write.mode(
        "overwrite"
    ).parquet(out)


def build(spark, reps: int, tables: set) -> str:
    """Write each table's replica as <dir>/<table>.parquet, so the corpus
    query fns (load_table / register_views on an sf_dir) run against it
    unchanged, and return <dir>."""
    sf_dir = derived.generation("replica", SF_DIR, f"x{reps}")
    strides: dict = {}
    for table in sorted(tables):
        derived.publish(
            os.path.join(sf_dir, f"{table}.parquet"),
            lambda out, t=table: _replicate(
                spark, 1 if t in DIMS else reps, t, out, strides
            ),
        )
    derived.reclaim(sf_dir)
    return sf_dir


def main() -> None:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit() or int(sys.argv[1]) < 1:
        sys.exit("usage: python tools/replica.py REPS")
    from steampipe_sqlite_spark.session import get_spark

    tables = {f.removesuffix(".parquet") for f in os.listdir(SF_DIR)}
    print(build(get_spark("replica"), int(sys.argv[1]), tables))


if __name__ == "__main__":
    main()
