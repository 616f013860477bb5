"""Embedding clustering and cluster-based semantic dedup.

Engine extensions beyond the reference's SQL surface (which has no vector
ops at all — SURVEY §2.3): the embedding-curation operators a training-data
pipeline runs at corpus scale.

- ``kmeans_assign``: Lloyd's k-means with deterministic init (first-k
  vectors) and a FIXED iteration count, so the whole fit is reproducible
  and SQL-oracle-checkable (the DuckDB oracle unrolls the iterations as
  CTE rounds).  Scale shape per iteration: centroids are a k-row broadcast,
  assignment is map-side, the mean recompute is one shuffle keyed on
  (cluster, dimension) with map-side partial sums — linear in corpus size,
  never all-pairs, centroid state never exceeds k×dim.
- ``semantic_dedup``: SemDeDup-style near-duplicate pruning (public
  construction: Abbas et al. 2023, arXiv:2303.09540): cluster first, keep
  each cluster's representative (closest to its centroid), drop members
  whose cosine to the representative exceeds the threshold.  Pairwise work
  is per-cluster representative-vs-member — O(n), not O(n²).

Determinism contract shared with the oracle: float32 inputs are cast to
double; squared distance is composed as dot(v,v) − 2·dot(v,c) + dot(c,c)
rounded to 4 dp (list_inner_product matches the JVM fold, proven by the
cosine corpus queries); centroid means use exact integer-nanos sums
(ROUND(x·1e9)→BIGINT — bit-identical across engines); all
argmins tie-break toward the lowest id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from steampipe_sqlite_spark.functions.vectors import dot


def _sq_dist(v, cv, vv, cc) -> F.Column:
    """round(|v−c|², 4) via the dot-product identity — the composition the
    DuckDB oracle reproduces term by term with list_inner_product."""
    return F.round(vv - 2 * dot(v, cv) + cc, 4)


def _assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k centroids, map-side
    distance, per-id argmin via min_by (map-side partial, one narrow
    shuffle of a scalar per vector)."""
    crossed = vecs.join(F.broadcast(cent), how="cross").withColumn(
        "d2", _sq_dist(F.col("v"), F.col("cv"), F.col("vv"), F.col("cc"))
    )
    return (
        crossed.groupBy("id")
        .agg(
            F.expr("min_by(cid, struct(d2, cid))").alias("cell"),
            F.min(F.struct("d2", "cid")).alias("_m"),
            F.expr("any_value(v)").alias("v"),
            F.expr("any_value(vv)").alias("vv"),
        )
        .select("id", "v", "vv", "cell", F.col("_m.d2").alias("d2"))
    )


def _update(assigned: DataFrame) -> DataFrame:
    """Recompute centroids as exact integer-nanos per-dimension means
    (ROUND(x·1e9)→BIGINT — the same double rounds identically on both
    engines, where a double→DECIMAL cast's half-way handling differed on
    rare float32 values); one shuffle on (cell, pos), then k rows
    re-packed into arrays."""
    per_dim = (
        assigned.select("cell", F.posexplode("v").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(
            (
                F.sum(F.round(F.col("val") * 1e9).cast("long")).cast("double")
                / F.count(F.lit(1))
                / 1e9
            ).alias("avg_val")
        )
    )
    packed = per_dim.groupBy("cell").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, avg_val))), s -> s.avg_val)").alias("cv")
    )
    return packed.select(
        F.col("cell").alias("cid"), "cv", dot(F.col("cv"), F.col("cv")).alias("cc")
    )


def kmeans_assign(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8, iters: int = 2
) -> DataFrame:
    """Lloyd's k-means, deterministic: init = the first ``k`` vectors by id;
    ``iters`` rounds of (assign, update); returns the LAST round's
    assignment as (id, v, vv, cell, d2).

    A production fit would run to convergence with sampled init (k-means‖);
    the fixed-round form keeps results bit-reproducible across engines —
    the plan shape per round is identical.
    """
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v"),
    ).withColumn("vv", dot(F.col("v"), F.col("v")))
    cent = vecs.filter(F.col("id") < k).select(
        F.col("id").alias("cid"), F.col("v").alias("cv"), F.col("vv").alias("cc")
    )
    assigned = _assign(vecs, cent)
    for _ in range(iters - 1):
        assigned = _assign(vecs.select("id", "v", "vv"), _update(assigned))
    return assigned


def _rep_vectors(assigned: DataFrame, reps: DataFrame) -> DataFrame:
    """The relation ``semantic_dedup`` broadcasts: exactly the k
    representatives' vectors, restricted BEFORE the broadcast by joining
    ``assigned`` against the k-row ``reps`` (itself broadcast, so the
    restriction is map-side).  Returning all n vectors here — the r3 flaw —
    would broadcast the whole corpus and OOM every executor at 100 TB;
    tests pin the cardinality of this relation to k."""
    return assigned.join(
        F.broadcast(reps.select("rep_id")), assigned["id"] == F.col("rep_id")
    ).select("rep_id", F.col("v").alias("rv"), F.col("vv").alias("rvv"))


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 2,
    tau: float = 0.95,
) -> DataFrame:
    """SemDeDup: keep each k-means cluster's representative (min (d2, id)
    to its centroid) plus every member whose cosine to the representative
    is BELOW ``tau``; near-duplicates of the representative are dropped.

    Returns (vec_id, cluster, is_rep, cos_to_rep) for the kept rows —
    cos_to_rep is NULL on representatives.  The pair space is
    representative × members (one row per vector), so cost stays linear
    where naive semantic dedup is quadratic.
    """
    # Persist the fitted assignment ONCE (optimization r15): the relation
    # is referenced three times below (the reps aggregate, the
    # representative-vector restriction, and the member face of the final
    # join), and unpersisted each reference re-ran the WHOLE k-means fit —
    # the executed plan carried 5 parquet scans of the corpus and 22
    # exchanges (committed: plans/r15/dedup_semantic_before.txt).  One
    # corpus-sized row per vector — the same bounded within-query state
    # class as ppjoin's shingle cache (r14); dropped by clearCache between
    # bench runs.
    assigned = kmeans_assign(df, vec_col, id_col, k=k, iters=iters).persist()
    reps = (
        assigned.groupBy("cell")
        .agg(F.min(F.struct("d2", "id")).alias("m"))
        .select(F.col("cell").alias("rcell"), F.col("m.id").alias("rep_id"))
    )
    rep_vecs = _rep_vectors(assigned, reps)
    joined = (
        assigned.join(F.broadcast(reps), F.col("cell") == F.col("rcell"))
        .join(F.broadcast(rep_vecs), "rep_id")
    )
    cos = F.round(
        dot(F.col("v"), F.col("rv")) / (F.sqrt(F.col("vv")) * F.sqrt(F.col("rvv"))), 4
    )
    scored = joined.select(
        F.col("id").alias("vec_id"),
        F.col("cell").alias("cluster"),
        (F.col("id") == F.col("rep_id")).alias("is_rep"),
        F.when(F.col("id") == F.col("rep_id"), F.lit(None).cast("double"))
        .otherwise(cos)
        .alias("cos_to_rep"),
    )
    return scored.filter(F.col("is_rep") | (F.col("cos_to_rep") < tau))
