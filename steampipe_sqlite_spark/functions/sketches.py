"""Deterministic cross-engine sketches.

Spark's approx_count_distinct and DuckDB's are different HLL
implementations, so their estimates can't be hash-compared.  This module
builds a HyperLogLog (Flajolet et al. 2007) from primitives BOTH engines
share bit-for-bit — md5, string→int conversion, binary-string length —
so the exact same estimate comes out of either engine:

  h       = first 15 hex chars of md5(value)  → 60-bit integer
  bucket  = h mod m            (m = 2^p registers)
  w       = h div m            (60-p payload bits)
  rho     = (60-p) - msb(w) + 1, where msb = length(bin(w)) — integer-
            exact on both engines (no float log)
  M_j     = max rho per bucket
  S       = Σ 2^(-M_j) over all m registers, computed as exact
            DECIMAL(38,0) sums of 2^(61-M_j) (scaled by 2^61)
  E       = alpha_m · m² / S, with the standard small-range linear
            counting correction.

Everything is integer-exact until the final one-shot double arithmetic on
identical operands, so the 4-dp-rounded estimate is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 61  # 2^(61-M) stays within DECIMAL(38,0) for any register value


def _alpha(m: int) -> float:
    return 0.7213 / (1 + 1.079 / m)


def hll_distinct(
    df: DataFrame, col: str, p: int = 10, group_cols: list[str] | None = None
) -> DataFrame:
    """Deterministic HLL estimate of COUNT(DISTINCT col) — one row
    globally, or one per group when ``group_cols`` is given (register
    arrays are per-group, which is what makes HLL mergeable: a group's
    sketch is the element-wise max of its parts).

    Scale shape: one narrow shuffle on (groups × 2^p bucket ids) with
    map-side partial max, then a tiny per-group aggregation — constant
    memory per group regardless of cardinality, the whole point of the
    sketch at 100 TB.
    """
    group = list(group_cols or [])
    m = 1 << p
    h = F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10).cast("long")
    # integer bit ops only — h is a 60-bit value, double round-trips would
    # corrupt the low bits (doubles are exact to 2^53)
    bucket = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftrightunsigned(h, p)
    msb = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(60 - p + 1)).otherwise(F.lit(60 - p) - msb + 1)

    regs = (
        df.select(*group, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group, "bucket")
        .agg(F.max("rho").alias("M"))
    )
    agg = regs.groupBy(*group).agg(
        F.count(F.lit(1)).alias("nonempty"),
        F.sum(F.pow(F.lit(2.0), F.lit(SCALE) - F.col("M")).cast("decimal(38,0)")).alias("s_scaled"),
    )
    two61 = float(1 << SCALE)
    s = (
        F.col("s_scaled").cast("double")
        + (F.lit(m) - F.col("nonempty")).cast("double") * two61
    ) / two61
    raw = F.lit(_alpha(m) * m * m) / s
    zeros = F.lit(m) - F.col("nonempty")
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), small).otherwise(raw)
    out = agg.select(*group, F.round(est, 4).alias("n_distinct_est"))
    return out.orderBy(*group) if group else out


def hist_quantiles(
    df: DataFrame, col: str, bins: int = 64, qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99)
) -> DataFrame:
    """Fixed-width-histogram quantile estimates: (q, est) per requested
    quantile — the mergeable constant-memory percentile sketch.

    Exact percentiles need a full sort (or Spark's GK sketch, which DuckDB
    cannot reproduce bit-for-bit); a fixed-width histogram needs one
    min/max/count pass plus one ``bins``-row aggregation, merges by adding
    counts, and is pure shared-primitive arithmetic — so the estimate is
    engine-identical and oracle-checkable (hist_quantiles_oracle_sql).

    Estimate: linear interpolation inside the first bucket whose
    cumulative count reaches q·n (uniform-within-bucket assumption —
    error bounded by bucket width).  Scale shape: the stats row
    broadcasts, bucketing is map-side, the shuffle carries ≤ ``bins``
    rows, and the cumulative window runs over those ``bins`` rows only
    (constant, independent of data size).
    """
    from pyspark.sql import Window

    stats = df.agg(
        F.min(F.col(col).cast("double")).alias("lo"),
        F.max(F.col(col).cast("double")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("hi") - F.col("lo")) / float(bins)
    bucketed = (
        df.select(F.col(col).cast("double").alias("x"))
        .join(F.broadcast(stats), how="cross")
        .select(
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(bins - 1),
                    F.floor((F.col("x") - F.col("lo")) / width).cast("int"),
                )
            )
            .alias("bucket"),
            "lo",
            "hi",
            "n",
        )
    )
    counts = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr("any_value(lo)").alias("lo"),
        F.expr("any_value(hi)").alias("hi"),
        F.expr("any_value(n)").alias("n"),
    )
    # cumulative over ≤ bins rows — the single-partition window is over a
    # CONSTANT-sized set, not the data
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cc = counts.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    qdf = stats.select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    pairs = cc.join(F.broadcast(qdf), how="cross").filter(
        F.col("cum").cast("double") >= F.col("q") * F.col("n").cast("double")
    )
    sel = pairs.groupBy("q").agg(F.min("bucket").alias("bucket"))
    est_rows = sel.join(cc, "bucket")
    est = F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
        F.col("lo")
        + width
        * (
            F.col("bucket").cast("double")
            + (F.col("q") * F.col("n").cast("double") - F.col("cum_prev").cast("double"))
            / F.col("cnt").cast("double")
        )
    )
    return est_rows.select("q", F.round(est, 4).alias("est")).orderBy("q")


def hist_quantiles_oracle_sql(
    source_sql: str, col: str, bins: int = 64, qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99)
) -> str:
    """DuckDB twin of hist_quantiles — identical arithmetic composition."""
    q_list = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
WITH src AS ({source_sql}),
stats AS (
  SELECT MIN(CAST({col} AS DOUBLE)) AS lo, MAX(CAST({col} AS DOUBLE)) AS hi,
         COUNT(*) AS n
  FROM src
),
b AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE LEAST({bins - 1},
                         CAST(FLOOR((CAST({col} AS DOUBLE) - lo) / ((hi - lo) / {float(bins)!r})) AS INT))
         END AS bucket, lo, hi, n
  FROM src, stats
),
counts AS (
  SELECT bucket, COUNT(*) AS cnt, ANY_VALUE(lo) AS lo, ANY_VALUE(hi) AS hi,
         ANY_VALUE(n) AS n
  FROM b GROUP BY bucket
),
cc AS (
  SELECT *, SUM(cnt) OVER (ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts
),
cc2 AS (SELECT *, cum - cnt AS cum_prev FROM cc),
qs AS (SELECT UNNEST([{q_list}]) AS q),
pairs AS (
  SELECT cc2.bucket, q FROM cc2, qs
  WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
),
sel AS (SELECT q, MIN(bucket) AS bucket FROM pairs GROUP BY q)
SELECT s.q,
       ROUND(CASE WHEN c.hi = c.lo THEN c.lo
                  ELSE c.lo + ((c.hi - c.lo) / {float(bins)!r})
                        * (CAST(c.bucket AS DOUBLE)
                           + (s.q * CAST(c.n AS DOUBLE) - CAST(c.cum_prev AS DOUBLE))
                             / CAST(c.cnt AS DOUBLE))
             END, 4) AS est
FROM sel s JOIN cc2 c ON c.bucket = s.bucket
ORDER BY s.q
"""


def _bloom_pos_sql(col_sql: str, m_bits: int, k: int) -> list[str]:
    """k bit positions from disjoint md5 hex slices (8 hex chars → 32-bit
    value → mod m), as SQL snippets (shiftleft-by-column needs the SQL
    form; the F.shiftleft API only takes literal shift counts).

    md5 yields 32 hex chars = 4 disjoint 8-char slices; k > 4 would slice
    past the digest and conv('') degenerates to a constant position,
    silently biasing those bits (ADVICE r3) — fail loudly instead.  For
    k > 4 derive further positions from a salted second digest."""
    if k * 8 > 32:
        raise ValueError(f"k={k} needs {k * 8} hex chars; md5 has 32 (k ≤ 4)")
    return [
        f"pmod(cast(conv(substring(md5(cast({col_sql} as string)), {1 + 8 * i}, 8), 16, 10) as bigint), {m_bits})"
        for i in range(k)
    ]


def bloom_bitmap(df: DataFrame, col: str, m_bits: int = 8192, k: int = 3) -> list[int]:
    """Build a Bloom bitmap over ``df[col]`` as ``m_bits/64`` longs.

    The aggregation is distributed (explode k positions → bit_or per
    64-bit word — map-side partial, ≤ m/64 rows shuffled); only the
    finished bitmap is collected, which is the point: real engines ship
    Bloom filters to the scan as broadcast BYTES (Spark's own runtime
    bloom-filter join does exactly this), so the driver holds m/8 bytes
    regardless of how many items went in.
    """
    words = m_bits // 64
    pos_arr = ", ".join(_bloom_pos_sql(col, m_bits, k))
    rows = (
        df.select(F.expr(f"explode(array({pos_arr}))").alias("p"))
        .select(
            F.expr("cast(p div 64 as int)").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    bitmap = [0] * words
    for r in rows:
        bitmap[r.word] = r.bits
    return bitmap


def bloom_might_contain(
    bitmap: list[int], col_sql: str, m_bits: int = 8192, k: int = 3
) -> F.Column:
    """Map-side membership test against an inlined bitmap literal: all k
    bit positions set ⇒ maybe-member (false positives possible, false
    negatives impossible — callers re-verify exactly).  ``col_sql`` is a
    SQL snippet naming the probed column."""
    arr = "array(" + ", ".join(f"cast({w} as bigint)" for w in bitmap) + ")"
    checks = [
        f"(element_at({arr}, cast(({p}) div 64 as int) + 1)"
        f" & shiftleft(cast(1 as bigint), cast(({p}) % 64 as int))) != 0"
        for p in _bloom_pos_sql(col_sql, m_bits, k)
    ]
    return F.expr(" AND ".join(checks))


def frequent_terms(
    df: DataFrame, term_col: str, k: int = 20, capacity: int = 256
) -> DataFrame:
    """Top-``k`` most frequent terms via the two-pass heavy-hitters
    pattern: per-partition Misra–Gries summaries (bounded state) generate
    a candidate set, then one exact recount of the candidates only.

    Scale shape (the reason this beats a plain groupBy at 100 TB): the
    candidate stage shuffles AT MOST ``capacity`` rows per partition no
    matter how many distinct terms exist; the recount stage's shuffle is
    bounded by the candidate count.  A plain groupBy(term).count() shuffles
    every distinct term.  Guarantee (Misra–Gries 1982): any term with true
    frequency > n/capacity survives the summary, so the recounted top-k is
    EXACT whenever the k-th term clears that bar — at capacity 256 that is
    0.4 % of occurrences, far below any realistic head term.  The summary
    itself runs as an Arrow-batched mapInPandas (vectorized value_counts
    per batch, one decrement per overflow), the canonical custom-stateful
    per-partition operator.
    """
    import pandas as pd

    cap = int(capacity)

    def mg(batches):
        counts: dict = {}
        for pdf in batches:
            for term, c in pdf[term_col].value_counts().items():
                counts[term] = counts.get(term, 0) + int(c)
            if len(counts) > cap:
                # batched Misra–Gries decrement: subtract the (cap+1)-th
                # largest count from everything, drop the non-positive —
                # at most `cap` survivors, undercount bounded by n_p/cap
                thr = sorted(counts.values(), reverse=True)[cap]
                counts = {t: c - thr for t, c in counts.items() if c > thr}
        yield pd.DataFrame({term_col: list(counts.keys())})

    candidates = df.mapInPandas(mg, f"{term_col} string").distinct()
    exact = (
        df.join(F.broadcast(candidates), term_col)
        .groupBy(term_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.selectExpr(
        term_col,
        "cnt",
        f"row_number() OVER (ORDER BY cnt DESC, {term_col} ASC) AS rank",
    ).where(f"rank <= {int(k)}")


def hll_oracle_sql(
    source_sql: str, col: str, p: int = 10, group_cols: list[str] | None = None
) -> str:
    """The DuckDB twin of hll_distinct — same md5/conv/bin primitives;
    ``group_cols`` adds per-group registers exactly like the Spark side."""
    m = 1 << p
    alpha = _alpha(m)
    group = list(group_cols or [])
    g_sel = "".join(f"{g}, " for g in group)
    g_by = ("GROUP BY " + ", ".join(group)) if group else ""
    g_order = ("ORDER BY " + ", ".join(group)) if group else ""
    return f"""
WITH hashed AS (
  SELECT {g_sel}CAST('0x' || substring(md5(CAST({col} AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM ({source_sql})
),
rho_t AS (
  SELECT {g_sel}h % {m} AS bucket,
         CASE WHEN h // {m} = 0 THEN {60 - p + 1}
              ELSE {60 - p} - length(bin(h // {m})) + 1 END AS rho
  FROM hashed
),
regs AS (
  SELECT {g_sel}bucket, MAX(rho) AS M FROM rho_t GROUP BY {g_sel}bucket
),
agg AS (
  SELECT {g_sel}COUNT(*) AS nonempty,
         SUM(CAST(POW(2.0, {SCALE} - M) AS DECIMAL(38,0))) AS s_scaled
  FROM regs
  {g_by}
)
SELECT {g_sel}ROUND(
  CASE WHEN (CAST({alpha} AS DOUBLE) * {m} * {m}) /
            ((CAST(s_scaled AS DOUBLE) + ({m} - nonempty) * {float(1 << SCALE)}) / {float(1 << SCALE)})
            <= 2.5 * {m}
        AND ({m} - nonempty) > 0
       THEN {float(m)} * LN({float(m)} / CAST({m} - nonempty AS DOUBLE))
       ELSE (CAST({alpha} AS DOUBLE) * {m} * {m}) /
            ((CAST(s_scaled AS DOUBLE) + ({m} - nonempty) * {float(1 << SCALE)}) / {float(1 << SCALE)})
  END, 4) AS n_distinct_est
FROM agg
{g_order}
"""


# --- Count-Min sketch ------------------------------------------------------


def cms_positions_sql(col_sql: str, width: int, depth: int) -> list[str]:
    """Row positions from disjoint md5 hex slices (same device as
    _bloom_pos_sql: slice j of 8 hex chars → 32-bit int → mod width);
    depth ≤ 4 rows fit in one md5."""
    if depth > 4:
        raise ValueError(f"depth={depth} needs {depth * 8} hex chars; md5 has 32")
    return [
        f"pmod(cast(conv(substring(md5(cast({col_sql} as string)), {1 + 8 * j}, 8), 16, 10) as bigint), {width})"
        for j in range(depth)
    ]


def cms_build(
    df: DataFrame, col: str, width: int = 64, depth: int = 4
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005, public
    construction) as a (row, pos, c) relation — depth×width cells.

    Mergeable by construction: union two sketches and SUM per (row, pos)
    — the property that lets per-partition/per-batch sketches fold into
    corpus totals without reprocessing (pinned by test).  Point estimates
    OVERCOUNT only (min over rows ≥ true count, never under)."""
    pos = cms_positions_sql(col, width, depth)
    stacked = ", ".join(f"{j}, {p}" for j, p in enumerate(pos))
    return (
        df.selectExpr(f"stack({depth}, {stacked}) AS (row, pos)")
        .groupBy("row", "pos")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str,
                 width: int = 64, depth: int = 4) -> DataFrame:
    """Point estimates for ``probes[col]``: min over rows of the cell each
    row hashes the probe to.  Returns (value, est).

    LEFT join, not inner (ADVICE r5): the sparse sketch relation omits
    zero-count cells, so a probe hashing to an absent cell must read it
    as 0 — coalesce(c, 0) keeps that zero-count evidence, tightening the
    min, and a value absent from every cell correctly returns est=0
    instead of vanishing from the output."""
    pos = cms_positions_sql(col, width, depth)
    stacked = ", ".join(f"{j}, {p}" for j, p in enumerate(pos))
    probe_cells = probes.selectExpr(
        f"{col} AS value", f"stack({depth}, {stacked}) AS (row, pos)"
    )
    return (
        probe_cells.join(sketch, ["row", "pos"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est"))
    )


# --- KMV (k-minimum values) signatures -------------------------------------


def kmv_signatures(
    df: DataFrame, col: str, group_col: str, k: int = 128
) -> DataFrame:
    """KMV sketch per group (Bar-Yossef et al. 2002 / Beyer et al. 2007,
    public construction): the k smallest DISTINCT 60-bit md5 hashes of the
    group's elements.  Returns (group, h) — ≤ k rows per group.

    Unlike HLL registers, KMV signatures support SET-OPERATION estimates:
    the k smallest of sig(A) ∪ sig(B) is exactly kmv(A ∪ B), and the
    fraction of those present in BOTH signatures estimates Jaccard —
    integer arithmetic end to end, so estimates replay bit-exactly in any
    engine."""
    h = f"cast(conv(substring(md5(cast({col} as string)), 1, 15), 16, 10) as bigint)"
    return (
        df.selectExpr(f"{group_col} AS grp", f"{h} AS h")
        .distinct()
        .selectExpr(
            "grp", "h",
            "row_number() OVER (PARTITION BY grp ORDER BY h) AS r",
        )
        .where(f"r <= {int(k)}")
        .select("grp", "h")
    )


def kmv_pairwise_jaccard(sig: DataFrame, k: int = 128) -> DataFrame:
    """Pairwise Jaccard estimates between all groups of a KMV signature
    relation: per (ga, gb) take the k smallest distinct hashes of the
    UNION of the two signatures (= kmv(A ∪ B)) and count how many appear
    in BOTH — the estimate is n_both/k, emitted as integers.
    Work is |groups|² × k — signature-sized, never data-sized.

    The input signature relation is persisted first (optimization r14):
    this plan references ``sig`` four times (both pair sides plus the two
    membership probes), and an unpersisted signature re-ran its entire
    upstream build — corpus scan, normalize, bigram explode, md5,
    distinct, per-group top-k window — once per reference.  Signatures
    are <= |groups|*k rows by construction, so the cached state is
    bounded.  A/B at sf0.01 (source-pair query, warm): 1.28 s -> 0.85 s,
    and the cold plan carries one build subtree instead of four."""
    sig = sig.persist()
    a = sig.selectExpr("grp AS ga", "h")
    b = sig.selectExpr("grp AS gb", "h AS hb")
    paired = (
        a.join(b.select("gb").distinct(), F.expr("ga < gb"))
        .select("ga", "gb", "h")
        .unionByName(
            b.join(a.select("ga").distinct(), F.expr("ga < gb"))
            .select("ga", "gb", F.col("hb").alias("h"))
        )
        .distinct()
        .selectExpr(
            "ga", "gb", "h",
            "row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r",
        )
        .where(f"r <= {int(k)}")
    )
    in_a = a.selectExpr("ga", "h", "1 AS fa")
    in_b = sig.selectExpr("grp AS gb", "h", "1 AS fb")
    return (
        paired.join(in_a, ["ga", "h"], "left")
        .join(in_b, ["gb", "h"], "left")
        .groupBy("ga", "gb")
        .agg(
            F.sum(F.expr("CASE WHEN fa = 1 AND fb = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_both"),
            F.count(F.lit(1)).cast("long").alias("n_used"),
        )
    )
