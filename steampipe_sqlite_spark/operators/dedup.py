"""Deduplication operators over a document DataFrame.

Five dedup families, each expressed Spark-first:

- exact:        md5(normalized) hash-groupBy — one shuffle on the hash.
- ngram-jaccard: exact token-n-gram Jaccard on candidate pairs inside
                 blocking keys — shuffle on the block key only.
- minhash-LSH:  one-permutation char-shingle minhash signatures (one
                 hash per shingle, one aggregate per doc), banded;
                 candidates meet via a shuffle on
                 (band, band-signature) — the 100 TB-safe path: cost is
                 O(docs·hashes) map-side + a bucket join, never O(docs²).
- simhash:      64-bit sign-vote fingerprint over token hashes; candidates
                 via band equality, confirmed by hamming distance.
- embedding:    cosine ≥ τ pairs on pre-normalized vectors (see
                 similarity.py for the ANN variant).

All hash computations use deterministic built-ins (md5 / xxhash64 with
literal salts) so runs are reproducible across clusters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from steampipe_sqlite_spark.functions.text import (
    fingerprint,
    normalize_sql,
    normalize_text,
    posexplode_sized,
    tokens,
    word_ngrams,
)


def _hash64(c: Column, family: str) -> tuple[Column, int]:
    """64-bit-ish hash of a string column, returning (column, bit width).

    ``xxhash64`` (default): fastest, JVM-native, 64 bits — the production
    path.  ``md5``: first 15 hex chars of md5 → 60-bit positive long,
    reproducible bit-for-bit in DuckDB (same construction as
    functions/sketches.py, proven cross-engine by the HLL rows) — the
    oracle-checkable path.  Identical plan shape either way; only the
    per-row hash expression differs.
    """
    if family == "xxhash64":
        return F.xxhash64(c), 64
    if family == "md5":
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long"), 60
    raise ValueError(f"unknown hash family: {family}")


def _spread(df: DataFrame) -> DataFrame:
    """Fan heavy per-row map work across all cores: single-file parquet
    fixtures arrive as ONE input partition, which would serialize the
    shingle/token explosion.  The repartition shuffles only the raw docs
    (tiny); at real scale inputs are many files and this is a no-op.

    Decides from ``inputFiles()`` (driver-side plan metadata, one py4j
    call) — the previous ``df.rdd.getNumPartitions()`` probe built an RDD
    lineage per query, a measured fixed cost on every dedup plan."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        few_inputs = len(df.inputFiles()) < max(target // 8, 2)
    except Exception:  # non-file source (e.g. in-memory test frame)
        return df
    return df.repartition(target) if few_inputs else df



def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per exact (normalized) text.

    Equivalent of GROUP BY hash; scales as a single hash shuffle on the
    fingerprint.  Returns (id, fingerprint, group_size).
    """
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact word-n-gram Jaccard over pairs sharing a blocking key.

    The blocking key keeps the pair space linear-ish; at 100 TB the block
    should be a content-derived key (e.g. a minhash band), not a metadata
    column — this operator takes whatever blocking the caller chose.

    Execution (optimization r14): an inverted-index gram join, not a
    block-pair join.  The old shape enumerated every in-block pair and ran
    an interpreted array_intersect per pair.  Now the DISTINCT grams
    explode once and self-join on (block, gram): only pairs that SHARE a
    gram ever materialize, |intersection| is a codegen'd count per
    (id_a, id_b), and set sizes ride the exploded rows, so Jaccard comes
    out of the same integers the old plan computed (bit-identical
    doubles).  Work is sum over grams of df(g)^2 within each block —
    rare-gram dominated for real text — instead of unconditional
    block^2 x gram-array cost.

    Honest measurement (the two r14 fixes pulled apart): the pre-r14
    33 s sf0.1 wall was dominated by the O(tokens²) word_ngrams HOF
    defect, fixed separately in functions/text.py:_let.  With that fix
    in BOTH arms, sf0.1 (100 blocks of <=112 docs) runs 1.36 s as a
    pair join vs 1.82 s here — the gram join pays ~0.5 s of extra
    exchanges at toy block sizes.  The shape is chosen for block
    GROWTH: at fixed corpus size, a block-size probe measures the pair
    join quadratic in block size (2.2 / 13.3 / 48.3 s at blocks of
    100 / 1000 / 5000 over 20k docs) while this join stays flat
    (2.8 / 2.9 / 2.4 s) — and a blocking key can never promise small
    blocks at 100 TB.  Reading in BASELINE.md ("the ngram join's
    block-growth curve"); probe code:
    `git show ad991e5:tools/ngram_pairs_scale_probe.py`.

    A zero/negative threshold keeps the pair-join form: the gram join
    cannot emit jaccard-0 pairs (they share no gram row), which such a
    threshold would include.
    """
    grams = word_ngrams(F.col(text_col), n)
    if threshold <= 0:
        pairs = _spread(df).select(
            *[F.col(c) for c in block_cols], F.col(id_col).alias("id"), grams.alias("grams")
        )
        a = pairs.alias("a")
        b = pairs.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
        cond.append(F.col("a.id") < F.col("b.id"))
        inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
        union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
        jac = inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
        return (
            a.join(b, cond)
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(jac, 4).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
    # one materialization of the (block, id, gram, n) stream feeds both
    # join sides, and the tokenize pipeline runs once per document inside
    # it: the grams expression is exploded with its size bound
    # (posexplode_sized), never read back from a named column
    toks = _spread(df).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id"),
        posexplode_sized(grams, "g"),
    ).drop("pos").persist()
    a = toks.alias("a")
    b = toks.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond += [F.col("a.g") == F.col("b.g"), F.col("a.id") < F.col("b.id")]
    inter = (
        a.join(b, cond)
        # the block columns ride the groupBy (ADVICE r14): the API does
        # not promise id_col is unique ACROSS blocks, and without them a
        # repeated id would merge intersection counts from different
        # blocks — the pair-join form this claims bit-parity with emits
        # per-block pairs.  They drop out in the final select.
        .groupBy(
            *[F.col(f"a.{c}") for c in block_cols],
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # same integer operands, same association, same cast/round as the
    # pair-join form -> identical doubles
    jac = F.col("inter").cast("double") / F.greatest(
        F.col("n_a") + F.col("n_b") - F.col("inter"), F.lit(1)
    ).cast("double")
    return (
        inter.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures_oph(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """One-permutation minhash (public construction: Li, Owen, Zhang 2012):
    ONE hash per shingle, partitioned into ``num_hashes`` buckets by its
    top bits, min per bucket; empty buckets are densified with the
    document's global min hash (two documents with near-identical shingle
    sets share their global min with probability ≈ their Jaccard, so
    densified slots still agree).

    vs the classic k-hash family (64 salted hashes derived per shingle,
    min per salt): 1 string hash + 1 bucket shift per shingle instead of
    64 derived hashes.  At sf0.1 the end-to-end gain is modest (the
    1.5M-row shingle shuffle dominates) but the per-shingle CPU is 64×
    lower — the term that grows with document length at real corpus
    sizes.  Shuffle: ONE exchange on id — the
    bucket pivot runs as 64 conditional mins inside a single codegen'd
    hash aggregate whose partials fold map-side (65 longs per doc per
    map partition cross the wire).
    """
    assert num_hashes & (num_hashes - 1) == 0, "num_hashes must be a power of 2"

    normed = _spread(df).select(F.col(id_col).alias("id"), normalize_text(F.col(text_col)).alias("norm"))
    ex = normed.select(
        "id",
        "norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("norm") - F.lit(shingle_k - 1), F.lit(1)))
        ).alias("i"),
    ).select("id", F.expr(f"substr(norm, i, {shingle_k})").alias("s"))
    h, width = _hash64(F.col("s"), hash_family)
    shift = width - (num_hashes.bit_length() - 1)  # bucket = top log2(n) bits
    hb = ex.select("id", h.alias("h")).withColumn(
        "b", F.shiftrightunsigned(F.col("h"), shift)
    )
    # ONE hash-partitioned aggregate straight off the shingle stream: 64
    # conditional mins (bucket pivot) + the global min, all inside ONE
    # codegen'd hash agg with map-side partials, assembled as a single
    # array expression (one F.expr parse).  Replaces the r13 two-stage
    # shape — groupBy(id, b) THEN groupBy(id) with
    # map_from_entries(collect_list(...)) — whose second aggregate ran as
    # an ObjectHashAggregate (collect_list defeats codegen) and cost a
    # second exchange.  A/B at sf0.1 (md5 family, noop sink): 1.17 s →
    # 0.77 s for the signature stage, and construction 0.43 s vs 3.29 s
    # for the equivalent 64-column F.min(F.when(...)) Column-chain form
    # (~400 py4j round trips — the same lesson as _band_projection).
    # Output proven bit-identical at sf0.1 (sorted collect comparison).
    mins = ", ".join(
        f"min(CASE WHEN b = {i} THEN h END)" for i in range(num_hashes)
    )
    return (
        hb.groupBy("id")
        .agg(F.expr(f"array({mins}) AS ms"), F.expr("min(h) AS gmin"))
        .select("id", F.expr("transform(ms, m -> coalesce(m, gmin)) AS sig"))
    )


def _band_projection(num_hashes: int, bands: int, hash_family: str) -> str:
    """minhash_lsh_pairs' banded key projection as one SQL string, so
    all bands parse JVM-side in one call.  md5 family: oracle-
    reproducible concat_ws key (DuckDB string_agg of the same longs);
    xxhash64 family: one long per band (faster shuffle key)."""
    rows_per_band = num_hashes // bands

    def band_key(b: int) -> str:
        cols = ", ".join(
            f"sig[{i}]" for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        if hash_family == "md5":
            return f"concat_ws(',', {cols})"
        return f"xxhash64({cols})"

    return ", ".join(
        f"struct({b} as band, {band_key(b)} as band_sig)" for b in range(bands)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash LSH, scored by the
    signature-estimated Jaccard (fraction of agreeing minhashes).

    ``hash_family='md5'`` swaps per-shingle xxhash64 for the 60-bit md5
    prefix and the xxhash64 band key for the comma-joined band values —
    every step then reproduces bit-for-bit in DuckDB SQL (the driver's
    oracle); xxhash64 stays the production default (faster, 64 bits).

    Shape (the one that holds at 100 TB — signatures materialized once,
    candidates meet on bare keys, scoring by signature lookup):
    1. signatures persisted (one row per doc; on a cluster: written once);
    2. band keys (id, band, band_sig) — 3 scalars per row, the 64-long
       signature does NOT ride through the bucket join;
    3. self-join on (band, band_sig) → candidate id pairs → distinct;
    4. two hash joins back to the signature table score the surviving
       pairs (candidate count ≪ corpus, so these joins are tiny).
    """
    sigs = minhash_signatures_oph(
        df, text_col, id_col, num_hashes, shingle_k, hash_family
    ).persist()

    # one JVM-side parse for the whole banded projection (py4j chattiness
    # of the per-band struct builders measured as real per-query latency)
    banded = sigs.select(
        "id",
        F.expr(
            f"explode(array({_band_projection(num_hashes, bands, hash_family)})) as bk"
        ),
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


def simhash_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document, returned packed as one long (`fp`):
    bit b is the ones-majority of token-hash bit b (sign of the ±1 vote).

    Shape: explode tokens → hash once → 22 packed sums in one groupBy
    (partial aggregation map-side).  Each 64-bit accumulator carries THREE
    21-bit bit-counters (bits b, b+21, b+42 selected with a single
    shift+mask), so the aggregate evaluates 22 two-op expressions per
    token instead of 64 branchy ones — and the much smaller expression
    tree also cuts per-query codegen compile time, which dominates at
    small scale.  Two slower alternatives were A/B-measured: 64
    sum(when(±1)) aggregates (bigger tree, branch per bit) and a
    shuffle-free 64-way F.aggregate fold (higher-order functions are
    CodegenFallback, interpreted per element).

    Caps: per-doc token count must stay below 2^21 (~2M) per the 21-bit
    counter fields — enormous docs should be chunked upstream.

    The wide expressions are built as SQL strings (ONE JVM-side `F.expr`
    parse each) rather than Column-method chains: the chained form's ~600
    py4j round trips cost ~0.9 s of per-query construction time (A/B at
    sf0.1: 1.49 s vs 0.60 s for this stage, identical results).
    """
    h, width = _hash64(F.col("t"), hash_family)
    bits = width if bits is None else bits
    assert bits <= width, f"{bits}-bit fp needs a ≥{bits}-bit hash"

    # duplicates kept: term-frequency-weighted voting (the standard SimHash
    # formulation) — and array_distinct on long token arrays is O(n²)
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

    def _count(b: int) -> str:  # ones-count of token-hash bit b
        if b == 63:
            return "s63"
        return f"(shiftrightunsigned(s{b % 21}, {21 * (b // 21)}) & {m21})"

    # majority vote per bit, OR-packed into one long (OR, not +: bit 63
    # via shiftleft is the sign bit and addition would overflow ANSI mode)
    fp_sql = " | ".join(
        f"shiftleft(cast(({_count(b)}*2 > n) as long), {b})" for b in range(bits)
    )
    return votes.select(F.col("id"), F.expr(fp_sql).alias("fp"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs whose SimHash differs in ≤ max_hamming bits.

    Candidates: pairs agreeing on at least one 16-bit band (pigeonhole —
    any pair within hamming 3 of 64 bits shares a band; wider radii trade
    recall).  The 4 bands are posexploded into (band_idx, band_val) rows
    and matched with ONE self-join keyed on both — same candidate set and
    shuffle volume as 4 separate band-joins unioned, but a single exchange
    pair and a single codegen stage (the 4-join union was A/B-measured
    slower end-to-end: 4× the stages and 4× the compile).  Hamming is one
    bit_count over the XOR of the packed fingerprints.  Fingerprints are
    persisted first so the self-join doesn't recompute the vote pipeline
    twice.
    """
    fp = simhash_fingerprints(df, text_col, id_col, hash_family=hash_family).persist()
    # 4 bands over the full fp width: 16 bits each for the 64-bit family,
    # 15 bits each for the 60-bit md5 family
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
        # hamming computed inside the join project, fingerprints dropped
        # immediately — the distinct below shuffles 3 scalar columns
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs with cosine ≥ τ.  Blocked pair join when a block column is
    given; otherwise full O(n²) (test scale only — the ANN path is
    similarity.lsh_topk).

    Optimization r14: the un-blocked form is a BroadcastNestedLoopJoin
    whose parallelism equals the STREAMED side's partition count — over a
    single-file parquet input the whole n²/2-pair fold ran as ONE task
    (51.8 s at sf0.1's 5k×5k pairs).  ``_spread`` fans the streamed side
    across cores, and the element casts are hoisted out of the per-pair
    lambda: ``v`` is cast to array<double> once per ROW, so the per-pair
    work is just the multiply-add fold (cast-then-multiply ≡
    multiply-of-casts, bit-identical).  51.8 s → 3.35 s at sf0.1 (noop,
    best of 3), same rows."""
    from steampipe_sqlite_spark.functions.vectors import dot, norm

    base = _spread(df).select(
        F.col(id_col).alias("id"),
        # F.transform, not an interpolated F.expr string: a vec_col name
        # needing backticks (dots, spaces) would break SQL parsing
        # (ADVICE r14); same per-ROW hoisted cast either way
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    ).withColumn("nrm", norm(F.col("v")))
    a, b = base.alias("a"), base.alias("b")
    cond = [F.col("a.id") < F.col("b.id")]
    if block_col:
        cond.append(F.col("a.blk") == F.col("b.blk"))
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cdc_chunk_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS technique, Muthitacharoen
    et al. 2001, applied to text): split each normalized document at
    positions where the k-gram hash ≡ 0 (mod ``divisor``), fingerprint
    each chunk, one row per (doc, chunk).

    Because breakpoints depend on CONTENT, not offsets, an insertion or
    deletion only perturbs the chunks it touches — shared boilerplate,
    quotations, and template text produce identical chunk fingerprints
    across documents even when the documents as wholes differ.  This is
    the partial-overlap detector that whole-document dedup (exact /
    minhash / simhash) structurally misses.

    Shape: explode k-gram positions and hash them map-side, DROP the
    document text before anything shuffles (the window and groupBy below
    carry three scalars per gram — carrying the norm string through the
    per-gram shuffle would be O(doc_len²) network bytes per document),
    one window pass per doc for the running breakpoint count, one groupBy
    per (doc, chunk) for spans, then one join back to the per-doc text
    that projects each chunk's substring immediately — linear end to end,
    no pair space.  The md5-60-bit gram hash reproduces bit-for-bit in
    DuckDB, so chunking is oracle-checkable.  Expected chunk length ≈
    ``divisor`` grams.
    """
    norm = normalize_sql(text_col)
    # persist the normalized corpus ONCE (optimization r15): norm_df is
    # referenced twice — the gram/breakpoint pipeline and the final
    # chunk-substring join — and unpersisted each reference re-ran both
    # regexp_replace passes over every document (the same defect class as
    # the ppjoin/exact-substrings caches; plans/r15/
    # dedup_cdc_chunks_{before,after}.txt).  One normalized string per
    # document, dropped by clearCache between bench runs.
    norm_df = df.selectExpr(f"{id_col} AS id", f"{norm} AS norm").persist()
    h60 = f"cast(conv(substring(md5(substring(norm, i, {k})), 1, 15), 16, 10) as bigint)"
    flags = norm_df.selectExpr(
        "id",
        "norm",
        "explode(sequence(1, greatest(length(norm) - " + str(k - 1) + ", 1))) AS i",
    ).selectExpr(  # norm is dropped HERE — pre-shuffle rows are 3 scalars
        "id",
        "i",
        f"cast({h60} % {int(divisor)} = 0 AS int) AS is_break",
    )
    numbered = flags.selectExpr(
        "id",
        "i",
        "sum(is_break) OVER (PARTITION BY id ORDER BY i"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS breaks_before",
    )
    spans = numbered.groupBy(
        "id", F.expr("coalesce(breaks_before, 0)").alias("chunk_idx")
    ).agg(
        F.expr("min(i)").alias("start"),
        F.expr(f"max(i) + {k - 1} - min(i) + 1").alias("chunk_len"),
    )
    return spans.join(norm_df, "id").selectExpr(
        "id",
        "chunk_idx",
        "start",
        "chunk_len",
        "md5(substring(norm, start, chunk_len)) AS chunk_fp",
    )


def duplicated_span_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
) -> DataFrame:
    """Exact-substring duplication statistics (the ExactSubstr dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", approximated with fixed-length grams instead of a suffix
    array): every character position covered by a k-gram that also occurs
    in ANOTHER document is "duplicated text"; overlapping covered
    intervals are merged into maximal spans and rolled up per document.

    Returns one row per document that contains at least one cross-document
    duplicated span: (id, n_dup_spans, dup_chars, total_chars) — all
    integer columns (the dup fraction is dup_chars/total_chars; emitting
    the integers keeps the oracle hash exact, see the HUGEINT/ROUND notes
    in plans/registry.py).

    Scale shape (suffix arrays don't distribute; this does):
      1. explode k-gram start positions and hash map-side, dropping the
         document text before anything shuffles (rows are 3 scalars);
      2. duplicated grams = groupBy(hash) HAVING count(distinct doc) ≥ 2 —
         one hash-partitioned aggregate, combiner-friendly;
      3. join positions against the duplicated-gram set on the hash —
         equi-join, no pair space (a hot boilerplate gram meets its
         bucket, never the whole corpus);
      4. interval-merge per document with one running-max window (classic
         gaps-and-islands: a gram starting at most one char after the
         furthest end seen so far extends the current span);
      5. per-(doc, span) min/max, then a per-doc rollup — both linear.
    The md5-60-bit gram hash reproduces bit-for-bit in DuckDB, so span
    boundaries are oracle-checkable end to end.
    """
    norm = normalize_sql(text_col)
    # The normalized corpus is referenced THREE times by this plan (both
    # gram pipelines below + the per-doc lengths join at the end), and the
    # regex normalize chain dominated the recompute (measured r15: 0.33 s
    # of the 0.44 s single gram pass at sf0.1; the un-persisted plan ran
    # the chain 3x + the gram explode+md5 2x, 4.6 s total).  Persist it
    # ONCE — the same corpus-sized, within-query reuse state the
    # ppjoin pipeline caches (guide §5); everything downstream derives
    # from the cache.  The exploded gram rows themselves are NOT cached:
    # they are ~k-fold larger than the text and recomputing them from the
    # cached norms costs ~0.1 s here.
    norm_df = _spread(df).selectExpr(f"{id_col} AS id", f"{norm} AS norm").persist()
    h60 = f"cast(conv(substring(md5(substring(norm, i, {k})), 1, 15), 16, 10) as bigint)"
    grams = norm_df.selectExpr(
        "id",
        "norm",
        f"explode(sequence(1, greatest(length(norm) - {k - 1}, 1))) AS i",
    ).selectExpr(
        "id",
        "i",
        f"{h60} AS h",
        # gram coverage clamps to the document tail (substring clamps, so
        # the last gram of a short doc is the doc itself, not k chars)
        f"least(i + {k - 1}, length(norm)) AS gend",
    )  # norm dropped pre-shuffle
    # "appears in >= 2 distinct docs" as min(id) != max(id): ONE
    # map-side-partial hash aggregate on h, where countDistinct(id)
    # planned a (h, id) dedup aggregate + a second h aggregate — an
    # entire 1.4M-row exchange deleted (guide §2.3 aggregate-before-
    # shuffle; r15).  Identical predicate: ids are non-null, so
    # >=2 distinct ids <=> min != max.  The groupBy+join form is kept
    # (vs. a min/max window over h) because AQE skew handling covers
    # joins but not windows — a boilerplate hot gram must not pin one
    # task (guide §2.5).
    dup_hashes = (
        grams.groupBy("h")
        .agg(F.min("id").alias("id_lo"), F.max("id").alias("id_hi"))
        .where("id_lo != id_hi")
        .select("h")
    )
    dup_pos = grams.join(dup_hashes, "h").select("id", "i", "gend")
    merged = dup_pos.selectExpr(
        "id",
        "i",
        "gend",
        "max(gend) OVER (PARTITION BY id ORDER BY i"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end",
    ).selectExpr(
        "id",
        "i",
        "gend",
        "cast(prev_end IS NULL OR i > prev_end + 1 AS int) AS is_new",
    ).selectExpr(
        "id",
        "i",
        "gend",
        "sum(is_new) OVER (PARTITION BY id ORDER BY i"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id",
    )
    spans = merged.groupBy("id", "span_id").agg(
        F.expr("min(i)").alias("st"),
        F.expr("max(gend)").alias("en"),
    )
    lengths = norm_df.selectExpr("id", "length(norm) AS total_chars")
    return (
        spans.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.expr("sum(en - st + 1)").cast("long").alias("dup_chars"),
        )
        .join(lengths, "id")
        .select("id", "n_dup_spans", "dup_chars", F.col("total_chars").cast("long"))
    )


def ppjoin_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold_pct: int = 70,
    shingle: int = 1,
) -> DataFrame:
    """EXACT word-set similarity join via prefix filtering (the PPJoin
    family, Xiao et al. 2008 — public construction): pairs with Jaccard
    >= threshold are found exactly, but candidates meet only on each
    document's PREFIX tokens — the |T| - ceil(t·|T|) + 1 globally-rarest
    tokens — because two sets with J >= t MUST share a prefix token
    (pigeonhole).  Versus the all-shared-tokens candidate join, stopwords
    never generate candidates: a token common to every document sorts to
    the very BACK of the frequency order and falls outside every prefix.

    All-integer verification: 100·|A∩B| >= t·(|A|+|B|-|A∩B|) avoids
    cross-engine float division; output (id_a, id_b, n_common, n_a, n_b).

    Scale shape: token-frequency ranking is one aggregate + one broadcast
    join; the candidate join is keyed on prefix tokens whose per-token
    doc list is SHORT by construction (rare tokens); verification joins
    only candidate pairs back to the token sets.

    Prefix-token skew (VERDICT r5 #5): an adversarial corpus CAN make one
    token both rare-RANKED and heavily shared — e.g. tiny documents,
    where the prefix is the whole set, over a small shared vocabulary.
    The candidate join then skews on that token's key.  Two bounds hold
    it: the in-join LENGTH filter prunes cross-size pairs before the
    verify stage (pinned by test_ppjoin_hot_token_candidates_bounded),
    and AQE's skew-join split handles the residual single-key hot
    partition at runtime.  Pairs that survive both are genuinely similar
    pairs — output, not waste.
    """
    t = int(threshold_pct)
    k = int(shingle)
    norm = normalize_sql(text_col)
    # split once into a named column FIRST: a `split(...)` referenced
    # inside a transform lambda is re-evaluated per element (no CSE into
    # lambdas — measured 14 s instead of ~2 s for the sf0.1 token scan);
    # _spread like every dedup family here — a single-file input would
    # otherwise serialize the parse+shingle scan onto one core
    words = _spread(df).selectExpr(f"{id_col} AS id", f"split({norm}, ' ') AS w")
    if k == 1:
        elems = "array_distinct(w)"
    else:
        # adjacent k-token shingles: far more discriminative set elements
        # than single words on homogeneous-vocabulary corpora
        elems = (
            f"array_distinct(transform(sequence(1, greatest(size(w) - {k - 1}, 1)),"
            f" i -> array_join(slice(w, i, {k}), ' ')))"
        )
    # The per-doc shingle ARRAY is materialized ONCE (persist,
    # the minhash-signatures pattern) and every later stage derives from
    # it: the exploded prefix-ranking stream, BOTH sides of the candidate
    # self-join, and the verification arrays.  The r13 shape recomputed
    # the normalize+split+shingle pipeline four times in one plan (self-
    # join a/b + two verification joins) — measured 1.65 s → 1.08 s at
    # sf0.1 (noop sink) from this change alone.  Carrying n = size(toks)
    # through the explode also deletes the
    # `count(*) OVER (PARTITION BY id)` window the r5 rewrite used for
    # set size — one fewer window aggregate on the id exchange.
    arrs = words.selectExpr("id", f"{elems} AS toks").selectExpr(
        "id", "toks", "CAST(size(toks) AS BIGINT) AS n"
    ).persist()
    # exploding a named column is safe only because it is PERSISTED: the
    # filter Spark infers for it reads the cache, not the shingle chain
    # (the generator rule at functions/text.posexplode_sized).
    toks = arrs.selectExpr("id", "n", "explode(toks) AS tok")
    # global rarity order: (df, tok) is a total order, so every document
    # ranks its tokens identically — the prefix-filter guarantee needs a
    # CONSISTENT order, not any particular one.  A stopword makes a hot
    # window partition here, but the same key was the join/shuffle hot
    # key in the aggregate shape too — no new skew exposure.
    ranked = (
        toks.selectExpr(
            "id", "tok", "n", "count(*) OVER (PARTITION BY tok) AS df"
        )
        .selectExpr(
            "id", "tok", "n",
            "row_number() OVER (PARTITION BY id ORDER BY df, tok) AS r",
        )
        # prefix length = n - ceil(t/100 * n) + 1, in pure integers:
        # ceil(a/b) = (a + b - 1) div b
        .where(f"r <= n - (({t} * n + 99) div 100) + 1")
        .select("id", "tok", "n")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            # LENGTH filter (standard PPJoin companion): J >= t forces
            # t·max(|A|,|B|) <= min(|A|,|B|) — prunes cross-size pairs
            # before they ever reach verification
            & (F.lit(100) * F.least("a.n", "b.n") >= F.lit(t) * F.greatest("a.n", "b.n")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification: per-pair array_intersect over the two docs' token
    # ARRAYS (two map joins against the persisted arrs, one row per
    # side) — NEVER a candidate×token explode, which was measured 20x
    # slower at sf0.1 (each candidate multiplied by every token of both
    # docs before the count)
    common = (
        cand.join(arrs.selectExpr("id AS _ida", "toks AS toks_a", "n AS n_a"),
                  F.col("id_a") == F.col("_ida"))
        .join(arrs.selectExpr("id AS _idb", "toks AS toks_b", "n AS n_b"),
              F.col("id_b") == F.col("_idb"))
        .selectExpr(
            "id_a", "id_b",
            "CAST(size(array_intersect(toks_a, toks_b)) AS BIGINT) AS n_common",
            "n_a", "n_b",
        )
    )
    return common.where(
        f"100 * n_common >= {t} * (n_a + n_b - n_common)"
    ).select("id_a", "id_b", "n_common", "n_a", "n_b")
