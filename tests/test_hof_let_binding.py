"""Pin the r14 HOF let-binding optimizations (functions/text.py:_let).

Spark re-evaluates outer expressions referenced inside higher-order-
function lambdas once PER ELEMENT (no CSE into lambdas) — O(len²) per
document for a normalize/split chain under a per-position slide.  The
fix binds the chain once per row via transform(array(x), f)[0].  These
tests pin (a) value equivalence of every rewritten builder against a
plain-Python reference, including null/empty/duplicate-token edge rows,
and (b) the gram-join form of ngram_jaccard_pairs against the all-pairs
reference it replaced.
"""

import math

import pytest
from pyspark.sql import functions as F

from steampipe_sqlite_spark.functions.text import word_ngrams
from steampipe_sqlite_spark.functions.vectors import normalize, quantize_int8
from steampipe_sqlite_spark.operators.dedup import ngram_jaccard_pairs

TEXTS = [
    "The quick brown fox jumps over the lazy dog",
    "the the the the repeated token stream",
    "one",
    "",
    None,
    "Mixed CASE with   extra   spaces and punct!!! marks...",
    "ab",  # shorter than the shingle width
]


def _norm(s):
    import re

    s = (s or "").lower()
    s = re.sub(r"[^a-z0-9一-鿿 ]", " ", s)
    s = re.sub(r"\s+", " ", s).strip()
    return s


def _ref_ngrams(s, n):
    if s is None:
        # NULL text: split(NULL)=NULL, size(NULL)=NULL → greatest(…,1)=1,
        # slice(NULL)=NULL, concat_ws skips nulls → [""] — the identical
        # semantics of the pre-r14 unbound form, pinned deliberately
        return [""]
    toks = _norm(s).split(" ")
    count = max(len(toks) - (n - 1), 1)
    out, seen = [], set()
    for i in range(count):
        g = " ".join(toks[i : i + n])
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)], "id int, t string")


def test_word_ngrams_matches_python_reference(text_df):
    rows = text_df.select("id", word_ngrams(F.col("t"), 3).alias("g")).collect()
    for r in rows:
        assert r.g == _ref_ngrams(TEXTS[r.id], 3), TEXTS[r.id]


VECS = [
    [1.0, -2.0, 3.0],
    [0.0, 0.0, 0.0],
    [127.5],
    [-0.001, 0.002, -0.0005, 0.0],
]


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(VECS)], "id int, v array<float>"
    )


def test_quantize_int8_matches_python_reference(vec_df):
    rows = vec_df.select("id", quantize_int8(F.col("v")).alias("q")).collect()
    for r in rows:
        v = [float(F32(x)) for x in VECS[r.id]]
        mx = max(max(abs(x) for x in v), 1e-30)
        scale = 127.0 / mx
        want = [round_half_even(x * scale) for x in v]
        assert r.q == want, (VECS[r.id], r.q, want)


def F32(x):
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]


def round_half_even(x):
    # Spark's ROUND on double is HALF_UP for positives/negatives away
    # from zero; replicate via decimal
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal("1"), rounding=ROUND_HALF_UP))


def test_normalize_is_unit_length(vec_df):
    rows = vec_df.filter(F.col("id") != 1).select(
        "id", normalize(F.col("v")).alias("u")
    ).collect()
    for r in rows:
        assert math.isclose(sum(x * x for x in r.u), 1.0, rel_tol=1e-9)


def test_gram_join_equals_pair_join_reference(spark):
    """The r14 inverted-index form must emit exactly the pairs and
    jaccard values of the all-pairs block join it replaced (threshold>0)."""
    from steampipe_sqlite_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["lang", "source"], n=3, threshold=0.3
        ).collect()
    }
    # reference: the pre-r14 shape (kept in the operator for threshold<=0,
    # filtered here to the same threshold)
    ref = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["lang", "source"], n=3, threshold=0
        ).filter(F.col("jaccard") >= 0.3).collect()
    }
    assert got == ref and len(got) > 0


def test_gram_join_keeps_cross_block_ids_apart(spark):
    """ADVICE r14: id_col is only promised unique WITHIN a block.  The
    same id pair sharing grams in two different blocks must produce two
    per-block pairs (like the pair-join reference), not one merged count
    — the block columns ride the intersection groupBy."""
    rows = [
        # block X: ids 1,2 share "a b c d" exactly
        ("X", 1, "a b c d"),
        ("X", 2, "a b c d"),
        # block Y: the SAME ids, half-overlapping texts
        ("Y", 1, "a b c d e f"),
        ("Y", 2, "a b c x y z"),
    ]
    docs = spark.createDataFrame(rows, ["blk", "doc_id", "text"])
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["blk"], n=2, threshold=0.01
        ).collect()
    )
    ref = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", ["blk"], n=2, threshold=0
        ).filter(F.col("jaccard") >= 0.01).collect()
    )
    assert got == ref
    # two distinct per-block pairs for (1, 2) — a merged count would
    # collapse them into one row with a wrong jaccard
    assert len(got) == 2 and got[0][:2] == (1, 2) and got[1][:2] == (1, 2)
    assert got[0][2] != got[1][2]


def test_lang_id_binding_matches_naive_form(spark):
    """r15: lang_id binds the tokens chain and the four stopword counts
    once per row (_let), where the naive CASE re-evaluated them per
    reference (~19x).  Same leaf expressions — outputs must match the
    naive spelling exactly, including null/empty/CJK/tie/unknown rows."""
    from steampipe_sqlite_spark.functions.text import (
        CJK_PATTERN,
        STOPWORDS,
        lang_id,
        stopword_hits,
    )

    rows = [
        (0, "the cat sat on the mat and it is happy"),        # en
        (1, "der hund und die katze ist nicht zu haben"),     # de
        (2, "le chat est dans la maison pour les amis"),      # fr
        (3, "el perro es una mascota por las noches"),        # es
        (4, "中文文本 the der"),              # CJK dominates
        (5, "zzz qqq www nothing matches here"),              # unknown
        (6, "the der le el que es is ist"),                   # tie-ish mix
        (7, ""),                                              # empty
        (8, None),                                            # null
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def naive(c):
        cjk = F.regexp_count(c, F.lit(CJK_PATTERN))
        en, de, fr, es = (
            stopword_hits(c, lang) for lang in ("en", "de", "fr", "es")
        )
        best = F.greatest(en, de, fr, es)
        return (
            F.when(cjk > F.lit(0), F.lit("zh"))
            .when(best == F.lit(0), F.lit("unknown"))
            .when(en == best, F.lit("en"))
            .when(de == best, F.lit("de"))
            .when(fr == best, F.lit("fr"))
            .otherwise(F.lit("es"))
        )

    got = {
        r.doc_id: r.p
        for r in df.select("doc_id", lang_id(F.col("text")).alias("p")).collect()
    }
    ref = {
        r.doc_id: r.p
        for r in df.select("doc_id", naive(F.col("text")).alias("p")).collect()
    }
    assert got == ref
    # spot-pin the semantics so both forms going wrong together is loud
    assert got[0] == "en" and got[4] == "zh" and got[5] == "unknown"
