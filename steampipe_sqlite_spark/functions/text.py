"""Text-analysis Column builders for the documents pipeline.

Everything here is a composition of pyspark.sql.functions built-ins
(JVM-side, codegen'd, vectorized) — the scale path for 100 TB of text.
Used by operators/dedup.py and the plans/llm.py corpus; each has a DuckDB
oracle twin spelled in plans/llm.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword lists for the n-gram language-ID heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"],
    "fr": ["le", "la", "les", "et", "est", "dans", "une", "que", "pour", "des"],
    "es": ["el", "los", "las", "de", "que", "es", "una", "por", "con", "para"],
}
CJK_PATTERN = "[\\u4e00-\\u9fff]"


# The normalizer's two Java regexes, the one definition both spellings
# below use: every character outside [a-z0-9], the CJK block and the space
# becomes a space; then whitespace runs collapse to one space.
_NORM_PATTERNS = ("[^a-z0-9\\u4e00-\\u9fff ]", "\\s+")


def normalize_text(c: Column) -> Column:
    """Lowercase, strip non-alphanumerics, collapse whitespace."""
    drop, runs = _NORM_PATTERNS
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), drop, " "), runs, " "))


def normalize_sql(c: str) -> str:
    """SQL text of :func:`normalize_text` over the SQL expression ``c``:
    the same expression tree, regex literals included, for selectExpr and
    pure-SQL entries.  Format it once per query; :func:`posexplode_sized`
    names the one way a column bound to it still re-runs the chain."""
    drop, runs = (p.replace("\\", "\\\\") for p in _NORM_PATTERNS)
    return f"trim(regexp_replace(regexp_replace(lower({c}), '{drop}', ' '), '{runs}', ' '))"


def tokens(c: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(c), " ")


def token_count(c: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column) -> Column:
    """BPE-flavored token estimate: runs of letters, runs of digits, and
    each other non-space symbol count as one token each."""
    return F.regexp_count(c, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))


def _let(bound: Column, body) -> Column:
    """Evaluate ``body(var)`` with ``var`` bound ONCE to ``bound``.

    Spark performs no common-subexpression elimination into higher-order-
    function lambdas: an outer expression referenced inside a ``transform``
    lambda is re-evaluated per element.  For a per-position slide over a
    normalize/split chain that turns O(len) work into O(len²) per document
    — measured 90 s → 0.45 s for the sf0.1 char-shingle scan and 17 s →
    0.6 s for the word-ngram scan (optimization r14).  Binding the chain
    as the single element of an array and referencing the lambda VARIABLE
    in the body makes it a per-row, not per-element, evaluation.  Same
    expression tree otherwise — results are identical, including nulls
    (the primitives null-propagate identically through the binding).
    """
    return F.transform(F.array(bound), body).getItem(0)


def posexplode_sized(arr: Column, value: str) -> Column:
    """Generator: one ``(n, pos, <value>)`` row per element of ``arr``,
    with ``n = size(arr)`` and ``pos`` the 0-based position, ``arr``
    evaluated ONCE per input row.

    Use it (or explode the expression itself) instead of exploding a
    column that a projection below bound to an unmaterialized chain.
    Spark's InferFiltersFromGenerate adds ``size(x) > 0 AND isnotnull(x)``
    only when a generator's input is an attribute, and filter pushdown
    then substitutes the alias below that projection: the whole chain runs
    3x per row, twice in the Filter and once in the Project.  A generator
    over an expression infers nothing.  The size rides in each element so
    that a caller needing it does not reference the chain a second time.
    """
    return F.inline(
        _let(
            arr,
            lambda a: F.transform(
                a, lambda x, i: F.struct(F.size(a).alias("n"), i.alias("pos"), x.alias(value))
            ),
        )
    )


def word_ngrams(c: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-grams in order (array<string>), deduplicated unless
    ``distinct`` is False."""
    def grams(toks: Column) -> Column:
        count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        g = F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.array_distinct(g) if distinct else g

    return _let(tokens(c), grams)


def stopword_hits(c: Column, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(c), lambda t: F.array_contains(words, t)))


def lang_id(c: Column) -> Column:
    """N-gram/stopword language guess over {en,de,fr,es,zh}.

    CJK characters dominate; otherwise the language with the most stopword
    hits wins, ties broken in fixed order en>de>fr>es (mirrored exactly in
    the DuckDB oracle in plans/llm.py).

    Construction (optimization r15): the naive spelling — four
    ``stopword_hits(c, lang)`` referenced again in every CASE branch —
    re-evaluates the whole normalize/split/filter chain at every
    reference.  Catalyst's subexpression elimination skips expressions
    containing lambda functions AND conditionally-evaluated CASE branches,
    so the tokens chain ran up to ~19× per row (measured 4.0 s best-of-3
    at sf0.1 for a one-exchange scan).  The two ``_let`` bindings below
    evaluate the tokens chain ONCE and the four hit-counts ONCE per row;
    the CASE then compares four bound ints (0.35 s, ~11×).  Same leaf
    expressions, so null/empty semantics are unchanged (pinned by
    tests/test_hof_let_binding.py::test_lang_id_binding_matches_naive_form).
    """
    cjk = F.regexp_count(c, F.lit(CJK_PATTERN))

    def score(toks: Column) -> Column:
        def hits(lang: str) -> Column:
            words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
            return F.size(F.filter(toks, lambda t: F.array_contains(words, t)))

        return F.array(*[hits(lang) for lang in ("en", "de", "fr", "es")])

    def pick(s: Column) -> Column:
        en, de, fr, es = (s.getItem(i) for i in range(4))
        best = F.greatest(en, de, fr, es)
        return (
            F.when(cjk > F.lit(0), F.lit("zh"))
            .when(best == F.lit(0), F.lit("unknown"))
            .when(en == best, F.lit("en"))
            .when(de == best, F.lit("de"))
            .when(fr == best, F.lit("fr"))
            .otherwise(F.lit("es"))
        )

    return _let(tokens(c), lambda toks: _let(score(toks), pick))


def quality_score(c: Column) -> Column:
    """Heuristic document quality in [0,1]: length band, alphabetic ratio,
    mean word length band. Deterministic and oracle-expressible."""
    n_chars = F.length(c)
    alpha = F.regexp_count(c, F.lit("[A-Za-z]"))
    toks = token_count(c)
    alpha_ratio = alpha.cast("double") / F.greatest(n_chars, F.lit(1))
    len_score = F.when((n_chars >= 100) & (n_chars <= 5000), F.lit(1.0)).otherwise(F.lit(0.5))
    mean_word = n_chars.cast("double") / F.greatest(toks, F.lit(1))
    word_score = F.when((mean_word >= 3.0) & (mean_word <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_score + word_score + alpha_ratio) / F.lit(3.0), 4)


def fingerprint(c: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(c))


def chunk_sliding(
    df, text_col: str, id_col: str, window: int = 32, stride: int = 24
):
    """Sliding-window token chunks: each document becomes
    ``1 + (max(n_tokens - window, 0) + stride - 1) div stride`` overlapping
    chunks of up to ``window`` tokens, starting every ``stride`` tokens —
    the standard pretraining/RAG chunker.

    Entirely JVM expressions; output cardinality ~n_tokens/stride per
    document.  The chunk-count arithmetic keeps every intermediate
    non-negative so integer division is floor==truncate on both engines
    (Spark ``div`` truncates toward zero, DuckDB ``//`` floors — they
    agree only above zero).
    """
    w, st = int(window), int(stride)
    # Linear shape: explode TOKENS (with position), route each token to the
    # <= ceil(window/stride) chunks that contain it, group back per chunk.
    # The naive alternative — explode chunk indices and slice the token
    # array per chunk row — duplicates the WHOLE token array into every
    # chunk row (O(n²/stride) per document; 416M array elements for a
    # 100k-token document).  Here total exploded rows are n·window/stride
    # (a small constant factor) and the only shuffle is the per-chunk
    # regroup.
    toks = df.select(
        F.col(id_col).alias("doc_id"), posexplode_sized(tokens(F.col(text_col)), "token")
    ).selectExpr(
        "doc_id",
        f"(greatest(n - {w}, 0) + {st - 1}) div {st} AS last_chunk",
        "pos",
        "token",
    )
    routed = toks.selectExpr(
        "doc_id",
        "pos",
        "token",
        f"explode(sequence((greatest(pos - {w - 1}, 0) + {st - 1}) div {st},"
        f" least(pos div {st}, last_chunk))) AS chunk_idx",
    )
    return routed.groupBy("doc_id", "chunk_idx").agg(
        F.expr("count(1)").cast("int").alias("n_tokens"),
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(pos, token))),"
            " s -> s.token), ' ')"
        ).alias("chunk_text"),
    )


def nfc_normalize_udf():
    """Arrow-batched Unicode NFC normalizer (pandas UDF).

    NFC normalization before hashing is a standard crawl-pipeline step:
    composed ``é`` (U+00E9) and decomposed ``e``+U+0301 hash differently
    but are the same text, so every downstream exact/near dedup key
    under-collapses without it.  Spark has no built-in normalizer, so
    this is the documented Python path — Arrow batches, ``str.translate``
    -free, one ``unicodedata.normalize`` call per string.

    100 TB shape: do NOT run this over the whole corpus — ASCII strings
    are NFC by definition, so gate JVM-side with
    ``rlike '^[\\x00-\\x7F]*$'`` and route ONLY non-ASCII rows through
    the UDF (see nfc_normalized_column in plans/llm.py's
    text_nfc_dedup entry: a two-branch union keeps the Python stage off
    the typically-ASCII-dominated bulk).  Oracle twin: DuckDB's native
    ``nfc_normalize`` (same canonical composition tables).
    """
    # module-level pandas import: `from __future__ import annotations`
    # stringifies the hints and pandas_udf resolves them from MODULE
    # globals, so a function-local `import pandas as pd` leaves
    # 'pd.Series' unresolvable (UNSUPPORTED_SIGNATURE)
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return _nfc


def normalize_text_arrow_udf():
    """Arrow-batched, RE2-backed twin of :func:`normalize_text` for
    data-sized hot paths (pandas UDF over pyarrow.compute).

    Why it exists (r14): Spark's ``regexp_replace`` runs java.util.regex,
    which falls off a fast path the moment the character class holds more
    than one range — measured ~3 us/row on 30-char strings (15 s for a
    5M-row normalize; the self-join in join_fuzzy_blocked_prefix paid it
    TWICE).  pyarrow's ``replace_substring_regex`` is RE2 — the same
    engine DuckDB uses — and runs the identical normalization ~5-8x
    faster including the Arrow transfer, with the engines' regex
    semantics now matched rather than approximated (RE2 ``\\s`` on both
    sides).

    Semantics == normalize_text == the oracle's _DD_NORM: lower, replace
    ``[^a-z0-9 CJK]`` with space, collapse whitespace, trim.  The
    corpus-facing proof is the oracle hash-match of every query that
    adopts it (sf0.01 + sf0.1 vanilla), not an a-priori equivalence
    argument.

    100 TB shape: one map-side Arrow exchange per partition, no shuffle;
    prefer this over the SQL form whenever the normalize feeds a
    data-sized operator (joins, dedup keys) rather than a final
    projection.
    """
    global pd
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        # typed: a batch of only nulls would otherwise infer the null type,
        # which utf8_lower has no kernel for
        arr = pa.Array.from_pandas(s, type=pa.string())
        arr = pc.utf8_lower(arr)
        arr = pc.replace_substring_regex(
            arr, pattern="[^a-z0-9\\x{4e00}-\\x{9fff} ]", replacement=" "
        )
        arr = pc.replace_substring_regex(arr, pattern="\\s+", replacement=" ")
        arr = pc.utf8_trim(arr, characters=" ")
        return arr.to_pandas()

    return _norm
