"""Property-based cross-checks of the round-4 operators against plain-Python
references.  Each Spark example costs real jobs, so example counts stay
small; the generators aim at the edge cases (empty docs, single tokens,
all-gap hours, tie-heavy counts) that fixture data can't be trusted to hit.
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

TOKEN = st.text(alphabet="abc01", min_size=1, max_size=3)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(TOKEN, min_size=0, max_size=40), min_size=1, max_size=8
    ),
    window=st.integers(min_value=2, max_value=10),
    stride_frac=st.integers(min_value=1, max_value=10),
)
def test_chunk_sliding_matches_python_reference(spark, docs, window, stride_frac):
    from steampipe_sqlite_spark.functions.text import chunk_sliding

    stride = max(1, (window * stride_frac) // 10)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text)
        for r in chunk_sliding(df, "text", "doc_id", window=window, stride=stride).collect()
    }

    expected = {}
    for i, toks in enumerate(docs):
        # normalize_text of space-joined [abc01] tokens is the identity;
        # an empty doc normalizes to "" whose split yields one "" token
        toks = toks or [""]
        n = len(toks)
        n_chunks = 1 + (max(n - window, 0) + stride - 1) // stride
        for c in range(n_chunks):
            piece = toks[c * stride : c * stride + window]
            expected[(i, c)] = (len(piece), " ".join(piece))
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=72),  # hour offset
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=-500, max_value=500),  # value in cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_gapfill_locf_matches_python_reference(spark, events):
    from steampipe_sqlite_spark.operators.temporal import gapfill_locf

    df = spark.createDataFrame(
        [(h, k, cents / 100.0) for h, k, cents in events],
        "h int, k string, value double",
    ).selectExpr(
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,h,0,0) AS ts",
        "k AS event_type",
        "value",
    )
    got = {
        (r.bucket, r.k): (r.v_filled, r.is_gap)
        for r in gapfill_locf(df, "ts", "event_type", "value").collect()
    }

    import datetime

    base = datetime.datetime(2024, 1, 1)
    lo = min(h for h, _, _ in events)
    hi = max(h for h, _, _ in events)
    keys = sorted({k for _, k, _ in events})
    obs: dict = {}
    for h, k, cents in events:
        obs[(h, k)] = obs.get((h, k), 0) + cents
    expected = {}
    for k in keys:
        carry = None
        for h in range(lo, hi + 1):
            bucket = base + datetime.timedelta(hours=h)
            if (h, k) in obs:
                carry = obs[(h, k)] / 100.0
                expected[(bucket, k)] = (carry, 0)
            else:
                expected[(bucket, k)] = (carry, 1)
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    terms=st.lists(TOKEN, min_size=1, max_size=300),
    k=st.integers(min_value=1, max_value=8),
)
def test_frequent_terms_exact_when_capacity_covers_distinct(spark, terms, k):
    """With capacity >= distinct count Misra-Gries never truncates, so the
    result must equal the exact top-k under (count desc, term asc)."""
    from steampipe_sqlite_spark.functions.sketches import frequent_terms

    df = spark.createDataFrame([(t,) for t in terms], "term string").repartition(3)
    cap = len(set(terms)) + 1
    got = [
        (r.term, r.cnt)
        for r in frequent_terms(df, "term", k=k, capacity=cap).orderBy("rank").collect()
    ]
    counts = Counter(terms)
    expected = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(TOKEN, min_size=0, max_size=30), min_size=2, max_size=6
    ),
    k=st.integers(min_value=2, max_value=8),
)
def test_duplicated_span_stats_matches_python_reference(spark, docs, k):
    """Exact-substring span dedup vs a brute-force reference: per doc,
    mark every char covered by a k-gram occurring in another doc, merge
    adjacent coverage, compare span count / covered chars / length."""
    from steampipe_sqlite_spark.operators.dedup import duplicated_span_stats

    texts = [" ".join(toks) for toks in docs]  # already-normalized alphabet
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.id: (r.n_dup_spans, r.dup_chars, r.total_chars)
        for r in duplicated_span_stats(df, "text", "doc_id", k=k).collect()
    }

    # reference: normalization of [abc01 ] text is identity except empty
    # -> "" (len 0 -> sequence(1, max(len-k+1,1)) still yields pos 1)
    norms = [t for t in texts]
    def grams(t):
        n = len(t)
        if n == 0:
            return [(1, t[0:k])]  # engine emits pos 1 with empty gram
        return [(i, t[i - 1 : i - 1 + k]) for i in range(1, max(n - k + 1, 1) + 1)]

    owners = {}
    for i, t in enumerate(norms):
        for _, g in grams(t):
            owners.setdefault(g, set()).add(i)
    expected = {}
    for i, t in enumerate(norms):
        # duplicated gram starts with their clamped coverage end — the
        # same (pos, gend) pairs the operator's island merge consumes
        # (an empty doc yields a degenerate pos-1 / gend-0 "span" of 0
        # chars when its empty gram is shared, by design)
        dup = [
            (pos, min(pos + k - 1, len(t)))
            for pos, g in grams(t)
            if len(owners[g]) >= 2
        ]
        if not dup:
            continue
        spans = []
        for pos, gend in sorted(dup):
            if spans and pos <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], gend))
            else:
                spans.append((pos, gend))
        expected[i] = (
            len(spans),
            sum(en - st + 1 for st, en in spans),
            len(t),
        )
    assert {i: v for i, v in got.items()} == expected


# --- Round-5 operators ------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(TOKEN, min_size=1, max_size=25), min_size=2, max_size=8
    ),
)
def test_containment_pairs_match_python_reference(spark, docs):
    """dedup_containment_ngram's semantics (distinct 5-gram shingles,
    shared-gram gate 2..100 docs, 100*n_common >= 80*n_a) recomputed in
    plain Python over random token documents."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("documents")
    from steampipe_sqlite_spark.plans.registry import collect

    qfns, _ = collect()
    sql = qfns["dedup_containment_ngram"].__doc__
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_a) for r in spark.sql(sql).collect()
    }
    spark.catalog.dropTempView("documents")

    # python reference (normalization of [abc01 ] text is the identity)
    grams = {}
    for i, toks in enumerate(docs):
        n = len(toks)
        upper = max(n - 4, 1)
        grams[i] = {" ".join(toks[j : j + 5]) for j in range(upper)}
    from collections import Counter

    gram_docs = Counter(g for gs in grams.values() for g in gs)
    shared = {g for g, c in gram_docs.items() if 2 <= c <= 100}
    expected = {}
    for a in grams:
        for b in grams:
            if a == b:
                continue
            n_common = len(grams[a] & grams[b] & shared)
            n_a = len(grams[a])
            if n_common and 100 * n_common >= 80 * n_a:
                expected[(a, b)] = (n_common, n_a)
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    chars=st.lists(st.integers(min_value=0, max_value=2500), min_size=2, max_size=40),
)
def test_drift_tvd_bins_match_python_reference(spark, chars):
    """dataset_drift_tvd's fixed-width binning and integer-micro
    proportions recomputed in plain Python (doc_id parity split)."""
    rows = [(i, "x", "en", "s", n) for i, n in enumerate(chars)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.createOrReplaceTempView("documents")
    from steampipe_sqlite_spark.plans.registry import collect

    qfns, _ = collect()
    sql = qfns["dataset_drift_tvd"].__doc__
    got = {r.bin: (r.n_a, r.n_b, r.pa_micro, r.pb_micro, r.delta_abs_micro) for r in spark.sql(sql).collect()}
    spark.catalog.dropTempView("documents")

    from collections import Counter

    ca, cb = Counter(), Counter()
    for i, n in enumerate(chars):
        b = min(n // 200, 9)
        (ca if i % 2 == 0 else cb)[b] += 1
    ta, tb = sum(ca.values()), sum(cb.values())
    if ta == 0 or tb == 0:
        return  # division by zero rows never reach the fixture shape
    expected = {}
    for b in sorted(set(ca) | set(cb)):
        na, nb = ca[b], cb[b]
        # CAST(ROUND(...) AS BIGINT): round-half-away on the double quotient
        import math
        pa = int(math.floor(1e6 * na / ta + 0.5))
        pb = int(math.floor(1e6 * nb / tb + 0.5))
        expected[b] = (na, nb, pa, pb, abs(pa - pb))
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(TOKEN, min_size=1, max_size=25), min_size=2, max_size=10
    ),
    threshold=st.sampled_from([50, 70, 80, 90]),
)
def test_ppjoin_equals_bruteforce_jaccard(spark, docs, threshold):
    """PPJoin's EXACTNESS property on random corpora: the prefix+length
    filtered join must return precisely the pairs whose word-set Jaccard
    meets the integer threshold — computed here by brute-force Python
    over every pair (the generator aims at the edges the fixture can't
    hit: tiny docs where the prefix is the whole set, identical docs,
    stopword-only docs, single-token docs)."""
    from steampipe_sqlite_spark.operators.dedup import ppjoin_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_a, r.n_b)
        for r in ppjoin_pairs(df, "text", "doc_id", threshold_pct=threshold).collect()
    }

    sets = [set(toks) for toks in docs]  # [abc01] tokens normalize to themselves
    expected = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if 100 * inter >= threshold * union:
                expected[(a, b)] = (inter, len(sets[a]), len(sets[b]))
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=1, max_size=15
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.floats(0, 9)),
        min_size=0, max_size=15,
    ),
    tol=st.sampled_from([None, 5, 20]),
)
def test_asof_join_matches_python_reference(spark, lefts, rights, tol):
    """asof_join (backward, inclusive, optional tolerance) vs a brute
    Python reference — generators hit the edges the events fixture
    can't: equal timestamps left==right (inclusive match), empty right
    side, all matches out of tolerance."""
    from datetime import datetime, timedelta

    from steampipe_sqlite_spark.operators.temporal import asof_join

    base = datetime(2024, 1, 1)
    lrows = [
        (i, k, base + timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)
    ]
    # dedupe right rows on (key, ts): equal-timestamp right rows with
    # different payloads are tie-nondeterministic in BOTH the window
    # implementation and the reference — not a property worth pinning
    rdedup = {(k, s): float(v) for k, s, v in rights}
    rrows = [
        (k, base + timedelta(seconds=s), v) for (k, s), v in rdedup.items()
    ]
    ldf = spark.createDataFrame(lrows, "event_id long, k long, ts timestamp")
    rdf = spark.createDataFrame(rrows, "k long, ts timestamp, val double")
    got = {
        r.event_id: (r.val, r.matched_ts)
        for r in asof_join(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            payload_cols=["val"],
            tolerance=f"{tol} SECONDS" if tol is not None else None,
        ).collect()
    }

    expected = {}
    for i, (k, s) in enumerate(lefts):
        lts = base + timedelta(seconds=s)
        cands = [
            (ts, v) for (rk, ts, v) in rrows if rk == k and ts <= lts
        ]
        # most recent; ties on ts resolved by last-wins either way (same value set)
        best = max(cands, key=lambda c: c[0], default=None)
        if best is not None and tol is not None and best[0] < lts - timedelta(seconds=tol):
            best = None
        expected[i] = (best[1], best[0]) if best else (None, None)
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.booleans(),  # True = left (purchase-like) row
            st.integers(0, 3),  # key
            st.integers(0, 120),  # ts offset seconds
            st.integers(0, 99),  # payload
        ),
        min_size=1,
        max_size=30,
    ),
    tol=st.sampled_from([None, 0, 30, 200]),
)
def test_asof_same_source_matches_general_form(spark, rows, tol):
    """asof_join_same_source (single CASE-tagged scan) must return exactly
    what the general two-input asof_join returns when both inputs are
    predicates over one tagged source — the fast path is an I/O
    optimization, never a semantics change.  Generators cover equal
    timestamps across sides (inclusive match), keys with no right rows,
    and left-only / right-only sources."""
    from datetime import datetime, timedelta

    from steampipe_sqlite_spark.operators.temporal import (
        asof_join,
        asof_join_same_source,
    )

    base = datetime(2024, 1, 1)
    # dedupe (side, key, ts): equal-ts same-side rows with different
    # payloads are tie-nondeterministic in both forms (same reason as the
    # general-form property test above)
    uniq = {(s, k, t): float(v) for s, k, t, v in rows}
    data = [
        (i, "L" if s else "R", k, base + timedelta(seconds=t), v)
        for i, ((s, k, t), v) in enumerate(sorted(uniq.items()))
    ]
    src = spark.createDataFrame(
        data, "event_id long, side string, k long, ts timestamp, val double"
    )
    lefts = src.where("side = 'L'").select("event_id", "k", "ts")
    rights = src.where("side = 'R'").select("k", "ts", "val")
    tol_str = f"{tol} SECONDS" if tol is not None else None
    general = {
        r.event_id: (r.val, r.matched_ts)
        for r in asof_join(
            lefts, rights, key="k", left_ts="ts", right_ts="ts",
            payload_cols=["val"], tolerance=tol_str,
        ).collect()
    }
    fast = {
        r.event_id: (r.val, r.matched_ts)
        for r in asof_join_same_source(
            src,
            key="k",
            ts="ts",
            left_pred="side = 'L'",
            right_pred="side = 'R'",
            left_cols=["event_id"],
            payload_cols=["val"],
            tolerance=tol_str,
        ).collect()
    }
    assert fast == general


def test_asof_same_source_validate_rejects_overlapping_predicates(spark):
    """validate=True must raise when a row matches BOTH predicates — such
    a row would silently join to itself at zero distance (ADVICE r8).
    Disjoint predicates with validate=True still run clean."""
    import pytest

    from steampipe_sqlite_spark.operators.temporal import asof_join_same_source

    src = spark.createDataFrame(
        [(1, "L", 5, "2024-01-01 00:00:00", 1.0),
         (2, "R", 5, "2024-01-01 00:00:01", 2.0)],
        "event_id long, side string, k long, ts string, val double",
    ).selectExpr("event_id", "side", "k", "CAST(ts AS timestamp) AS ts", "val")

    with pytest.raises(ValueError, match="not .*disjoint|disjoint"):
        asof_join_same_source(
            src, key="k", ts="ts",
            left_pred="side = 'L'",
            right_pred="val >= 1.0",  # overlaps: row 1 matches both
            left_cols=["event_id"], payload_cols=["val"],
            validate=True,
        )
    # disjoint predicates pass the guard and still produce the join
    out = asof_join_same_source(
        src, key="k", ts="ts",
        left_pred="side = 'L'", right_pred="side = 'R'",
        left_cols=["event_id"], payload_cols=["val"],
        validate=True,
    ).collect()
    assert len(out) == 1 and out[0].val is None  # right row is later


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=1, max_size=25
    ),
    width=st.sampled_from([1, 10, 60]),
)
def test_interval_union_matches_python_reference(spark, rows, width):
    """Interval-union coverage (the ts_interval_union shape) vs a brute
    Python merge — touching/overlapping/duplicate intervals and
    single-event users."""
    from pyspark.sql import functions as F

    w_us = width * 1_000_000
    data = [(k, i, s * 1_000_000, s * 1_000_000 + w_us) for i, (k, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "user_id long, event_id long, s_us long, e_us long")
    flagged = df.selectExpr(
        "user_id", "s_us", "e_us",
        "CASE WHEN s_us > COALESCE(MAX(e_us) OVER (PARTITION BY user_id"
        " ORDER BY s_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),"
        " -9223372036854775808) THEN 1 ELSE 0 END AS ni",
    )
    grouped = flagged.selectExpr(
        "user_id", "s_us", "e_us",
        "SUM(ni) OVER (PARTITION BY user_id ORDER BY s_us, e_us"
        " ROWS UNBOUNDED PRECEDING) AS island",
    )
    got = {
        (r.user_id): (r.n, r.cov)
        for r in grouped.groupBy("user_id", "island")
        .agg(F.expr("MAX(e_us) - MIN(s_us)").alias("len"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("len").alias("cov"))
        .collect()
    }

    expected = {}
    by_user = {}
    for k, _, s, e in data:
        by_user.setdefault(k, []).append((s, e))
    for k, ivs in by_user.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        expected[k] = (len(merged), sum(e - s for s, e in merged))
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # user
            st.integers(min_value=0, max_value=5),   # ts offset (COLLIDES often)
            st.sampled_from(["a", "b", "c"]),        # event type
        ),
        min_size=2,
        max_size=40,
    )
)
def test_transition_matrix_deterministic_under_ts_ties(spark, tmp_path_factory, data):
    """events_transition_matrix's LAG orders by (ts, event_id); colliding
    timestamps must still produce the one total order the python
    reference sees — the corpus determinism convention under fire."""
    import pandas as pd

    from steampipe_sqlite_spark.plans.registry import collect

    d = tmp_path_factory.mktemp("tm")
    rows = [
        {
            "event_id": i,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=o),
            "user_id": u,
            "event_type": et,
            "value": 1.0,
            "props": "{}",
        }
        for i, (u, o, et) in enumerate(data)
    ]
    pdf = pd.DataFrame(rows)
    pdf.to_parquet(d / "events.parquet")

    from collections import Counter

    pair = Counter()
    for _, grp in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        et = list(grp.event_type)
        for a, b in zip(et, et[1:]):
            pair[(a, b)] += 1
    row_tot = Counter()
    for (a, _), n in pair.items():
        row_tot[a] += n

    q, _ = collect()
    got = {
        (r.src_event, r.dst_event): (r.n, r.row_total, r.share_ppm)
        for r in q["events_transition_matrix"](spark, str(d)).collect()
    }
    want = {
        (a, b): (n, row_tot[a], n * 1000000 // row_tot[a])
        for (a, b), n in pair.items()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    s1=st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=25),
    s2=st.lists(st.integers(min_value=1, max_value=12), min_size=1, max_size=25),
)
def test_ks_statistic_property(spark, tmp_path_factory, s1, s2):
    """KS over arbitrary overlapping/disjoint/identical samples: the exact
    integer D must match the brute-force python sup over the support, and
    identical samples must give D = 0."""
    import pandas as pd

    from steampipe_sqlite_spark.plans.registry import collect

    d = tmp_path_factory.mktemp("ks")
    rows = [
        {"doc_id": i, "text": "x", "lang": "en", "source": "s", "n_chars": v}
        for i, v in enumerate(s1)
    ] + [
        {"doc_id": 10_000 + i, "text": "x", "lang": "de", "source": "s", "n_chars": v}
        for i, v in enumerate(s2)
    ]
    pd.DataFrame(rows).to_parquet(d / "documents.parquet")

    n1, n2 = len(s1), len(s2)
    d_num = max(
        abs(sum(1 for x in s1 if x <= v) * n2 - sum(1 for x in s2 if x <= v) * n1)
        for v in set(s1) | set(s2)
    )
    q, _ = collect()
    [row] = q["stats_ks_lengths"](spark, str(d)).collect()
    assert (row.n1, row.n2, row.d_num) == (n1, n2, d_num)
    assert row.d_ppm == d_num * 1000000 // (n1 * n2)
    if sorted(s1) == sorted(s2):
        assert row.d_num == 0


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # key (collision-heavy)
            st.integers(min_value=-99, max_value=99),  # payload
        ),
        min_size=0,
        max_size=40,
    ),
    dim_keys=st.sets(st.integers(min_value=0, max_value=5), max_size=6),
    hot=st.lists(st.integers(min_value=0, max_value=7), max_size=4),
    n_salts=st.integers(min_value=1, max_value=5),
)
def test_salted_hot_keys_join_is_plain_join(spark, rows, dim_keys, hot, n_salts):
    """salted_join_hot_keys must be a drop-in inner join for ANY hot set —
    including empty, containing keys absent from either side, duplicated
    left keys, and n_salts=1 — with exact multiset semantics (a hot row
    must match its dim exactly once despite the dim's hot-side fanout)."""
    from steampipe_sqlite_spark.operators.scale import salted_join_hot_keys

    left = spark.createDataFrame(
        rows or [(None, None)], "key long, payload long"
    ).where(F.col("key").isNotNull())
    right = spark.createDataFrame(
        [(k, k * 10) for k in dim_keys] or [(None, None)],
        "key long, dval long",
    ).where(F.col("key").isNotNull())

    plain = sorted(
        tuple(r) for r in left.join(right, ["key"]).collect()
    )
    salted = sorted(
        tuple(r)
        for r in salted_join_hot_keys(left, right, "key", hot, n_salts).collect()
    )
    assert salted == plain

    # how='left' (ADVICE r10): exact multiset parity including unmatched
    # left rows (one null-extended row each, never fanned over salts)
    plain_left = sorted(
        tuple(r) for r in left.join(right, ["key"], "left").collect()
    )
    salted_left = sorted(
        tuple(r)
        for r in salted_join_hot_keys(
            left, right, "key", hot, n_salts, how="left"
        ).collect()
    )
    assert salted_left == plain_left

    # how='right' (VERDICT r11 #6): the mirrored construction — right rows
    # single-salt, left replicated — so unmatched right rows surface once
    # and matched multiplicities are exact.  Swap sides so the fact table
    # (duplicated keys) sits on the preserved side, the skew scenario.
    plain_right = sorted(
        tuple(r) for r in right.join(left, ["key"], "right").collect()
    )
    salted_right = sorted(
        tuple(r)
        for r in salted_join_hot_keys(
            right, left, "key", hot, n_salts, how="right"
        ).collect()
    )
    assert salted_right == plain_right
