"""Plain-Python replays of the evaluation/statistics corpus queries
(round-6 continuation) over the sf0.001 fixtures — oracle-independent
value checks: pandas/pure-Python recomputes each statistic from the same
parquet and must match the Spark result exactly (everything is emitted as
exact integers, so equality is bitwise).
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

import numpy as np
import pandas as pd


def _round_half_up(x):
    # SQL ROUND (Spark & DuckDB) is half-away-from-zero; pandas .round()
    # is banker's.  All corpus monetary values are positive.
    return np.floor(np.asarray(x) + 0.5).astype(int)

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    from steampipe_sqlite_spark.plans.registry import collect

    q, _ = collect()
    return q[name](spark, SF).collect()


def test_auc_mann_whitney_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    y = (ev.event_type == "purchase").to_numpy().astype(int)
    s = ev.value.to_numpy()
    # tie-corrected U via average ranks (2x everything stays integral)
    order = pd.Series(s).rank(method="average")  # float but .5-exact
    npos, n = int(y.sum()), len(y)
    ranksum2 = int(round((order[y == 1].sum()) * 2))
    u2 = ranksum2 - npos * (npos + 1)
    nneg = n - npos
    [row] = _run(spark, "eval_auc_mann_whitney")
    assert (row.u2, row.npos, row.nneg) == (u2, npos, nneg)
    assert row.auc_ppm == (u2 * 500000) // (npos * nneg)
    # sanity: the synthetic labels are ~independent of value, AUC near 0.5
    assert 350000 < row.auc_ppm < 650000


def test_gini_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    per = (
        od.assign(d=_round_half_up(od.o_totalprice))
        .groupby("o_custkey")["d"]
        .sum()
        .reset_index()
        .sort_values(["d", "o_custkey"])
        .reset_index(drop=True)
    )
    x = per.d.to_numpy()
    n, sumx = len(x), int(x.sum())
    sumix = int(sum((i + 1) * int(v) for i, v in enumerate(x)))
    num, den = 2 * sumix - (n + 1) * sumx, n * sumx
    [row] = _run(spark, "stats_gini_spend")
    assert (row.gini_num, row.gini_den) == (num, den)
    assert row.gini_ppm == (num * 1000000) // den
    assert 0 <= row.gini_ppm <= 1000000


def test_benford_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    cents = _round_half_up(od.o_totalprice[od.o_totalprice > 0] * 100)
    digits = Counter(int(str(c)[0]) for c in cents)
    total = sum(digits.values())
    rows = {r.digit: r for r in _run(spark, "stats_benford_first_digit")}
    assert set(rows) == set(digits)
    for d, cnt in digits.items():
        assert rows[d].n_rows == cnt
        assert rows[d].share_bp == cnt * 10000 // total


def test_pareto_topdecile_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    per = (
        od.assign(d=_round_half_up(od.o_totalprice))
        .groupby("o_custkey")["d"]
        .sum()
        .reset_index()
        .sort_values(["d", "o_custkey"], ascending=[False, True])
    )
    n = len(per)
    k = (n + 9) // 10
    top = int(per.d.iloc[:k].sum())
    total = int(per.d.sum())
    [row] = _run(spark, "stats_pareto_topdecile")
    assert (row.n_top, row.n_customers, row.top_dollars, row.total_dollars) == (
        k, n, top, total,
    )
    assert row.share_ppm == top * 1000000 // total
    # top decile must hold at least its proportional share
    assert row.share_ppm >= 100000


def test_mode_per_group_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    want = {}
    for uid, grp in ev.groupby("user_id"):
        c = Counter(grp.event_type)
        # max count, lexicographically-first tie-break
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        want[uid] = best
    rows = {r.user_id: (r.mode_event, r.mode_count) for r in _run(spark, "agg_mode_per_group")}
    assert rows == want


def test_seasonal_naive_mae_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev.assign(
        h=ev.ts.dt.floor("h"), cents=_round_half_up(ev.value * 100)
    )
    hourly = ev.groupby(["event_type", "h"])["cents"].sum()
    want = {}
    for (et, h), cur in hourly.items():
        prev = hourly.get((et, h - pd.Timedelta(hours=24)))
        if prev is not None:
            n, mae = want.get(et, (0, 0))
            want[et] = (n + 1, mae + abs(int(cur) - int(prev)))
    rows = {r.event_type: r for r in _run(spark, "ts_seasonal_naive_mae")}
    assert set(rows) == set(want)
    for et, (n, num) in want.items():
        assert rows[et].n_hours == n
        assert rows[et].mae_num_cents == num
        assert rows[et].mae_cents_floor == num // n


def _tokens(text: str) -> list[str]:
    t = re.sub(r"[^a-z0-9一-鿿 ]", " ", text.lower())
    t = re.sub(r"\s+", " ", t).strip()
    return [x for x in t.split(" ") if x]


def test_token_pair_lift_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n_docs = len(docs)
    doc_toks = {r.doc_id: set(_tokens(r.text)) for r in docs.itertuples()}
    cnt = Counter(t for toks in doc_toks.values() for t in toks)
    top50 = {
        t for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    }
    pair = Counter()
    for toks in doc_toks.values():
        keep = sorted(toks & top50)
        for i, a in enumerate(keep):
            for b in keep[i + 1 :]:
                pair[(a, b)] += 1
    ranked = sorted(pair.items(), key=lambda kv: (-kv[1], kv[0]))[:30]
    rows = _run(spark, "token_pair_lift")
    assert len(rows) == len(ranked)
    for row, ((a, b), n_ab) in zip(rows, ranked):
        assert (row.tok_a, row.tok_b, row.n_ab) == (a, b, n_ab)
        assert (row.c_a, row.c_b) == (cnt[a], cnt[b])
        assert row.lift_ppm == 1000000 * n_docs * n_ab // (cnt[a] * cnt[b])


def test_two_hop_reach_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n = len(docs)
    out = {d: {(d * 31 + 7) % n, (d * 17 + 3) % n} for d in docs.doc_id}
    reach = Counter()
    for src, mids in out.items():
        two = set()
        for m in mids:
            two |= out[m]
        reach[len(two)] += 1
    rows = {r.n_reach: r.n_nodes for r in _run(spark, "graph_two_hop_reach")}
    assert rows == dict(reach)


def test_kfold_stratified_matches_python(spark):
    import hashlib

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    want = Counter()
    chars = Counter()
    for lang, grp in docs.groupby("lang"):
        ordered = sorted(
            grp.itertuples(),
            key=lambda r: (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id),
        )
        for i, r in enumerate(ordered):
            want[(lang, i % 5)] += 1
            chars[(lang, i % 5)] += int(r.n_chars)
    rows = {(r.lang, r.fold): r for r in _run(spark, "dataset_kfold_stratified")}
    assert set(rows) == set(want)
    for k, n in want.items():
        assert rows[k].n_docs == n
        assert rows[k].sum_chars == chars[k]
    # stratification property: fold sizes within a stratum differ by <=1
    for lang in docs.lang.unique():
        sizes = [want[(lang, f)] for f in range(5)]
        assert max(sizes) - min(sizes) <= 1


def test_chi2_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    o = docs.groupby(["lang", "source"]).size()
    rt = docs.groupby("lang").size()
    ct = docs.groupby("source").size()
    n = len(docs)
    s = 0
    for lang in rt.index:
        for src in ct.index:
            obs = int(o.get((lang, src), 0))
            num = obs * n - int(rt[lang]) * int(ct[src])
            s += (num * num) // (int(rt[lang]) * int(ct[src]))
    [row] = _run(spark, "stats_chi2_lang_source")
    assert row.n_cells == len(rt) * len(ct)
    assert row.chi2_scaled_sum == s
    assert row.chi2_milli == 1000 * s // n


def test_hapax_ratio_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    per_src = defaultdict(Counter)
    for r in docs.itertuples():
        per_src[r.source].update(_tokens(r.text))
    rows = {r.source: r for r in _run(spark, "text_hapax_ratio")}
    assert set(rows) == set(per_src)
    for src, cnt in per_src.items():
        hapax = sum(1 for c in cnt.values() if c == 1)
        assert rows[src].vocab == len(cnt)
        assert rows[src].hapax == hapax
        assert rows[src].n_tokens == sum(cnt.values())
        assert rows[src].hapax_share_ppm == hapax * 1000000 // len(cnt)


def test_centroid_geometry_matches_python(spark):
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    sums, counts = {}, Counter()
    for r in emb.itertuples():
        x = np.asarray(r.embedding, dtype=np.float64) * 1000
        # signed half-AWAY-from-zero (engines' ROUND); _round_half_up is
        # the positive-only monetary helper
        q = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(int)
        sums[r.label] = sums.get(r.label, 0) + q.astype(object)
        counts[r.label] += 1
    rows = {(r.label_a, r.label_b): r for r in _run(spark, "emb_label_centroid_geometry")}
    labels = sorted(sums)
    assert set(rows) == {(a, b) for a in labels for b in labels if a < b}
    for (a, b), r in rows.items():
        assert r.dot_mm == int(np.dot(sums[a], sums[b]))
        assert r.norm_a_sq == int(np.dot(sums[a], sums[a]))
        assert r.norm_b_sq == int(np.dot(sums[b], sums[b]))
        assert (r.n_a, r.n_b) == (counts[a], counts[b])


_NDCG_W = [1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465,
           301030, 289065]


def test_ndcg_at10_matches_python(spark):
    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.itertuples()}
    labels = {r.vec_id: r.label for r in emb.itertuples()}
    rows = {r.query_id: r for r in _run(spark, "eval_ndcg_at10")}
    for qid in range(10):
        qv = vecs[qid]
        scored = sorted(
            (
                (-round(float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))), 4), nid)
                for nid, v in vecs.items() if nid != qid
            ),
        )[:10]
        rel = [1 if labels[nid] == labels[qid] else 0 for _, nid in scored]
        dcg = sum(r * w for r, w in zip(rel, _NDCG_W))
        idcg = sum(r * w for r, w in zip(sorted(rel, reverse=True), _NDCG_W))
        row = rows[qid]
        assert (row.n_rel, row.dcg_scaled, row.idcg_scaled) == (sum(rel), dcg, idcg)
        assert row.ndcg_ppm == (0 if idcg == 0 else dcg * 1000000 // idcg)


def test_transition_matrix_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(["ts", "event_id"])
    pair = Counter()
    for _, grp in ev.groupby("user_id"):
        et = list(grp.event_type)
        for a, b in zip(et, et[1:]):
            pair[(a, b)] += 1
    row_tot = Counter()
    for (a, _), n in pair.items():
        row_tot[a] += n
    rows = {(r.src_event, r.dst_event): r for r in _run(spark, "events_transition_matrix")}
    assert set(rows) == set(pair)
    for (a, b), r in rows.items():
        assert r.n == pair[(a, b)]
        assert r.row_total == row_tot[a]
        assert r.share_ppm == pair[(a, b)] * 1000000 // row_tot[a]


def test_interarrival_hist_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(["ts", "event_id"])
    buckets = Counter()
    lo, hi = {}, {}
    for _, grp in ev.groupby("user_id"):
        us = ((grp.ts - pd.Timestamp(0)) // pd.Timedelta(microseconds=1)).to_numpy()
        for a, b in zip(us, us[1:]):
            gap_s = (b - a) // 1_000_000
            bkt = 0 if gap_s <= 0 else len(str(gap_s))
            buckets[bkt] += 1
            lo[bkt] = min(lo.get(bkt, gap_s), gap_s)
            hi[bkt] = max(hi.get(bkt, gap_s), gap_s)
    rows = {r.bucket: r for r in _run(spark, "events_interarrival_hist")}
    assert set(rows) == set(buckets)
    for bkt, n in buckets.items():
        assert rows[bkt].n_gaps == n
        assert (rows[bkt].min_gap_s, rows[bkt].max_gap_s) == (lo[bkt], hi[bkt])


def test_growth_daily_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev.assign(day=ev.ts.dt.floor("d"))
    daily_ev = ev.groupby("day").size()
    daily_active = ev.groupby("day")["user_id"].nunique()
    first_seen = ev.groupby("user_id")["day"].min()
    new_by_day = first_seen.value_counts()
    rows = sorted(_run(spark, "events_growth_daily"), key=lambda r: r.day)
    assert len(rows) == len(daily_ev)
    cum = 0
    for r in rows:
        d = pd.Timestamp(r.day)
        n_new = int(new_by_day.get(d, 0))
        cum += n_new
        assert r.n_events == int(daily_ev[d])
        assert r.n_active == int(daily_active[d])
        assert r.n_new == n_new
        assert r.cum_users == cum
    assert cum == ev.user_id.nunique()


def test_threshold_crossings_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(["ts", "event_id"])
    want = {}
    for et, grp in ev.groupby("event_type"):
        cents = _round_half_up(grp.value * 100)
        up = sum(1 for a, b in zip(cents, cents[1:]) if a <= 25000 < b)
        down = sum(1 for a, b in zip(cents, cents[1:]) if b <= 25000 < a)
        want[et] = (up, down, int((cents > 25000).sum()), len(cents))
    rows = {r.event_type: r for r in _run(spark, "ts_threshold_crossings")}
    assert set(rows) == set(want)
    for et, (up, down, above, total) in want.items():
        r = rows[et]
        assert (r.n_up_crossings, r.n_down_crossings, r.n_above, r.n_total) == (
            up, down, above, total,
        )


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_blocked_prefix_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    pre = {}
    for r in docs.itertuples():
        t = re.sub(r"[^a-z0-9一-鿿 ]", " ", r.text.lower())
        t = re.sub(r"\s+", " ", t).strip()
        pre[r.doc_id] = t[:24]
    # the query gates candidates to pure-ASCII prefixes (codepoint-vs-byte
    # Levenshtein parity); mirror it
    ids = sorted(d for d, t in pre.items() if t.isascii())
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            pa, pb = pre[a], pre[b]
            if pa[:6] == pb[:6] and abs(len(pa) - len(pb)) <= 3:
                d = _lev(pa, pb)
                if d <= 3:
                    want[(a, b)] = d
    rows = {(r.doc_a, r.doc_b): r.edit_dist for r in _run(spark, "join_fuzzy_blocked_prefix")}
    assert rows == want
    # the fixture must actually exercise the join (a regression emptying
    # the candidate set should fail here, not silently pass)
    assert len(want) > 0


def test_printf_integer_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    rows = {r.o_orderkey: r.line for r in _run(spark, "compat_printf_integer")}
    assert len(rows) == len(od)
    for r in od.itertuples():
        cents = int(np.floor(r.o_totalprice * 100 + 0.5))
        want = "%05d|%s|cents=%d|hex=%x" % (
            r.o_orderkey, r.o_orderstatus, cents, r.o_custkey % 997,
        )
        assert rows[r.o_orderkey] == want


def test_scd2_point_in_time_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(["ts", "event_id"])
    purch = ev[ev.event_type == "purchase"]
    views = ev[ev.event_type == "view"]
    want = {}
    for r in views.itertuples():
        mine = purch[(purch.user_id == r.user_id) & (purch.ts <= r.ts)]
        cents = (
            int(np.floor(mine.sort_values("ts").value.iloc[-1] * 100 + 0.5))
            if len(mine) else None
        )
        n, cov, tot = want.get(r.user_id, (0, 0, 0))
        want[r.user_id] = (n + 1, cov + (cents is not None), tot + (cents or 0))
    rows = {r.user_id: r for r in _run(spark, "join_scd2_point_in_time")}
    assert set(rows) == set(want)
    for uid, (n, cov, tot) in want.items():
        r = rows[uid]
        assert (r.n_views, r.n_covered, r.sum_active_cents) == (n, cov, tot)


def test_bitwise_agg_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    rows = {r.event_type: r for r in _run(spark, "agg_bitwise")}
    for et, grp in ev.groupby("event_type"):
        band = bor = None
        bxor = 0
        for v in grp.event_id:
            v = int(v)
            band = v if band is None else band & v
            bor = v if bor is None else bor | v
            bxor ^= v
        r = rows[et]
        assert (r.band, r.bor, r.bxor, r.n) == (band, bor, bxor, len(grp))


def test_width_bucket_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    buckets = Counter()
    lo, hi = {}, {}
    for p in od.o_totalprice:
        b = 0 if p < 0 else 13 if p >= 600000 else int(p / 50000.0) + 1
        c = int(np.floor(p * 100 + 0.5))
        buckets[b] += 1
        lo[b] = min(lo.get(b, c), c)
        hi[b] = max(hi.get(b, c), c)
    rows = {r.bucket: r for r in _run(spark, "agg_width_bucket_hist")}
    assert set(rows) == set(buckets)
    for b, n in buckets.items():
        assert (rows[b].n_orders, rows[b].min_cents, rows[b].max_cents) == (
            n, lo[b], hi[b],
        )


def test_running_distinct_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet").sort_values(["ts", "event_id"])
    want = {}
    for uid, grp in ev.groupby("user_id"):
        seen = set()
        for r in grp.itertuples():
            seen.add(r.event_type)
            want[(uid, r.event_id)] = len(seen)
    rows = {
        (r.user_id, r.event_id): r.cum_distinct_types
        for r in _run(spark, "win_running_distinct")
    }
    assert rows == want


def test_join_size_profile_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    ca = od.groupby("o_orderkey").size()
    cb = li.groupby("l_orderkey").size()
    common = ca.index.intersection(cb.index)
    prods = [int(ca[k]) * int(cb[k]) for k in common]
    [row] = _run(spark, "stats_join_size_profile")
    assert (row.n_keys_left, row.n_keys_right, row.n_common_keys) == (
        len(ca), len(cb), len(common),
    )
    assert row.join_rows == sum(prods)
    assert row.max_key_rows == max(prods)
    # the identity the profile predicts: actual join cardinality
    actual = od.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    assert row.join_rows == len(actual)


def test_ppm_div_exactness_and_overflow_envelope(spark):
    """_ppm_div must equal floor(num*1e6/den) for any 0 <= num <= den
    < 9.2e15 — including magnitudes where the naive single-step
    num*1000000 would overflow BIGINT."""
    import duckdb

    from steampipe_sqlite_spark.plans.relational import _ppm_div

    cases = [
        (0, 1), (1, 1), (1, 3), (2, 3), (999999, 1000000),
        (10**15, 9 * 10**15), (9 * 10**15 - 1, 9 * 10**15),
        (4611686018427387, 9211686018427387),  # naive overflow regime
        (123456789012345, 987654321098765),
        (7, 9_199_999_999_999_999),
    ]
    rows = ", ".join(f"({n}, {d})" for n, d in cases)
    spark_sql = (
        f"SELECT num, den, {_ppm_div('num', 'den', 'div')} AS ppm"
        f" FROM VALUES {rows} AS t(num, den)"
    )
    got_spark = {(r.num, r.den): r.ppm for r in spark.sql(spark_sql).collect()}
    duck_sql = (
        f"SELECT num, den, {_ppm_div('num', 'den', '//')} AS ppm"
        f" FROM (VALUES {rows}) t(num, den)"
    )
    got_duck = {(n, d): p for n, d, p in duckdb.sql(duck_sql).fetchall()}
    for n, d in cases:
        want = n * 1000000 // d
        assert got_spark[(n, d)] == want, (n, d)
        assert got_duck[(n, d)] == want, (n, d)


def test_video_neardup_shingles_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    vids = [d for d in docs.doc_id if d % 3 == 1]
    shingles = {}
    for d in vids:
        n_frames = 30 + (d * 17) % 271
        fs = list(range(0, n_frames, 5))
        sigs = [(d * 7 + (f // 30) * 13 + (f % 3)) % 256 for f in fs]
        sh = {
            sigs[i] * 65536 + sigs[i + 1] * 256 + sigs[i + 2]
            for i in range(len(sigs) - 2)
        }
        shingles[d] = sh
    want = {}
    for i, a in enumerate(vids):
        for b in vids[i + 1 :]:
            shared = len(shingles[a] & shingles[b])
            if shared >= 5:
                want[(a, b)] = shared
    rows = {(r.video_a, r.video_b): r for r in _run(spark, "mm_video_neardup_shingles")}
    assert set(rows) == set(want)
    for (a, b), r in rows.items():
        assert r.n_shared == want[(a, b)]
        assert (r.n_a, r.n_b) == (len(shingles[a]), len(shingles[b]))
        assert r.containment_ppm == want[(a, b)] * 1000000 // min(
            len(shingles[a]), len(shingles[b])
        )


def test_ks_lengths_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    s1 = sorted(docs[docs.lang == "en"].n_chars)
    s2 = sorted(docs[docs.lang == "de"].n_chars)
    n1, n2 = len(s1), len(s2)
    support = sorted(set(s1) | set(s2))
    d_num = 0
    for v in support:
        cum1 = sum(1 for x in s1 if x <= v)
        cum2 = sum(1 for x in s2 if x <= v)
        d_num = max(d_num, abs(cum1 * n2 - cum2 * n1))
    [row] = _run(spark, "stats_ks_lengths")
    assert (row.n1, row.n2, row.d_num) == (n1, n2, d_num)
    assert row.d_ppm == d_num * 1000000 // (n1 * n2)


def test_user_hhi_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    c = ev.groupby("user_id").size()
    sum_sq = int((c.astype(object) ** 2).sum())
    n = int(c.sum())
    [row] = _run(spark, "events_user_hhi")
    assert (row.n_users, row.n_events, row.sum_sq) == (len(c), n, sum_sq)
    assert row.hhi_ppm == sum_sq * 1000000 // (n * n)
    # HHI is bounded below by the perfectly-even allocation
    assert row.hhi_ppm >= 1000000 // len(c)


def test_autocorr_lag1_matches_python(spark):
    ev = pd.read_parquet(f"{SF}/events.parquet")
    hourly = ev.groupby([ev.event_type, ev.ts.dt.floor("h")]).size()
    rows = {r.event_type: r for r in _run(spark, "ts_autocorr_lag1")}
    nondegenerate = []
    for et in ev.event_type.unique():
        series = hourly[et]
        xs, ys = [], []
        for h, x in series.items():
            nxt = series.get(h + pd.Timedelta(hours=1))
            if nxt is not None:
                xs.append(int(x))
                ys.append(int(nxt))
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        r = rows[et]
        # the query emits EXACT integer moments only (ADVICE r6: a raw
        # DOUBLE in the hash-compare relies on bit-identical expression
        # trees and loses exactness past 2^53) — the six-moment equality
        # IS the full query contract now; the Pearson ratio became the
        # consumer's one float op outside the engine
        assert (r.n, r.sx, r.sy, r.sxx, r.syy, r.sxy) == (n, sx, sy, sxx, syy, sxy)
        # and the fixture must actually exercise the non-degenerate
        # branch somewhere, or the moments prove nothing about a usable
        # autocorrelation
        if n > 1 and n * sxx > sx * sx and n * syy > sy * sy:
            nondegenerate.append(et)
    assert nondegenerate, "fixture exercises only degenerate series"


def test_vocab_jaccard_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    vocab = defaultdict(set)
    for r in docs.itertuples():
        vocab[r.lang].update(_tokens(r.text))
    langs = sorted(vocab)
    rows = {(r.lang_a, r.lang_b): r for r in _run(spark, "text_vocab_jaccard_langs")}
    for i, a in enumerate(langs):
        for b in langs[i + 1 :]:
            inter = len(vocab[a] & vocab[b])
            if inter == 0:
                assert (a, b) not in rows
                continue
            r = rows[(a, b)]
            union = len(vocab[a]) + len(vocab[b]) - inter
            assert (r.n_shared, r.n_a, r.n_b) == (inter, len(vocab[a]), len(vocab[b]))
            assert r.jaccard_ppm == inter * 1000000 // union


def test_k_anonymity_matches_python(spark):
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    classes = docs.groupby(
        [docs.lang, docs.source, docs.n_chars // 500]
    ).size()
    [row] = _run(spark, "privacy_k_anonymity")
    assert row.n_classes == len(classes)
    assert row.n_rows == len(docs)
    assert (row.min_k, row.max_k) == (int(classes.min()), int(classes.max()))
    assert row.rows_at_risk_k5 == int(classes[classes < 5].sum())
    assert row.classes_at_risk_k5 == int((classes < 5).sum())
    assert row.singleton_classes == int((classes == 1).sum())


def test_degenerate_inputs_yield_null_not_crash(spark, tmp_path):
    """A corpus with no positive labels / a missing stratum must yield
    NULL ratio columns, not a divide-by-zero (the guards exist because
    DuckDB's // 0 errors while Spark's div returns NULL — the guard
    makes both engines emit the same NULL)."""
    ev = pd.read_parquet(f"{SF}/events.parquet")
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    d = tmp_path / "degenerate"
    d.mkdir()
    # strip every purchase -> npos = 0; keep only en docs -> no 'de' sample
    ev[ev.event_type != "purchase"].to_parquet(d / "events.parquet")
    docs[docs.lang == "en"].to_parquet(d / "documents.parquet")

    from steampipe_sqlite_spark.plans.registry import collect

    q, _ = collect()
    [auc] = q["eval_auc_mann_whitney"](spark, str(d)).collect()
    assert auc.npos == 0 and auc.auc_ppm is None
    [ks] = q["stats_ks_lengths"](spark, str(d)).collect()
    assert ks.n2 == 0 and ks.d_ppm is None and ks.d_num == 0


def test_grouping_flags_matches_python(spark):
    li = pd.read_parquet(f"{SF}/lineitem.parquet")
    rows = _run(spark, "group_cube_grouping_flags")
    # total row: both flags set, n = all rows
    tot = [r for r in rows if r.g_flag == 1 and r.g_status == 1]
    assert len(tot) == 1 and tot[0].n == len(li)
    # fully-grouped cells equal the plain groupby
    want = li.groupby(["l_returnflag", "l_linestatus"]).size()
    got = {
        (r.l_returnflag, r.l_linestatus): r.n
        for r in rows
        if r.g_flag == 0 and r.g_status == 0
    }
    assert got == {k: int(v) for k, v in want.items()}
    # 4 grouping combinations must all be present
    assert {(r.g_flag, r.g_status) for r in rows} == {(0, 0), (0, 1), (1, 0), (1, 1)}


def test_any_value_functional_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    cust = pd.read_parquet(f"{SF}/customer.parquet")
    names = dict(zip(cust.c_custkey, cust.c_name))
    grp = od.groupby("o_custkey")
    rows = {r.o_custkey: r for r in _run(spark, "agg_any_value_functional")}
    assert set(rows) == set(grp.groups)
    for k, r in rows.items():
        assert r.cust_name == names[k]
        assert r.n_orders == len(grp.get_group(k))
        assert r.total_cents == int(_round_half_up(grp.get_group(k).o_totalprice * 100).sum())


def test_cusum_changepoint_matches_python(spark):
    """The closed form C_t - min(C_k) must equal the literal recursive
    CUSUM S_t = max(0, S_{t-1} + dev_t) — the identity the query's plan
    depends on — checked per stream against the recursion itself."""
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev.assign(h=ev.ts.dt.floor("h"), cents=_round_half_up(ev.value * 100))
    hourly = ev.groupby(["event_type", "h"])["cents"].sum()
    rows = {r.event_type: r for r in _run(spark, "ts_cusum_changepoint")}
    for et in ev.event_type.unique():
        series = hourly[et].sort_index()
        target = int(series.sum()) // len(series)
        s_val, best, best_h = 0, -1, None
        for h, x in series.items():
            s_val = max(0, s_val + int(x) - target)
            if s_val > best:
                best, best_h = s_val, h
        r = rows[et]
        assert r.max_cusum_cents == best
        assert pd.Timestamp(r.peak_hour) == best_h


_BENFORD_EXP_PPM = {1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
                    6: 66947, 7: 57992, 8: 51153, 9: 45757}


def test_benford_deviation_matches_python(spark):
    od = pd.read_parquet(f"{SF}/orders.parquet")
    cents = _round_half_up(od.o_totalprice[od.o_totalprice > 0] * 100)
    digits = Counter(int(str(c)[0]) for c in cents)
    total = sum(digits.values())
    rows = {r.digit: r for r in _run(spark, "stats_benford_deviation")}
    assert set(rows) == set(range(1, 10))  # expectation spine: all 9 digits
    for d in range(1, 10):
        obs_ppm = digits.get(d, 0) * 1000000 // total
        r = rows[d]
        assert r.n_rows == digits.get(d, 0)
        assert r.obs_ppm == obs_ppm
        assert r.exp_ppm == _BENFORD_EXP_PPM[d]
        assert r.abs_dev_ppm == abs(obs_ppm - _BENFORD_EXP_PPM[d])


def test_calibration_bins_matches_python(spark):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    qx = {
        r.vec_id: [
            int(Decimal(repr(float(x) * 1000)).quantize(Decimal("1"), ROUND_HALF_UP))
            for x in r.embedding
        ]
        for r in emb.itertuples()
    }
    label = dict(zip(emb.vec_id, emb.label))
    cents, norms = {}, {}
    for lb in sorted(set(label.values())):
        members = [qx[v] for v in qx if label[v] == lb]
        cv = [sum(col) for col in zip(*members)]
        cents[lb] = cv
        norms[lb] = sum(v * v for v in cv)

    def cos4(x, cv, cn):
        dot = 0.0
        for a, b in zip(x, cv):
            dot += float(a) * float(b)
        xx = 0.0
        for a in x:
            xx += float(a) * float(a)
        c = dot / (math.sqrt(xx) * math.sqrt(float(cn)))
        return float(Decimal(repr(c)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    bins = {}
    for v, x in qx.items():
        scored = sorted(
            ((-cos4(x, cents[lb], norms[lb]), lb) for lb in cents),
        )
        conf, pred = -scored[0][0], scored[0][1]
        b = math.floor(conf * 10)
        n, nc, su = bins.get(b, (0, 0, 0))
        bins[b] = (
            n + 1,
            nc + (1 if pred == label[v] else 0),
            su + int(Decimal(repr(conf * 10000)).quantize(Decimal("1"), ROUND_HALF_UP)),
        )
    rows = _run(spark, "eval_calibration_bins")
    assert {r.bin: (r.n, r.n_correct, r.sum_conf_u) for r in rows} == bins
    # the classifier must beat chance overall or the calibration data is
    # meaningless for the fixture
    total = sum(n for n, _, _ in bins.values())
    correct = sum(nc for _, nc, _ in bins.values())
    assert correct * len(cents) > total


def test_hard_negatives_matches_python(spark):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in emb.itertuples()}
    label = dict(zip(emb.vec_id, emb.label))

    def cu(a, b):
        dot = xx = yy = 0.0
        for p, q in zip(a, b):
            dot += p * q
            xx += p * p
            yy += q * q
        c = dot / (math.sqrt(xx) * math.sqrt(yy))
        c4 = float(Decimal(repr(c)).quantize(Decimal("0.0001"), ROUND_HALF_UP))
        return int(Decimal(repr(c4 * 10000)).quantize(Decimal("1"), ROUND_HALF_UP))

    anchors = sorted(v for v in vecs if v < 15)
    want = {}
    for a in anchors:
        same = [(-cu(vecs[a], vecs[t]), t) for t in vecs if t != a and label[t] == label[a]]
        diff = [(-cu(vecs[a], vecs[t]), t) for t in vecs if t != a and label[t] != label[a]]
        if not same or not diff:
            continue
        (pc, pt), (nc, nt) = min(same), min(diff)
        want[a] = (label[a], pt, -pc, nt, -nc, -pc + nc)
    rows = _run(spark, "mining_hard_negatives")
    assert {r.anchor_id for r in rows} == set(want)
    for r in rows:
        assert (
            r.label, r.positive_id, r.pos_cos_u, r.negative_id, r.neg_cos_u, r.margin_u
        ) == want[r.anchor_id]
