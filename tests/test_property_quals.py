"""Property-based connector-contract checks (SURVEY.md §5.4): for random
quals × projections × limits, the connector's pushed-down execution must
equal full-scan + reference-semantics re-filter."""

import datetime as dt

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from steampipe_sqlite_spark.sources.chaos import ChaosConnector
from steampipe_sqlite_spark.sources.connector import Qual

_EPOCH = dt.datetime(2024, 1, 1)
ALL_COLUMNS = ["id", "flag", "score", "name", "doc", "created_at", "ip", "cidr", "path", "maybe"]

qual_st = st.one_of(
    st.tuples(st.just("id"), st.sampled_from(["=", "<", "<=", ">", ">=", "<>"]), st.integers(-5, 120)),
    st.tuples(st.just("score"), st.sampled_from(["<", ">", "<=", ">="]), st.floats(-10, 200, allow_nan=False)),
    st.tuples(st.just("name"), st.just("prefix"), st.sampled_from(["item_00", "item_01", "zzz", ""])),
    st.tuples(st.just("name"), st.just("="), st.sampled_from(["item_0007", "nope"])),
    st.tuples(
        st.just("created_at"),
        st.sampled_from(["<", ">=", "="]),
        st.integers(0, 120).map(lambda h: _EPOCH + dt.timedelta(hours=h)),
    ),
    st.tuples(st.just("maybe"), st.sampled_from(["is_null", "is_not_null"]), st.none()),
    st.tuples(st.just("id"), st.just("in"), st.lists(st.integers(0, 110), min_size=1, max_size=5).map(tuple)),
)


def full_scan(conn):
    batches = list(conn.execute("all_types", [], None, None))
    return pa.Table.from_batches(batches).to_pylist()


@settings(max_examples=150, deadline=None)
@given(
    quals=st.lists(qual_st, max_size=3),
    columns=st.one_of(
        st.none(),
        st.lists(st.sampled_from(ALL_COLUMNS), min_size=1, max_size=5, unique=True),
    ),
    limit=st.one_of(st.none(), st.integers(0, 120)),
)
def test_pushdown_equals_scan_plus_refilter(quals, columns, limit):
    conn = ChaosConnector(n_rows=100)
    quals = [Qual(c, op, v) for c, op, v in quals]

    got_batches = list(conn.execute("all_types", quals, columns, limit))
    got = pa.Table.from_batches(got_batches).to_pylist() if got_batches else []

    expected = [r for r in full_scan(conn) if all(q.matches(r.get(q.column)) for q in quals)]
    if limit is not None:
        expected = expected[:limit]
    proj = columns if columns else ALL_COLUMNS
    expected = [{k: r[k] for k in proj} for r in expected]

    assert got == expected


@settings(max_examples=40, deadline=None)
@given(
    tenants=st.lists(st.sampled_from(["t1", "t2", "acme"]), min_size=1, max_size=3, unique=True),
    seq_bound=st.one_of(st.none(), st.integers(0, 20)),
)
def test_keyed_table_generates_from_required_qual(tenants, seq_bound):
    """The required key qual IS the API parameter: rows come back only for
    the requested tenants (plugin-style generation, not post-filter)."""
    conn = ChaosConnector(n_rows=100)
    quals = [Qual("tenant", "in", tuple(tenants))]
    if seq_bound is not None:
        quals.append(Qual("seq", "<", seq_bound))
    batches = list(conn.execute("keyed", quals, None, None))
    rows = pa.Table.from_batches(batches).to_pylist() if batches else []
    assert {r["tenant"] for r in rows} <= set(tenants)
    if seq_bound is not None:
        assert all(r["seq"] < seq_bound for r in rows)


# --- cache qual-subsumption property (B15, SURVEY §7.5.4) ------------------

_sub_qual_st = st.one_of(
    st.tuples(st.just("x"), st.sampled_from(["=", "<", "<=", ">", ">="]), st.integers(-2, 12)),
    st.tuples(st.just("x"), st.just("in"), st.lists(st.integers(0, 10), min_size=1, max_size=4).map(tuple)),
    st.tuples(st.just("name"), st.just("prefix"), st.sampled_from(["n", "n1", "zz"])),
    st.tuples(st.just("maybe"), st.sampled_from(["is_null", "is_not_null"]), st.none()),
)


@settings(max_examples=150, deadline=None)
@given(
    cached_quals=st.lists(_sub_qual_st, max_size=2, unique_by=lambda q: (q[0], q[1])),
    extra_quals=st.lists(_sub_qual_st, min_size=0, max_size=2, unique_by=lambda q: (q[0], q[1])),
    columns=st.one_of(st.none(), st.lists(st.sampled_from(["x", "name", "maybe"]), min_size=1, max_size=3, unique=True)),
    limit=st.one_of(st.none(), st.integers(0, 15)),
)
def test_subsumption_serving_equals_direct_filtering(cached_quals, extra_quals, columns, limit):
    """For ANY cached superset entry (its quals ⊆ the request's), serving
    the request from the cached batches (residual filter + project +
    slice) must equal filtering the base data directly with ALL quals."""
    from steampipe_sqlite_spark.sources.cache import ScanCache
    from steampipe_sqlite_spark.sources.connector import Qual

    rows = [
        {"x": i, "name": f"n{i}", "maybe": None if i % 3 == 0 else f"v{i}"}
        for i in range(12)
    ]
    base = pa.RecordBatch.from_pylist(rows)

    request = cached_quals + extra_quals  # superset of cached by construction
    cached_k = tuple((q[0], q[1], q[2]) for q in cached_quals)
    request_k = tuple((q[0], q[1], q[2]) for q in request)

    cache = ScanCache(ttl_s=60)
    full_key = ScanCache.key("m:C", None, "t", cached_k, None, None)
    # the cached entry holds the rows matching ITS quals (as a real scan would)
    cached_rows = [
        r for r in rows if all(Qual(c, op, v).matches(r.get(c)) for c, op, v in cached_quals)
    ]
    cache.put(full_key, [pa.RecordBatch.from_pylist(cached_rows)] if cached_rows else [])

    want = ScanCache.key("m:C", None, "t", request_k, tuple(columns) if columns else None, limit)
    hit = cache.get(want)
    assert hit is not None, "a cached subset-qual entry must subsume the request"
    served = [r for b in hit for r in b.to_pylist()]

    expected = [
        r for r in rows if all(Qual(c, op, v).matches(r.get(c)) for c, op, v in request)
    ]
    if columns is not None:
        expected = [{k: r[k] for k in columns} for r in expected]
    if limit is not None:
        expected = expected[:limit]
    assert served == expected
