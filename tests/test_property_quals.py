"""Property-based connector-contract checks (SURVEY.md §5.4): for random
quals × projections × limits, the connector's pushed-down execution must
equal full-scan + reference-semantics re-filter."""

import datetime as dt
import json

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from steampipe_sqlite_spark.sources.chaos import (
    ChaosConnector,
    DynamicConnector,
    FeedConnector,
    ShardedConnector,
)
from steampipe_sqlite_spark.sources.connector import Qual
from steampipe_sqlite_spark.sources.csvfiles import CsvConnector
from steampipe_sqlite_spark.sources.jsonlines import JsonlConnector

_EPOCH = dt.datetime(2024, 1, 1)
ALL_COLUMNS = ["id", "flag", "score", "name", "doc", "created_at", "ip", "cidr", "path", "maybe"]


def _int_quals(col, lo, hi):
    return st.one_of(
        st.tuples(st.just(col), st.sampled_from(["=", "<", "<=", ">", ">=", "<>"]), st.integers(lo, hi)),
        st.tuples(st.just(col), st.just("in"), st.lists(st.integers(lo, hi), min_size=1, max_size=5).map(tuple)),
    )


def _float_quals(col, lo, hi):
    return st.tuples(st.just(col), st.sampled_from(["<", ">", "<=", ">="]), st.floats(lo, hi, allow_nan=False))


def _null_quals(col):
    return st.tuples(st.just(col), st.sampled_from(["is_null", "is_not_null"]), st.none())


qual_st = st.one_of(
    _int_quals("id", -5, 120),
    _float_quals("score", -10, 200),
    st.tuples(st.just("name"), st.just("prefix"), st.sampled_from(["item_00", "item_01", "zzz", ""])),
    st.tuples(st.just("name"), st.just("="), st.sampled_from(["item_0007", "nope"])),
    st.tuples(
        st.just("created_at"),
        st.sampled_from(["<", ">=", "="]),
        st.integers(0, 120).map(lambda h: _EPOCH + dt.timedelta(hours=h)),
    ),
    _null_quals("maybe"),
)

_DYNAMIC_CONFIG = json.dumps(
    {"tables": {"t": [["x", "int"], ["y", "string"], ["z", "double"], ["b", "bool"], ["ts", "timestamp"]]}}
)


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    """One CSV and one JSONL file with NULL cells; the JSONL file also
    holds a blank, a malformed and a non-object line, which scans skip."""
    d = tmp_path_factory.mktemp("rowfiles")
    lines = ["id,name,score"] + [
        f"{i},{'' if i % 7 == 0 else f'n{i}'},{'' if i % 5 == 0 else i * 0.5}" for i in range(40)
    ]
    (d / "items.csv").write_text("\n".join(lines) + "\n")
    objs = [
        json.dumps(
            {
                "id": i,
                "name": None if i % 7 == 0 else f"n{i}",
                "score": i * 0.5,
                "flag": i % 3 == 0,
                **({} if i % 4 else {"tags": [i, "t"]}),
            }
        )
        for i in range(40)
    ]
    (d / "events.jsonl").write_text("\n".join(objs[:20] + ["", "{not json", "[1]"] + objs[20:]) + "\n")
    return {"csv": str(d / "items.csv"), "jsonl": str(d / "events.jsonl")}


# case -> (connector from the files fixture, table, columns, qual strategy)
CASES = {
    "all_types": (lambda f: ChaosConnector(n_rows=100), "all_types", ALL_COLUMNS, qual_st),
    "dynamic": (
        lambda f: DynamicConnector(_DYNAMIC_CONFIG, n_rows=30),
        "t",
        ["x", "y", "z", "b", "ts"],
        st.one_of(
            _int_quals("x", -2, 32),
            st.tuples(st.just("y"), st.sampled_from(["prefix", "="]), st.sampled_from(["y_1", "y_", "y_29", "q"])),
            _float_quals("z", -1, 16),
            st.tuples(st.just("b"), st.just("="), st.booleans()),
            st.tuples(
                st.just("ts"),
                st.sampled_from(["<", ">="]),
                st.integers(0, 31).map(lambda d: _EPOCH + dt.timedelta(days=d)),
            ),
        ),
    ),
    "sharded": (
        lambda f: ShardedConnector(n_rows=60, n_shards=3),
        "metrics",
        ["id", "shard", "value"],
        st.one_of(_int_quals("id", -2, 62), _int_quals("shard", 0, 3), _float_quals("value", -1, 16)),
    ),
    "feed": (
        lambda f: FeedConnector('{"max_seq": 60}'),
        "ticks",
        ["seq", "ts", "value"],
        st.one_of(
            # seq-range quals also narrow what the feed generates
            _int_quals("seq", -2, 65),
            _float_quals("value", -1, 31),
            st.tuples(
                st.just("ts"),
                st.sampled_from(["<", ">="]),
                st.integers(0, 61).map(lambda m: _EPOCH + dt.timedelta(minutes=m)),
            ),
        ),
    ),
    "csv": (
        lambda f: CsvConnector(json.dumps({"paths": [f["csv"]]})),
        "items",
        ["id", "name", "score"],
        st.one_of(
            _int_quals("id", -2, 42),
            st.tuples(st.just("name"), st.sampled_from(["prefix", "="]), st.sampled_from(["n1", "n", "n39", "x"])),
            _null_quals("name"),
            _float_quals("score", -1, 21),
            _null_quals("score"),
        ),
    ),
    "jsonl": (
        lambda f: JsonlConnector(json.dumps({"paths": [f["jsonl"]]})),
        "events",
        ["id", "name", "score", "flag", "tags"],
        st.one_of(
            _int_quals("id", -2, 42),
            st.tuples(st.just("name"), st.just("prefix"), st.sampled_from(["n1", "n", "x"])),
            _float_quals("score", -1, 21),
            st.tuples(st.just("flag"), st.just("="), st.booleans()),
            _null_quals("tags"),
        ),
    ),
}


def _rows(batches):
    return pa.Table.from_batches(batches).to_pylist() if batches else []


@settings(max_examples=400, deadline=None)
@given(case=st.sampled_from(sorted(CASES)), data=st.data())
def test_pushdown_equals_scan_plus_refilter(files, case, data):
    """Every row producer, over every scan partition: the pushed scan ==
    its partition's full scan + Qual.matches + slice + projection."""
    make, table, all_columns, table_qual_st = CASES[case]
    quals = [Qual(c, op, v) for c, op, v in data.draw(st.lists(table_qual_st, max_size=3), "quals")]
    columns = data.draw(
        st.one_of(st.none(), st.lists(st.sampled_from(all_columns), min_size=1, max_size=5, unique=True)),
        "columns",
    )
    limit = data.draw(st.one_of(st.none(), st.integers(0, 120)), "limit")
    conn = make(files)

    for part in conn.partitions(table, quals):
        got = _rows(list(conn.execute(table, quals, columns, limit, part)))

        full = _rows(list(conn.execute(table, [], None, None, part)))
        expected = [r for r in full if all(q.matches(r.get(q.column)) for q in quals)]
        if limit is not None:
            expected = expected[:limit]
        proj = columns if columns else all_columns
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
