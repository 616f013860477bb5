"""Paged-HTTP connector e2e (VERDICT r12 #5): the cloud-API access
pattern — opaque page tokens, per-page throttle, injectable 429s —
driven through ratelimit + retry + cache under real executor
parallelism, with exact call accounting from the connector's
atomic-append call log.

The reference's cursor streams from the plugin SDK's paged Execute
(/root/reference/cursor.go:39-59); these tests prove the bridge speaks
that protocol shape: total connector calls == pages x partitions, the
retry replay arithmetic is exact, the throttle bounds the host's
request rate across Python workers, and a partition_id qual prunes whole
token chains at the API level."""

import dataclasses
import json
import os

import pytest

from steampipe_sqlite_spark.engine import Engine
from steampipe_sqlite_spark.sources.connector import Schema
from steampipe_sqlite_spark.sources.pagedhttp import (
    PagedHttpConnector,
    _parse_token,
    _token,
)

PAGED = "steampipe_sqlite_spark.sources.pagedhttp:PagedHttpConnector"


def _log(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _reader(conn, quals=(), options=None):
    from steampipe_sqlite_spark.sources import datasource as ds

    ds._SCAN_CACHE.clear()
    table = conn.get_schema().table("items")
    r = ds.ConnectorReader(conn, table, options or {})
    r.quals = list(quals)
    return r


class TestTokenChain:
    def test_token_roundtrip_and_tamper_detection(self):
        assert _parse_token(_token(3, 7)) == (3, 7)
        with pytest.raises(ValueError, match="invalid page token"):
            _parse_token("3:8:deadbeef")  # fabricated continuation

    def test_field_mask_skips_unrequested_payload_synthesis(self):
        """Server-side field mask (optimization r14): a projected execute
        must not synthesize the expensive payload fields (item_id
        f-string, value round) it was not asked for, while a masked
        fetch's values stay bit-identical to the unmasked fetch's for
        the fields it does return."""
        con = PagedHttpConnector(json.dumps({"n_partitions": 1, "n_pages": 1, "page_size": 4}))
        full_rows, _ = con._fetch_page(0, None)
        masked_rows, _ = con._fetch_page(0, None, {"seq", "partition_id", "page"})
        assert set(masked_rows[0]) == {"seq", "partition_id", "page"}
        for fr, mr in zip(full_rows, masked_rows):
            assert {k: fr[k] for k in mr} == mr
        # qual columns ride the mask even when not projected (advisory
        # page filtering reads them from the row dicts)
        val_rows, _ = con._fetch_page(0, None, {"seq", "value"})
        assert set(val_rows[0]) == {"seq", "partition_id", "page", "value"}
        assert [r["value"] for r in val_rows] == [r["value"] for r in full_rows]
        # end-to-end: a projected execute's batches carry only the
        # requested columns, values identical to the unprojected scan
        batches = list(con.execute("items", [], ["seq", "page"], None))
        assert batches[0].schema.names == ["seq", "page"]
        full = list(con.execute("items", [], None, None))
        assert batches[0].column("seq").to_pylist() == full[0].column("seq").to_pylist()

    def test_spark_scan_calls_equal_pages_times_partitions(self, spark, tmp_path):
        """The headline contract: a full parallel scan walks every
        partition's token chain exactly once — total fetches ==
        pages x partitions, each page fetched on attempt 1, pages
        sequential per chain (a token chain cannot be skipped into)."""
        log = str(tmp_path / "calls.jsonl")
        eng = Engine(spark)
        eng.load(PAGED)
        eng.configure(
            "paged",
            json.dumps(
                {
                    "n_partitions": 4,
                    "n_pages": 5,
                    "page_size": 20,
                    "call_log": log,
                }
            ),
        )
        row = eng.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT item_id) AS d, "
            "COUNT(DISTINCT partition_id) AS p FROM paged_items"
        ).first()
        assert (row.n, row.d, row.p) == (4 * 5 * 20, 4 * 5 * 20, 4)
        calls = _log(log)
        assert len(calls) == 4 * 5, "total connector calls != pages x partitions"
        assert all(c["attempt"] == 1 for c in calls)
        for part in range(4):
            chain = [c["page"] for c in calls if c["partition"] == part]
            assert chain == [0, 1, 2, 3, 4], f"partition {part} chain {chain}"

    def test_429_retry_replay_arithmetic_is_exact(self, spark, tmp_path):
        """First fetch of (partition 1, page 2) raises 429; the
        whole-scan retry (SDK RetryHydrate shape) replays that chain
        from page 0.  Exact accounting: partition 1 logs pages [0,1,2]
        then [0,1,2,3,4] = 8 fetches; the other three chains log 5
        each; rows are complete and unduplicated."""
        log = str(tmp_path / "calls.jsonl")
        eng = Engine(spark)
        eng.load(PAGED)
        eng.configure(
            "paged",
            json.dumps(
                {
                    "n_partitions": 4,
                    "n_pages": 5,
                    "page_size": 10,
                    "call_log": log,
                    "fail_page_fetches": [[1, 2]],
                    "retry_attempts": 2,
                    "retry_min_backoff_ms": 1,
                }
            ),
        )
        row = eng.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT item_id) AS d FROM paged_items"
        ).first()
        assert (row.n, row.d) == (200, 200)  # complete, no duplicates
        calls = _log(log)
        assert len(calls) == 3 * 5 + 8
        p1 = [c["page"] for c in calls if c["partition"] == 1]
        assert sorted(p1) == [0, 0, 1, 1, 2, 2, 3, 4]
        failed = [c for c in calls if c["partition"] == 1 and c["page"] == 2]
        assert [c["attempt"] for c in failed] == [1, 2]  # 429 then success

    def test_partition_qual_prunes_whole_token_chains(self, spark, tmp_path):
        """WHERE partition_id = 2 must reach partitions() and prune the
        other chains BEFORE any fetch — the API-level analog of region
        pruning: 5 calls, all partition 2."""
        log = str(tmp_path / "calls.jsonl")
        eng = Engine(spark)
        eng.load(PAGED)
        eng.configure(
            "paged",
            json.dumps(
                {
                    "n_partitions": 4,
                    "n_pages": 5,
                    "page_size": 10,
                    "call_log": log,
                }
            ),
        )
        rows = eng.sql(
            "SELECT COUNT(*) AS n FROM paged_items WHERE partition_id = 2"
        ).first()
        assert rows.n == 50
        calls = _log(log)
        assert len(calls) == 5
        assert {c["partition"] for c in calls} == {2}


class TestThrottleAndCache:
    def test_throttle_bounds_per_process_page_rate(self):
        """rate_limit_rps spaces the page fetches: 6 pages at 50 rps
        with burst 1 must take >= 5/50 s of bucket waiting.  Driven at
        the reader level, in one process; the budget is per host, so
        test_sql_scan_holds_host_budget checks it across Spark's Python
        workers."""
        import time as _t

        conn = PagedHttpConnector(
            json.dumps(
                {
                    "n_partitions": 1,
                    "n_pages": 6,
                    "page_size": 5,
                    "rate_limit_rps": 50,
                    "rate_limit_burst": 1,
                }
            )
        )
        r = _reader(conn)
        t0 = _t.perf_counter()
        rows = [x for b in r.read(r.partitions()[0]) for x in b.to_pylist()]
        elapsed = _t.perf_counter() - t0
        assert len(rows) == 30
        # 6 page debits, burst 1 -> >= 5 waits of 20 ms after the first
        assert elapsed >= 0.8 * 6 / 50, f"throttle not honored: {elapsed:.3f}s"

    def test_scan_debits_one_token_per_page(self, tmp_path, monkeypatch):
        """Tokens equal API calls: the reader adds no debit of its own, so
        a 5-page scan takes exactly as many tokens as the call log has
        page fetches."""
        from steampipe_sqlite_spark.sources.ratelimit import TokenBucket

        acquired = []
        real_acquire = TokenBucket.acquire

        def counting_acquire(bucket, n=1.0):
            acquired.append(n)
            return real_acquire(bucket, n)

        monkeypatch.setattr(TokenBucket, "acquire", counting_acquire)
        log = str(tmp_path / "calls.jsonl")
        conn = PagedHttpConnector(
            json.dumps(
                {
                    "n_partitions": 1,
                    "n_pages": 5,
                    "page_size": 4,
                    "rate_limit_rps": 1000,
                    "call_log": log,
                }
            )
        )
        r = _reader(conn)
        rows = [x for b in r.read(r.partitions()[0]) for x in b.to_pylist()]
        assert len(rows) == 20
        assert len(_log(log)) == 5
        assert sum(acquired) == len(acquired) == 5

    def test_concurrent_partitionless_scans_share_one_budget(self):
        """VERDICT r13 #4: partitionless calls (streaming cursors, direct
        execute) of ONE connection all draw from ONE shared full-rps
        bucket — N concurrent partitionless scans stay at rps COMBINED,
        they do not each take the full budget."""
        import threading
        import time as _t

        cfg = {
            "n_partitions": 1,
            "n_pages": 2,
            "page_size": 5,
            "rate_limit_rps": 50,
            "rate_limit_burst": 1,
        }
        # two instances of one connection config: one bucket, keyed by
        # (connector class, config string)
        conn_a = PagedHttpConnector(json.dumps({**cfg, "tag": "shared-budget"}))
        conn_b = PagedHttpConnector(json.dumps({**cfg, "tag": "shared-budget"}))

        def drain(c):
            for _ in range(5):
                c.throttle()

        t0 = _t.perf_counter()
        threads = [
            threading.Thread(target=drain, args=(c,)) for c in (conn_a, conn_b)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = _t.perf_counter() - t0
        # 10 debits total, burst 1 -> >= 9 refills @ 50/s = 0.18 s; two
        # INDEPENDENT buckets would finish in ~4 refills' time each
        # (0.08 s) running concurrently
        assert elapsed >= 0.8 * 9 / 50, (
            f"partitionless scans must share one budget: {elapsed:.3f}s"
        )

    def test_sql_scan_holds_host_budget(self, spark, tmp_path):
        """An Engine.sql scan of 8 token chains runs its pages in several
        Python workers at once; they all draw from the connection's one
        host-wide bucket.  Replayed as tools/paged_scan_probe.py does:
        the calls beyond the burst, over the scan's wall time, stay
        within rps.  Per-worker buckets would each grant the full rps."""
        self._assert_host_budget(spark, tmp_path, chains=8, pages=10)

    def test_sql_scan_holds_host_budget_chains_above_slots(self, spark, tmp_path):
        """Three chains per task slot: each task walks its chains on
        threads, and the threads of every task still share the one
        host-wide bucket, so the same rps bound holds."""
        chains = 3 * spark.sparkContext.defaultParallelism
        self._assert_host_budget(spark, tmp_path, chains=chains, pages=4)

    @staticmethod
    def _assert_host_budget(spark, tmp_path, chains, pages):
        import time as _t

        rps, burst = 50, 1
        log = str(tmp_path / "calls.jsonl")
        cfg = {"n_partitions": chains, "n_pages": 1, "page_size": 5, "cache": False}
        eng = Engine(spark)
        eng.load(PAGED)
        # unthrottled warm-up: start the Python workers before timing
        eng.configure("paged", json.dumps(cfg))
        assert eng.sql("SELECT COUNT(*) AS n FROM paged_items").first().n == 5 * chains
        eng.configure(
            "paged",
            json.dumps(
                {
                    **cfg,
                    "n_pages": pages,
                    "call_log": log,
                    "rate_limit_rps": rps,
                    "rate_limit_burst": burst,
                }
            ),
        )
        t0 = _t.perf_counter()
        n = eng.sql("SELECT COUNT(*) AS n FROM paged_items").first().n
        wall = _t.perf_counter() - t0
        calls = len(_log(log))
        assert (n, calls) == (5 * chains * pages, chains * pages)
        assert (calls - burst) / wall <= 1.05 * rps, (
            f"{calls} calls in {wall:.3f}s exceed {rps} rps"
        )

    def test_scan_cache_absorbs_identical_rescan(self, tmp_path):
        """Second identical scan in the same process must be served from
        the result cache: zero new page fetches in the call log."""
        log = str(tmp_path / "calls.jsonl")
        conn = PagedHttpConnector(
            json.dumps(
                {
                    "n_partitions": 1,
                    "n_pages": 4,
                    "page_size": 5,
                    "call_log": log,
                }
            )
        )
        r = _reader(conn)
        first = [x for b in r.read(r.partitions()[0]) for x in b.to_pylist()]
        assert len(_log(log)) == 4
        again = [x for b in r.read(r.partitions()[0]) for x in b.to_pylist()]
        assert again == first
        assert len(_log(log)) == 4, "cached rescan refetched pages"

    def test_paged_table_tails_as_a_stream(self, spark):
        """The streaming face of the bridge composes with the paged
        protocol unchanged: tailing paged_items by seq ranges walks the
        token chains per micro-batch (quals applied advisorily, the
        engine's offset window restores exactness) and the exhausted
        feed terminates processAllAvailable — every row exactly once."""
        eng = Engine(spark)
        eng.load(
            PAGED,
            config=json.dumps(
                {"n_partitions": 2, "n_pages": 3, "page_size": 10}
            ),
        )
        stream = eng.stream("paged", "items", batch_rows=25)
        assert stream.isStreaming
        q = (
            stream.writeStream.format("memory")
            .queryName("paged_stream_out")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.table("paged_stream_out").collect()
        assert len(rows) == 60
        assert {r.seq for r in rows} == set(range(60))

    def test_latency_is_paid_per_page(self):
        """page_latency_ms models the network RTT: 5 pages at 40 ms must
        take >= 0.16 s (scheduling slack aside) — the knob future probes
        use to emulate slow APIs."""
        import time as _t

        conn = PagedHttpConnector(
            json.dumps(
                {"n_partitions": 1, "n_pages": 5, "page_size": 2,
                 "page_latency_ms": 40}
            )
        )
        r = _reader(conn)
        t0 = _t.perf_counter()
        list(r.read(r.partitions()[0]))
        assert _t.perf_counter() - t0 >= 0.8 * 5 * 0.040


def _twin(chains, pages, page_size):
    """The rows the connector serves, computed from its arithmetic."""
    return sorted(
        (
            (p * pages + pg) * page_size + i,
            p,
            pg,
            f"item-{p}-{pg}-{i}",
            round((p + 1) * 100 + pg + i / 1000.0, 3),
        )
        for p in range(chains)
        for pg in range(pages)
        for i in range(page_size)
    )


class TestGroupedScan:
    """A scan deals its token chains into at most one Spark task per slot,
    and each task walks its chains concurrently on threads."""

    def test_partitions_group_round_robin_under_the_cap(self):
        from steampipe_sqlite_spark.sources.datasource import MAX_CHAINS_PER_TASK

        def groups(chains, slots):
            conn = PagedHttpConnector(json.dumps({"n_partitions": chains}))
            opts = {"slots": str(slots)} if slots else {}
            r = _reader(conn, options=opts)
            return [[c.index for c in g.chains] for g in r.partitions()]

        assert groups(10, 4) == [[0, 4, 8], [1, 5, 9], [2, 6], [3, 7]]
        assert groups(3, 8) == [[0], [1], [2]]
        assert groups(5, None) == [[0], [1], [2], [3], [4]]
        many = groups(100, 4)
        assert len(many) == -(-100 // MAX_CHAINS_PER_TASK)
        assert max(map(len, many)) <= MAX_CHAINS_PER_TASK
        assert sorted(c for g in many for c in g) == list(range(100))

    def test_chains_above_slots_scan_in_slot_tasks_concurrently(self, spark, tmp_path):
        """3 x defaultParallelism chains scan in defaultParallelism Spark
        partitions, return the twin's rows exactly once, and every chain
        fetches its first page before any chain fetches its last."""
        slots = spark.sparkContext.defaultParallelism
        chains, pages, size = 3 * slots, 3, 7
        log = str(tmp_path / "calls.jsonl")
        eng = Engine(spark)
        eng.load(PAGED)
        cfg = {"n_partitions": chains, "n_pages": 1, "page_size": 1, "cache": False}
        eng.configure("paged", json.dumps(cfg))
        eng.sql("SELECT COUNT(*) FROM paged_items").collect()  # start the workers
        eng.configure(
            "paged",
            json.dumps(
                {
                    **cfg,
                    "n_pages": pages,
                    "page_size": size,
                    "page_latency_ms": 100,
                    "call_log": log,
                }
            ),
        )
        df = eng.table("paged", "items")
        assert df.rdd.getNumPartitions() == slots
        rows = sorted(tuple(r) for r in df.collect())
        assert rows == _twin(chains, pages, size)
        calls = _log(log)
        assert len(calls) == chains * pages
        first = max(c["ts"] for c in calls if c["page"] == 0)
        last = min(c["ts"] for c in calls if c["page"] == pages - 1)
        assert first < last, "a chain finished before another one started"

    def test_429_on_one_chain_replays_only_that_chain(self, spark, tmp_path):
        """One chain of a three-chain task fails its first fetch with a
        429: its whole-scan retry replays that one fetch, the chains
        beside it in the same task fetch each page once, and the rows
        come back exactly once."""
        slots = spark.sparkContext.defaultParallelism
        chains, pages, size = 3 * slots, 4, 10
        log = str(tmp_path / "calls.jsonl")
        eng = Engine(spark)
        eng.load(PAGED)
        eng.configure(
            "paged",
            json.dumps(
                {
                    "n_partitions": chains,
                    "n_pages": pages,
                    "page_size": size,
                    "call_log": log,
                    "fail_page_fetches": [[1, 0]],
                    "retry_attempts": 2,
                    "retry_min_backoff_ms": 1,
                }
            ),
        )
        row = eng.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT item_id) AS d FROM paged_items"
        ).first()
        assert (row.n, row.d) == (chains * pages * size,) * 2
        calls = _log(log)
        assert len(calls) == pages * chains + 1
        replayed = [(c["partition"], c["page"]) for c in calls if c["attempt"] > 1]
        assert replayed == [(1, 0)]
        for part in range(chains):
            chain = [c["page"] for c in calls if c["partition"] == part]
            assert chain == ([0] if part == 1 else []) + list(range(pages))

    def test_chain_threads_share_the_scan_cache_under_stress(self):
        """Two tasks' worth of chains (16 threads) read concurrently with
        a tiny switch interval, twice: the first pass fills the shared
        process cache, the second is served from it, and both return
        every row exactly once."""
        import sys
        import threading

        from steampipe_sqlite_spark.sources import datasource as ds

        chains, pages, size = 2 * 8, 3, 50
        conn = PagedHttpConnector(
            json.dumps({"n_partitions": chains, "n_pages": pages, "page_size": size})
        )
        r = _reader(conn, options={"slots": "1"})
        groups = r.partitions()
        assert [len(g.chains) for g in groups] == [8, 8]
        passes: list[list[int]] = []
        ds._SCAN_CACHE.clear()

        def scan_pass() -> None:
            seqs: list[int] = []

            def task(group):
                seqs.extend(x for b in r.read(group) for x in b.column("seq").to_pylist())

            tasks = [threading.Thread(target=task, args=(g,)) for g in groups]
            for t in tasks:
                t.start()
            for t in tasks:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in tasks)
            passes.append(sorted(seqs))

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            scan_pass()
            scan_pass()
        finally:
            sys.setswitchinterval(interval)
        assert passes == [list(range(chains * pages * size))] * 2
        assert (ds._SCAN_CACHE.hits, ds._SCAN_CACHE.misses) == (chains, chains)
        ds._SCAN_CACHE.clear()

    def test_closing_a_group_read_stops_its_chains(self, tmp_path):
        """Closing read() after its first batch (a satisfied LIMIT) stops
        every chain at its next batch and joins its thread."""
        import threading

        log = str(tmp_path / "calls.jsonl")
        chains, pages = 4, 20
        conn = PagedHttpConnector(
            json.dumps(
                {
                    "n_partitions": chains,
                    "n_pages": pages,
                    "page_size": 5000,  # one batch per page
                    "page_latency_ms": 20,
                    "call_log": log,
                }
            )
        )
        r = _reader(conn, options={"slots": "1"})
        (group,) = r.partitions()
        batches = r.read(group)
        assert next(batches).num_rows == 5000
        batches.close()
        alive = [t.name for t in threading.enumerate() if t.name.startswith("sparktap-chain-")]
        assert alive == []
        fetched = len(_log(log))
        assert fetched < chains * pages

    def test_limit_query_over_grouped_scan_returns_and_stops(self, spark, tmp_path):
        """A LIMIT over a grouped scan returns its rows and leaves no chain
        walking: the call log stops growing once the query is back."""
        import time as _t

        slots = spark.sparkContext.defaultParallelism
        chains, pages = 3 * slots, 20
        log = str(tmp_path / "calls.jsonl")
        eng = Engine(spark)
        eng.load(PAGED)
        eng.configure(
            "paged",
            json.dumps(
                {
                    "n_partitions": chains,
                    "n_pages": pages,
                    "page_size": 5000,
                    "page_latency_ms": 20,
                    "cache": False,
                    "call_log": log,
                }
            ),
        )
        rows = eng.sql("SELECT seq FROM paged_items LIMIT 5").collect()
        assert len(rows) == 5
        _t.sleep(0.5)
        settled = len(_log(log))
        _t.sleep(0.5)
        assert len(_log(log)) == settled, "chains kept walking after LIMIT"
        assert settled < chains * pages


class WidePagedConnector(PagedHttpConnector):
    """The paged connector with its ``items`` table repeated 200 times
    (``items0`` .. ``items199``): a cloud plugin's table count."""

    name = "wide"

    def get_schema(self) -> Schema:
        (items,) = super().get_schema().tables
        return Schema(tuple(dataclasses.replace(items, name=f"items{i}") for i in range(200)))


class TestPerReferenceBinding:
    """Engine.sql binds every connector-table reference of a statement to
    its own scan.  Each case runs the same references once inside one
    statement and once as separate statements and asserts equal collects:
    a relation shared by two references would give both one reader's
    quals."""

    @pytest.fixture()
    def paged(self, spark, tmp_path):
        eng = Engine(spark)
        eng.load(PAGED, alias="p")
        log = str(tmp_path / "calls.jsonl")
        cfg = {"n_partitions": 8, "n_pages": 1, "page_size": 20, "cache": False, "call_log": log}
        eng.configure("p", json.dumps(cfg))
        return eng, log

    def test_scalar_subqueries_read_their_own_quals(self, paged):
        eng, _ = paged
        counts = [
            "SELECT COUNT(*) FROM p_items WHERE partition_id = 3",
            "SELECT COUNT(*) FROM p_items WHERE partition_id IN (1, 6)",
            "SELECT COUNT(*) FROM p_items",
        ]
        one = eng.sql("SELECT " + ", ".join(f"({q})" for q in counts)).collect()
        separate = [eng.sql(q).first()[0] for q in counts]
        assert list(one[0]) == separate == [20, 40, 160]

    def test_union_all_reads_both_partitions(self, paged):
        eng, _ = paged
        parts = [
            f"SELECT partition_id, COUNT(*) AS n FROM p_items WHERE partition_id = {p} GROUP BY partition_id"
            for p in (3, 5)
        ]
        one = sorted(eng.sql(" UNION ALL ".join(parts)).collect())
        separate = sorted(r for q in parts for r in eng.sql(q).collect())
        assert one == separate == [(3, 20), (5, 20)]

    def test_unfiltered_statement_after_a_filtered_one_reads_every_partition(self, paged):
        eng, log = paged
        assert eng.sql("SELECT COUNT(*) FROM p_items WHERE partition_id = 3").first()[0] == 20
        assert [c["partition"] for c in _log(log)] == [3]
        assert eng.sql("SELECT COUNT(*) FROM p_items").first()[0] == 160
        assert sorted(c["partition"] for c in _log(log)[1:]) == list(range(8))

    @pytest.mark.parametrize(
        "query, expected",
        [
            # columns qualified by the table's name
            ("SELECT COUNT(p_items.seq) FROM p_items WHERE p_items.partition_id = 3", 20),
            # the alias goes after TABLESAMPLE
            ("SELECT COUNT(*) FROM p_items TABLESAMPLE (100 PERCENT) WHERE partition_id = 3", 20),
            # a WITH name shadows the connector table
            ("WITH p_items AS (SELECT 1 AS seq) SELECT COUNT(*) FROM p_items", 1),
            # spans index the statement after ${var} substitution
            ("SELECT COUNT(*), '${spark.app.name}' FROM p_items WHERE partition_id = 3", 20),
        ],
    )
    def test_statement_shapes_bind(self, paged, query, expected):
        eng, _ = paged
        assert eng.sql(query).first()[0] == expected

    def test_explain_binds_its_statement(self, paged):
        eng, _ = paged
        plan = eng.sql("EXPLAIN SELECT COUNT(*) FROM p_items WHERE partition_id = 3").first()[0]
        assert "Physical Plan" in plan and "Error" not in plan

    def test_subquery_without_required_qual_raises(self, spark):
        eng = Engine(spark)
        eng.load("steampipe_sqlite_spark.sources.chaos:ChaosConnector")
        keyed = "SELECT COUNT(*) FROM chaos_keyed"
        assert eng.sql(keyed + " WHERE tenant = 't1'").first()[0] == 100
        with pytest.raises(Exception, match="requires qualifier.*'tenant'"):
            eng.sql(keyed).collect()
        with pytest.raises(Exception, match="requires qualifier.*'tenant'"):
            eng.sql(f"SELECT ({keyed} WHERE tenant = 't1'), ({keyed})").collect()

    def test_binds_only_the_referenced_tables(self, spark, monkeypatch):
        eng = Engine(spark)
        cfg = '{"n_partitions": 2, "n_pages": 1, "page_size": 5}'
        eng.load("tests.test_pagedhttp_connector:WidePagedConnector", config=cfg)
        before = {t.name for t in spark.catalog.listTables()}
        assert "wide_items7" not in before
        bound = []
        table = eng.table
        monkeypatch.setattr(eng, "table", lambda *a, **kw: bound.append(a) or table(*a, **kw))

        assert eng.sql("SELECT COUNT(*) FROM wide_items7").first()[0] == 10
        assert bound == [("wide", "items7")]
        bound.clear()
        rows = eng.sql(
            "SELECT a.seq FROM wide_items0 a JOIN wide_items0 b ON a.seq = b.seq WHERE b.partition_id = 1"
        ).collect()
        assert sorted(r.seq for r in rows) == [5, 6, 7, 8, 9]
        assert bound == [("wide", "items0")] * 2
        with pytest.raises(Exception, match="nope"):
            eng.sql("SELECT nope FROM wide_items3")
        assert {t.name for t in spark.catalog.listTables()} == before
