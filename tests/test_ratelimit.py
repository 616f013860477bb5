"""Rate limiting: the SURVEY §7.5.5 throttle — API budgets must hold even
when Spark fans a scan across many threads, partitions and processes."""

import fcntl
import json
import math
import multiprocessing
import os
import random
import struct
import sys
import threading
import time

import pytest

from steampipe_sqlite_spark.sources.chaos import ChaosConnector
from steampipe_sqlite_spark.sources.ratelimit import TokenBucket, bucket_for


def _debit_ten(config: str, barrier, times) -> None:
    """Spawned-process body: ten debits on the connection ``config``,
    started together with the sibling process; reports (first, last)."""
    c = ChaosConnector()
    c.set_config(config)
    barrier.wait()
    t0 = time.monotonic()
    for _ in range(10):
        c.throttle()
    times.put((t0, time.monotonic()))


class TestTokenBucket:
    def test_burst_passes_immediately(self, tmp_path):
        b = TokenBucket(rate_per_s=10, burst=5, path=str(tmp_path / "b"))
        t0 = time.monotonic()
        for _ in range(5):
            b.acquire()
        assert time.monotonic() - t0 < 0.05

    def test_sustained_rate_enforced(self, tmp_path):
        b = TokenBucket(rate_per_s=100, burst=1, path=str(tmp_path / "b"))
        t0 = time.monotonic()
        for _ in range(11):
            b.acquire()
        elapsed = time.monotonic() - t0
        assert elapsed >= 0.095  # 10 refills @ 100/s ≥ 0.1 s (timer slack)

    def test_threads_share_budget(self, tmp_path):
        b = TokenBucket(rate_per_s=200, burst=1, path=str(tmp_path / "b"))
        t0 = time.monotonic()
        threads = [threading.Thread(target=b.acquire) for _ in range(21)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in threads)
        assert time.monotonic() - t0 >= 0.095  # 20 refills @ 200/s

    def test_no_lost_debits_under_contention(self, tmp_path):
        """16 threads each take 50 tokens of a 1000-token bucket that
        barely refills: the state must end 800 lower.  A debit lost
        between another thread's read and write would leave more."""
        b = TokenBucket(rate_per_s=1e-6, burst=1000, path=str(tmp_path / "b"))

        def take():
            for _ in range(50):
                b.acquire()

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=take) for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        tokens, _ = struct.unpack_from("<dd", (tmp_path / "b").read_bytes())
        assert tokens == pytest.approx(200, abs=0.01)

    def test_rejects_nonpositive_rate(self, tmp_path):
        with pytest.raises(ValueError):
            TokenBucket(0, None, str(tmp_path / "b"))

    def test_debit_larger_than_capacity_raises(self, tmp_path):
        """A sub-1 burst can never hold one call's token: acquire must
        raise instead of sleeping forever."""
        with pytest.raises(ValueError, match="capacity"):
            TokenBucket(10, 0.5, str(tmp_path / "b")).acquire()
        with pytest.raises(ValueError, match="capacity"):
            TokenBucket(10, 2, str(tmp_path / "c")).acquire(3)

    @pytest.mark.parametrize(
        "state",
        [
            b"",
            b"\x01\x02\x03",  # torn: shorter than one record
            struct.pack("<dd", 0.0, 1.0),  # the 16-byte record of old versions
            struct.pack("<ddd", math.nan, 1.0, math.inf),
            struct.pack("<ddd", -5.0, 1.0, math.inf),
            struct.pack("<ddd", 0.0, math.inf, math.inf),
            struct.pack("<ddd", 0.0, 1.0, 2.0),  # refilled long ago
            struct.pack("<ddd", 0.0, time.monotonic() + 1e6, math.inf),  # after a reboot
        ],
    )
    def test_bad_state_file_reads_as_full_bucket(self, tmp_path, state):
        path = tmp_path / "b"
        path.write_bytes(state)
        b = TokenBucket(rate_per_s=10, burst=2, path=str(path))
        assert b.acquire() == 0.0 and b.acquire() == 0.0  # no sleep at all
        tokens, last = struct.unpack_from("<dd", path.read_bytes())
        assert 0.0 <= tokens <= b.capacity and 0.0 < last <= time.monotonic()

    def test_new_state_file_prunes_files_that_read_full(self, tmp_path):
        """The first debit on a new state file deletes the directory's files
        that read as a full bucket and keeps the rest."""
        refilled = TokenBucket(rate_per_s=1000, burst=1, path=str(tmp_path / "refilled"))
        refilled.acquire()
        busy = TokenBucket(rate_per_s=1e-6, burst=1, path=str(tmp_path / "busy"))
        busy.acquire()
        (tmp_path / "old").write_bytes(struct.pack("<dd", 0.0, 1.0))
        time.sleep(0.01)  # "refilled" is full again after 1 ms
        assert sorted(p.name for p in tmp_path.iterdir()) == ["busy", "old", "refilled"]
        TokenBucket(rate_per_s=10, burst=1, path=str(tmp_path / "new")).acquire()
        assert sorted(p.name for p in tmp_path.iterdir()) == ["busy", "new"]
        assert busy._debit(1) > 0  # "busy" kept its spent state

    def test_debit_racing_a_prune_stays_in_one_budget(self, tmp_path, monkeypatch):
        """A debit that opened the state file before a prune deleted it must
        not draw from the deleted inode: it reopens the path and shares the
        budget of the file a later debit created there."""
        from steampipe_sqlite_spark.sources import ratelimit

        path = str(tmp_path / "b")
        held = os.open(path, os.O_RDWR | os.O_CREAT)
        fcntl.flock(held, fcntl.LOCK_EX)  # the prune's lock on the old inode
        opened, real_flock = threading.Event(), fcntl.flock

        def flock(fd, op):
            if threading.current_thread() is racer:
                opened.set()
            return real_flock(fd, op)

        monkeypatch.setattr(ratelimit.fcntl, "flock", flock)
        waits = []
        racer = threading.Thread(
            target=lambda: waits.append(TokenBucket(2, 1, path).acquire())
        )
        racer.start()
        assert opened.wait(10)  # the racer holds an fd on the old inode
        os.unlink(path)  # the prune deletes the file it holds locked
        assert TokenBucket(2, 1, path).acquire() == 0.0  # a new file, its one token taken
        os.close(held)
        racer.join(timeout=10)
        assert not racer.is_alive()
        assert waits[0] > 0.25  # waited for the new file's refill (0.5 s)

    def test_debits_racing_prunes_stay_inside_one_budget(self, tmp_path):
        """16 threads debit one bucket (100/s, burst 1) with pauses long
        enough for it to refill, so it often reads full, while a thread
        prunes the directory without pause: the threads together are
        admitted no more than one budget allows."""
        from steampipe_sqlite_spark.sources.ratelimit import _prune

        b = TokenBucket(rate_per_s=100, burst=1, path=str(tmp_path / "b"))
        stop, admitted = threading.Event(), []

        def debit(seed):
            rng = random.Random(seed)
            while not stop.is_set():
                b.acquire()
                admitted.append(time.monotonic())
                time.sleep(rng.uniform(0, 0.2))

        def prune():
            while not stop.is_set():
                _prune(str(tmp_path))

        threads = [threading.Thread(target=debit, args=(i,)) for i in range(16)]
        threads.append(threading.Thread(target=prune))
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        t0 = time.monotonic()
        try:
            for t in threads:
                t.start()
            time.sleep(1.0)
            stop.set()
            for t in threads:
                t.join(timeout=10)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert len(admitted) <= 1 + 100 * (max(admitted) - t0) + 1e-6

    def test_registry_shares_by_key(self, tmp_path):
        """One key, one budget; another key, another budget."""
        key_a = ("m", "C", f"cfg-a-{tmp_path}")
        key_b = ("m", "C", f"cfg-b-{tmp_path}")
        b1 = bucket_for(key_a, 5, 1)
        b2 = bucket_for(key_a, 5, 1)
        b3 = bucket_for(key_b, 5, 1)
        assert b1.acquire() == 0.0
        assert b2.acquire() > 0.0  # b1 spent the shared token
        assert b3.acquire() == 0.0


class TestConnectorThrottle:
    def test_unconfigured_is_free(self):
        c = ChaosConnector()
        assert c.throttle() == 0.0

    def test_configured_rps_blocks(self):
        c = ChaosConnector()
        c.set_config('{"rate_limit_rps": 100, "rate_limit_burst": 1}')
        t0 = time.monotonic()
        for _ in range(6):
            c.throttle()
        assert time.monotonic() - t0 >= 0.045  # 5 refills @ 100/s

    def test_hcl_config_works_too(self):
        c = ChaosConnector()
        c.set_config("rate_limit_rps = 100\nrate_limit_burst = 1")
        c.throttle()
        waited = c.throttle()
        assert waited > 0.0

    def test_processes_on_one_host_share_one_budget(self, tmp_path):
        """Two spawned processes debit 10 each on one connection at 50 rps,
        burst 1: together they need >= 19 refills.  Per-process buckets
        would let each finish its own 9 refills concurrently."""
        ctx = multiprocessing.get_context("spawn")
        barrier, times = ctx.Barrier(2), ctx.Queue()
        config = json.dumps(
            {"rate_limit_rps": 50, "rate_limit_burst": 1, "tag": str(tmp_path)}
        )
        procs = [
            ctx.Process(target=_debit_ten, args=(config, barrier, times))
            for _ in range(2)
        ]
        for p in procs:
            p.start()
        spans = [times.get(timeout=60) for _ in procs]
        for p in procs:
            p.join(timeout=30)
        assert [p.exitcode for p in procs] == [0, 0]
        elapsed = max(t1 for _, t1 in spans) - min(t0 for t0, _ in spans)
        assert elapsed >= 0.8 * 19 / 50, f"processes did not share: {elapsed:.3f}s"


class TestRetry:
    """SDK RetryHydrate analog: whole-scan retry with exponential backoff,
    gated on the connector's retriable-error taxonomy."""

    def _reader(self, conn):
        from steampipe_sqlite_spark.sources import datasource as ds

        ds._SCAN_CACHE.clear()
        table = conn.get_schema().table("all_types")
        return ds.ConnectorReader(conn, table, {})

    def test_transient_failures_retried_to_success(self):
        class Flaky(ChaosConnector):
            calls = 0

            def execute(self, *a, **kw):
                Flaky.calls += 1
                if Flaky.calls <= 2:
                    raise ConnectionError("transient")
                yield from super().execute(*a, **kw)

        conn = Flaky()
        conn.set_config('{"retry_attempts": 3, "retry_min_backoff_ms": 1}')
        r = self._reader(conn)
        rows = [x for b in r.read(r.partitions()[0]) for x in b.to_pylist()]
        assert Flaky.calls == 3 and len(rows) > 0

    def test_non_retriable_error_raises_immediately(self):
        class Broken(ChaosConnector):
            calls = 0

            def execute(self, *a, **kw):
                Broken.calls += 1
                raise ValueError("logic bug")
                yield  # pragma: no cover

        conn = Broken()
        conn.set_config('{"retry_attempts": 5, "retry_min_backoff_ms": 1}')
        r = self._reader(conn)
        with pytest.raises(ValueError):
            list(r.read(r.partitions()[0]))
        assert Broken.calls == 1

    def test_attempts_exhausted_raises_last_error(self):
        class AlwaysDown(ChaosConnector):
            calls = 0

            def execute(self, *a, **kw):
                AlwaysDown.calls += 1
                raise TimeoutError("down")
                yield  # pragma: no cover

        conn = AlwaysDown()
        conn.set_config('{"retry_attempts": 2, "retry_min_backoff_ms": 1}')
        r = self._reader(conn)
        with pytest.raises(TimeoutError):
            list(r.read(r.partitions()[0]))
        assert AlwaysDown.calls == 3  # first + 2 retries

    def test_backoff_waits_between_attempts(self):
        class SlowFail(ChaosConnector):
            calls = 0

            def execute(self, *a, **kw):
                SlowFail.calls += 1
                if SlowFail.calls <= 2:
                    raise ConnectionError("x")
                yield from super().execute(*a, **kw)

        conn = SlowFail()
        conn.set_config('{"retry_attempts": 2, "retry_min_backoff_ms": 40}')
        r = self._reader(conn)
        t0 = time.monotonic()
        list(r.read(r.partitions()[0]))
        assert time.monotonic() - t0 >= 0.115  # 40 ms + 80 ms backoffs

    def test_no_retry_config_streams_unbuffered(self):
        conn = ChaosConnector()
        assert conn.options.retry is None

    def test_retries_still_apply_when_cache_disabled(self):
        """Caching and retries are orthogonal (reference SDK): cache=false
        must skip only the cache get/put, not the RetryHydrate backoff
        (ADVICE r3 — the cache-disabled branch used to bypass retry)."""

        class FlakyNoCache(ChaosConnector):
            calls = 0

            def execute(self, *a, **kw):
                FlakyNoCache.calls += 1
                if FlakyNoCache.calls <= 2:
                    raise ConnectionError("transient")
                yield from super().execute(*a, **kw)

        conn = FlakyNoCache()
        conn.set_config(
            '{"cache": false, "retry_attempts": 3, "retry_min_backoff_ms": 1}'
        )
        r = self._reader(conn)
        rows = [x for b in r.read(r.partitions()[0]) for x in b.to_pylist()]
        assert FlakyNoCache.calls == 3 and len(rows) > 0
        # and the scan really did bypass the cache: a second read hits the
        # connector again instead of being served from _SCAN_CACHE
        rows2 = [x for b in r.read(r.partitions()[0]) for x in b.to_pylist()]
        assert FlakyNoCache.calls == 4 and rows2 == rows
