"""Host-wide rate limiting for connector API calls.

SURVEY §7.5.5: API rate limits × Spark parallelism need a throttle — a
plugin backed by a rate-limited API must not get hammered by 32 executor
threads at once.  The plugin SDK's limiter lives once in the plugin
process that serves the whole query; the analog here is one token bucket
per host, keyed by (connector class, config), whose state is a 24-byte
file that every driver, planner and Python-worker process on the host
reads and debits under an ``fcntl.flock``.  A new state file sweeps the
directory: every file that reads as a full bucket is deleted, because a
missing file reads as a full bucket too.

Connection-config keys (parsed once per connection into
``config.ConnectionOptions``, read by :meth:`Connector.throttle`, which a
connector calls once per upstream API request):
- ``rate_limit_rps``: sustained calls/second budget for this connection,
  **per host** — however many processes and tasks scan it.  On a
  multi-host cluster, size it as (api_budget / hosts).
- ``rate_limit_burst``: bucket capacity (default: max(rps, 1)) — short
  bursts up to this many calls pass without waiting.

Blocking happens in the executor's Python worker thread — Spark tasks
simply take longer, backpressuring the scan to the API's pace instead of
erroring.
"""

from __future__ import annotations

import fcntl
import hashlib
import math
import os
import struct
import tempfile
import time

# (tokens, last refill time.monotonic(), time the bucket is full again);
# CLOCK_MONOTONIC is system-wide on Linux, so every process on the host
# reads the same clock.  The third field lets a process that does not
# know a file's rate tell that the file reads as a full bucket.
_STATE = struct.Struct("<ddd")


def _read(fd: int, now: float) -> tuple[float, float] | None:
    """(tokens, last) from the state file, or None when it reads as a full
    bucket: short or garbled, stamped later than ``now`` (a reboot
    restarts the clock), or refilled by ``now``."""
    raw = os.pread(fd, _STATE.size, 0)
    if len(raw) != _STATE.size:
        return None
    tokens, last, full_at = _STATE.unpack(raw)
    if not (0.0 <= tokens < math.inf and 0.0 <= last <= now and full_at > now):
        return None
    return tokens, last


def _prune(state_dir: str) -> None:
    """Delete every state file in ``state_dir`` that reads as a full
    bucket.  That changes no admission decision, since a missing file
    reads as a full bucket too.  A file whose lock another process holds
    is in use and is skipped, so a prune never waits."""
    for name in os.listdir(state_dir):
        path = os.path.join(state_dir, name)
        try:
            fd = os.open(path, os.O_RDWR)
        except OSError:
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            # unlink only under the lock and only the inode we hold, so a
            # debit never races the check
            if os.path.samestat(os.fstat(fd), os.stat(path)) and (
                _read(fd, time.monotonic()) is None
            ):
                os.unlink(path)
        except OSError:  # locked by a debit, or already pruned
            pass
        finally:
            os.close(fd)


class TokenBucket:
    """Token bucket whose state lives in the file ``path``: ``acquire()``
    blocks until a token is available at the configured refill rate.
    Every thread and process holding a bucket over the same file draws
    from one budget."""

    def __init__(self, rate_per_s: float, burst: float | None, path: str):
        if rate_per_s <= 0:
            raise ValueError("rate_per_s must be positive")
        self.rate = float(rate_per_s)
        self.capacity = float(burst) if burst else max(self.rate, 1.0)
        self.path = path

    def _open(self) -> int:
        try:
            return os.open(self.path, os.O_RDWR | os.O_CREAT, 0o600)
        except FileNotFoundError:
            os.makedirs(os.path.dirname(self.path), mode=0o700, exist_ok=True)
            return os.open(self.path, os.O_RDWR | os.O_CREAT, 0o600)

    def _lock(self) -> int:
        """An fd on the state file, exclusively locked.  A prune may delete
        the file between this process's open and its lock; then the fd
        names an unlinked inode, a second budget, so open the path again."""
        while True:
            fd = self._open()
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                if os.path.samestat(os.fstat(fd), os.stat(self.path)):
                    return fd
            except FileNotFoundError:
                pass
            os.close(fd)

    def _debit(self, n: float) -> float:
        """Refill, then take ``n`` tokens if they are there; returns the
        seconds until they would be (0.0 when taken).  The first debit on
        a new state file prunes the directory."""
        fd = self._lock()
        try:
            now = time.monotonic()
            new = os.fstat(fd).st_size == 0
            tokens, last = _read(fd, now) or (self.capacity, now)
            tokens = min(self.capacity, tokens + (now - last) * self.rate)
            if tokens >= n:
                tokens -= n
                need = 0.0
            else:
                need = (n - tokens) / self.rate
            full_at = now + (self.capacity - tokens) / self.rate
            os.pwrite(fd, _STATE.pack(tokens, now, full_at), 0)
        finally:
            os.close(fd)  # releases the lock
        if new:
            _prune(os.path.dirname(self.path))
        return need

    def acquire(self, n: float = 1.0) -> float:
        """Block until ``n`` tokens are available; returns seconds waited.
        Raises ``ValueError`` when ``n`` exceeds the bucket's capacity,
        which no wait could fill."""
        if n > self.capacity:
            raise ValueError(
                f"cannot acquire {n} tokens from a bucket of capacity {self.capacity}"
            )
        waited = 0.0
        while need := self._debit(n):
            time.sleep(need)
            waited += need
        return waited


def bucket_for(key: tuple, rate_per_s: float, burst: float | None = None) -> TokenBucket:
    """The host-wide bucket for ``key``: every thread and process that
    asks for the same (connector, config) key shares one budget."""
    digest = hashlib.sha256(repr(key).encode()).hexdigest()[:32]
    state_dir = os.path.join(tempfile.gettempdir(), f"sparktap-ratelimit-{os.getuid()}")
    return TokenBucket(rate_per_s, burst, os.path.join(state_dir, digest))
