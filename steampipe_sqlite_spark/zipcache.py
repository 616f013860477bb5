"""Stat-checked ``zipimport.zipimporter.invalidate_caches`` for Python < 3.13.

Why the package replaces a stdlib method: PySpark's worker setup
(``pyspark.worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()`` on every task, and again in every planner
call of a Python ``DataSource`` (``create_data_source``,
``data_source_pushdown_filters``, ``plan_data_source_read``). On CPython
3.11 and 3.12, ``zipimporter.invalidate_caches`` re-reads the archive's whole
zip directory, once per importer instance. A Spark 4.1 Python worker holds 16
or 17 of them: 12 or 13 on ``pyspark.zip`` (1,328 entries, 11 ms a read), 2 on
the ``spark-core`` jar that Spark always puts on the worker path (5,359
entries, no ``.py`` file, 38 ms a read) and 2 on py4j. On CPython 3.11.7 one
``invalidate_caches()`` took 0.24-0.28 s of CPU in a worker (0.0001-0.0002 s
with this module), against about 0.02 s of connector work per scan task, so
on the perfbench ``bridge`` workload ``exec.pyworker_cpu_s_per_op`` read
1.88-1.96 s per op (0.30-0.32 s with this module).

The replacement re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken at its last
read, or when the shared ``_zip_directory_cache`` no longer holds it.
Otherwise it points the importer at the cached directory, which is what a
re-read of the unchanged archive would return. A changed, missing or never
stamped archive goes through the stock method, so a rewritten zip is still
picked up and a deleted one still leaves ``_files == {}``.

CPython 3.13 made the stock method lazy (it only drops the cache entry), so
``install`` does nothing there. Delete this module once the engine requires
Python >= 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Replace ``zipimporter.invalidate_caches``; does nothing on 3.13+."""
    if sys.version_info >= (3, 13):
        return
    stock = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        # stat before the read: a change during the read re-reads next time
        stamp = _stat(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None and stamps.get(self.archive) == stamp:
            self._files = cached
            return
        stock(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
