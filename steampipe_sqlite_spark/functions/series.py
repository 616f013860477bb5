"""``generate_series`` as a SQL-callable table-valued function.

The reference's SQLite builds ship the series extension, so
``SELECT value FROM generate_series(1, 10, 2)`` works in any query
(SQLite docs; the engine's inherited-SQL surface, SURVEY §2.3 TVF row).
Spark covers the semantics natively via ``explode(sequence(...))`` (corpus
query tvf_sequence_explode), but the *callable* form is a dialect gap —
closed here with a Python UDTF registered under the same name.

A Python UDTF is the slow path; this is a dialect shim for small series
(the reference's own use is LIMIT-bounded ranges), not a scan operator —
bulk ranges should use ``sequence()``/``range()`` which stay JVM-side.

SQLite semantics implemented: inclusive stop; step defaults to 1; a
negative step counts down; step 0 is an error (SQLite: "step size must
not be zero").  Column name is ``value`` as in the extension.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


class GenerateSeriesUDTF:
    """SQLite-series contract; rows are (value: long)."""

    def eval(self, start: int, stop: int, step: int = 1):  # noqa: D102
        if start is None or stop is None or step is None:
            return
        if step == 0:
            raise ValueError("generate_series: step size must not be zero")
        v = int(start)
        stop = int(stop)
        step = int(step)
        if step > 0:
            while v <= stop:
                yield (v,)
                v += step
        else:
            while v >= stop:
                yield (v,)
                v += step


def generate_series_udtf():
    """Decorated UDTF class, built lazily (the decorator needs pyspark)."""
    from pyspark.sql.functions import udtf

    return udtf(GenerateSeriesUDTF, returnType="value long")


import weakref

# Weakly keyed by the session object (as tables._session_state is): an
# id()-keyed memo can collide when a GC'd session's id is reused by a new
# live session, silently skipping registration there (ADVICE r3).
_REGISTERED: "weakref.WeakSet" = weakref.WeakSet()


def ensure_generate_series(spark: SparkSession) -> None:
    """Register the TVF once per session (memoized — registration is a
    py4j round-trip and callers invoke this per query)."""
    if spark in _REGISTERED and getattr(spark.sparkContext, "_jsc", None) is not None:
        return
    spark.udtf.register("generate_series", generate_series_udtf())
    _REGISTERED.add(spark)
