"""Vector math over array<float> embedding columns — built-in expressions.

``F.zip_with`` + ``F.aggregate`` fold in strict left-to-right order in
double precision, which the DuckDB oracles mirror (CAST to DOUBLE[] before
list_inner_product); corpus queries additionally round to 4 decimals so the
hash compare is immune to any residual ULP difference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, sequential fold."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def dot_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`dot` — IDENTICAL fold order and casts, so
    plans built either way produce bit-equal doubles.  The string form
    exists because Column-chain construction costs one py4j round-trip per
    node (measured ~0.4 s per similarity query build); a single F.expr is
    one round-trip total.

    (Measured dead end, for the record: unrolling the fold into a flat
    ``a[0]*b[0] + …`` chain to get whole-stage codegen was ~2× SLOWER than
    the interpreted higher-order fold at 64 dims — per-pair HOF cost is
    ~5 µs and the per-job floor dominates; don't re-attempt.)
    """
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def normalize(a: Column) -> Column:
    """Unit-normalize an array<float> into array<double>."""
    from steampipe_sqlite_spark.functions.text import _let

    # bind the norm once per row: an aggregate fold referenced inside the
    # transform lambda would be re-evaluated per element (O(dim²)/vector)
    return _let(
        norm(a), lambda n: F.transform(a, lambda x: x.cast("double") / n)
    )


def quantize_int8(a: Column) -> Column:
    """Symmetric int8 quantization: q_i = round(x_i · 127/max|x|), values
    in [-127, 127] (stored as long here; cast tinyint at the storage
    boundary).  The 100 TB story: a 4× (vs float32) memory/IO cut for
    embedding stores, and integer dot products — cosine over quantized
    vectors is scale-invariant, so similarity search needs no dequant.

    All arithmetic (one double multiply + round per element) is exactly
    reproducible in DuckDB; downstream integer sums are order-independent,
    so quantized-cosine queries hash-match without rounding guards.
    """
    from steampipe_sqlite_spark.functions.text import _let

    mx = F.greatest(
        F.array_max(F.transform(a, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    # bind the scale once per row — referenced directly inside the lambda
    # it would recompute the array_max fold per element (O(dim²)/vector)
    return _let(
        F.lit(127.0) / mx,
        lambda scale: F.transform(
            a, lambda x: F.round(x.cast("double") * scale).cast("long")
        ),
    )
