"""Vector math over ``array<float>`` columns — pure built-in expressions.

Everything here compiles to JVM higher-order functions
(``aggregate``/``zip_with``) inside whole-stage codegen: no Python UDF,
no Arrow round-trip, so a 100 TB embedding column streams through the
executors at scan speed.

Determinism note (oracle parity): ``aggregate`` folds strictly
left-to-right, so the float summation order is fixed — the same fold in
DuckDB (``list_reduce``) produces bit-identical doubles. Elements are
cast to double *before* multiplication so float32 inputs round the same
way on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def array_sum(arr: Column) -> Column:
    """Sum of an array<double> column, folded strictly left-to-right."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns, folded left-to-right."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return array_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL-safe only insofar as SQL NULL propagates."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def max_abs(a: Column | str) -> Column:
    """Largest |element| of an array<numeric> column (order-independent)."""
    a = F.col(a) if isinstance(a, str) else a
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )


def quantize_int8(a: Column | str, scale: Column) -> Column:
    """Symmetric per-vector int8 quantization: ``floor(x/scale*127 + 0.5)``.

    ``floor(v + 0.5)`` is used instead of ``round(v)`` because round-half
    behavior differs across engines (Spark HALF_UP on BigDecimal, DuckDB
    std::round) — floor(+0.5) is bit-identical everywhere. With
    ``scale = max_abs(vec)`` every quantized value lands in [-127, 127].
    4x smaller than float32 at rest and integer dot products thereafter:
    the standard memory/bandwidth move for a 100 TB embedding column.
    """
    a = F.col(a) if isinstance(a, str) else a
    safe = F.greatest(scale, F.lit(1e-30))
    return F.transform(
        a, lambda x: F.floor(x.cast("double") / safe * F.lit(127.0) + F.lit(0.5)).cast("long")
    )


def dot_int(a: Column | str, b: Column | str) -> Column:
    """Integer dot product (exact, order-independent — no float drift)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance of two array<numeric> columns, folded strictly
    left-to-right (same determinism contract as ``dot``: the DuckDB
    ``list_reduce`` mirror produces bit-identical doubles, so argmin
    comparisons over these distances agree across engines with no
    rounding step). Squared form on purpose — monotone in L2, so
    nearest-neighbor argmins are identical and the sqrt is saved."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return array_sum(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
    )


def sign_bit_words(arr_sql: str, *, dim: int) -> Column:
    """Binary (1-bit) vector quantization: pack the sign bits of an
    ``array<numeric>`` column into ``ceil(dim/32)`` BIGINT words.

    Bit ``i`` of word ``w`` is 1 iff ``element[w*32 + i] > 0``
    (ties-at-zero map to 0, deterministically). The 32-bit words
    keep every packed value strictly positive — no BIGINT sign-bit edge
    cases on either engine — while a 64-dim float32 vector (256 B)
    collapses to two longs (16 B at rest, 8 B of payload bits): the
    32x memory/bandwidth reduction that makes exhaustive candidate
    generation affordable over a 100 TB embedding column. Entirely
    built-in SQL higher-order functions (codegen, no Python).

    ``arr_sql`` is a SQL expression string (the packing needs the
    element *index*, which only the SQL lambda form exposes portably).
    """
    n_words = -(-dim // 32)
    return F.expr(
        f"transform(sequence(0, {n_words - 1}), w -> "
        f"aggregate(transform(slice({arr_sql}, w * 32 + 1, 32), "
        f"(x, i) -> IF(CAST(x AS DOUBLE) > 0.0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
        f"CAST(0 AS BIGINT), (acc, b) -> acc + b))"
    )


def hamming_distance(a_sql: str, b_sql: str) -> Column:
    """Hamming distance between two packed sign-bit word arrays
    (``xor`` + ``bit_count`` per word, summed — exact integer math, so
    oracle comparison is hash-exact). For unit vectors the expected
    angle is proportional to the Hamming distance, which is why a
    binary prefilter preserves cosine ranking well enough to feed an
    exact rerank stage."""
    return F.expr(
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
