"""Vector math over ``array<float>`` embedding columns, as Column exprs.

Dot products/norms are built with ``zip_with`` + ``aggregate`` which fold
LEFT-TO-RIGHT — deterministic IEEE-754 double results that bit-match the
DuckDB oracle's ``list_reduce`` (also left-to-right). Elements are cast to
double BEFORE multiplying so float32 inputs widen exactly.

Scale note: these stay inside whole-stage codegen; for 100 TB ANN the
brute-force path is only the per-bucket scorer — candidate generation is
LSH bucketing (operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_safe(a: Column, b: Column) -> Column:
    """Cosine similarity with the zero-norm case pinned to NULL instead
    of left to engine semantics: a zero vector has no direction, and the
    raw division is 0/0 — which RAISES under Spark's ANSI session
    (DIVIDE_BY_ZERO) and yields NaN with ANSI off, a value both Spark
    and DuckDB order ABOVE every number (``NaN >= t`` is true in both —
    measured), i.e. a crash or a garbage "pair" depending on a config
    flag. NULL never qualifies a threshold filter in either engine.
    Whenever both norms are nonzero this is the plain
    ``dot / (norm · norm)`` division, same operand order — oracle
    bit-match preserved."""
    denom = norm(a) * norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def sqdist(a: Column, b: Column) -> Column:
    """Squared L2 distance, left-to-right fold of (a_i-b_i)^2 in double —
    bit-matches DuckDB ``list_reduce`` over the same ``list_transform``."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
