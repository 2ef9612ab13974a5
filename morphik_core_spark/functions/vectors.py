"""Vector scalar functions — all built-in JVM expressions, no Python UDFs.

The hot-path scoring (`cosine → retrieval score`) mirrors the reference's
pgvector scan (`/root/reference/core/vector_store/pgvector_store.py:444-507`):
score = 1 − cosine_distance/2 = (1 + cosine_similarity)/2, range [0,1].

Implementation note for scale: ``F.aggregate(F.zip_with(...))`` compiles to
Catalyst higher-order functions executed inside codegen — the per-row cost
is a tight JVM loop over the array, no Arrow hop, no Python. For very wide
embeddings (≥ 2k dims) a pandas-UDF matmul over batched rows can beat it;
that variant lives in the similarity operator, not here.

A query vector is a constant, so serving code builds it once as an array
literal (`vector_literal`) and its norm on the driver (`vector_norm`),
and a stored vector's norm can ride beside it as a column: passing both
norms to `retrieval_score` leaves one dot-product pass per row, with
bit-identical scores.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "l2_norm", "vector_norm", "vector_literal", "cosine_similarity", "retrieval_score"]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def vector_norm(values: Sequence[float]) -> float:
    """``l2_norm`` of a constant vector, computed on the driver in the same
    order as the JVM fold (squares summed left to right from 0.0, then
    sqrt), so it equals the column expression bit for bit. ``sum()`` and
    numpy reduce in a different order and may differ in the last bit."""
    acc = 0.0
    for x in values:
        x = float(x)
        acc += x * x
    return math.sqrt(acc)


def vector_literal(values: Sequence[float]) -> Column:
    """array<double> literal of ``values``, built in one JVM call.

    ``F.lit(list)`` builds one literal node per element, a py4j round trip
    each (~0.4 s at 768 dims); this parses a single SQL array expression.
    ``repr`` of a float round-trips exactly, so the literal is bit-exact."""
    return F.expr(f"CAST(array({', '.join(_sql_double(x) for x in values)}) AS ARRAY<DOUBLE>)")


def _sql_double(x: float) -> str:
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{'NaN' if math.isnan(x) else ('Infinity' if x > 0 else '-Infinity')}' AS DOUBLE)"


def cosine_similarity(
    a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None
) -> Column:
    """cos(a, b); NULL when either vector is NULL or zero-norm.

    ``norm_a``/``norm_b`` are precomputed ``l2_norm`` values (a stored
    column, a driver-side ``vector_norm`` literal); each one given saves a
    pass over its array and leaves the result unchanged."""
    if norm_a is None:
        norm_a = l2_norm(a)
    if norm_b is None:
        norm_b = l2_norm(b)
    denominator = norm_a * norm_b
    return F.when(denominator != 0.0, dot(a, b) / denominator)


def retrieval_score(
    a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None
) -> Column:
    """Reference score normalization: 1 − cosine_distance/2 ∈ [0, 1]."""
    return (F.lit(1.0) + cosine_similarity(a, b, norm_a, norm_b)) / F.lit(2.0)
