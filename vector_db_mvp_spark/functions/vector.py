"""Vector math as native Catalyst expressions (JVM-side, whole-stage codegen).

Reference semantics reproduced (SURVEY.md §2.7):
- ``_unit``  (brute_force.py:8-11): L2-normalize; a ZERO vector is returned
  unchanged (no NaN) so it scores 0.0 against everything.
- ``_dot``   (brute_force.py:14-16): plain float dot product.
- cosine = dot of unit vectors (brute_force.py:42).

All arithmetic is DOUBLE with strict left-to-right accumulation
(``F.aggregate`` folds sequentially), which makes results bitwise-reproducible
and lets the DuckDB oracle compute the identical value with the identical
formula. No Python UDFs anywhere on this path — at 100 TB these expressions
run inside whole-stage codegen next to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array columns, in double."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_dot_cols(a_sql: str, b_sql: str, dim: int) -> str:
    """Codegen-friendly dot product of two array COLUMNS of statically
    known dimension: an unrolled sum of element products compiled through
    ONE F.expr parse. The HOF form (:func:`dot`) is a CodegenFallback —
    aggregate/zip_with evaluate INTERPRETED per row, which is fine once
    per corpus row but dominates when evaluated per bucket COLLISION
    (r15 measurement: the sf1 k-NN edge build spent ~200 s of its ~209 s
    in interpreted cosine over 56.6M collisions; guide §4 — per-task work
    inside codegen). Bit-compatible with ``dot``: both reduce
    left-to-right in double ((x0y0 + x1y1) + x2y2 ...) with per-element
    float→double casts; the HOF fold seeds with 0.0, which can differ
    only in the SIGN of an all-±0.0 prefix — a ±0.0 result either way,
    indistinguishable to consumers that threshold or round. ``dim`` must
    equal the embedding length: elements past ``dim`` are ignored, and a
    position past either array's end is a NULL term (NULL result), so
    the two forms differ under a length mismatch. Callers pass
    pre-validated simple or alias-qualified column references."""
    terms = " + ".join(
        f"CAST(try_element_at({a_sql}, {i + 1}) AS DOUBLE)"
        f" * CAST(try_element_at({b_sql}, {i + 1}) AS DOUBLE)"
        for i in range(dim)
    )
    return f"({terms})"


def l2_norm(v: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(v), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def unit_normalize(v: Column) -> Column:
    """L2-normalize with the reference's zero-vector convention
    (brute_force.py:10-11): zero norm -> vector unchanged."""
    n = l2_norm(v)
    return F.when(n == F.lit(0.0), _as_double(v)).otherwise(
        F.transform(_as_double(v), lambda x: x / n)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(||a||*||b||); 0.0 when either vector has zero norm
    (matches the reference where a zero vector dots to 0 after ``_unit``)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(
        dot(a, b) / (na * nb)
    )
