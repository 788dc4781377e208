"""Random-hyperplane LSH primitives (reference F4/F5,
``app/indexing/lsh.py:31-64``).

Plane generation reproduces the reference bit-for-bit: one shared
``random.Random(seed)`` drawing ``gauss(0,1)`` in (table, plane, dim) order,
each plane L2-normalized (``lsh.py:43-52``). Planes are generated on the
driver and embedded in the plan as literals / broadcast numpy — tiny
(T*P*D doubles) and exact, which is what guarantees bucket parity.

Bucket code (reference ``lsh.py:58-64``): P-bit integer, bit i set iff
``dot(v, plane_i) >= 0``. The reference hashes the *unit* vector, but
``sign(dot(unit(v), p)) == sign(dot(v, p))`` for any ``v`` (positive norm;
the zero vector is left unchanged by ``_unit``), so we hash raw vectors and
skip a normalization pass.

Two implementations of the same function:
- ``bucket_codes_native`` — pure Catalyst expressions with sequential folds;
  bitwise-identical to the DuckDB oracle, used by oracle-checked queries.
- ``bucket_codes_pandas`` — Arrow-batched numpy ``V @ P.T`` sign bits; the
  throughput path for index builds at scale (one BLAS matmul per batch
  instead of T*P scalar folds per row).
The two agree except when a dot lands within float-reordering distance of
exactly 0.0 — probability ~0 for real embeddings.
"""

from __future__ import annotations

import math
import random
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType


def generate_planes(
    dim: int, num_tables: int = 8, num_planes: int = 12, seed: int = 42
) -> list[list[list[float]]]:
    """planes[t][p] = unit-normalized D-vector; same RNG sequence as the
    reference (lsh.py:37,45-52)."""
    rng = random.Random(seed)
    planes: list[list[list[float]]] = []
    for _ in range(num_tables):
        table = []
        for _ in range(num_planes):
            vec = [rng.gauss(0.0, 1.0) for _ in range(dim)]
            n = math.sqrt(sum(x * x for x in vec))
            if n != 0.0:
                vec = [x / n for x in vec]
            table.append(vec)
        planes.append(table)
    return planes


def spark_sql_array_lit(vec: list[float]) -> str:
    """Spark SQL array<double> literal. ``repr`` round-trips doubles exactly
    and the ``D`` suffix keeps Spark from parsing plain decimals as DECIMAL."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in vec) + ")"


def spark_sql_plane_dot(vec_sql: str, plane: list[float]) -> str:
    """Sequential-fold dot of an array column with a literal vector, as a
    Spark SQL string — the same Catalyst ``aggregate(zip_with(...))``
    expression ``_plane_dot`` and ``functions.vector.dot`` build, but parsed
    from ONE string. Building the tree via the Column API costs a py4j
    round-trip per literal element (T*P*D of them — seconds of driver time
    per query); one ``F.expr`` parse is ~1000x fewer round-trips. The one
    builder for every literal dot: LSH plane dots, centroid argmax scores
    and the served search's cosine over stored unit vectors."""
    return (
        f"aggregate(zip_with(CAST({vec_sql} AS ARRAY<DOUBLE>), "
        f"{spark_sql_array_lit(plane)}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def planes_dim(planes: list[list[list[float]]]) -> int:
    """Embedding dimension of a ``planes[t][p]`` plane set. An empty set
    (no tables, or tables without planes) has no dimension: reject it with
    a clear error rather than a bare IndexError deep inside a plan build."""
    if len(planes) == 0 or len(planes[0]) == 0 or len(planes[0][0]) == 0:
        raise ValueError("planes must be non-empty")
    return len(planes[0][0])


def spark_sql_bucket_codes(vec_sql: str, planes: list[list[list[float]]]) -> str:
    """Spark SQL string computing the full array<long> of per-table codes."""
    tables = []
    for table in planes:
        bits = [
            f"(CASE WHEN {spark_sql_plane_dot(vec_sql, plane)} >= 0.0D"
            f" THEN {1 << i}L ELSE 0L END)"
            for i, plane in enumerate(table)
        ]
        tables.append("(" + " + ".join(bits) + ")")
    return "array(" + ", ".join(tables) + ")"


def bucket_codes_python(vec: list[float], planes: list[list[list[float]]]) -> list[int]:
    """Driver-side codes for one vector. The explicit sequential fold makes
    it bitwise-identical to the Catalyst ``aggregate(zip_with(...))``
    expression (same IEEE-double op order), so a literal query vector's codes
    can be computed here and embedded as plain int literals — removing the
    whole T*P*D plane-literal expression from the query side of the plan."""
    out = []
    for table in planes:
        code = 0
        for i, plane in enumerate(table):
            acc = 0.0
            for x, y in zip(vec, plane):
                acc = acc + (float(x) * float(y))
            if acc >= 0.0:
                code += 1 << i
        out.append(code)
    return out


def _plane_dot(v: Column, plane: list[float]) -> Column:
    """Sequential-fold dot of an embedding column with a literal plane."""
    lit_plane = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(v.cast("array<double>"), lit_plane, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def bucket_codes_native(
    v: Column | str | list[float], planes: list[list[list[float]]]
) -> Column:
    """array<long> of per-table bucket codes, as native expressions.

    ``v`` may be a column NAME or a literal vector — both compile through a
    single ``F.expr`` parse (fast plan construction). A ``Column`` input
    falls back to element-wise tree building (py4j-heavy; avoid on hot
    paths — it exists for composability with arbitrary expressions)."""
    if isinstance(v, str):
        return F.expr(spark_sql_bucket_codes(v, planes))
    if isinstance(v, (list, tuple)):
        # Constant vector -> constant codes; fold on the driver.
        codes = bucket_codes_python([float(x) for x in v], planes)
        return F.expr("array(" + ", ".join(f"{c}L" for c in codes) + ")")
    table_codes = []
    for table in planes:
        code = F.lit(0).cast("long")
        for i, plane in enumerate(table):
            bit = F.when(_plane_dot(v, plane) >= 0.0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            code = code + bit
        table_codes.append(code)
    return F.array(*table_codes)


def bucket_codes_pandas(planes: list[list[list[float]]], embedding_col: str = "embedding"):
    """mapInPandas-free scalar pandas UDF: codes for a batch via one matmul.

    Returns a pandas_udf producing array<long>. ``P`` is captured in the
    closure and shipped once per executor (broadcast-by-closure; T*P*D
    doubles — a few KB)."""
    P = np.asarray(planes, dtype=np.float64)  # (T, P, D)
    T, Pn, D = P.shape
    flat = P.reshape(T * Pn, D)  # (T*P, D)
    weights = (1 << np.arange(Pn, dtype=np.int64))  # (P,)

    @F.pandas_udf(ArrayType(LongType()))
    def _codes(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            out = []
            vecs = s.to_numpy()
            for v in vecs:
                if v is None:
                    out.append(None)
                    continue
                bits = (np.asarray(v, dtype=np.float64) @ flat.T) >= 0.0  # (T*P,)
                codes = (bits.reshape(T, Pn) * weights).sum(axis=1)
                out.append(codes.tolist())
            yield pd.Series(out)

    return _codes(F.col(embedding_col))


# --- DuckDB oracle SQL generation (mirrors bucket_codes_native exactly) ----

def sql_plane_dot(vec_expr: str, plane: list[float]) -> str:
    lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
    return (
        f"list_sum(list_transform(list_zip(CAST({vec_expr} AS DOUBLE[]), "
        f"CAST({lit} AS DOUBLE[])), p -> p[1] * p[2]))"
    )


def sql_bucket_code(vec_expr: str, table: list[list[float]]) -> str:
    bits = [
        f"(CASE WHEN {sql_plane_dot(vec_expr, plane)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(table)
    ]
    return "(" + " + ".join(bits) + ")"
