"""Random-hyperplane LSH primitives (reference F4/F5,
``app/indexing/lsh.py:31-64``).

Plane generation reproduces the reference bit-for-bit: one shared
``random.Random(seed)`` drawing ``gauss(0,1)`` in (table, plane, dim) order,
each plane L2-normalized (``lsh.py:43-52``). Planes are generated on the
driver and shipped in the kernel's closure — tiny (T*P*D doubles) and
exact, which is what guarantees bucket parity.

Bucket code (reference ``lsh.py:58-64``): P-bit integer, bit i set iff
``dot(v, plane_i) >= 0``. The reference hashes the *unit* vector, but
``sign(dot(unit(v), p)) == sign(dot(v, p))`` for any ``v`` (positive norm;
the zero vector is left unchanged by ``_unit``), so the batch operators hash
raw vectors and skip a normalization pass. The search engine hashes the unit
vectors its index stores, and the unit query, as the reference does.

One exact kernel, three renderings of one fold. Every dot is the sequential
double fold ``acc = 0.0; acc = acc + v[j] * p[j]`` for j = 0..D-1:
- ``bucket_codes`` — the column kernel: an Arrow-batched pandas UDF that
  stacks a batch as a float64 ``(n, D)`` matrix and runs the fold column by
  column against all T*P planes at once;
- ``bucket_codes_python`` — the driver twin for one literal vector (query
  codes are embedded in plans as long literals);
- ``sql_bucket_code`` — the DuckDB oracle SQL.

Same IEEE op order everywhere (numpy ufuncs never contract a multiply and an
add into an FMA), so the three agree bit for bit on every vector of finite,
non-NULL elements. A NULL or NaN element is where they part: DuckDB's
``list_sum`` skips a NULL product and DuckDB orders NaN above every number,
while the kernel's NaN dot clears the bit.
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
    expression ``functions.vector.dot`` builds, but parsed from ONE string.
    Building the tree via the Column API costs a py4j round-trip per
    literal element (D of them per dot — seconds of driver time for a
    centroid table); one ``F.expr`` parse is far fewer round-trips. The one
    builder for every literal dot: projections, centroid argmax scores and
    the served search's cosine over stored unit vectors."""
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


def bucket_codes_python(vec: list[float], planes: list[list[list[float]]]) -> list[int]:
    """Driver-side codes for one vector: the sequential fold of
    :func:`bucket_codes` in plain Python, so its codes equal the kernel's.
    A literal query vector's codes are computed here and embedded as long
    literals (see ``operators.lsh.lsh_candidates``) — no plane literal ever
    enters the query side of a plan."""
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


def bucket_codes(col_name: str, planes: list[list[list[float]]]) -> Column:
    """array<long> of per-table bucket codes for an embedding column — the
    one column kernel.

    Arrow-batched pandas UDF: each batch's vectors are stacked as a float64
    ``(n, D)`` matrix and folded column by column against all T*P planes
    at once, ``acc = acc + V[:, j] * plane[j]`` — the op order of
    :func:`bucket_codes_python` and :func:`sql_bucket_code`, so codes are
    bit-identical to both on finite elements. Input rules:

    - a NULL embedding gets NULL codes;
    - a NULL element makes its row's dots NaN, so all of that row's bits
      are 0;
    - a row whose length is not the planes' dimension raises ValueError
      naming both dimensions;
    - empty planes are rejected here, at plan build (:func:`planes_dim`).

    The planes ride in the UDF closure (T*P*D doubles, a few KB)."""
    dim = planes_dim(planes)
    flat = np.asarray(planes, dtype=np.float64)
    n_tables, n_planes = flat.shape[0], flat.shape[1]
    flat = flat.reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    def fold(vecs: list[np.ndarray]) -> list[list[int]]:
        lens = np.fromiter(map(len, vecs), np.int64, len(vecs))
        if (lens != dim).any():
            bad = int(lens[lens != dim][0])
            raise ValueError(f"embedding dimension {bad} != planes dimension {dim}")
        v = np.concatenate(vecs).astype(np.float64, copy=False).reshape(-1, dim)
        acc = 0.0
        for j in range(dim):
            acc = acc + v[:, j : j + 1] * flat[:, j]
        bits = (acc >= 0.0).reshape(-1, n_tables, n_planes)
        return (bits * weights).sum(axis=2).tolist()

    @F.pandas_udf(ArrayType(LongType()))
    def _codes(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            live = [v for v in s if v is not None]
            codes = iter(fold(live) if live else [])
            yield pd.Series([None if v is None else next(codes) for v in s])

    return _codes(F.col(col_name))


# --- DuckDB oracle SQL generation (the same fold as bucket_codes) ----------

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
