"""Random-projection dimensionality reduction for embedding columns.

Johnson-Lindenstrauss random projection (Achlioptas, "Database-friendly
random projections", PODS'01): multiplying each embedding by a fixed k x d
Gaussian matrix approximately preserves pairwise geometry while cutting
storage/compute by d/k. In a curation pipeline this is the cheap first
pass — candidate generation, clustering, or pre-filters run on the k-dim
sketch; exact scoring stays on the full vectors.

Implementation notes:
- The projection matrix comes from the SAME seeded generator as the LSH
  planes (``functions/lsh.generate_planes`` — reference-compatible
  ``random.Random(seed).gauss`` sequence), so any engine can regenerate it
  from the seed; no matrix needs to ship with the data.
- The k dot products are rendered as ONE Spark SQL string and parsed with a
  single ``F.expr`` — building the expression tree via the Column API costs
  a py4j round-trip per literal (k*d of them, seconds of driver time).
- Pure map work in whole-stage codegen: no shuffle, no Python, parallelism
  = input splits. An Arrow-batched pandas pass (the ``functions/lsh.
  bucket_codes`` pattern) is the alternative at very large k*d; for k*d up
  to a few thousand the codegen fold wins by staying JVM-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lsh import generate_planes, spark_sql_plane_dot, sql_plane_dot


def projection_planes(dim: int, k: int, *, seed: int = 7) -> list[list[float]]:
    """k unit-normalized d-vectors from the seeded reference RNG."""
    return generate_planes(dim, num_tables=1, num_planes=k, seed=seed)[0]


def random_projection(
    df: DataFrame,
    planes: list[list[float]],
    *,
    embedding_col: str = "embedding",
    out_prefix: str = "p",
) -> DataFrame:
    """Append one DOUBLE column per plane: ``p0..p{k-1}`` = plane dots.
    Flat columns (not an array) so results stay hashable for exact
    engine-to-engine comparison and prune column-wise in parquet."""
    cols = [
        F.expr(spark_sql_plane_dot(embedding_col, plane)).alias(f"{out_prefix}{i}")
        for i, plane in enumerate(planes)
    ]
    return df.select("*", *cols)


def plane_dot_python(vec: list[float], plane: list[float]) -> float:
    """Driver-side sequential-fold dot — bitwise-aligned with the Catalyst
    ``aggregate`` fold and the DuckDB twin (same add order, all double)."""
    acc = 0.0
    for x, y in zip(vec, plane):
        acc += float(x) * float(y)
    return acc


def projected_prefilter_topk(
    df: DataFrame,
    planes: list[list[float]],
    query_vector: list[float],
    k: int,
    *,
    candidates: int = 50,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int = 6,
) -> DataFrame:
    """Approximate top-k via the JL sketch: rank ALL rows by the k-dim
    sketch dot (cheap — len(planes) multiplies instead of d), keep the top
    ``candidates`` (TakeOrderedAndProject: no global sort materializes),
    then exact-cosine re-rank those C rows to the final top-k.

    Same two-phase shape as LSH prune + re-rank, trading LSH's hard bucket
    recall cliff for a tunable candidate budget. Both sides are
    UNIT-NORMALIZED before projecting — the sketch must approximate cosine
    (the re-rank metric), and a raw-dot sketch would rank by vector norm
    instead (measured: recall collapsed to 2/10 on the fixture). The unit
    vector is materialized in its own projection so the k plane-dot lambdas
    read it instead of re-running the normalization (HOF CSE loss). The
    sketch score is rounded before ranking and ties break on id, so the
    candidate cut is deterministic across engines."""
    from ..functions.vector import unit_normalize
    from .topk import topk_cosine

    q = [float(x) for x in query_vector]
    qn = math.sqrt(sum(x * x for x in q))
    qu = q if qn == 0.0 else [x / qn for x in q]
    qp = [plane_dot_python(qu, plane) for plane in planes]
    unit = df.filter(F.col(embedding_col).isNotNull()).withColumn(
        "_unit", unit_normalize(F.col(embedding_col))
    )
    sketch_terms = " + ".join(
        f"({spark_sql_plane_dot('_unit', plane)} * {qp[i]!r}D)"
        for i, plane in enumerate(planes)
    )
    scored = unit.withColumn(
        "_sketch", F.round(F.expr(sketch_terms), score_decimals)
    )
    cand = scored.orderBy(
        F.col("_sketch").desc(), F.col(id_col).asc()
    ).limit(candidates)
    return topk_cosine(
        cand.drop("_sketch", "_unit"),
        F.expr("array(" + ", ".join(f"{x!r}D" for x in q) + ")"),
        k,
        embedding_col=embedding_col,
        id_col=id_col,
        score_decimals=score_decimals,
    )


def sql_random_projection(
    planes: list[list[float]],
    *,
    embedding_expr: str = "embedding",
    out_prefix: str = "p",
    round_to: int = 6,
) -> list[str]:
    """DuckDB twins of the projection columns (one SELECT item per plane)."""
    return [
        f"round({sql_plane_dot(embedding_expr, plane)}, {round_to}) AS {out_prefix}{i}"
        for i, plane in enumerate(planes)
    ]
