"""Semantic deduplication (SemDeDup) — embedding-space near-dup pruning by
cluster-then-compare (Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540).

The all-pairs cosine join (operators/dedup.py embedding_neardup_pairs) is
O(N²) and only exists for oracle parity. SemDeDup makes the same decision
sub-quadratically: cluster embeddings to C centroids, compare pairs ONLY
within a cluster, and inside each duplicate neighborhood keep the single
most central row (highest cosine to its centroid — ties broken by lowest
id). A row is dropped iff some same-cluster row within ``tau`` cosine
dominates it; the kept set is exactly the domination-maxima, matching the
paper's keep-one-per-neighborhood semantics without a transitive-closure
pass.

Physical plan: one nearest-centroid assignment expression per row (native
sequential-fold dots against literal unit centroids — the same codegen-safe
shape as workload/vector.py's IVF-PQ coarse assignment), one shuffle keyed
by ``cluster_id``, then a within-partition self-join. Work is O(sum c_i²)
instead of O(N²).

Scale notes (100 TB):
- C is the knob: clusters average N/C rows, so quadratic-within-cluster
  cost is N²/C for balanced clusters. The paper uses C ~ sqrt(N); fit
  centroids with seeded MLlib KMeans (operators/ivf.py build_ivf_index) on
  a sample and pass them in — this operator is centroid-agnostic.
- A skewed (giant) cluster re-creates the quadratic blowup; cap it by
  raising C or sub-splitting hot clusters with a second-level assignment —
  the operator takes whatever partition key you produce.
- The domination rule needs no global state: every decision reads only
  same-cluster rows, so the plan stays one exchange + one sort-merge/hash
  self-join, no iteration, no driver collect.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unit_rows(centroids: Sequence[Sequence[float]]) -> list[list[float]]:
    """Unit-normalize centroid rows (zero rows kept as-is)."""
    import numpy as np

    out = []
    for row in np.asarray(centroids, dtype=np.float64):
        n = float(np.linalg.norm(row))
        out.append([float(x) for x in (row / n if n else row)])
    return out


def _matmul_assign(uc: list[list[float]]):
    """Arrow-batched nearest-centroid assignment for LARGE C.

    The native path unrolls C dot products as literal fold expressions —
    ideal for the oracle-checked C<=32 instances (whole-stage codegen, SQL-
    replicable), but a C=2048 unroll is ~10^5 expression nodes: past javac's
    64KB method limit Catalyst falls back to interpreted evaluation and
    assignment collapses. At SemDeDup's true sqrt(N) operating point the
    assignment is a (batch x dim) @ (dim x C) matmul — one BLAS call per
    Arrow batch, C-independent plan shape (same trade as functions/lsh.py's
    Arrow matmul variant). argmax ties break to the FIRST max, matching
    array_position; BLAS summation order may flip exact dot-product ties
    vs the sequential fold — measure-zero on real embeddings, and the
    oracle-checked queries stay on the native path (``assign='native'``
    below 64 centroids)."""
    from pyspark.sql.functions import pandas_udf

    cm = np.asarray(uc, dtype=np.float64).T  # (dim, C)

    @pandas_udf("struct<cluster_id:int,score:double>")
    def assign(emb: pd.Series) -> pd.DataFrame:
        m = np.array(emb.tolist(), dtype=np.float64)  # (B, dim)
        s = m @ cm
        idx = s.argmax(axis=1)
        return pd.DataFrame(
            {
                "cluster_id": idx.astype("int32"),
                "score": s[np.arange(len(idx)), idx],
            }
        )

    return assign


def semantic_dedup(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    *,
    tau: float = 0.4,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    score_decimals: int = 6,
    assign: str = "auto",
) -> DataFrame:
    """(id, cluster_id, centrality, is_kept) for every non-null-embedding
    row. ``centrality`` = cosine(row, assigned centroid); a row is kept iff
    no same-cluster row with cosine >= ``tau`` to it has strictly higher
    (centrality, -id) priority.

    ``assign``: 'native' unrolls the centroid dots as codegen fold
    expressions (exactly SQL-replicable — the oracle path), 'matmul' runs
    one Arrow-batched BLAS matmul per batch (the C ~ sqrt(N) scale path),
    'auto' picks native below 64 centroids."""
    from ..functions.vector import dot as vdot
    from ..functions.vector import l2_norm

    uc = unit_rows(centroids)
    if assign == "auto":
        assign = "native" if len(uc) < 64 else "matmul"
    base = df.filter(F.col(embedding_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(embedding_col).alias("_e"),
        l2_norm(F.col(embedding_col)).alias("_n"),
    )
    if assign == "native":
        from ..functions.lsh import spark_sql_plane_dot

        scores = F.expr(
            "array(" + ", ".join(spark_sql_plane_dot("_e", c) for c in uc) + ")"
        )
        assigned = base.withColumn("_s", scores).select(
            "_id",
            "_e",
            "_n",
            (F.array_position(F.col("_s"), F.array_max(F.col("_s"))) - 1)
            .cast("int")
            .alias("cluster_id"),
            F.array_max(F.col("_s")).alias("_best"),
        )
    else:
        assigned = base.withColumn("_a", _matmul_assign(uc)(F.col("_e"))).select(
            "_id",
            "_e",
            "_n",
            F.col("_a.cluster_id").alias("cluster_id"),
            F.col("_a.score").alias("_best"),
        )
    rows = (
        assigned.select(
            "_id",
            "_e",
            "_n",
            "cluster_id",
            F.round(
                F.when(F.col("_n") == 0.0, F.lit(0.0)).otherwise(
                    F.col("_best") / F.col("_n")
                ),
                score_decimals,
            ).alias("centrality"),
        )
        # materialize once: the assignment expression (C dots per row) is
        # read by BOTH sides of the domination self-join and by the final
        # is_kept join — inlined, it evaluates three times per row.
        # Together with the explicit repartition below: 5.9 s -> 2.8 s at
        # sf0.1. localCheckpoint, not cache: see operators/incremental.py
        # (CacheManager leak per invocation).
        .localCheckpoint(eager=True)
    )
    # User-specified repartition with an EXPLICIT count: the shuffled bytes
    # are tiny (id, vec, norm per row), so the join's own planner exchange
    # would be AQE-coalesced to ONE partition, serializing the quadratic
    # pair work on a single core (measured: every pair stage ran (0+1)/1;
    # same pathology as operators/dedup.py _spread). A user repartition is
    # never coalesced, and since both self-join sides share it, the join
    # reuses the one exchange. Parallelism is bounded by the number of
    # clusters C — the knob that also bounds the quadratic work; at scale
    # C >> cores, locally C=8 of 32.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    part = rows.repartition(n_part, "cluster_id")
    a, b = part.alias("a"), part.alias("b")
    pair_cos = F.round(
        F.when(
            (F.col("a._n") == 0.0) | (F.col("b._n") == 0.0), F.lit(0.0)
        ).otherwise(
            vdot(F.col("a._e"), F.col("b._e")) / (F.col("a._n") * F.col("b._n"))
        ),
        score_decimals,
    )
    dominated = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a._id") != F.col("b._id"))
            & (
                (F.col("b.centrality") > F.col("a.centrality"))
                | (
                    (F.col("b.centrality") == F.col("a.centrality"))
                    & (F.col("b._id") < F.col("a._id"))
                )
            ),
        )
        .filter(pair_cos >= tau)
        .select(F.col("a._id").alias("_id"))
        .distinct()
    )
    return (
        rows.join(dominated.withColumn("_dropped", F.lit(True)), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster_id",
            "centrality",
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("is_kept"),
        )
    )
