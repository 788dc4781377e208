"""Maximal Marginal Relevance (MMR) diversity re-ranking — the canonical
vector-search re-ranker (Carbonell & Goldstein, SIGIR 1998) for the X2
reranker hook (plans/pipeline.py).

Greedy selection over a small candidate pool: repeatedly take

    argmax_i  lam * relevance_i - (1 - lam) * max_{j in selected} sim(i, j)

so each pick balances query relevance against redundancy with what is
already selected. ``lam = 1`` degenerates to plain top-k; ``lam = 0`` is
pure diversity.

Execution shape (the standard two-phase serve plan): the DISTRIBUTED part
is candidate generation — top-C cosine via TakeOrderedAndProject
(operators/topk.py), C ~ 5-10x k. The greedy loop is inherently sequential
in k and touches only the C-row candidate pool, so it runs driver-side on
the collected pool — control-plane work, same budget class as the packing
totals (operators/packing.py). For MANY queries, :func:`mmr_rerank_batch`
runs the identical greedy per query group inside ``applyInPandas`` — one
shuffle by query id, Arrow-batched, nothing on the driver.

Determinism: relevance comes in rounded to 6 decimals (topk convention);
pairwise sims and MMR values are rounded to 6 with HALF_UP via
``decimal.Decimal`` — the same rounding family Spark's ``round`` and the
DuckDB oracle's ``round`` apply — and ties break on lowest id, so the
selection is reproducible and SQL-replicable (the oracle unrolls the k
greedy steps as chained CTEs).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def _r6(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _cos(a: Sequence[float], b: Sequence[float]) -> float:
    # sequential left-to-right folds — the same accumulation order as
    # functions/vector.py dot/l2_norm and the DuckDB list_sum twins
    na = math.sqrt(sum((float(x) * float(x) for x in a), 0.0))
    nb = math.sqrt(sum((float(x) * float(x) for x in b), 0.0))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return sum((float(x) * float(y) for x, y in zip(a, b)), 0.0) / (na * nb)


def mmr_select(
    pool: list[tuple[int, float, Sequence[float]]], k: int, lam: float
) -> list[tuple[int, int, float]]:
    """Greedy MMR over ``(id, relevance, embedding)`` rows; returns
    ``(id, rank, mmr_score)`` for the k selections. Pure-Python reference
    used by both the driver path and the Arrow batch path."""
    remaining = {i: (rel, emb) for i, rel, emb in pool}
    selected: list[tuple[int, int, float]] = []
    sel_embs: list[Sequence[float]] = []
    while remaining and len(selected) < k:
        best = None
        for i, (rel, emb) in remaining.items():
            if sel_embs:
                penalty = max(_r6(_cos(emb, se)) for se in sel_embs)
                val = _r6(lam * rel - (1 - lam) * penalty)
            else:
                val = _r6(lam * rel)
            if best is None or (val, -i) > (best[1], -best[0]):
                best = (i, val)
        i, val = best
        sel_embs.append(remaining.pop(i)[1])
        selected.append((i, len(selected), val))
    return selected


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    *,
    lam: float = 0.7,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Re-rank a SMALL scored candidate frame (the top-C output of
    operators/topk.py) down to k diverse rows. Returns the candidate
    columns minus the embedding, plus ``mmr_rank`` (0-based selection
    order) and ``mmr_score``."""
    rows = candidates.collect()  # control-plane: C candidate rows
    pool = [(r[id_col], r[score_col], r[embedding_col]) for r in rows]
    picked = mmr_select(pool, k, lam)
    by_id = {r[id_col]: r for r in rows}
    out_fields = [f for f in candidates.schema.fields if f.name != embedding_col]
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    schema = StructType(
        out_fields
        + [
            StructField("mmr_rank", IntegerType(), False),
            StructField("mmr_score", DoubleType(), False),
        ]
    )
    data = [
        tuple(by_id[i][f.name] for f in out_fields) + (rank, val)
        for i, rank, val in picked
    ]
    return local_frame(candidates.sparkSession, data, schema)


def mmr_rerank_batch(
    candidates: DataFrame,
    k: int,
    *,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """MMR for MANY queries at once: ``candidates`` carries per-query
    top-C pools keyed by ``query_col``; the identical greedy runs per group
    inside ``applyInPandas`` (one shuffle on the query id, Arrow-batched).
    This is the 100 TB shape — per-query pool sizes are bounded (C rows),
    so group skew is structurally impossible."""
    import pandas as pd

    out_schema = f"{query_col} long, {id_col} long, mmr_rank int, mmr_score double"

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pool = list(
            zip(
                pdf[id_col].astype(int),
                pdf[score_col].astype(float),
                pdf[embedding_col],
            )
        )
        picked = mmr_select(pool, k, lam)
        qid = int(pdf[query_col].iloc[0])
        return pd.DataFrame(
            {
                query_col: [qid] * len(picked),
                id_col: [i for i, _, _ in picked],
                "mmr_rank": [r for _, r, _ in picked],
                "mmr_score": [v for _, _, v in picked],
            }
        )

    return candidates.groupBy(query_col).applyInPandas(fn, out_schema)
