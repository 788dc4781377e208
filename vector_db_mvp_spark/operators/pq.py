"""Product quantization (PQ) for embedding columns — the memory-bound ANN
path (Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011).

Split each d-dim unit vector into ``m`` subvectors of d/m dims; per
subspace, fit a ``ksub``-centroid KMeans codebook (MLlib, seeded,
distributed fit — build-time, once per corpus version); encode every row
as ``m`` one-byte codes. Storage per vector drops from 4d bytes (float32)
to m bytes — 32x at d=64, m=8 — which at 100 TB is the difference between
an index that fits in cluster memory and one that doesn't.

Query (ADC — asymmetric distance computation): the query stays exact; a
tiny m x ksub table of <query subvector, centroid> dots is computed
driver-side and folded into ONE native Catalyst expression over the codes
column — per row the scan does m array lookups + adds inside whole-stage
codegen, no Python, no shuffle, then TakeOrderedAndProject keeps the
candidate set. Exact cosine re-rank on the candidates restores full
precision, same two-phase shape as LSH prune and JL-sketch prefilter
(operators/project.py) — PQ trades their per-row float math for byte
codes + table lookups, the classic compute-vs-memory-bandwidth swap.

Encoding is one Arrow-batched pandas pass (a BLAS matmul argmin per
subspace per batch — the Arrow-batched pattern of the LSH kernel,
functions/lsh.py); like all our pandas UDFs it is off the per-query path:
encode once at ingest, serve forever.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ByteType


def fit_pq(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    *,
    embedding_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Fit per-subspace codebooks: m seeded MLlib KMeans runs over the
    unit-normalized subvector slices. Returns codebooks[m][ksub][d/m].

    m distributed fits = m corpus scans; at scale fit on a sample
    (``df.sample(...)``) — codebook quality needs ~100k rows, not the
    corpus. ksub <= 256 keeps every code one byte."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..functions.vector import unit_normalize

    assert ksub <= 256, "codes must fit one byte"
    dim = len(df.filter(F.col(embedding_col).isNotNull()).take(1)[0][embedding_col])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    dsub = dim // m
    unit = df.filter(F.col(embedding_col).isNotNull()).withColumn(
        "_unit", unit_normalize(F.col(embedding_col))
    )
    codebooks: list[list[list[float]]] = []
    for j in range(m):
        feat = unit.withColumn(
            "_features",
            array_to_vector(F.slice(F.col("_unit"), j * dsub + 1, dsub)),
        )
        model = KMeans(
            k=ksub, seed=seed + j, maxIter=max_iter, featuresCol="_features"
        ).fit(feat)
        codebooks.append([list(map(float, c)) for c in model.clusterCenters()])
    return codebooks


def fixed_codebooks(
    dim: int, m: int, ksub: int, *, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic seeded Gaussian codebooks (no data dependence) — the
    oracle-reproducible counterpart of :func:`fit_pq`. Centroids are drawn
    N(0, 1/dim) so their norms match unit-vector subvector norms (~1/sqrt(m)).
    KMeans-fit codebooks give better recall and are exercised in
    tests/test_pq.py; these exist so a SQL oracle can replicate encode + ADC
    from literal constants (same pattern as functions/lsh.py
    generate_planes)."""
    assert dim % m == 0
    rng = np.random.RandomState(seed)
    cb = rng.standard_normal((m, ksub, dim // m)) / np.sqrt(dim)
    return [[list(map(float, c)) for c in sub] for sub in cb]


def encode_pq(
    df: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    *,
    embedding_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append ``out_col``: array<tinyint> of m nearest-centroid codes per
    row (vectors unit-normalized first, matching ``fit_pq``). One Arrow
    batch = one BLAS matmul argmin per subspace; ingest-time cost."""
    cb = np.asarray(codebooks, dtype=np.float64)  # m x ksub x dsub
    m, _ksub, dsub = cb.shape
    cnorm2 = (cb**2).sum(axis=2)  # m x ksub

    @F.pandas_udf(ArrayType(ByteType()))
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            out: list[list[int] | None] = []
            vecs = [None if v is None else np.asarray(v, dtype=np.float64) for v in s]
            live = [v for v in vecs if v is not None]
            if live:
                mat = np.stack(live)
                norms = np.linalg.norm(mat, axis=1, keepdims=True)
                norms[norms == 0.0] = 1.0  # zero vector stays zero (engine convention)
                mat = mat / norms
                codes = np.empty((mat.shape[0], m), dtype=np.int8)
                for j in range(m):
                    sub = mat[:, j * dsub : (j + 1) * dsub]
                    # argmin ||x - c||^2 = argmin ||c||^2 - 2 x.c
                    codes[:, j] = np.argmin(
                        cnorm2[j][None, :] - 2.0 * (sub @ cb[j].T), axis=1
                    )
                it = iter(codes)
                out = [None if v is None else next(it).tolist() for v in vecs]
            else:
                out = [None] * len(vecs)
            yield pd.Series(out, dtype=object)

    return df.withColumn(out_col, _encode(F.col(embedding_col)))


def _unit_query(query_vector: Sequence[float]) -> np.ndarray:
    q = np.asarray(query_vector, dtype=np.float64)
    n = np.linalg.norm(q)
    return q if n == 0.0 else q / n


def adc_score(
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vector: Sequence[float],
    *,
    code_col: str = "pq_code",
) -> Column:
    """Native ADC inner-product column: sum_j table[j][code_j], where
    table[j][c] = <unit-query subvector j, centroid c>. The m x ksub table
    is a driver-side numpy product rendered as literal nested arrays, so
    the per-row work is m element_at lookups + adds in codegen."""
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _ksub, dsub = cb.shape
    qu = _unit_query(query_vector)
    assert qu.shape[0] == m * dsub, "query dim mismatch with codebooks"
    terms = []
    for j in range(m):
        table_j = cb[j] @ qu[j * dsub : (j + 1) * dsub]  # ksub dots
        lits = ", ".join(f"{float(x)!r}D" for x in table_j)
        terms.append(
            f"element_at(array({lits}), "
            f"CAST(element_at({code_col}, {j + 1}) AS INT) + 1)"
        )
    return F.expr(" + ".join(terms))


def ivfpq_topk(
    assigned_encoded: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vector: Sequence[float],
    k: int,
    *,
    nprobe: int = 4,
    candidates: int = 100,
    embedding_col: str = "embedding",
    code_col: str = "pq_code",
    id_col: str = "vec_id",
    score_decimals: int | None = 6,
) -> DataFrame:
    """IVF-PQ: the FAISS-standard composition. The coarse quantizer
    (operators/ivf.py cluster assignment) prunes the scan to nprobe
    partitions/directories; within them the PQ byte codes are ADC-ranked
    natively; the final ``candidates`` rows get exact-cosine re-ranked.

    At 100 TB the layout is ``partitionBy(cluster_id)`` parquet storing
    (id, pq_code) — a query reads nprobe directories of m-byte codes, i.e.
    (nprobe/C) * (m/4d) of the full-corpus float bytes; the exact re-rank
    fetches full vectors for only ``candidates`` ids.

    ``assigned_encoded`` must carry ``cluster_id`` (from build_ivf_index /
    read_ivf_layout) and ``code_col`` (from encode_pq)."""
    import numpy as np  # noqa: F811 — local alias keeps module import light

    q = np.asarray(query_vector, dtype=np.float64)
    qn = np.linalg.norm(q)
    ranked = []
    for cid, c in enumerate(centroids):
        cv = np.asarray(c, dtype=np.float64)
        cn = np.linalg.norm(cv)
        s = 0.0 if qn == 0.0 or cn == 0.0 else float(q @ cv / (qn * cn))
        ranked.append((s, cid))
    probe = [cid for _, cid in sorted(ranked, key=lambda t: (-t[0], t[1]))[:nprobe]]
    pruned = assigned_encoded.filter(F.col("cluster_id").isin(probe))
    return pq_topk(
        pruned,
        codebooks,
        query_vector,
        k,
        candidates=candidates,
        embedding_col=embedding_col,
        code_col=code_col,
        id_col=id_col,
        score_decimals=score_decimals,
    )


def pq_topk(
    encoded: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    query_vector: Sequence[float],
    k: int,
    *,
    candidates: int = 100,
    rerank: bool = True,
    embedding_col: str = "embedding",
    code_col: str = "pq_code",
    id_col: str = "vec_id",
    score_decimals: int | None = 6,
) -> DataFrame:
    """Two-phase PQ search: ADC-rank the byte codes (TakeOrderedAndProject
    keeps ``candidates`` rows — no global sort), then exact-cosine re-rank
    to the final top-k. ``rerank=False`` returns the raw ADC ranking
    (score = rounded ADC inner product) for recall experiments."""
    from .topk import topk_cosine

    scored = encoded.filter(F.col(code_col).isNotNull()).withColumn(
        "_adc", F.round(adc_score(codebooks, query_vector, code_col=code_col), 9)
    )
    cand = scored.orderBy(F.col("_adc").desc(), F.col(id_col).asc()).limit(
        max(candidates, k)
    )
    if not rerank:
        out = cand.withColumn("score", F.col("_adc")).drop("_adc")
        return out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    return topk_cosine(
        cand.drop("_adc"),
        [float(x) for x in query_vector],
        k,
        embedding_col=embedding_col,
        id_col=id_col,
        score_decimals=score_decimals,
    )
