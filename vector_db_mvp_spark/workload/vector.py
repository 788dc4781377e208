"""Vector-search workload: reference T1/T3 semantics (search_service.py §2.11)
as (Spark plan, DuckDB oracle SQL) pairs.

Determinism contract for floating-point queries: scores are computed in
DOUBLE with the same formula/accumulation order on both sides and rounded to
6 decimals; ordering ties broken by id. (Reference top-k tie order is Python
sort stability — insertion order — which a distributed engine cannot honor;
SURVEY.md §7 "What's hard".)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lsh import generate_planes, sql_bucket_code
from ..operators.lsh import lsh_topk
from ..operators.topk import topk_cosine
from ..session import local_frame
from ..sources.testdata import load_table

# --------------------------------------------------------------------------
# Vector search (reference T1/T3, search_service.py §2.11)
# --------------------------------------------------------------------------

# DuckDB fragment computing cosine(a, b) exactly like functions/vector.py:
# double math, sequential fold, zero-norm -> 0.0.
_DUCK_COS = """
CASE
  WHEN sqrt(list_sum(list_transform(CAST({a} AS DOUBLE[]), x -> x * x))) = 0
    OR sqrt(list_sum(list_transform(CAST({b} AS DOUBLE[]), x -> x * x))) = 0
  THEN 0.0
  ELSE list_sum(list_transform(list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])),
                               p -> p[1] * p[2]))
       / (sqrt(list_sum(list_transform(CAST({a} AS DOUBLE[]), x -> x * x)))
          * sqrt(list_sum(list_transform(CAST({b} AS DOUBLE[]), x -> x * x))))
END
"""


def _with_query_vector(spark: SparkSession, sf_dir: str, query_vec_id: int = 0) -> DataFrame:
    """Fact table cross-joined with the (1-row, broadcast) query vector —
    the Spark shape of 'score every row against the query'."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("_qv"))
    )
    return emb.crossJoin(F.broadcast(q))


def q_topk_cosine_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: exact brute-force top-10 cosine, query = embedding of vec_id 0."""
    joined = _with_query_vector(spark, sf_dir)
    return topk_cosine(joined, F.col("_qv"), 10, score_decimals=6).select(
        "vec_id", "label", "score"
    )


def _sql_topk_cosine(k: int, where: str = "TRUE", query_vec_id: int = 0) -> str:
    cos = _DUCK_COS.format(a="e.embedding", b="q._qv")
    return f"""
WITH q AS (SELECT embedding AS _qv FROM embeddings WHERE vec_id = {query_vec_id})
SELECT e.vec_id, e.label, round({cos}, 6) AS score
FROM embeddings e CROSS JOIN q
WHERE e.embedding IS NOT NULL AND {where}
ORDER BY score DESC, e.vec_id ASC
LIMIT {k}
"""


def q_topk_cosine_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 + P1: metadata equality filter (label = 3) before scoring — the
    reference's cheap-filter-first (search_service.py:99-103); Catalyst pushes
    the predicate to the parquet scan."""
    joined = _with_query_vector(spark, sf_dir).filter(F.col("label") == 3)
    return topk_cosine(joined, F.col("_qv"), 10, score_decimals=6).select(
        "vec_id", "label", "score"
    )


def q_topk_cosine_k100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 with k=100 (k grid from BASELINE.md bench spec)."""
    joined = _with_query_vector(spark, sf_dir)
    return topk_cosine(joined, F.col("_qv"), 100, score_decimals=6).select(
        "vec_id", "label", "score"
    )


def q_topk_cosine_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 with k=1 (k grid from BASELINE.md bench spec)."""
    joined = _with_query_vector(spark, sf_dir)
    return topk_cosine(joined, F.col("_qv"), 1, score_decimals=6).select(
        "vec_id", "label", "score"
    )


def q_topk_cosine_k5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 with k=5 — the reference's DEFAULT k (search_service.py:89)."""
    joined = _with_query_vector(spark, sf_dir)
    return topk_cosine(joined, F.col("_qv"), 5, score_decimals=6).select(
        "vec_id", "label", "score"
    )


def q_topk_cosine_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 over int8-quantized embeddings (operators/quantize.py): quantize ->
    dequantize -> exact cosine -> top-10. Proves the 4x-storage-cut path
    end-to-end against an oracle that replicates the quantization arithmetic
    (per-vector scale = max|x|/127 in double, scale stored as float32,
    round-half-up codes) bit-for-bit in SQL."""
    from ..operators.quantize import dequantize_embedding, quantize_embedding

    joined = _with_query_vector(spark, sf_dir).filter(F.col("embedding").isNotNull())
    dq = joined.withColumn(
        "_edq", dequantize_embedding(quantize_embedding(F.col("embedding")))
    )
    return topk_cosine(
        dq, F.col("_qv"), 10, embedding_col="_edq", score_decimals=6
    ).select("vec_id", "label", "score")


def _sql_topk_cosine_quantized(k: int, query_vec_id: int = 0) -> str:
    cos = _DUCK_COS.format(a="d.emb_dq", b="q._qv")
    return f"""
WITH q AS (SELECT embedding AS _qv FROM embeddings WHERE vec_id = {query_vec_id}),
qz AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ed,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale_d
  FROM embeddings WHERE embedding IS NOT NULL
),
d AS (
  SELECT vec_id, label,
         CASE WHEN scale_d = 0
              THEN list_transform(ed, x -> CAST(0.0 AS REAL))
              ELSE list_transform(
                     ed, x -> CAST(round(x / scale_d)
                                   * CAST(CAST(scale_d AS REAL) AS DOUBLE) AS REAL))
         END AS emb_dq
  FROM qz
)
SELECT d.vec_id, d.label, round({cos}, 6) AS score
FROM d CROSS JOIN q
ORDER BY score DESC, d.vec_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------------------
# LSH approximate top-k (reference T3/J2/F4/F5, lsh.py:19-95)
# --------------------------------------------------------------------------

# Oracle config: T=4 tables × P=8 planes over the 64-dim fixture — prunes
# ~97% of rows while keeping candidates non-empty at every SF (measured:
# 13/8/52 candidates at sf0.001/0.01/0.1). Full reference defaults (T=8,
# P=12, seed=42) are exercised in tests/test_lsh.py and bench.py.
_LSH_DIM = 64
_LSH_T, _LSH_P = 4, 8
_PLANES = generate_planes(_LSH_DIM, _LSH_T, _LSH_P, seed=42)


# --------------------------------------------------------------------------
# Product quantization (operators/pq.py — the memory-bound ANN path)
# --------------------------------------------------------------------------

_PQ_M, _PQ_KSUB = 8, 16
_PQ_CANDIDATES = 100


def _pq_codebooks():
    from ..operators.pq import fixed_codebooks

    return fixed_codebooks(_LSH_DIM, _PQ_M, _PQ_KSUB, seed=42)


def q_topk_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 PQ variant: encode to m one-byte codes (Arrow-batched ingest
    path), native ADC scan (driver-folded <query, centroid> table, m array
    lookups + adds per row in codegen), TakeOrderedAndProject candidate cut,
    exact-cosine re-rank to top-10. Codebooks are fixed seeded constants
    (operators/pq.py fixed_codebooks) so the DuckDB oracle replicates
    encode + ADC + re-rank from literals; KMeans-fit codebooks (fit_pq) are
    recall-tested in tests/test_pq.py."""
    from ..operators.pq import encode_pq, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    encoded = encode_pq(emb.filter(F.col("embedding").isNotNull()), _pq_codebooks())
    return pq_topk(
        encoded, _pq_codebooks(), qv, 10,
        candidates=_PQ_CANDIDATES, score_decimals=6,
    ).select("vec_id", "label", "score")


def _pq_sql_parts() -> tuple[str, str, str]:
    """The three SQL fragments every PQ oracle shares: per-subspace encode
    columns (argmin against the literal centroids — list_position of
    list_min = first-min, matching np.argmin), the query's ADC dot tables,
    and the ADC sum. cnorm2 literals are computed with the same numpy ops
    encode_pq uses, so the distance constants agree bit-for-bit."""
    import numpy as np

    cb = np.asarray(_pq_codebooks(), dtype=np.float64)
    m, ksub, dsub = cb.shape
    cnorm2 = (cb**2).sum(axis=2)

    code_cols = []
    for j in range(m):
        off = j * dsub
        dists = ", ".join(
            f"{cnorm2[j][c]!r} - 2*("
            + " + ".join(f"ue[{off + t + 1}]*{cb[j][c][t]!r}" for t in range(dsub))
            + ")"
            for c in range(ksub)
        )
        code_cols.append(
            f"CAST(list_position([{dists}], list_min([{dists}])) - 1 AS INT) AS code_{j}"
        )
    adc_tables = ", ".join(
        "["
        + ", ".join(
            "(" + " + ".join(f"qu[{j * dsub + t + 1}]*{cb[j][c][t]!r}" for t in range(dsub)) + ")"
            for c in range(ksub)
        )
        + f"] AS t{j}"
        for j in range(m)
    )
    adc_sum = " + ".join(f"qt.t{j}[c.code_{j} + 1]" for j in range(m))
    return ", ".join(code_cols), adc_tables, adc_sum


_IVFPQ_C, _IVFPQ_NPROBE = 8, 4


def _ivfpq_centroids() -> list[list[float]]:
    """Fixed seeded coarse centroids for the IVF-PQ oracle query (seed
    distinct from the PQ codebooks'). Production IVF fits centroids with
    MLlib KMeans (operators/ivf.py build_ivf_index); fixed ones exist so
    the SQL oracle can replicate the coarse assignment from literals."""
    import numpy as np

    rng = np.random.RandomState(7)
    c = rng.standard_normal((_IVFPQ_C, _LSH_DIM)) / np.sqrt(_LSH_DIM)
    return [[float(x) for x in row] for row in c]


def _ivfpq_unit_centroids() -> list[list[float]]:
    import numpy as np

    c = np.asarray(_ivfpq_centroids(), dtype=np.float64)
    return [
        [float(x) for x in row / np.linalg.norm(row)] for row in c
    ]


def _assign_cluster_expr() -> "F.Column":
    """cluster_id = argmax_c dot(embedding, unit_centroid_c) — cosine
    ranking without normalizing the row (scaling by 1/||x|| is monotone).
    First-max tie-break via array_position, mirrored by list_position in
    the oracle. Dots are sequential left-to-right folds against literal
    unit-centroid arrays (functions/vector.py dot), matching the oracle's
    explicit term-by-term sums bit-for-bit — and keeping the expression
    small enough for codegen (64 inline products per centroid blew the
    Janino method limit and forced interpreted fallback)."""
    from ..functions.lsh import spark_sql_plane_dot

    uc = _ivfpq_unit_centroids()
    arr = F.expr(
        "array("
        + ", ".join(spark_sql_plane_dot("embedding", uc[c]) for c in range(_IVFPQ_C))
        + ")"
    )
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (operators/pq.py ivfpq_topk): the FAISS-standard composition
    as one oracle-checked query — coarse-assign rows to fixed centroids,
    probe the nprobe best clusters for the query (driver-side, C is tiny),
    ADC-rank the PQ byte codes inside the probed clusters only, candidate
    cut, exact-cosine re-rank. At 100 TB the assignment is the partition
    key (partitionBy(cluster_id) — PartitionFilters prune the scan); here
    it is a column filter over the same predicate."""
    from ..operators.pq import encode_pq, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    assigned = emb.filter(F.col("embedding").isNotNull()).withColumn(
        "cluster_id", _assign_cluster_expr()
    )
    encoded = encode_pq(assigned, _pq_codebooks())
    return ivfpq_topk(
        encoded, _ivfpq_centroids(), _pq_codebooks(), qv, 10,
        nprobe=_IVFPQ_NPROBE, candidates=_PQ_CANDIDATES, score_decimals=6,
    ).select("vec_id", "label", "score")


def q_topk_cosine_pq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``topk_cosine_pq`` served from the persisted PQ artifact
    (operators/served.py build_served_pq): identical ADC ranking and exact
    re-rank — same oracle — but the encode pass was paid at build time, so
    the query is a native scan over m-byte codes. The build is cached per
    (corpus, codebooks), the 100 TB serve-many shape."""
    import os

    from ..operators.served import build_served_pq, pq_topk_served

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    corpus_path = os.path.join(sf_dir, "embeddings.parquet")
    path = build_served_pq(spark, corpus_path, _pq_codebooks())
    return pq_topk_served(
        spark, path, qv, 10, candidates=_PQ_CANDIDATES, score_decimals=6
    ).select("vec_id", "label", "score")


def _sql_ann_ivfpq_topk(k: int, query_vec_id: int = 0) -> str:
    """Oracle: identical pipeline in SQL. Coarse assignment and probe
    ranking use the same literal (unit) centroids; everything PQ-side is
    shared with the topk_cosine_pq oracle via _pq_sql_parts."""
    uc = _ivfpq_unit_centroids()
    code_cols, adc_tables, adc_sum = _pq_sql_parts()

    def dot(vec_expr: str, c: int) -> str:
        return " + ".join(
            f"{vec_expr}[{t + 1}]*{uc[c][t]!r}" for t in range(_LSH_DIM)
        )

    assign_scores = ", ".join(f"({dot('ed', c)})" for c in range(_IVFPQ_C))
    probe_rows = " UNION ALL ".join(
        f"SELECT {c} AS cid, ({dot('qd', c)}) AS s FROM qraw"
        for c in range(_IVFPQ_C)
    )
    cos = _DUCK_COS.format(a="cand.embedding", b="q2._qv")
    return f"""
WITH qraw AS (SELECT CAST(embedding AS DOUBLE[]) AS qd
              FROM embeddings WHERE vec_id = {query_vec_id}),
qu_ AS (SELECT qd, CASE WHEN sqrt(list_sum(list_transform(qd, x -> x*x))) = 0 THEN qd
                        ELSE list_transform(qd, x -> x / sqrt(list_sum(list_transform(qd, y -> y*y))))
                   END AS qu FROM qraw),
qt AS (SELECT {adc_tables} FROM qu_),
probe AS (SELECT cid FROM ({probe_rows})
          ORDER BY s DESC, cid ASC LIMIT {_IVFPQ_NPROBE}),
e AS (SELECT vec_id, label, embedding, CAST(embedding AS DOUBLE[]) AS ed
      FROM embeddings WHERE embedding IS NOT NULL),
assigned AS (SELECT vec_id, label, embedding, ed,
                    CAST(list_position([{assign_scores}],
                                       list_max([{assign_scores}])) - 1 AS INT)
                      AS cluster_id
             FROM e),
pruned AS (SELECT a.* FROM assigned a JOIN probe p ON a.cluster_id = p.cid),
un AS (SELECT vec_id, label, embedding,
              CASE WHEN sqrt(list_sum(list_transform(ed, x -> x*x))) = 0 THEN ed
                   ELSE list_transform(ed, x -> x / sqrt(list_sum(list_transform(ed, y -> y*y))))
              END AS ue
       FROM pruned),
c AS (SELECT vec_id, label, embedding, {code_cols} FROM un),
adc AS (SELECT c.vec_id, c.label, c.embedding, round({adc_sum}, 9) AS _adc
        FROM c CROSS JOIN qt),
cand AS (SELECT * FROM adc ORDER BY _adc DESC, vec_id ASC LIMIT {_PQ_CANDIDATES})
SELECT cand.vec_id, cand.label, round({cos}, 6) AS score
FROM cand CROSS JOIN (SELECT embedding AS _qv FROM embeddings
                      WHERE vec_id = {query_vec_id}) q2
ORDER BY score DESC, cand.vec_id ASC
LIMIT {k}
"""


def _sql_topk_cosine_pq(k: int, query_vec_id: int = 0) -> str:
    """Oracle: same pipeline in SQL — unit-normalize, encode, ADC from the
    query's own dot table, candidate cut, exact-cosine re-rank."""
    code_cols, adc_tables, adc_sum = _pq_sql_parts()
    cos = _DUCK_COS.format(a="cand.embedding", b="q2._qv")
    return f"""
WITH qraw AS (SELECT CAST(embedding AS DOUBLE[]) AS qd
              FROM embeddings WHERE vec_id = {query_vec_id}),
qu_ AS (SELECT CASE WHEN sqrt(list_sum(list_transform(qd, x -> x*x))) = 0 THEN qd
                    ELSE list_transform(qd, x -> x / sqrt(list_sum(list_transform(qd, y -> y*y))))
               END AS qu FROM qraw),
qt AS (SELECT {adc_tables} FROM qu_),
e AS (SELECT vec_id, label, embedding, CAST(embedding AS DOUBLE[]) AS ed
      FROM embeddings WHERE embedding IS NOT NULL),
un AS (SELECT vec_id, label, embedding,
              CASE WHEN sqrt(list_sum(list_transform(ed, x -> x*x))) = 0 THEN ed
                   ELSE list_transform(ed, x -> x / sqrt(list_sum(list_transform(ed, y -> y*y))))
              END AS ue
       FROM e),
c AS (SELECT vec_id, label, embedding, {code_cols} FROM un),
adc AS (SELECT c.vec_id, c.label, c.embedding, round({adc_sum}, 9) AS _adc
        FROM c CROSS JOIN qt),
cand AS (SELECT * FROM adc ORDER BY _adc DESC, vec_id ASC LIMIT {_PQ_CANDIDATES})
SELECT cand.vec_id, cand.label, round({cos}, 6) AS score
FROM cand CROSS JOIN (SELECT embedding AS _qv FROM embeddings
                      WHERE vec_id = {query_vec_id}) q2
ORDER BY score DESC, cand.vec_id ASC
LIMIT {k}
"""


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: LSH bucket-prune (union of per-table candidate sets) then exact
    cosine re-rank, top-10. Row codes come from the exact Arrow kernel
    (functions.lsh.bucket_codes); the query vector is resolved driver-side
    (a pushed-down point lookup) so its codes fold to long literals."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    return lsh_topk(emb, qv, 10, _PLANES, score_decimals=6).select(
        "vec_id", "label", "score"
    )


def q_lsh_topk_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 served from a persisted index (operators/served.py): identical
    result contract to ``lsh_topk`` — same codes, same prune, same rerank —
    but the per-row hashing was paid once at index-build time instead of per
    query. The build is cached per (corpus, config); bench.py warms it so the
    timed number is pure serving cost, which is the 100 TB query shape (the
    reference's rebuild-per-query, search_service.py:121-125, cannot scale)."""
    import os

    from ..operators.served import lsh_topk_served

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    corpus_path = os.path.join(sf_dir, "embeddings.parquet")
    return lsh_topk_served(
        spark, corpus_path, qv, 10, _PLANES, score_decimals=6
    ).select("vec_id", "label", "score")


_LIFECYCLE_DELETED_IDS = [0, 2, 4, 6, 8]


def q_lsh_topk_served_after_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Served-index LIFECYCLE (operators/served.py): build the LSH artifact
    once, tombstone-delete 5 ids (an O(batch) marker append — the corpus is
    never rewritten), then query. The serve path broadcast-anti-joins the
    marker set, so deleted rows vanish from results immediately; the deleted
    set includes the query vector itself (vec_id 0, score 1.0), so the
    delete visibly changes the top-k head. Re-running re-appends the same
    markers — idempotent, tombstones are distinct-ed at read. A dedicated
    artifact root keeps these tombstones out of ``lsh_topk_served``'s
    shared build. Oracle: the same LSH prune + exact rerank over the corpus
    minus the deleted ids."""
    import os
    import tempfile

    from ..operators.served import (
        build_served_index,
        lsh_topk_served,
        tombstone_delete,
    )

    root = os.path.join(
        os.environ.get(
            "SPARK_GRAFT_INDEX_DIR",
            os.path.join(tempfile.gettempdir(), "spark_graft_served_index"),
        ),
        "lifecycle",
    )
    corpus_path = os.path.join(sf_dir, "embeddings.parquet")
    path = build_served_index(spark, corpus_path, _PLANES, root=root)
    tombstone_delete(spark, path, _LIFECYCLE_DELETED_IDS)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    return lsh_topk_served(
        spark, corpus_path, qv, 10, _PLANES, score_decimals=6, root=root
    ).select("vec_id", "label", "score")


def _sql_lsh_topk(k: int, query_vec_id: int = 0, extra_where: str = "TRUE") -> str:
    cos = _DUCK_COS.format(a="e.embedding", b="q._qv")
    row_codes = [sql_bucket_code("e.embedding", t) for t in _PLANES]
    q_codes = [sql_bucket_code("q._qv", t) for t in _PLANES]
    match = " OR ".join(f"({rc}) = ({qc})" for rc, qc in zip(row_codes, q_codes))
    return f"""
WITH q AS (SELECT embedding AS _qv FROM embeddings WHERE vec_id = {query_vec_id})
SELECT e.vec_id, e.label, round({cos}, 6) AS score
FROM embeddings e CROSS JOIN q
WHERE e.embedding IS NOT NULL AND ({match}) AND ({extra_where})
ORDER BY score DESC, e.vec_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------------------
# Batched ANN (the 100 TB query shape: many queries, one pass)
# --------------------------------------------------------------------------

def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query exact top-5 for a batch of 5 query vectors in ONE plan:
    broadcast the query set, score fact rows once, window row_number per
    query. The batched twin of T1 — at scale this replaces N separate jobs."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qv"),
        )
    )
    from ..functions.vector import cosine_similarity

    scored = (
        emb.filter(F.col("embedding").isNotNull())
        .crossJoin(F.broadcast(queries_df))
        .withColumn(
            "score", F.round(cosine_similarity(F.col("embedding"), F.col("_qv")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "score", "rank")
        .orderBy("query_id", "rank")
    )


def _sql_ann_batch_topk() -> str:
    cos = _DUCK_COS.format(a="e.embedding", b="q._qv")
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS _qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id, round({cos}, 6) AS score,
         ROW_NUMBER() OVER (PARTITION BY q.query_id
                            ORDER BY round({cos}, 6) DESC, e.vec_id ASC) AS rank
  FROM embeddings e CROSS JOIN q
  WHERE e.embedding IS NOT NULL
)
SELECT query_id, vec_id, score, rank FROM scored WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_lsh_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched LSH: 5 query vectors against the corpus in ONE shuffle —
    explode codes on both sides, equi-join on (table, code), dedupe candidate
    pairs, exact rerank, per-query window top-5 (operators/lsh.py
    ``lsh_topk_batch``). The approximate twin of ``ann_batch_topk``: at
    100 TB the corpus shuffles once on the bucket key instead of being
    cross-joined against every query."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    from ..operators.lsh import lsh_topk_batch

    # Exact Arrow kernel on both sides (functions.lsh.bucket_codes): one
    # vectorized fold per batch, codes bit-identical to the oracle's.
    return lsh_topk_batch(
        queries_df, emb, 5, _PLANES, score_decimals=6
    ).orderBy("query_id", "rank")


def _sql_lsh_batch_topk() -> str:
    cos = _DUCK_COS.format(a="e.embedding", b="q._qv")
    overlap = " OR ".join(
        f"({sql_bucket_code('e.embedding', t)}) = ({sql_bucket_code('q._qv', t)})"
        for t in _PLANES
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS _qv FROM embeddings WHERE vec_id < 5),
cand AS (
  SELECT q.query_id, e.vec_id, round({cos}, 6) AS score
  FROM embeddings e JOIN q ON ({overlap})
  WHERE e.embedding IS NOT NULL
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (MLlib KMeans partitioning) with FULL probe: scanning every
    cluster makes the result exactly the brute-force top-k, so the same SQL
    oracle applies — proving the IVF plumbing loses nothing. The approximate
    path (nprobe < C, partition-pruned scan) is recall-tested in
    tests/test_ivf.py; at scale it is the same plan over a
    partitionBy(cluster_id) layout."""
    from ..operators.ivf import build_ivf_index, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    assigned, centroids = build_ivf_index(emb, 8, seed=42)
    return ivf_topk(
        assigned, centroids, qv, 10, nprobe=8, score_decimals=6
    ).select("vec_id", "label", "score")


def q_ann_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-probe IVF served from the persisted partitioned layout
    (operators/served.py build_served_ivf): the KMeans fit and the
    partitionBy(cluster_id) write were paid once; the query ranks centroids
    driver-side and scans the probed directories. Full probe == exact brute
    force, so the brute oracle applies — the approximate nprobe<C path over
    the same layout is recall-tested in tests/test_ivf.py."""
    import os

    from ..operators.ivf import ivf_topk, read_ivf_layout
    from ..operators.served import build_served_ivf

    corpus_path = os.path.join(sf_dir, "embeddings.parquet")
    path = build_served_ivf(spark, corpus_path, 8, seed=42)
    assigned, centroids = read_ivf_layout(spark, path)
    qv = [
        float(x)
        for x in assigned.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]
    ]
    return ivf_topk(
        assigned, centroids, qv, 10, nprobe=8, score_decimals=6
    ).select("vec_id", "label", "score")


# --------------------------------------------------------------------------
# Random projection (JL sketch)
# --------------------------------------------------------------------------

_PROJ_K, _PROJ_DIM, _PROJ_SEED = 8, 64, 7


def q_embedding_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.project import projection_planes, random_projection

    planes = projection_planes(_PROJ_DIM, _PROJ_K, seed=_PROJ_SEED)
    out = random_projection(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        planes,
    )
    rounded = [F.round(f"p{i}", 6).alias(f"p{i}") for i in range(_PROJ_K)]
    return out.select("vec_id", *rounded).orderBy("vec_id")


def _sql_embedding_projection() -> str:
    from ..operators.project import projection_planes, sql_random_projection

    planes = projection_planes(_PROJ_DIM, _PROJ_K, seed=_PROJ_SEED)
    cols = ",\n       ".join(sql_random_projection(planes))
    return f"SELECT vec_id,\n       {cols}\nFROM embeddings ORDER BY vec_id"


# Sketch-ANN config: 16 projections, 100-candidate budget. On the tightly
# clustered unit-norm fixture (top-10 cosine gaps ~1e-2) recall@100 is ~6/10
# — 3x the random-candidate baseline; a JL sketch cannot resolve gaps much
# below sqrt(1/k), which is the documented tradeoff vs LSH's 32-bit codes.
_SKETCH_K, _SKETCH_CANDIDATES = 16, 100


def q_ann_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-prefilter ANN: rank by the 16-dim JL sketch of the UNIT
    vectors (the sketch must approximate cosine, the re-rank metric), keep
    the top-100 candidates (TakeOrderedAndProject), exact-cosine re-rank to
    10. The LSH family's alternative when a tunable candidate budget beats
    a hard bucket cutoff."""
    from ..operators.project import projected_prefilter_topk, projection_planes

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    planes = projection_planes(_PROJ_DIM, _SKETCH_K, seed=_PROJ_SEED)
    return projected_prefilter_topk(
        emb, planes, qv, 10, candidates=_SKETCH_CANDIDATES, score_decimals=6
    ).select("vec_id", "label", "score")


def _sql_ann_projected_topk(
    k: int = 10, candidates: int = _SKETCH_CANDIDATES, query_vec_id: int = 0
) -> str:
    from ..functions.lsh import sql_plane_dot
    from ..operators.project import projection_planes

    planes = projection_planes(_PROJ_DIM, _SKETCH_K, seed=_PROJ_SEED)
    # both sides unit-normalized before projecting (the sketch approximates
    # cosine, the re-rank metric), same zero-norm convention as _DUCK_COS
    unit = """
  SELECT vec_id, label, embedding,
         CASE WHEN sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) = 0
              THEN CAST(embedding AS DOUBLE[])
              ELSE list_transform(
                     CAST(embedding AS DOUBLE[]),
                     x -> x / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y))))
         END AS u
  FROM embeddings WHERE embedding IS NOT NULL
"""
    sketch = " + ".join(
        f"({sql_plane_dot('e.u', p)} * {sql_plane_dot('q.u', p)})" for p in planes
    )
    cos = _DUCK_COS.format(a="c.embedding", b="q.embedding")
    return f"""
WITH unitv AS ({unit}),
q AS (SELECT * FROM unitv WHERE vec_id = {query_vec_id}),
scored AS (
  SELECT e.vec_id, e.label, e.embedding, round({sketch}, 6) AS _sketch
  FROM unitv e CROSS JOIN q
),
cand AS (
  SELECT * FROM scored ORDER BY _sketch DESC, vec_id ASC LIMIT {candidates}
)
SELECT c.vec_id, c.label, round({cos}, 6) AS score
FROM cand c CROSS JOIN q
ORDER BY score DESC, c.vec_id ASC
LIMIT {k}
"""


# --------------------------------------------------------------------------
# Grouped-vector aggregation (centroids)
# --------------------------------------------------------------------------

_EMB_DIM = 64


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (operators/centroids.py): element-wise
    mean vector + group size via posexplode -> partial-agg groupBy — the one
    scan, tiny output cluster-summary job. The assembled array is exploded
    back to (label, pos, value) so every output cell is a hashable scalar;
    the applyInPandas and GROUPED_AGG-UDAF twins are parity-tested in
    tests/test_centroids.py."""
    from ..operators.centroids import label_centroids

    cent = label_centroids(load_table(spark, sf_dir, "embeddings"))
    return (
        cent.select(
            "label",
            "n_vectors",
            F.posexplode("centroid").alias("pos", "value"),
        )
        .select("label", "n_vectors", "pos", F.round("value", 6).alias("value"))
        .orderBy("label", "pos")
    )


def _sql_label_centroids(dim: int = _EMB_DIM) -> str:
    return f"""
WITH b AS (
  SELECT label, CAST(j AS INTEGER) AS pos, CAST(embedding[j + 1] AS DOUBLE) AS x
  FROM embeddings, range({dim}) t(j)
  WHERE embedding IS NOT NULL
)
SELECT label, COUNT(*) AS n_vectors, pos, round(avg(x), 6) AS value
FROM b GROUP BY label, pos ORDER BY label, pos
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def q_topk_cosine_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-bit quantization ANN (operators/binary.py): Hamming-rank
    32x-compressed codes, candidate cut, exact-cosine re-rank."""
    from ..operators.binary import binary_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    return binary_topk(emb, qv, 10, dim=_LSH_DIM, candidates=100).select(
        "vec_id", "label", "score"
    )


def _sql_topk_cosine_binary(
    k: int = 10, c: int = 100, dim: int = 64, query_vec_id: int = 0
) -> str:
    """Oracle: pack + Hamming + re-rank replicated from literals (32-bit
    words — bit 63 of a single packed word would overflow signed shifts
    differently across engines)."""

    def word(lo: int, hi: int, vec: str) -> str:
        return (
            f"list_sum(list_transform(range({lo}, {hi}), "
            f"i -> CASE WHEN {vec}[i + 1] > 0 "
            f"THEN (1::BIGINT << (i % 32)) ELSE 0 END))"
        )

    n_words = (dim + 31) // 32
    words = [word(w * 32, min((w + 1) * 32, dim), "embedding") for w in range(n_words)]
    qwords = [word(w * 32, min((w + 1) * 32, dim), "_qv") for w in range(n_words)]
    ham = " + ".join(
        f"bit_count(xor(cw.w{i}, qw.qw{i}))" for i in range(n_words)
    )
    cos = _DUCK_COS.format(a="cand.embedding", b="q2._qv")
    w_cols = ", ".join(f"{w} AS w{i}" for i, w in enumerate(words))
    qw_cols = ", ".join(f"{w} AS qw{i}" for i, w in enumerate(qwords))
    return f"""
WITH qw AS MATERIALIZED (
  SELECT {qw_cols}
  FROM (SELECT embedding AS _qv FROM embeddings WHERE vec_id = {query_vec_id})),
cw AS (SELECT vec_id, label, embedding, {w_cols}
       FROM embeddings WHERE embedding IS NOT NULL),
cand AS MATERIALIZED (
  SELECT cw.vec_id, cw.label, cw.embedding, {ham} AS hamming
  FROM cw CROSS JOIN qw
  ORDER BY hamming ASC, cw.vec_id ASC LIMIT {c})
SELECT cand.vec_id, cand.label, round({cos}, 6) AS score
FROM cand CROSS JOIN (SELECT embedding AS _qv FROM embeddings
                      WHERE vec_id = {query_vec_id}) q2
ORDER BY score DESC, cand.vec_id ASC
LIMIT {k}
"""


def q_ann_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP top-k: the 3 nearest rows to the query within every label
    — one scan, one window keyed by the group (partial agg-free, the
    per-group heap lives in the window sort). The 'diverse results per
    category' serving shape; contrast with global top-k's
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    joined = _with_query_vector(spark, sf_dir)
    from ..functions.vector import cosine_similarity

    scored = joined.filter(F.col("embedding").isNotNull()).select(
        "vec_id",
        "label",
        F.round(cosine_similarity(F.col("embedding"), F.col("_qv")), 6).alias(
            "score"
        ),
    )
    w = Window.partitionBy("label").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .orderBy("label", "rank")
    )


def _sql_ann_grouped_topk(k: int = 3, query_vec_id: int = 0) -> str:
    cos = _DUCK_COS.format(a="e.embedding", b="q._qv")
    return f"""
WITH q AS (SELECT embedding AS _qv FROM embeddings WHERE vec_id = {query_vec_id}),
scored AS (SELECT e.vec_id, e.label, round({cos}, 6) AS score
           FROM embeddings e CROSS JOIN q WHERE e.embedding IS NOT NULL),
ranked AS (SELECT vec_id, label, score,
                  ROW_NUMBER() OVER (PARTITION BY label
                                     ORDER BY score DESC, vec_id ASC) AS rank
           FROM scored)
SELECT vec_id, label, score, rank FROM ranked
WHERE rank <= {k} ORDER BY label, rank
"""


def q_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (operators/mmr.py): distributed top-50
    candidate generation, then the greedy diversity selection down to 10 —
    the canonical X2 reranker, oracle-checked by unrolling the greedy."""
    from ..operators.mmr import mmr_rerank

    joined = _with_query_vector(spark, sf_dir)
    cand = topk_cosine(joined, F.col("_qv"), 50, score_decimals=6).select(
        "vec_id", "label", "embedding", "score"
    )
    return mmr_rerank(cand, 10, lam=0.7).orderBy("mmr_rank")


def _sql_mmr_topk(
    k: int = 10, c: int = 50, lam: float = 0.7, query_vec_id: int = 0
) -> str:
    """Oracle: the k greedy MMR steps unrolled as chained CTEs — each step
    picks argmax of lam*score - (1-lam)*max(sim to selected) over the
    not-yet-selected candidates, ties to lowest id, exactly mirroring
    operators/mmr.py mmr_select."""
    cos_q = _DUCK_COS.format(a="e.embedding", b="q._qv")
    lam_s, pen_s = repr(lam), repr(1 - lam)
    parts = [
        f"""q AS (SELECT embedding AS _qv FROM embeddings WHERE vec_id = {query_vec_id}),
cand AS MATERIALIZED (SELECT e.vec_id, e.label, e.embedding, round({cos_q}, 6) AS score
         FROM embeddings e CROSS JOIN q
         WHERE e.embedding IS NOT NULL
         ORDER BY score DESC, e.vec_id ASC LIMIT {c}),
sel0 AS MATERIALIZED (SELECT vec_id, label, embedding, score, 0 AS mmr_rank,
                round({lam_s} * score, 6) AS mmr_score
         FROM cand ORDER BY round({lam_s} * score, 6) DESC, vec_id LIMIT 1),
all0 AS MATERIALIZED (SELECT * FROM sel0)"""
    ]
    pair = _DUCK_COS.format(a="r.embedding", b="s.embedding")
    for r in range(1, k):
        parts.append(
            f"""sel{r} AS MATERIALIZED (
  SELECT r.vec_id, r.label, r.embedding, r.score, {r} AS mmr_rank,
         round({lam_s} * r.score
               - {pen_s} * (SELECT MAX(round({pair}, 6)) FROM all{r - 1} s), 6)
           AS mmr_score
  FROM cand r
  WHERE r.vec_id NOT IN (SELECT vec_id FROM all{r - 1})
  ORDER BY mmr_score DESC, r.vec_id LIMIT 1),
all{r} AS MATERIALIZED (SELECT * FROM all{r - 1} UNION ALL SELECT * FROM sel{r})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, label, score, mmr_rank, mmr_score"
        f"\nFROM all{k - 1} ORDER BY mmr_rank"
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 keyword list + cosine vector list, RRF-fused
# --------------------------------------------------------------------------

_HYBRID_TERMS = ["vector", "join", "hash", "stream"]
_HYBRID_CAND = 50  # per-list candidate depth
_HYBRID_K = 10


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search (operators/bm25.py): top-50 BM25 candidates over
    ``documents.text`` and top-50 cosine candidates over ``embeddings``
    (query = vec_id 0), fused by reciprocal-rank fusion (c=60), final
    top-10. Each retrieval arm keeps its scalable plan (term-filtered
    pre-shuffle BM25, TakeOrderedAndProject cosine); the rank windows and
    the fusion join only ever touch the two 50-row candidate lists."""
    from ..operators.bm25 import bm25_topk, rrf_fuse, with_rank

    docs = load_table(spark, sf_dir, "documents")
    bm = bm25_topk(docs, _HYBRID_TERMS, _HYBRID_CAND)
    bm_ranked = with_rank(bm, [F.col("score").desc(), F.col("doc_id").asc()])

    joined = _with_query_vector(spark, sf_dir)
    vec = topk_cosine(joined, "_qv", _HYBRID_CAND, score_decimals=6).select(
        F.col("vec_id").alias("doc_id"), "score"
    )
    vec_ranked = with_rank(vec, [F.col("score").desc(), F.col("doc_id").asc()])
    return rrf_fuse(bm_ranked, vec_ranked, id_col="doc_id", k=_HYBRID_K)


def _sql_hybrid_rrf() -> str:
    from ..functions.text import SQL_TOKENS
    from ..operators.bm25 import sql_bm25_scores

    bm_scores = sql_bm25_scores(_HYBRID_TERMS, toks_expr=SQL_TOKENS.format(text="text"))
    cos = _DUCK_COS.format(a="e.embedding", b="q._qv")
    return f"""
WITH bm AS ({bm_scores}),
bmr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM bm QUALIFY rank <= {_HYBRID_CAND}
),
q AS (SELECT embedding AS _qv FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT e.vec_id AS doc_id, ROUND({cos}, 6) AS score
  FROM embeddings e CROSS JOIN q WHERE e.embedding IS NOT NULL
),
vr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM vec QUALIFY rank <= {_HYBRID_CAND}
),
fused AS (
  SELECT doc_id,
         ROUND(COALESCE(1.0 / (60.0 + b.rank), 0.0)
               + COALESCE(1.0 / (60.0 + v.rank), 0.0), 6) AS rrf_score
  FROM bmr b FULL OUTER JOIN vr v USING (doc_id)
)
SELECT doc_id, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id ASC LIMIT {_HYBRID_K}
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: per label, the L2 distance
    between the centroid of the 'early' corpus half (even vec_id) and the
    'late' half (odd vec_id), plus both populations. The production check
    that an embedding provider / upstream distribution hasn't shifted.
    Physical: ONE posexplode pass with two conditional decimal sums per
    (label, dim) — map-side combined — then a |labels|-row fold; no join
    between the halves, the corpus is scanned once."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    is_early = (F.col("vec_id") % 2) == 0
    per_dim = (
        emb.select(
            "label",
            F.col("vec_id"),
            F.posexplode("embedding").alias("pos", "_x"),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum(
                F.when(is_early, F.round(F.col("_x").cast("double"), 6)).cast(
                    "decimal(28,6)"
                )
            ).alias("_sa"),
            F.sum(
                F.when(~is_early, F.round(F.col("_x").cast("double"), 6)).cast(
                    "decimal(28,6)"
                )
            ).alias("_sb"),
            F.count(F.when(is_early, 1)).alias("_na"),
            F.count(F.when(~is_early, 1)).alias("_nb"),
        )
        .select(
            "label",
            "_na",
            "_nb",
            (
                F.round(F.col("_sa").cast("double") / F.col("_na"), 6)
                - F.round(F.col("_sb").cast("double") / F.col("_nb"), 6)
            ).alias("_d"),
        )
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("_na").alias("n_early"),
            F.max("_nb").alias("n_late"),
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(F.col("_d") * F.col("_d"), 12).cast("decimal(38,12)")
                    ).cast("double")
                ),
                6,
            ).alias("centroid_drift"),
        )
        .orderBy("label")
    )


def _sql_embedding_drift() -> str:
    return """
WITH base AS (
  SELECT label, vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x,
         generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos
  FROM embeddings WHERE embedding IS NOT NULL
),
per_dim AS (
  SELECT label, pos,
         SUM(CASE WHEN vec_id % 2 = 0
                  THEN CAST(ROUND(x, 6) AS DECIMAL(28,6)) END) AS sa,
         SUM(CASE WHEN vec_id % 2 <> 0
                  THEN CAST(ROUND(x, 6) AS DECIMAL(28,6)) END) AS sb,
         COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS na,
         COUNT(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS nb
  FROM base GROUP BY 1, 2
),
diffs AS (
  SELECT label, na, nb,
         ROUND(CAST(sa AS DOUBLE) / na, 6)
           - ROUND(CAST(sb AS DOUBLE) / nb, 6) AS d
  FROM per_dim
)
SELECT label, MAX(na) AS n_early, MAX(nb) AS n_late,
       ROUND(sqrt(CAST(SUM(CAST(ROUND(d * d, 12) AS DECIMAL(38,12)))
                       AS DOUBLE)), 6) AS centroid_drift
FROM diffs GROUP BY label
ORDER BY label
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 Lloyd rounds of k=8 k-means over the embedding table
    (operators/kmeans.py): assignment is one codegen projection with the
    centroid table folded in (no join/shuffle), the update is a
    posexplode partial-agg shuffle of k x d sums, and the oracle replays
    the identical decimal-exact iterations in unrolled SQL."""
    from ..operators.kmeans import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(emb, 8, 3).orderBy("vec_id")


def _sql_kmeans_clusters() -> str:
    from ..operators.kmeans import sql_kmeans_assignments

    return sql_kmeans_assignments(8, 3) + "\nORDER BY vec_id"


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "topk_cosine_brute": q_topk_cosine_brute,
    "hybrid_rrf": q_hybrid_rrf,
    "kmeans_clusters": q_kmeans_clusters,
    "embedding_drift": q_embedding_drift,
    "mmr_topk": q_mmr_topk,
    "topk_cosine_binary": q_topk_cosine_binary,
    "ann_grouped_topk": q_ann_grouped_topk,
    "topk_cosine_filtered": q_topk_cosine_filtered,
    "topk_cosine_k100": q_topk_cosine_k100,
    "topk_cosine_k1": q_topk_cosine_k1,
    "topk_cosine_k5": q_topk_cosine_k5,
    "topk_cosine_quantized": q_topk_cosine_quantized,
    "topk_cosine_pq": q_topk_cosine_pq,
    "topk_cosine_pq_served": q_topk_cosine_pq_served,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "lsh_topk": q_lsh_topk,
    "lsh_topk_served": q_lsh_topk_served,
    "lsh_topk_served_after_delete": q_lsh_topk_served_after_delete,
    "ann_batch_topk": q_ann_batch_topk,
    "lsh_batch_topk": q_lsh_batch_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_ivf_served": q_ann_ivf_served,
    "embedding_projection": q_embedding_projection,
    "ann_projected_topk": q_ann_projected_topk,
    "label_centroids": q_label_centroids,
}

ORACLE_SQL: dict[str, str] = {
    "ann_batch_topk": _sql_ann_batch_topk(),
    "lsh_batch_topk": _sql_lsh_batch_topk(),
    "topk_cosine_brute": _sql_topk_cosine(10),
    "hybrid_rrf": _sql_hybrid_rrf(),
    "kmeans_clusters": _sql_kmeans_clusters(),
    "embedding_drift": _sql_embedding_drift(),
    "mmr_topk": _sql_mmr_topk(),
    "topk_cosine_binary": _sql_topk_cosine_binary(),
    "ann_grouped_topk": _sql_ann_grouped_topk(),
    "topk_cosine_filtered": _sql_topk_cosine(10, where="e.label = 3"),
    "topk_cosine_k100": _sql_topk_cosine(100),
    "topk_cosine_k1": _sql_topk_cosine(1),
    "topk_cosine_k5": _sql_topk_cosine(5),
    "topk_cosine_quantized": _sql_topk_cosine_quantized(10),
    "topk_cosine_pq": _sql_topk_cosine_pq(10),
    "topk_cosine_pq_served": _sql_topk_cosine_pq(10),  # same contract, served artifact
    "ann_ivfpq_topk": _sql_ann_ivfpq_topk(10),
    "lsh_topk": _sql_lsh_topk(10),
    "lsh_topk_served": _sql_lsh_topk(10),  # identical contract, served index
    "lsh_topk_served_after_delete": _sql_lsh_topk(
        10,
        extra_where="e.vec_id NOT IN ("
        + ", ".join(str(i) for i in _LIFECYCLE_DELETED_IDS)
        + ")",
    ),
    "ann_ivf_topk": _sql_topk_cosine(10),  # full probe == exact brute force
    "ann_ivf_served": _sql_topk_cosine(10),  # same contract, served layout
    "embedding_projection": _sql_embedding_projection(),
    "ann_projected_topk": _sql_ann_projected_topk(),
    "label_centroids": _sql_label_centroids(),
}


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall measurement for the approximate LSH path: per query, what
    fraction of the EXACT batch top-5 (ann_batch_topk) the bucket-overlap
    LSH batch (lsh_batch_topk) recovered. The quality metric every ANN
    deployment tracks beside latency; both inputs are deterministic here,
    so recall itself is oracle-exact (same two SQL bodies composed). One
    broadcast-side join on the 25-row result sets — negligible at any
    scale; the cost is the two searches themselves."""
    exact = q_ann_batch_topk(spark, sf_dir).select("query_id", "vec_id")
    approx = q_lsh_batch_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce("_hit", F.lit(0))).cast("double") / F.lit(5.0), 6
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


def _sql_ann_lsh_recall() -> str:
    return f"""
WITH exact_r AS ({_sql_ann_batch_topk()}),
approx_r AS ({_sql_lsh_batch_topk()})
SELECT e.query_id,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       ROUND(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5.0, 6)
         AS recall_at_5
FROM exact_r e
LEFT JOIN approx_r a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY 1 ORDER BY 1
"""


QUERIES["ann_lsh_recall"] = q_ann_lsh_recall
ORACLE_SQL["ann_lsh_recall"] = _sql_ann_lsh_recall()


# (tables, bits) for the registered bucket-DBSCAN instance. Round 7 froze
# 8x4 (16 buckets/table) — so dense on the fixture that EVERY label fused
# into one component (1979 core / 1 cluster / 0 noise: degenerate) while
# generating 10,448 candidate pairs. Re-picked for the fixture density at
# 4x6: 2,965 pairs (-72%), 15 real clusters with core/border/noise all
# populated, and the headline cost drops ~2.5x. The oracle derives its
# bucket predicate from the SAME constants, so it follows automatically.
_DBSCAN_TABLES, _DBSCAN_BITS = 4, 6
# The k-NN variant trades bucket recall back up (8 tables) because its
# degree cap — not bucket occupancy — bounds the edge set.
_KNN_TABLES, _KNN_BITS, _KNN_K = 8, 6, 10


def q_dbscan_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DBSCAN over the embedding corpus (operators/dbscan.py):
    eps-neighborhood = LSH-bucket-coincident AND cosine >= 0.3 (the
    sub-quadratic scale path — candidates only from shared buckets, exact
    verify), min_pts = 5. Output: every vector's role (core/border/noise)
    and its min-core-id cluster. The oracle reproduces the identical
    neighbor predicate in SQL and resolves the core components with a
    recursive CTE — an exact end-to-end check of an iterative density
    clustering, LSH bucketing included."""
    from ..operators.dbscan import dbscan
    from ..operators.dedup import embedding_neardup_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    planes = generate_planes(64, _DBSCAN_TABLES, _DBSCAN_BITS, seed=42)
    pairs = embedding_neardup_pairs_lsh(emb, planes, tau=0.3).select("id1", "id2")
    # Pair graph is corpus-bounded but tiny relative to the session's
    # corpus-sized shuffle width; run the edge-linear stages narrow
    # (see dedup_clusters: ~40% of CC wall time was empty-task overhead).
    return dbscan(
        emb.select("vec_id"), pairs, min_pts=5, id_col="vec_id", num_partitions=8
    ).orderBy("vec_id")


def _sql_dbscan_from_pairs(pairs_cte: str, *, min_pts: int = 5) -> str:
    """Shared DBSCAN oracle tail: given a SQL body producing (id1, id2)
    neighbor pairs (id1 < id2, each pair once), resolve core / border /
    noise roles and min-core-id clusters with a recursive CTE — the exact
    mirror of operators/dbscan.py's relational restatement."""
    return f"""
WITH RECURSIVE pts AS (SELECT vec_id AS id FROM embeddings WHERE embedding IS NOT NULL),
pairs AS MATERIALIZED ({pairs_cte}),
edges AS MATERIALIZED (
  SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
core AS MATERIALIZED (SELECT a AS id FROM edges GROUP BY a HAVING COUNT(*) >= {min_pts - 1}),
core_edges AS MATERIALIZED (
  SELECT e.a, e.b FROM edges e
  JOIN core c1 ON e.a = c1.id JOIN core c2 ON e.b = c2.id),
reach(id, r) AS (
  SELECT id, id FROM core
  UNION
  SELECT e.a, reach.r FROM core_edges e JOIN reach ON reach.id = e.b),
cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
border AS (
  SELECT e.a AS id, MIN(cc.cluster_id) AS cluster_id
  FROM edges e JOIN cc ON e.b = cc.id
  WHERE e.a NOT IN (SELECT id FROM core) GROUP BY e.a)
SELECT pts.id AS vec_id,
  CASE WHEN cc.id IS NOT NULL THEN 'core'
       WHEN border.id IS NOT NULL THEN 'border'
       ELSE 'noise' END AS role,
  COALESCE(cc.cluster_id, border.cluster_id) AS cluster_id
FROM pts
LEFT JOIN cc ON pts.id = cc.id
LEFT JOIN border ON pts.id = border.id
ORDER BY vec_id
"""


def _sql_dbscan_embedding_clusters() -> str:
    planes = generate_planes(64, _DBSCAN_TABLES, _DBSCAN_BITS, seed=42)
    overlap = " OR ".join(
        f"({sql_bucket_code('a.embedding', t)}) = ({sql_bucket_code('b.embedding', t)})"
        for t in planes
    )
    cos = _DUCK_COS.format(a="a.embedding", b="b.embedding")
    return _sql_dbscan_from_pairs(
        f"""
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
    AND ({overlap}) AND round({cos}, 6) >= 0.3
""",
        min_pts=5,
    )


QUERIES["dbscan_embedding_clusters"] = q_dbscan_embedding_clusters
ORACLE_SQL["dbscan_embedding_clusters"] = _sql_dbscan_embedding_clusters()


def q_dbscan_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over the k-NN graph (operators/dbscan.py knn_edges_lsh):
    each vector keeps only its k=10 best bucket-coincident neighbors
    (cosine >= 0.3, ranked cosine DESC then id ASC — a total order), and
    the pair set is the union-symmetrized k-NN graph. This is the
    bounded-degree fix for bucket-DBSCAN's densification hazard: the edge
    set is <= N*k at ANY corpus density (bucket-DBSCAN's grew 5.2 -> 65.1
    pairs/vector across one decade, BENCH_sf10.md). The oracle replays the
    identical ranked trim with ROW_NUMBER and resolves components with the
    shared recursive-CTE tail — end-to-end exact, degree cap included."""
    from ..operators.dbscan import dbscan, knn_edges_lsh

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    planes = generate_planes(64, _KNN_TABLES, _KNN_BITS, seed=42)
    pairs = knn_edges_lsh(emb, planes, k=_KNN_K, tau=0.3, num_partitions=8)
    return dbscan(
        emb.select("vec_id"), pairs, min_pts=5, id_col="vec_id", num_partitions=8
    ).orderBy("vec_id")


def _sql_dbscan_knn_clusters() -> str:
    planes = generate_planes(64, _KNN_TABLES, _KNN_BITS, seed=42)
    overlap = " OR ".join(
        f"({sql_bucket_code('a.embedding', t)}) = ({sql_bucket_code('b.embedding', t)})"
        for t in planes
    )
    cos = _DUCK_COS.format(a="a.embedding", b="b.embedding")
    return _sql_dbscan_from_pairs(
        f"""
  SELECT LEAST(src, dst) AS id1, GREATEST(src, dst) AS id2
  FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rn
    FROM (
      SELECT a.vec_id AS src, b.vec_id AS dst, round({cos}, 6) AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
        AND ({overlap}) AND round({cos}, 6) >= 0.3))
  WHERE rn <= {_KNN_K}
  GROUP BY 1, 2
""",
        min_pts=5,
    )


QUERIES["dbscan_knn_clusters"] = q_dbscan_knn_clusters
ORACLE_SQL["dbscan_knn_clusters"] = _sql_dbscan_knn_clusters()


# --------------------------------------------------------------------------
# IVF recall-vs-nprobe curve
# --------------------------------------------------------------------------

_IVF_CURVE_K, _IVF_CURVE_ITERS = 8, 3
_IVF_CURVE_NPROBES = (1, 2, 4, 8)
# top-k = 100 > the fixture's per-cluster neighbor count, so the exact
# top-k SPANS clusters and the curve is informative (recall < 1 at small
# nprobe). At top-10 every neighbor shared the query's cluster and the
# curve degenerated to 1.0 at every nprobe — an instrument that cannot
# catch a probe-ordering bug (the r7 dbscan degenerate-instance lesson).
_IVF_CURVE_TOPK = 100


def q_ann_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@100 of IVF probing at nprobe ∈ {1, 2, 4, 8} against the exact
    brute-force top-100 — the accuracy/latency trade-off curve every IVF
    deployment publishes beside its index (nprobe = k degrades to exact,
    recall 1.0 by construction; the curve shows what each probed cluster
    buys).

    The partitioning is the SQL-reproducible Lloyd's k-means
    (operators/kmeans.py, fixed lowest-id init, decimal-exact means), so
    the oracle replays the ENTIRE pipeline — fit, probe ranking, per-leg
    top-10, recall join — bit-for-bit; probe order ranks clusters by
    round(cosine(query, fitted centroid), 6) with cluster-id tie-break
    (sequential folds on both engines). Scale: the fit is the k-means
    cost; scoring is ONE corpus pass materialized once (eager checkpoint)
    and re-read by the 4 bounded legs + the brute leg; at deployment the
    legs are partition-pruned scans of an existing partitionBy(cluster)
    layout (operators/served.py) — this query is the QUALITY instrument,
    not the serving path."""
    from pyspark import StorageLevel

    from ..functions.vector import cosine_similarity
    from ..operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_fit(emb, _IVF_CURVE_K, _IVF_CURVE_ITERS)
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]
    ]
    # One expr parse, not 64 F.lit round trips (spark_sql_plane_dot precedent).
    qcol = F.expr("array(" + ", ".join(f"{float(x)!r}D" for x in qv) + ")")
    # Probe order from the SAME engine expression used for scoring — a
    # k-row Spark frame through cosine_similarity + round(,6), collected
    # (bounded control-plane: k rows). A third driver-side Python float
    # fold would have to agree bit-for-bit with BOTH engines; a centroid
    # cosine landing exactly on a 1e-6 rounding boundary in any one of
    # the three would silently reorder probes. Now only the two engines
    # that already must agree on `scored` participate.
    cent_rows = [(c, [float(x) for x in vec]) for c, vec in enumerate(centroids)]
    cent_df = local_frame(spark, cent_rows, "cluster int, c array<double>")
    cent_scores = cent_df.select(
        "cluster",
        F.round(cosine_similarity(F.col("c"), qcol), 6).alias("cs"),
    ).collect()
    probe_order = [
        r["cluster"]
        for r in sorted(cent_scores, key=lambda r: (-r["cs"], r["cluster"]))
    ]
    scored = assigned.select(
        "vec_id",
        "cluster",
        F.round(
            cosine_similarity(F.col("embedding").cast("array<double>"), qcol), 6
        ).alias("score"),
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    brute = (
        scored.orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(_IVF_CURVE_TOPK)
        .select("vec_id", F.lit(1).alias("_h"))
    )
    legs = []
    for np_ in _IVF_CURVE_NPROBES:
        allowed = probe_order[:np_]
        legs.append(
            scored.filter(F.col("cluster").isin(allowed))
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(_IVF_CURVE_TOPK)
            .join(F.broadcast(brute), "vec_id", "left")
            .agg(F.sum(F.coalesce("_h", F.lit(0))).cast("long").alias("n_hits"))
            .select(
                F.lit(np_).cast("int").alias("nprobe"),
                "n_hits",
                F.round(
                    F.col("n_hits") / F.lit(float(_IVF_CURVE_TOPK)), 6
                ).alias("recall"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("nprobe")


def _sql_ann_ivf_recall_curve() -> str:
    from ..operators.kmeans import sql_kmeans_ctes

    it = _IVF_CURVE_ITERS
    cos_cq = _DUCK_COS.format(a="c.c", b="q.q")
    cos_vq = _DUCK_COS.format(a="b.v", b="q.q")
    leg_ctes = []
    leg_rows = []
    for np_ in _IVF_CURVE_NPROBES:
        leg_ctes.append(
            f"""leg{np_} AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS rk
    FROM scored
    WHERE cluster IN (SELECT cluster FROM probe WHERE prank <= {np_})
  ) WHERE rk <= {_IVF_CURVE_TOPK}
)"""
        )
        leg_rows.append(
            f"""SELECT CAST({np_} AS INT) AS nprobe,
       CAST((SELECT COUNT(*) FROM leg{np_} JOIN brute USING (vec_id)) AS BIGINT)
         AS n_hits,
       ROUND((SELECT COUNT(*) FROM leg{np_} JOIN brute USING (vec_id))::DOUBLE
             / {float(_IVF_CURVE_TOPK)}, 6) AS recall"""
        )
    ctes = ",\n".join(leg_ctes)
    rows = "\nUNION ALL\n".join(leg_rows)
    return f"""
WITH {sql_kmeans_ctes(_IVF_CURVE_K, it)},
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT cluster,
         ROW_NUMBER() OVER (ORDER BY ROUND({cos_cq}, 6) DESC, cluster ASC)
           AS prank
  FROM c{it} c CROSS JOIN qv q
),
scored AS (
  SELECT f.vid AS vec_id, f.cluster, ROUND({cos_vq}, 6) AS score
  FROM final f JOIN base b ON b.vid = f.vid CROSS JOIN qv q
),
brute AS (
  SELECT vec_id FROM (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY score DESC, vec_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {_IVF_CURVE_TOPK}
),
{ctes}
{rows}
ORDER BY nprobe
"""


QUERIES["ann_ivf_recall_curve"] = q_ann_ivf_recall_curve
ORACLE_SQL["ann_ivf_recall_curve"] = _sql_ann_ivf_recall_curve()



def q_embedding_norm_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the embedding-norm distribution,
    even vec_ids (reference population) vs odd (current) — the standard
    model-monitoring drift gauge, here over the one scalar every vector
    pipeline already computes. Bins are the reference deciles; a value
    block belongs to the decile of the reference mass BEFORE it (exact
    prefix-sum rule, deterministic on both engines; current-only values
    land in the reference bin they interleave into, tail clamped to 10).
    Norms are rounded to 6 before binning — both engines fold the same
    double sequence (functions/vector.py l2_norm vs the _DUCK_COS
    machinery), and the round-6 pin removes any boundary ambiguity.
    PSI terms (p-q)*ln(p/q) are one shared per-bin double expression.

    Physical plan: one corpus pass computes norms; per-value aggregation
    (distinct rounded norms), distributed prefix sums over that
    saturating value domain, a 10-row final groupBy."""
    from ..functions.vector import l2_norm
    from ..operators.rank import global_prefix_sums

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    vals = (
        emb.select(
            F.round(l2_norm(F.col("embedding")), 6).alias("v"),
            (F.col("vec_id") % 2 == 0).alias("_is_ref"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("_is_ref"), 1).otherwise(0))
            .cast("long")
            .alias("ref"),
            F.sum(F.when(~F.col("_is_ref"), 1).otherwise(0))
            .cast("long")
            .alias("cur"),
        )
    )
    pref = global_prefix_sums(vals, "v", ["ref"])
    tot = pref.agg(
        F.sum("ref").cast("long").alias("r"),
        F.sum("cur").cast("long").alias("c"),
    )
    binned = (
        pref.crossJoin(F.broadcast(tot))
        .select(
            F.least(
                F.floor((F.col("cum_ref") - F.col("ref")) * 10 / F.col("r")).cast(
                    "int"
                )
                + 1,
                F.lit(10),
            ).alias("bin"),
            "ref",
            "cur",
            "r",
            "c",
        )
        .groupBy("bin")
        .agg(
            F.sum("ref").cast("long").alias("n_ref"),
            F.sum("cur").cast("long").alias("n_cur"),
            F.max("r").alias("r"),
            F.max("c").alias("c"),
        )
    )
    p = "(CAST(n_ref AS DOUBLE) / CAST(r AS DOUBLE))"
    q = "(CAST(n_cur AS DOUBLE) / CAST(c AS DOUBLE))"
    return binned.selectExpr(
        "bin",
        "n_ref",
        "n_cur",
        f"CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL "
        f"ELSE round(({p} - {q}) * ln({p} / {q}), 6) END AS psi_term",
    ).orderBy("bin")


_DUCK_NORM = (
    "round(sqrt(list_sum(list_transform(CAST({a} AS DOUBLE[]), x -> x * x))), 6)"
)

SQL_EMBEDDING_NORM_PSI = f"""
WITH vals AS (
  SELECT {_DUCK_NORM.format(a="embedding")} AS v,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref,
         CAST(SUM(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cur
  FROM embeddings WHERE embedding IS NOT NULL
  GROUP BY 1),
pref AS (
  SELECT v, ref, cur,
         SUM(ref) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_ref
  FROM vals),
tot AS (SELECT CAST(SUM(ref) AS BIGINT) AS r, CAST(SUM(cur) AS BIGINT) AS c
        FROM vals),
binned AS (
  SELECT LEAST(CAST(FLOOR((p.cum_ref - p.ref) * 10 / tot.r) AS INTEGER) + 1,
               10) AS bin,
         CAST(SUM(p.ref) AS BIGINT) AS n_ref,
         CAST(SUM(p.cur) AS BIGINT) AS n_cur,
         MAX(tot.r) AS r, MAX(tot.c) AS c
  FROM pref p CROSS JOIN tot
  GROUP BY 1)
SELECT bin, n_ref, n_cur,
       CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
            ELSE round(((CAST(n_ref AS DOUBLE) / CAST(r AS DOUBLE))
                        - (CAST(n_cur AS DOUBLE) / CAST(c AS DOUBLE)))
                       * ln((CAST(n_ref AS DOUBLE) / CAST(r AS DOUBLE))
                            / (CAST(n_cur AS DOUBLE) / CAST(c AS DOUBLE))), 6)
       END AS psi_term
FROM binned
ORDER BY bin
"""


QUERIES["embedding_norm_psi"] = q_embedding_norm_psi
ORACLE_SQL["embedding_norm_psi"] = SQL_EMBEDDING_NORM_PSI
