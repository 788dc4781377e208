"""LSH approximate top-k (reference T3/J2/U1, ``app/indexing/lsh.py:73-95``).

Plan shapes:
- **Single query** (``lsh_topk``): compute per-row codes, fold the query's
  codes on the driver into long literals, keep rows sharing ≥1 table bucket
  (the reference's union-distinct of per-table candidate sets — expressed as
  one ``exists`` filter, so no union or distinct is ever materialized), exact
  cosine re-rank, TakeOrderedAndProject top-k.
- **Query batch** (``lsh_topk_batch``): the 100 TB shape. Explode codes into
  (table_id, code) pairs on both sides, hash-join on the pair, dedupe
  (query, row) candidates, re-rank per query with a window top-k. The fact
  side shuffles once on the bucket key; candidate lists per query are ~C ≪ N
  (lsh.py:29), so the re-rank is tiny.

Fallback (search_service.py:127-131): if LSH yields zero candidates and the
row count is ≤ ``FALLBACK_MAX_ROWS``, ``SearchEngine.search`` silently re-runs
brute force and reports ``index_used='brute'``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lsh import bucket_codes, bucket_codes_python
from ..functions.vector import cosine_similarity
from .topk import topk_cosine

FALLBACK_MAX_ROWS = 10_000  # search_service.py:128


def with_bucket_codes(
    df: DataFrame,
    planes: list[list[list[float]]],
    *,
    embedding_col: str = "embedding",
    codes_col: str = "lsh_codes",
) -> DataFrame:
    """Attach array<long> per-table bucket codes: the one exact kernel
    (functions.lsh.bucket_codes), bit-identical to the driver twin and the
    DuckDB oracle."""
    return df.withColumn(codes_col, bucket_codes(embedding_col, planes))


def lsh_candidates(
    df: DataFrame,
    query_codes: Sequence[int],
    *,
    codes_col: str = "lsh_codes",
) -> DataFrame:
    """Rows sharing at least one table bucket with the query — the
    union-distinct of per-table candidate sets (lsh.py:79-83) as one filter.
    ``query_codes`` are the driver-folded codes (bucket_codes_python),
    embedded as long literals in one parsed expression: no py4j round trip
    per literal, and no hashing on the query side of the plan."""
    qc = "array(" + ", ".join(f"{int(c)}L" for c in query_codes) + ")"
    return df.filter(
        F.expr(f"exists(zip_with({codes_col}, {qc}, (c, x) -> c = x), b -> b)")
    )


def lsh_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int,
    planes: list[list[list[float]]],
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "score",
    score_decimals: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket-prune then exact re-rank (lsh.py:73-95).
    Row codes come from the column kernel, the literal query's codes from
    its driver twin."""
    vec = [float(x) for x in query_vector]
    pruned = with_bucket_codes(
        df.filter(F.col(embedding_col).isNotNull()), planes,
        embedding_col=embedding_col,
    )
    cands = lsh_candidates(pruned, bucket_codes_python(vec, planes)).drop("lsh_codes")
    return topk_cosine(
        cands, vec, k,
        embedding_col=embedding_col, id_col=id_col,
        score_col=score_col, score_decimals=score_decimals,
    )


def lsh_topk_batch(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int,
    planes: list[list[list[float]]],
    *,
    query_id_col: str = "query_id",
    query_embedding_col: str = "query_embedding",
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_col: str = "score",
    score_decimals: int | None = None,
) -> DataFrame:
    """Batched LSH top-k — many queries against one corpus in one shuffle.

    explode(codes) on both sides -> equi-join on (table_id, code) ->
    drop duplicate (query, row) candidate pairs -> exact cosine ->
    per-query window top-k. At 100 TB the corpus side is the big relation:
    it shuffles once on the bucket key, and AQE handles skewed buckets.
    """
    from pyspark.sql import Window

    # posexplode the codes EXPRESSION directly: materializing it first via
    # withColumn makes Catalyst re-inline the (UDF) expression into both the
    # Generate input and the outer project — two ArrowEvalPython passes over
    # every corpus row (measured 2x; the CSE-loss pathology). The direct
    # generator form evaluates it once.
    c = corpus_df.filter(F.col(embedding_col).isNotNull()).select(
        id_col, embedding_col,
        F.posexplode(bucket_codes(embedding_col, planes)).alias("table_id", "code"),
    )
    q = queries_df.filter(F.col(query_embedding_col).isNotNull()).select(
        query_id_col, query_embedding_col,
        F.posexplode(bucket_codes(query_embedding_col, planes)).alias("table_id", "code"),
    )
    cand = (
        c.join(q, ["table_id", "code"])
        .select(query_id_col, query_embedding_col, id_col, embedding_col)
        .dropDuplicates([query_id_col, id_col])
        .withColumn(
            score_col,
            cosine_similarity(F.col(embedding_col), F.col(query_embedding_col)),
        )
    )
    if score_decimals is not None:
        cand = cand.withColumn(score_col, F.round(F.col(score_col), score_decimals))
    w = Window.partitionBy(query_id_col).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        cand.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select(query_id_col, id_col, score_col, F.col("_rank").alias("rank"))
    )
