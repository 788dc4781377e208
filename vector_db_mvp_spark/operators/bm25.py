"""BM25 keyword retrieval and hybrid (keyword + vector) rank fusion.

The reference engine (bmallikanti/vector_db_mvp) serves pure vector top-k
(`search_service.py`); production retrieval stacks pair that with lexical
BM25 and fuse the two ranked lists (reciprocal rank fusion — Cormack et al.
SIGIR'09). This module adds both as native Catalyst plans:

* :func:`bm25_scores` / :func:`bm25_topk` — Okapi BM25 (Lucene's
  non-negative idf variant: ``ln(1 + (N - df + 0.5)/(df + 0.5))``) over a
  tokenized text column.
* :func:`rrf_fuse` — reciprocal-rank fusion of two ranked candidate lists.

Scale design (100 TB corpus):
* Tokenize ONCE per document; doc length is computed in the same projection
  (one scan, no second pass).
* The exploded (doc_id, term) stream is filtered to the query's terms
  BEFORE any shuffle — for a q-term query this discards ~all tokens
  map-side, so the (doc_id, term) aggregation shuffles O(q · matching docs)
  rows, not O(total tokens).
* Document frequencies and corpus stats (N, avgdl) are tiny aggregates
  joined back via broadcast — no extra shuffle on the big side.
* Final per-doc score sum shuffles on doc_id once; top-k is
  ``ORDER BY … LIMIT k`` = TakeOrderedAndProject (per-partition heaps,
  no global sort).

Determinism contract (driver hash-compare vs DuckDB): per-term
contributions are rounded to 12 decimals and summed as ``decimal(28,12)``
(exact, order-independent), then the doc score is rounded to 6; ties break
on doc_id. RRF scores are sums of exactly two fixed-order double terms of
integer ranks — bit-deterministic on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..session import local_frame
from ..sqltext import sql_str


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document BM25 score for ``query_terms`` (docs with score 0 — no
    query term present — are not returned, matching inverted-index engines).

    Returns ``(id_col, score)`` with score rounded to 6 decimals.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col), F.col("_toks"), F.size("_toks").cast("double").alias("_dl")
    )

    # Corpus stats: 1 row, broadcast. N counts every doc (also ones that
    # match no query term) — BM25's idf is corpus-wide.
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )

    # Explode -> filter to query terms BEFORE the shuffle (map-side prune).
    terms = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        toks.select(
            F.col(id_col), F.col("_dl"), F.explode("_toks").alias("term")
        )
        .filter(F.array_contains(terms, F.col("term")))
        .groupBy(id_col, "term", "_dl")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )

    # Document frequency per query term: tiny (≤ len(query_terms) rows).
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))

    contrib = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_contrib",
            F.round(
                F.col("_idf")
                * (F.col("_tf") * (F.lit(k1) + 1.0))
                / (
                    F.col("_tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0)
                        - F.lit(b)
                        + F.lit(b) * F.col("_dl") / F.col("_avgdl")
                    )
                ),
                12,
            ).cast("decimal(28,12)"),
        )
    )
    return (
        contrib.groupBy(id_col)
        .agg(F.round(F.sum("_contrib").cast("double"), 6).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 docs: ``(id_col, score)``, ties broken by id ascending.
    ORDER BY + LIMIT compiles to TakeOrderedAndProject (no global sort)."""
    scored = bm25_scores(
        docs, query_terms, id_col=id_col, text_col=text_col, k1=k1, b=b
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def sql_bm25_scores(
    query_terms: list[str],
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    toks_expr: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB CTE mirroring :func:`bm25_scores` with identical double math
    and the same exact-decimal summation."""
    terms_list = ", ".join(sql_str(t) for t in query_terms)
    return f"""
WITH toks AS (
  SELECT {id_col}, {toks_expr} AS t FROM {table}
),
base AS (SELECT {id_col}, CAST(len(t) AS DOUBLE) AS dl, t FROM toks),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM base),
tf AS (
  SELECT {id_col}, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT {id_col}, dl, unnest(t) AS term FROM base)
  WHERE term IN ({terms_list})
  GROUP BY 1, 2, 3
),
df_t AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT {id_col},
         CAST(ROUND(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)),
         12) AS DECIMAL(28,12)) AS c
  FROM tf JOIN df_t USING (term) CROSS JOIN stats
)
SELECT {id_col}, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
FROM contrib GROUP BY 1
"""


def bm25_topk_batch(
    docs: DataFrame,
    queries: dict[str, list[str]],
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """N keyword queries against one corpus scan (the batched twin of
    :func:`bm25_topk`, mirroring operators/lsh.py's ``lsh_topk_batch``).

    The corpus is tokenized ONCE; tf is aggregated once per (doc, term)
    over the union of all query terms, then fanned out to queries by a
    broadcast (query, term) join — the fact stream is never duplicated
    per query. Per-query top-k is a rank window partitioned by query id
    (the ann_batch_topk precedent: candidates per query are term-matched
    docs, not the corpus).

    Returns (query_id, {id_col}, score, rank), rank 1..k.
    """
    from pyspark.sql.window import Window

    if not queries or any(not t for t in queries.values()):
        raise ValueError("queries must be a non-empty dict of non-empty term lists")
    spark = docs.sparkSession
    qterms = local_frame(
        spark,
        [(q, t) for q, terms in queries.items() for t in set(terms)],
        "query_id string, term string",
    )
    all_terms = sorted({t for terms in queries.values() for t in terms})

    toks = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col), F.col("_toks"), F.size("_toks").cast("double").alias("_dl")
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
    )
    terms_arr = F.array(*[F.lit(t) for t in all_terms])
    tf = (
        toks.select(F.col(id_col), F.col("_dl"), F.explode("_toks").alias("term"))
        .filter(F.array_contains(terms_arr, F.col("term")))
        .groupBy(id_col, "term", "_dl")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_contrib",
            F.round(
                F.col("_idf")
                * (F.col("_tf") * (F.lit(k1) + 1.0))
                / (
                    F.col("_tf")
                    + F.lit(k1)
                    * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("_dl") / F.col("_avgdl"))
                ),
                12,
            ).cast("decimal(28,12)"),
        )
    )
    scored = contrib.groupBy("query_id", id_col).agg(
        F.round(F.sum("_contrib").cast("double"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )


def sql_bm25_topk_batch(
    queries: dict[str, list[str]],
    k: int,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    toks_expr: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of :func:`bm25_topk_batch`."""
    all_terms = sorted({t for terms in queries.values() for t in terms})
    terms_list = ", ".join(sql_str(t) for t in all_terms)
    qrows = ", ".join(
        f"({sql_str(q)}, {sql_str(t)})" for q, terms in queries.items() for t in sorted(set(terms))
    )
    return f"""
WITH toks AS (SELECT {id_col}, {toks_expr} AS t FROM {table}),
base AS (SELECT {id_col}, CAST(len(t) AS DOUBLE) AS dl, t FROM toks),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM base),
qterms(query_id, term) AS (VALUES {qrows}),
tf AS (
  SELECT {id_col}, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT {id_col}, dl, unnest(t) AS term FROM base)
  WHERE term IN ({terms_list})
  GROUP BY 1, 2, 3
),
df_t AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT query_id, {id_col},
         CAST(ROUND(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)),
         12) AS DECIMAL(28,12)) AS c
  FROM tf
  JOIN qterms USING (term)
  JOIN df_t USING (term)
  CROSS JOIN stats
),
scored AS (
  SELECT query_id, {id_col}, ROUND(CAST(SUM(c) AS DOUBLE), 6) AS score
  FROM contrib GROUP BY 1, 2
)
SELECT query_id, {id_col}, score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, {id_col} ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def rrf_fuse(
    left: DataFrame,
    right: DataFrame,
    *,
    id_col: str,
    k: int,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked candidate lists.

    ``left`` / ``right`` must carry ``(id_col, rank)`` where rank is the
    1-based position in that list (ranks come from k-row candidate lists, so
    the window that assigns them runs on serving-sized data, not the corpus).
    Fused score = Σ 1/(c + rank) over the lists containing the id; top-k by
    (score desc, id asc). The two-term sum has a fixed operand order, so it
    is bit-deterministic across engines.
    """
    fused = (
        left.select(F.col(id_col), F.col("rank").alias("_rl"))
        .join(
            right.select(F.col(id_col), F.col("rank").alias("_rr")),
            id_col,
            "full_outer",
        )
        .select(
            id_col,
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(float(c)) + F.col("_rl")), F.lit(0.0))
                + F.coalesce(
                    F.lit(1.0) / (F.lit(float(c)) + F.col("_rr")), F.lit(0.0)
                ),
                6,
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc()).limit(k)


def with_rank(df: DataFrame, order: list[Column], *, name: str = "rank") -> DataFrame:
    """1-based rank column over an (already k-limited) candidate list.
    The single-partition window is intentional and safe only because the
    input is a top-k list (k rows), never the corpus."""
    from pyspark.sql.window import Window

    return df.withColumn(name, F.row_number().over(Window.orderBy(*order)))
