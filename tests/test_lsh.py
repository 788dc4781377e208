"""LSH index behavior (reference lsh.py semantics) beyond the oracle gate:
determinism, the column kernel against its driver twin (every row, plus the
edge rows), recall vs brute force, and batch-mode parity with single-query
mode. The brute fallback is the search engine's (tests/test_search_engine.py)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from vector_db_mvp_spark.functions.lsh import (
    bucket_codes,
    bucket_codes_python,
    generate_planes,
    planes_dim,
    spark_sql_plane_dot,
)
from vector_db_mvp_spark.operators.dbscan import knn_edges_lsh
from vector_db_mvp_spark.operators.dedup import embedding_neardup_pairs_lsh
from vector_db_mvp_spark.operators.lsh import (
    lsh_topk,
    lsh_topk_batch,
    with_bucket_codes,
)
from vector_db_mvp_spark.operators.topk import topk_cosine
from vector_db_mvp_spark.sources.testdata import load_table

DIM = 64


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def query_vec(emb):
    return emb.filter(F.col("vec_id") == 0).head()["embedding"]


def test_plane_generation_deterministic():
    a = generate_planes(DIM, 8, 12, seed=42)
    b = generate_planes(DIM, 8, 12, seed=42)
    assert a == b
    c = generate_planes(DIM, 8, 12, seed=7)
    assert a != c


def test_plane_dot_sql_text_is_pinned():
    """The one literal-dot builder (LSH plane dots, centroid argmax, served
    search scores). Its exact text is pinned: every plan that embeds it
    parses this string, so a change here moves those plans."""
    assert spark_sql_plane_dot("_e", [1, -0.5, 0.1]) == (
        "aggregate(zip_with(CAST(_e AS ARRAY<DOUBLE>), array(1.0D, -0.5D, 0.1D),"
        " (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def test_planes_dim():
    assert planes_dim(generate_planes(DIM, 2, 3)) == DIM
    for empty in ([], [[]], [[[]]]):
        with pytest.raises(ValueError, match="planes must be non-empty"):
            planes_dim(empty)


@pytest.mark.parametrize("pairs", [knn_edges_lsh, embedding_neardup_pairs_lsh])
def test_lsh_pair_operators_reject_empty_planes(spark, pairs):
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="planes must be non-empty"):
        pairs(df, [])


def test_kernel_matches_python_twin_on_every_row(spark, sf_dir):
    """The column kernel equals the driver twin on every row of the sf0.01
    float32 embeddings: both run the same sequential double fold, so the
    codes agree bit for bit (a query's driver-folded codes must find the
    rows the kernel bucketed beside it)."""
    emb = load_table(spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"), "embeddings")
    planes = generate_planes(DIM, 8, 12, seed=42)
    rows = with_bucket_codes(emb, planes).select("embedding", "lsh_codes").collect()
    assert len(rows) > 0
    for r in rows:
        want = None if r["embedding"] is None else bucket_codes_python(r["embedding"], planes)
        assert r["lsh_codes"] == want


def _codes(spark, vectors, planes):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vectors)], "i long, e array<float>"
    )
    rows = df.select("i", bucket_codes("e", planes).alias("c")).collect()
    return [r["c"] for r in sorted(rows, key=lambda r: r["i"])]


def test_kernel_edge_rows(spark):
    """NULL embedding -> NULL codes; the zero vector's dots are all 0.0, so
    every bit is set; a NULL element makes that row's dots NaN, clearing
    all of its bits."""
    planes = generate_planes(4, 3, 5, seed=7)
    full = (1 << 5) - 1
    got = _codes(spark, [None, [0.0] * 4, [1.0, None, 2.0, 3.0], [1.0, -2.0, 0.5, 3.0]], planes)
    assert got[0] is None
    assert got[1] == [full] * 3
    assert got[2] == [0, 0, 0]
    assert got[3] == bucket_codes_python([1.0, -2.0, 0.5, 3.0], planes)


def test_kernel_rejects_wrong_length(spark):
    planes = generate_planes(4, 2, 3, seed=7)
    with pytest.raises(Exception, match=r"ValueError: embedding dimension 3 != planes dimension 4"):
        _codes(spark, [[1.0, 2.0, 3.0, 4.0], [1.0, 2.0, 3.0]], planes)


def test_kernel_rejects_empty_planes():
    for empty in ([], [[]], [[[]]]):
        with pytest.raises(ValueError, match="planes must be non-empty"):
            bucket_codes("embedding", empty)


def test_lsh_subset_of_corpus_and_recall(spark, emb, query_vec):
    """Reference defaults (T=8, P=12): LSH hits must be true cosine scores and
    candidates a subset of the corpus; recall vs brute measured loosely (LSH
    with few tables on random data prunes aggressively)."""
    planes = generate_planes(DIM, 8, 8, seed=42)
    approx = lsh_topk(emb, query_vec, 5, planes).collect()
    assert len(approx) >= 1
    exact = {r["vec_id"]: r["score"] for r in topk_cosine(emb, query_vec, 500).collect()}
    for r in approx:
        assert r["vec_id"] in exact
        assert abs(exact[r["vec_id"]] - r["score"]) < 1e-9
    # the query vector itself always collides with itself -> rank 1, score 1.0
    assert approx[0]["vec_id"] == 0
    assert approx[0]["score"] == pytest.approx(1.0)


def test_batch_matches_single(spark, emb):
    """lsh_topk_batch per query == lsh_topk run separately per query."""
    planes = generate_planes(DIM, 4, 8, seed=42)
    qids = [0, 7, 42]
    queries = (
        emb.filter(F.col("vec_id").isin(qids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_embedding"),
        )
    )
    batch = lsh_topk_batch(queries, emb, 5, planes)
    got = {
        qid: [(r["vec_id"], round(r["score"], 9)) for r in rows]
        for qid, rows in _group(batch.collect(), "query_id")
    }
    for qid in qids:
        qvec = emb.filter(F.col("vec_id") == qid).head()["embedding"]
        single = lsh_topk(emb, qvec, 5, planes).collect()
        want = [(r["vec_id"], round(r["score"], 9)) for r in single]
        assert got[qid] == want, f"query {qid}: {got[qid]} != {want}"


def _group(rows, key):
    out: dict = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    for k in out:
        out[k].sort(key=lambda r: r["rank"])
    return out.items()
