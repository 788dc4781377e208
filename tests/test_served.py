"""Served ANN index (operators/served.py): build-once/serve-many contract.

Pins the three properties the serving layout promises:
- result parity with the live rebuild-per-query path (same codes -> same
  candidates -> same scores/order);
- build caching: a second query against the same (corpus, config) reuses the
  artifact (no rewrite);
- the served plan carries no per-row hashing — the scan reads precomputed
  ``lsh_codes`` instead of recomputing T x P plane dots per row.
"""

from __future__ import annotations

import os

import pytest

from vector_db_mvp_spark.operators.served import (
    build_served_index,
    lsh_topk_served,
    served_index_path,
)
from vector_db_mvp_spark.sources.testdata import load_table
from vector_db_mvp_spark.workload.vector import _PLANES, q_lsh_topk, q_lsh_topk_served


@pytest.fixture(scope="module")
def corpus_path(sf_dir):
    return os.path.join(sf_dir, "embeddings.parquet")


@pytest.fixture(scope="module")
def index_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("served_index"))


def _qv(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    row = emb.filter(emb.vec_id == 0).take(1)[0]
    return [float(x) for x in row["embedding"]]


def test_served_matches_live_path(spark, sf_dir, corpus_path, index_root):
    qv = _qv(spark, sf_dir)
    served = lsh_topk_served(
        spark, corpus_path, qv, 10, _PLANES, score_decimals=6, root=index_root
    ).select("vec_id", "label", "score")
    live = q_lsh_topk(spark, sf_dir).select("vec_id", "label", "score")
    assert [r.asDict() for r in served.collect()] == [
        r.asDict() for r in live.collect()
    ]


def test_workload_entry_matches_live(spark, sf_dir):
    # The registered query (default index root) agrees with the live path too.
    served = q_lsh_topk_served(spark, sf_dir)
    live = q_lsh_topk(spark, sf_dir)
    assert [tuple(r) for r in served.collect()] == [tuple(r) for r in live.collect()]


def test_build_is_cached(spark, corpus_path, index_root):
    path = build_served_index(spark, corpus_path, _PLANES, root=index_root)
    assert path == served_index_path(corpus_path, _PLANES, root=index_root)
    success = os.path.join(path, "_SUCCESS")
    mtime = os.path.getmtime(success)
    again = build_served_index(spark, corpus_path, _PLANES, root=index_root)
    assert again == path
    assert os.path.getmtime(success) == mtime  # untouched: cache hit
    rebuilt = build_served_index(spark, corpus_path, _PLANES, root=index_root, force=True)
    assert rebuilt == path
    assert os.path.getmtime(success) >= mtime


def test_config_keys_are_distinct(corpus_path):
    p1 = served_index_path(corpus_path, _PLANES)
    p2 = served_index_path(corpus_path, _PLANES[:2])
    assert p1 != p2


def test_served_plan_has_no_per_row_hashing(spark, corpus_path, index_root):
    qv = _qv(spark, os.path.dirname(corpus_path))
    served = lsh_topk_served(
        spark, corpus_path, qv, 5, _PLANES, root=index_root
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    # The live path hashes every row at query time (the Arrow kernel); the
    # served plan must instead read the precomputed column straight off the
    # parquet scan.
    assert "ArrowEvalPython" not in plan  # no query-time pandas hashing
    scan = plan[plan.index("Scan parquet"):]
    assert "lsh_codes" in scan  # codes come off the scan, not an expression


def test_served_ivf_matches_brute_and_caches(spark, sf_dir, corpus_path, index_root):
    import os as _os

    from vector_db_mvp_spark.operators.ivf import ivf_topk, read_ivf_layout
    from vector_db_mvp_spark.operators.served import build_served_ivf
    from vector_db_mvp_spark.operators.topk import topk_cosine
    from vector_db_mvp_spark.sources.testdata import load_table as _lt

    path = build_served_ivf(spark, corpus_path, 4, seed=42, root=index_root)
    marker = _os.path.join(path, "_centroids.json")
    mtime = _os.path.getmtime(marker)
    assert build_served_ivf(spark, corpus_path, 4, seed=42, root=index_root) == path
    assert _os.path.getmtime(marker) == mtime  # cache hit, no rebuild

    assigned, centroids = read_ivf_layout(spark, path)
    qv = _qv(spark, sf_dir)
    served = ivf_topk(assigned, centroids, qv, 10, nprobe=4, score_decimals=6)
    brute = topk_cosine(_lt(spark, sf_dir, "embeddings"), qv, 10, score_decimals=6)
    # full probe (nprobe == C) is exactly brute force
    assert [
        (r["vec_id"], r["score"]) for r in served.collect()
    ] == [(r["vec_id"], r["score"]) for r in brute.collect()]


def test_append_to_served_index_matches_full_rebuild(spark, sf_dir, tmp_path):
    """O(batch) LSH-index ingestion: append hashes only the batch, yet the
    merged artifact is row-for-row (ids AND codes) identical to rebuilding
    over the full corpus — bucket codes are corpus-independent."""
    import pyspark.sql.functions as F

    from vector_db_mvp_spark.operators.served import (
        append_to_served_index,
        build_served_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    root = str(tmp_path / "idx")

    base_path = str(tmp_path / "base.parquet")
    base.write.parquet(base_path)
    path = build_served_index(spark, base_path, _PLANES, root=root)
    append_to_served_index(spark, batch, base_path, _PLANES, root=root)

    merged = {
        (r["vec_id"], tuple(r["lsh_codes"]))
        for r in spark.read.parquet(path).select("vec_id", "lsh_codes").collect()
    }
    full_path = str(tmp_path / "full.parquet")
    emb.write.parquet(full_path)
    rebuilt_path = build_served_index(spark, full_path, _PLANES, root=root)
    rebuilt = {
        (r["vec_id"], tuple(r["lsh_codes"]))
        for r in spark.read.parquet(rebuilt_path).select("vec_id", "lsh_codes").collect()
    }
    assert merged == rebuilt

    # appending to a non-existent artifact is an explicit error, not a
    # silent partial index
    with pytest.raises(FileNotFoundError):
        append_to_served_index(spark, batch, str(tmp_path / "nope.parquet"), _PLANES, root=root)


def test_served_pq_matches_inquery_and_appends(spark, sf_dir, tmp_path):
    """PQ serving artifact: served results == the in-query pq pipeline with
    the same codebooks; O(batch) append == full rebuild row-for-row (codes
    are corpus-independent given the codebooks); missing artifact raises."""
    import pyspark.sql.functions as F

    from vector_db_mvp_spark.operators.pq import encode_pq, fixed_codebooks, pq_topk
    from vector_db_mvp_spark.operators.served import (
        append_to_served_pq,
        build_served_pq,
        pq_topk_served,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    dim = len(emb.take(1)[0]["embedding"])
    cb = fixed_codebooks(dim, 8, 16, seed=42)
    qv = _qv(spark, sf_dir)
    root = str(tmp_path / "pqroot")

    corpus_path = str(tmp_path / "corpus.parquet")
    emb.write.parquet(corpus_path)
    path = build_served_pq(spark, corpus_path, cb, root=root)
    served = {
        (r["vec_id"], r["score"])
        for r in pq_topk_served(spark, path, qv, 10, score_decimals=6).collect()
    }
    live = {
        (r["vec_id"], r["score"])
        for r in pq_topk(encode_pq(emb, cb), cb, qv, 10, score_decimals=6).collect()
    }
    assert served == live

    # append path: build from 75%, append 25%, compare code sets to rebuild
    base = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    base_path = str(tmp_path / "base.parquet")
    base.write.parquet(base_path)
    p2 = build_served_pq(spark, base_path, cb, root=root)
    append_to_served_pq(spark, batch, p2)
    merged = {
        (r["vec_id"], tuple(r["pq_code"]))
        for r in spark.read.parquet(p2).select("vec_id", "pq_code").collect()
    }
    rebuilt = {
        (r["vec_id"], tuple(r["pq_code"]))
        for r in encode_pq(emb, cb).select("vec_id", "pq_code").collect()
    }
    assert merged == rebuilt

    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        append_to_served_pq(spark, batch, str(tmp_path / "nope"))
