"""Tombstone deletes on serving artifacts (operators/served.py):
O(batch) delete markers, serve-path exclusion identical to a rebuild,
idempotency, and fold-in compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_db_mvp_spark.functions.lsh import generate_planes
from vector_db_mvp_spark.operators.lsh import lsh_topk
from vector_db_mvp_spark.operators.pq import fixed_codebooks, pq_topk
from vector_db_mvp_spark.operators.served import (
    apply_tombstones,
    build_served_index,
    build_served_pq,
    compact_served_artifact,
    lsh_topk_served,
    pq_topk_served,
    tombstone_delete,
)
from vector_db_mvp_spark.sources.testdata import load_table

PLANES = generate_planes(64, 4, 8, seed=42)


def _rows(df):
    return [(r["vec_id"], r["score"]) for r in df.collect()]


@pytest.fixture()
def corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    return emb, qv, os.path.join(sf_dir, "embeddings.parquet")


def test_lsh_delete_matches_filtered_rebuild(spark, corpus, tmp_path):
    emb, qv, cpath = corpus
    root = str(tmp_path / "idx")
    before = _rows(
        lsh_topk_served(spark, cpath, qv, 10, PLANES, score_decimals=6, root=root)
    )
    victim = next(i for i, _ in before if i != 0)
    path = build_served_index(spark, cpath, PLANES, root=root)
    tombstone_delete(spark, path, [victim])
    after = _rows(
        lsh_topk_served(spark, cpath, qv, 10, PLANES, score_decimals=6, root=root)
    )
    assert victim not in [i for i, _ in after]
    # identical to running the live path over the corpus minus the victim
    want = _rows(
        lsh_topk(
            emb.filter(F.col("vec_id") != victim), qv, 10, PLANES,
            score_decimals=6,
        )
    )
    assert after == want


def test_delete_missing_id_noop_and_idempotent(spark, corpus, tmp_path):
    _, qv, cpath = corpus
    root = str(tmp_path / "idx")
    before = _rows(
        lsh_topk_served(spark, cpath, qv, 5, PLANES, score_decimals=6, root=root)
    )
    path = build_served_index(spark, cpath, PLANES, root=root)
    tombstone_delete(spark, path, [10**12])  # not in corpus
    tombstone_delete(spark, path, [10**12])  # again
    after = _rows(
        lsh_topk_served(spark, cpath, qv, 5, PLANES, score_decimals=6, root=root)
    )
    assert after == before


def test_compaction_folds_tombstones(spark, corpus, tmp_path):
    _, qv, cpath = corpus
    root = str(tmp_path / "idx")
    path = build_served_index(spark, cpath, PLANES, root=root)
    n0 = spark.read.parquet(path).count()
    before = _rows(
        lsh_topk_served(spark, cpath, qv, 10, PLANES, score_decimals=6, root=root)
    )
    victim = next(i for i, _ in before if i != 0)
    tombstone_delete(spark, path, [victim])
    mid = _rows(
        lsh_topk_served(spark, cpath, qv, 10, PLANES, score_decimals=6, root=root)
    )
    assert compact_served_artifact(spark, path) is True
    assert not os.path.isdir(os.path.join(path, "_tombstones"))
    assert spark.read.parquet(path).count() == n0 - 1
    after = _rows(
        lsh_topk_served(spark, cpath, qv, 10, PLANES, score_decimals=6, root=root)
    )
    assert after == mid
    # nothing left to fold
    assert compact_served_artifact(spark, path) is False


def test_pq_delete_excludes_row(spark, corpus, tmp_path):
    _, qv, cpath = corpus
    cb = fixed_codebooks(64, 8, 16, seed=42)
    root = str(tmp_path / "pq")
    path = build_served_pq(spark, cpath, cb, root=root)
    before = _rows(pq_topk_served(spark, path, qv, 10, score_decimals=6))
    victim = next(i for i, _ in before if i != 0)
    tombstone_delete(spark, path, [victim])
    after = _rows(pq_topk_served(spark, path, qv, 10, score_decimals=6))
    assert victim not in [i for i, _ in after]
    want = _rows(
        pq_topk(
            spark.read.parquet(path).filter(F.col("vec_id") != victim),
            cb, qv, 10, score_decimals=6,
        )
    )
    assert after == want


def test_ivf_layout_respects_tombstones(spark, corpus, tmp_path):
    from vector_db_mvp_spark.operators.ivf import ivf_topk, read_ivf_layout
    from vector_db_mvp_spark.operators.served import build_served_ivf

    _, qv, cpath = corpus
    root = str(tmp_path / "ivf")
    path = build_served_ivf(spark, cpath, 4, seed=42, root=root)
    assigned, centroids = read_ivf_layout(spark, path)
    before = _rows(
        ivf_topk(assigned, centroids, qv, 10, nprobe=4, score_decimals=6)
    )
    victim = next(i for i, _ in before if i != 0)
    tombstone_delete(spark, path, [victim])
    assigned2, _ = read_ivf_layout(spark, path)
    live = apply_tombstones(spark, assigned2, path)
    after = _rows(ivf_topk(live, centroids, qv, 10, nprobe=4, score_decimals=6))
    assert victim not in [i for i, _ in after]
    assert [i for i, _ in after if i in dict(before)] == [
        i for i, _ in before if i != victim
    ]
