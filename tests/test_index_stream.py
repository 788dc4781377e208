"""Streaming ANN index maintenance (streaming/index_stream.py): adds and
deletes applied per micro-batch; queries equal a from-scratch rebuild on
the net corpus; replays are no-ops."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from vector_db_mvp_spark.functions.lsh import generate_planes
from vector_db_mvp_spark.operators.lsh import lsh_topk
from vector_db_mvp_spark.operators.served import lsh_topk_served
from vector_db_mvp_spark.sources.testdata import load_table
from vector_db_mvp_spark.streaming.index_stream import (
    IndexMaintenance,
    start_index_maintenance,
)

PLANES = generate_planes(64, 4, 8, seed=42)


def _rows(df):
    return [(r["vec_id"], r["score"]) for r in df.collect()]


@pytest.fixture()
def setup(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).take(1)[0]["embedding"]]
    # base corpus = ids % 5 != 0; stream adds the % 5 == 0 rows back
    base = emb.filter(F.col("vec_id") % 5 != 0)
    base_path = str(tmp_path / "base.parquet")
    base.write.parquet(base_path)
    return emb, qv, base_path


def _run_changes(spark, tmp_path, handler, change_rows, name):
    src = tmp_path / f"changes_{name}"
    src.mkdir()
    spark.createDataFrame(
        change_rows, "op string, vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(
        "op string, vec_id long, embedding array<float>, label int"
    ).parquet(str(src / "*"))
    q = start_index_maintenance(
        stream, handler, checkpoint_dir=str(tmp_path / f"ckpt_{name}")
    )
    q.awaitTermination(120)


def test_adds_and_deletes_match_net_rebuild(spark, setup, tmp_path):
    emb, qv, base_path = setup
    root = str(tmp_path / "idx")
    handler = IndexMaintenance(base_path, PLANES, root=root)

    # figure a victim that appears in served results over the base corpus
    before = _rows(
        lsh_topk_served(spark, base_path, qv, 10, PLANES, score_decimals=6, root=root)
    )
    victim = next(i for i, _ in before if i != 0)

    added = emb.filter(F.col("vec_id") % 5 == 0)
    changes = [
        ("add", r["vec_id"], r["embedding"], r["label"]) for r in added.collect()
    ] + [("delete", victim, None, None)]
    _run_changes(spark, tmp_path, handler, changes, "main")

    got = _rows(
        lsh_topk_served(spark, base_path, qv, 10, PLANES, score_decimals=6, root=root)
    )
    # net corpus = all embeddings minus the victim; live path == served path
    want = _rows(
        lsh_topk(
            emb.filter(F.col("vec_id") != victim), qv, 10, PLANES,
            score_decimals=6,
        )
    )
    assert got == want
    assert victim not in [i for i, _ in got]


def test_replayed_batch_is_noop(spark, setup, tmp_path):
    _, qv, base_path = setup
    root = str(tmp_path / "idx2")
    handler = IndexMaintenance(base_path, PLANES, root=root)
    new_vec = [0.1] * 64
    changes = [("add", 10**9, new_vec, 1)]
    _run_changes(spark, tmp_path, handler, changes, "one")

    # the artifact contract is recursive reads (per-epoch subdirs)
    idx = spark.read.option("recursiveFileLookup", "true").parquet(
        handler.index_path
    )
    n1 = idx.count()
    assert idx.filter(F.col("vec_id") == 10**9).count() == 1

    # replay the same batch id directly — marker short-circuits
    batch = spark.createDataFrame(
        changes, "op string, vec_id long, embedding array<float>, label int"
    )
    handler(batch, 0)
    assert (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(handler.index_path)
        .count()
        == n1
    )
    assert os.path.exists(handler._batch_marker(0))


def test_crash_between_append_and_marker_is_idempotent(spark, setup, tmp_path):
    """A crash AFTER the vector append but BEFORE the marker write
    redelivers the epoch; the redelivery must rewrite the epoch's own
    subdirectory, not append a second copy — duplicate ids in a serving
    artifact surface as duplicate top-k results."""
    _, qv, base_path = setup
    root = str(tmp_path / "idx3")
    handler = IndexMaintenance(base_path, PLANES, root=root)
    new_vec = [0.1] * 64
    changes = [("add", 10**9, new_vec, 1)]
    _run_changes(spark, tmp_path, handler, changes, "crash")

    def _count_new():
        return (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(handler.index_path)
            .filter(F.col("vec_id") == 10**9)
            .count()
        )

    assert _count_new() == 1
    os.remove(handler._batch_marker(0))  # simulate the crash window
    batch = spark.createDataFrame(
        changes, "op string, vec_id long, embedding array<float>, label int"
    )
    handler(batch, 0)  # redelivery
    assert _count_new() == 1  # rewritten, not duplicated
    # and the served query returns unique ids
    got = lsh_topk_served(spark, base_path, new_vec, 5, PLANES, root=root)
    ids = [r["vec_id"] for r in got.collect()]
    assert len(ids) == len(set(ids)) and 10**9 in ids


def test_compaction_carries_stream_markers_and_refuses_remnants(
    spark, setup, tmp_path
):
    """compact_served_artifact must (a) refuse while an epoch subdirectory
    lacks its marker (uncommitted crash remnant), (b) carry the marker
    files across the directory swap — losing them would make every past
    epoch replayable (double-appends after compaction)."""
    import shutil

    from vector_db_mvp_spark.operators.served import (
        compact_served_artifact,
        tombstone_delete,
    )

    _, qv, base_path = setup
    root = str(tmp_path / "idx4")
    handler = IndexMaintenance(base_path, PLANES, root=root)
    changes = [("add", 10**9, [0.1] * 64, 1)]
    _run_changes(spark, tmp_path, handler, changes, "compact")
    tombstone_delete(spark, handler.index_path, [1])

    marker = handler._batch_marker(0)
    os.remove(marker)  # unmarked epoch remnant
    assert compact_served_artifact(spark, handler.index_path) is False
    with open(marker, "w") as f:
        f.write("ok")
    assert compact_served_artifact(spark, handler.index_path) is True
    assert os.path.exists(marker)  # carried across the swap
    # replaying the folded epoch is STILL a no-op
    n = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(handler.index_path)
        .count()
    )
    batch = spark.createDataFrame(
        changes, "op string, vec_id long, embedding array<float>, label int"
    )
    handler(batch, 0)
    assert (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(handler.index_path)
        .count()
        == n
    )
