"""Served search through the API over a ChunkIndexStore: Spark jobs per
search and the §2.11 edges the served path keeps without a row probe.

Over a small library a Spark job is the unit of cost, so the job count
per ``api.search`` is pinned: brute, filtered and text searches run only
the result collect; LSH adds its bucket probe; an unknown library is a
driver-side 404."""

from __future__ import annotations

import uuid

import pytest

from vector_db_mvp_spark.api import ApiError, VectorDbApi
from vector_db_mvp_spark.engine import SearchEngine
from vector_db_mvp_spark.storage.index_store import ChunkIndexStore
from vector_db_mvp_spark.storage.store import EntityStore

NORTH = [1.0, 0.0, 0.0, 0.0]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("served-search")
    store = EntityStore(spark, str(root / "store"), default_dim=4)
    idx = ChunkIndexStore(store, str(root / "index"))
    api = VectorDbApi(SearchEngine(store, idx))
    lib = store.create_library("lib")
    doc = store.add_document(lib, "doc", category="guide")
    store.add_chunk(lib, doc, "north", NORTH, meta_type="heading")
    store.add_chunk(lib, doc, "east", [0.0, 1.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "northeast", [1.0, 1.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "no-embedding", None, meta_type="paragraph")
    # Build the index and compile each search shape once, outside the counts.
    for body in _BODIES.values():
        api.search(lib, body)
    return api, store, lib


_BODIES = {
    "brute": {"query_embedding": NORTH, "k": 2},
    "filtered": {"query_embedding": NORTH, "k": 2, "filters": {"meta_type": "heading"}},
    "text": {"query_text": "north", "k": 2},
    "lsh": {"query_embedding": NORTH, "k": 2, "index": "lsh"},
}


def _jobs(spark, call):
    """(result, number of Spark jobs ``call`` ran), via a job group."""
    sc = spark.sparkContext
    group = f"served-search-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "served search")
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind", ["brute", "filtered", "text"])
def test_one_job_per_search(spark, served, kind):
    api, _, lib = served
    resp, jobs = _jobs(spark, lambda: api.search(lib, _BODIES[kind]))
    assert resp["hits"] and resp["index_used"] == "brute"
    assert jobs == 1  # the result collect


def test_lsh_with_bucket_hits_runs_two_jobs(spark, served):
    api, _, lib = served
    resp, jobs = _jobs(spark, lambda: api.search(lib, _BODIES["lsh"]))
    assert resp["index_used"] == "lsh"
    assert resp["hits"][0]["text"] == "north"  # same vector, same buckets
    assert jobs == 2  # the bucket probe and the collect


def test_unknown_library_is_a_404_without_a_job(spark, served):
    api, _, _ = served

    def call():
        with pytest.raises(ApiError) as e:
            api.search("no-such-library", _BODIES["brute"])
        return e.value.status

    status, jobs = _jobs(spark, call)
    assert (status, jobs) == (404, 0)


def test_filtered_empty_lsh_reports_lsh(served):
    api, _, lib = served
    resp = api.search(lib, {**_BODIES["lsh"], "filters": {"meta_type": "absent"}})
    assert resp["hits"] == [] and resp["index_used"] == "lsh"


def test_wrong_dim_over_filtered_empty_rows_returns_empty(served):
    api, _, lib = served
    resp = api.search(
        lib, {"query_embedding": [1.0, 0.0], "filters": {"meta_type": "absent"}}
    )
    assert resp["hits"] == [] and resp["index_used"] == "brute"


def test_wrong_dim_over_rows_is_a_400(served):
    api, _, lib = served
    with pytest.raises(ApiError) as e:
        api.search(lib, {"query_embedding": [1.0, 0.0]})
    assert e.value.status == 400 and "dim" in e.value.detail


def test_k_nonpositive_has_no_index_used(spark, served):
    api, _, lib = served
    resp, jobs = _jobs(spark, lambda: api.search(lib, {**_BODIES["lsh"], "k": 0}))
    assert resp["hits"] == [] and "index_used" not in resp
    assert jobs == 0  # a zero-row plan


@pytest.mark.parametrize("null_chunk", [False, True])
def test_library_without_embedded_chunks(served, null_chunk):
    """No chunk at all, or only a NULL-embedding one: the index records
    dim 0 and the search returns empty hits, whatever the query's dim."""
    api, store, _ = served
    lib = store.create_library(f"empty-{null_chunk}")
    if null_chunk:
        doc = store.add_document(lib, "doc")
        store.add_chunk(lib, doc, "no-embedding", None)
    for body in (_BODIES["brute"], {"query_embedding": [1.0, 0.0], "index": "lsh"}):
        resp = api.search(lib, body)
        assert resp["hits"] == [] and resp["index_used"] == body.get("index", "brute")
    assert api.engine.index_store.embedding_dim(lib) == 0
