"""Served search through the API: Spark jobs per search and the §2.11
edges the served path keeps without a row probe.

Every search is served from a ChunkIndexStore, so both engine forms —
``SearchEngine(store)``, whose index lives under the store root, and
``SearchEngine(store, idx)`` — must pin the same numbers. Over a small
library a Spark job is the unit of cost, so the job count per
``api.search`` is pinned: brute, filtered and text searches run only the
result collect; LSH adds its bucket probe; an unknown library is a
driver-side 404."""

from __future__ import annotations

import uuid

import pytest

from vector_db_mvp_spark.api import ApiError, InteractiveApi, VectorDbApi
from vector_db_mvp_spark.engine import SearchEngine
from vector_db_mvp_spark.storage.index_store import ChunkIndexStore
from vector_db_mvp_spark.storage.store import EntityStore

NORTH = [1.0, 0.0, 0.0, 0.0]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """(apis, store, lib): one API per engine form over one store. Both
    forms run in each test, so the test ids do not depend on the form."""
    root = tmp_path_factory.mktemp("served-search")
    store = EntityStore(spark, str(root / "store"), default_dim=4)
    apis = (
        VectorDbApi(SearchEngine(store)),
        VectorDbApi(SearchEngine(store, ChunkIndexStore(store, str(root / "index")))),
    )
    lib = store.create_library("lib")
    doc = store.add_document(lib, "doc", category="guide")
    store.add_chunk(lib, doc, "north", NORTH, meta_type="heading")
    store.add_chunk(lib, doc, "east", [0.0, 1.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "northeast", [1.0, 1.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "no-embedding", None, meta_type="paragraph")
    # Build each index and compile each search shape once, outside the counts.
    for api in apis:
        for body in _BODIES.values():
            api.search(lib, body)
    return apis, store, lib


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
    apis, _, lib = served
    for api in apis:
        resp, jobs = _jobs(spark, lambda: api.search(lib, _BODIES[kind]))
        assert resp["hits"] and resp["index_used"] == "brute"
        assert jobs == 1  # the result collect


def test_lsh_with_bucket_hits_runs_two_jobs(spark, served):
    apis, _, lib = served
    for api in apis:
        resp, jobs = _jobs(spark, lambda: api.search(lib, _BODIES["lsh"]))
        assert resp["index_used"] == "lsh"
        assert resp["hits"][0]["text"] == "north"  # same vector, same buckets
        assert jobs == 2  # the bucket probe and the collect


def test_unknown_library_is_a_404_without_a_job(spark, served):
    apis, _, _ = served

    def call(api):
        with pytest.raises(ApiError) as e:
            api.search("no-such-library", _BODIES["brute"])
        return e.value.status

    for api in apis:
        status, jobs = _jobs(spark, lambda: call(api))
        assert (status, jobs) == (404, 0)


def test_filtered_empty_lsh_reports_lsh(served):
    apis, _, lib = served
    for api in apis:
        resp = api.search(lib, {**_BODIES["lsh"], "filters": {"meta_type": "absent"}})
        assert resp["hits"] == [] and resp["index_used"] == "lsh"


def test_wrong_dim_over_filtered_empty_rows_returns_empty(served):
    apis, _, lib = served
    for api in apis:
        resp = api.search(
            lib, {"query_embedding": [1.0, 0.0], "filters": {"meta_type": "absent"}}
        )
        assert resp["hits"] == [] and resp["index_used"] == "brute"


def test_wrong_dim_over_rows_is_a_400(served):
    apis, _, lib = served
    for api in apis:
        with pytest.raises(ApiError) as e:
            api.search(lib, {"query_embedding": [1.0, 0.0]})
        assert e.value.status == 400 and "dim" in e.value.detail


def test_unknown_index_over_empty_rows_returns_empty(served):
    """The dispatch check comes after step 4: over an empty row set an
    unknown index returns empty hits; over rows it is a 400."""
    apis, _, lib = served
    for api in apis:
        resp = api.search(
            lib, {**_BODIES["brute"], "index": "hnsw", "filters": {"meta_type": "absent"}}
        )
        assert resp["hits"] == [] and resp["index_used"] == "hnsw"
        with pytest.raises(ApiError) as e:
            api.search(lib, {**_BODIES["brute"], "index": "hnsw"})
        assert e.value.status == 400 and "unknown index" in e.value.detail


@pytest.mark.parametrize(
    "tables, planes, ok",
    [(8, 0, False), (1, 63, True), (8, 64, False), (8, -3, False), (0, 12, False)],
)
def test_lsh_config_bounds(served, tables, planes, ok):
    """A bucket code is one bigint per table: 1..63 planes and at least one
    table, else a 400 (not a SQL parse error from an oversized literal)."""
    apis, _, lib = served
    body = {**_BODIES["lsh"], "lsh_tables": tables, "lsh_planes": planes}
    for api in apis:
        if ok:
            assert api.search(lib, body)["hits"][0]["text"] == "north"
            continue
        with pytest.raises(ApiError) as e:
            api.search(lib, body)
        assert e.value.status == 400 and "lsh_planes" in e.value.detail


def test_http_search_lsh_planes_64_is_a_400(served, tmp_path):
    pytest.importorskip("flask")
    from vector_db_mvp_spark.http_app import create_app

    apis, _, lib = served
    api = apis[0]
    app = create_app(
        api.engine, api=api, interactive=InteractiveApi(api.engine, str(tmp_path))
    )
    resp = app.test_client().post(
        f"/vector_db/libraries/{lib}/search", json={**_BODIES["lsh"], "lsh_planes": 64}
    )
    assert resp.status_code == 400 and "lsh_planes" in resp.get_json()["detail"]


def test_k_nonpositive_has_no_index_used(spark, served):
    apis, _, lib = served
    for api in apis:
        resp, jobs = _jobs(spark, lambda: api.search(lib, {**_BODIES["lsh"], "k": 0}))
        assert resp["hits"] == [] and "index_used" not in resp
        assert jobs == 0  # an empty local frame


@pytest.mark.parametrize("null_chunk", [False, True])
def test_library_without_embedded_chunks(served, null_chunk):
    """No chunk at all, or only a NULL-embedding one: the index records
    dim 0 and the search returns empty hits, whatever the query's dim."""
    apis, store, _ = served
    lib = store.create_library(f"empty-{null_chunk}")
    if null_chunk:
        doc = store.add_document(lib, "doc")
        store.add_chunk(lib, doc, "no-embedding", None)
    for api in apis:
        for body in (_BODIES["brute"], {"query_embedding": [1.0, 0.0], "index": "lsh"}):
            resp = api.search(lib, body)
            assert resp["hits"] == [] and resp["index_used"] == body.get("index", "brute")
        assert api.engine.index_store.embedding_dim(lib) == 0
