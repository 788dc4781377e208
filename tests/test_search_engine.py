"""§2.11 search semantics parity (SURVEY.md SearchService composition):
k<=0, null-embedding invisibility, conjunctive filters, zero-vector scores,
dim mismatch, LSH fallback + index_used reporting, version attach."""

from __future__ import annotations

import pytest

from vector_db_mvp_spark.engine import SearchEngine
from vector_db_mvp_spark.storage.store import EntityStore


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = EntityStore(spark, str(tmp_path_factory.mktemp("engine") / "store"), default_dim=4)
    lib = store.create_library("lib")
    doc = store.add_document(lib, "doc", category="guide")
    store.add_chunk(lib, doc, "north", [1.0, 0.0, 0.0, 0.0], meta_type="heading")
    store.add_chunk(lib, doc, "east", [0.0, 1.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "northeast", [1.0, 1.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "zero", [0.0, 0.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "no-embedding", None, meta_type="paragraph")
    eng = SearchEngine(store)
    eng._lib, eng._doc = lib, doc
    return eng


def _texts(result):
    return [r["text"] for r in result.hits.collect()]


def test_basic_brute_order_and_pack(engine):
    res = engine.search(engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=3)
    rows = res.hits.collect()
    # third place is a 0.0-score tie (east vs zero) broken by chunk_id (uuid)
    assert [r["text"] for r in rows[:2]] == ["north", "northeast"]
    assert rows[2]["text"] in ("east", "zero")
    assert rows[0].asDict().keys() == {
        "chunk_id", "document_id", "library_id", "text", "meta_type", "score"
    }
    assert rows[0]["score"] == pytest.approx(1.0)
    assert res.index_used == "brute"
    assert res.library_version == engine.store.library_version(engine._lib)


def test_null_embedding_invisible(engine):
    res = engine.search(engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=100)
    assert "no-embedding" not in _texts(res)
    assert len(_texts(res)) == 4  # zero vector IS searchable, scores 0.0


def test_zero_vector_scores_zero(engine):
    res = engine.search(engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=100)
    scores = {r["text"]: r["score"] for r in res.hits.collect()}
    assert scores["zero"] == 0.0
    # zero-vector query scores 0.0 against everything (brute_force.py:10-11)
    res2 = engine.search(engine._lib, query_embedding=[0.0, 0.0, 0.0, 0.0], k=100)
    assert all(r["score"] == 0.0 for r in res2.hits.collect())


def test_k_nonpositive_empty_no_index_used(engine):
    res = engine.search(engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=0)
    assert res.hits.count() == 0
    assert res.index_used is None  # search_service.py:95-96
    assert "index_used" not in res.to_dict() or res.to_dict().get("index_used") is None


def test_filters_conjunctive_equality(engine):
    res = engine.search(
        engine._lib, query_embedding=[1.0, 1.0, 0.0, 0.0], k=10,
        filters={"meta_type": "paragraph"},
    )
    assert set(_texts(res)) == {"east", "northeast", "zero"}
    # conjunction with a second filter
    res2 = engine.search(
        engine._lib, query_embedding=[1.0, 1.0, 0.0, 0.0], k=10,
        filters={"meta_type": "paragraph", "category": "guide"},
    )
    assert set(_texts(res2)) == {"east", "northeast", "zero"}
    # missing/unknown key fails the predicate -> empty (search_service.py:75-78)
    res3 = engine.search(
        engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=10,
        filters={"nonexistent_key": "v"},
    )
    assert res3.hits.count() == 0
    assert res3.index_used == "brute"  # empty-rows path still reports index


def test_filter_raw_equality_no_coercion(engine):
    """'5' != 5 — raw equality semantics. A numeric-string filter value never
    matches a different-typed stored value; here meta_type is a string so a
    non-matching string simply misses."""
    res = engine.search(
        engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=10,
        filters={"meta_type": "Paragraph"},  # case differs -> no hits
    )
    assert res.hits.count() == 0


def test_query_text_path_and_missing_query(engine):
    res = engine.search(engine._lib, query_text="north", k=2)
    assert res.hits.count() == 2  # embedded via provider at corpus dim
    with pytest.raises(ValueError, match="query_text or query_embedding"):
        engine.search(engine._lib, k=2)


def test_dim_mismatch_raises(engine):
    with pytest.raises(ValueError, match="dim"):
        engine.search(engine._lib, query_embedding=[1.0, 0.0], k=2)


def test_unknown_index_raises(engine):
    with pytest.raises(ValueError, match="unknown index"):
        engine.search(engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=2, index="hnsw")


def test_lsh_path_and_fallback_reporting(engine):
    res = engine.search(
        engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=3,
        index="lsh", lsh_tables=4, lsh_planes=2,
    )
    assert res.index == "lsh"
    assert res.index_used in ("lsh", "brute")  # fallback allowed (N <= 10k)
    assert res.hits.count() >= 1
    # with absurdly selective planes the fallback must kick in and fill k
    res2 = engine.search(
        engine._lib, query_embedding=[-1.0, -1.0, -1.0, -1.0], k=3,
        index="lsh", lsh_tables=1, lsh_planes=16,
    )
    assert res2.hits.count() >= 1


def test_lsh_fallback_reports_brute_and_fills_k(engine):
    """One table of 24 planes: the query -north shares no bucket with any
    row (north's bits are all flipped; east, northeast and zero miss with
    the fixed seed), so LSH finds nothing and the fallback (N <= 10k)
    re-runs brute force, reports it, and fills k."""
    q = [-1.0, 0.0, 0.0, 0.0]
    res = engine.search(
        engine._lib, query_embedding=q, k=3, index="lsh", lsh_tables=1, lsh_planes=24,
    )
    assert (res.index, res.index_used) == ("lsh", "brute")
    brute = engine.search(engine._lib, query_embedding=q, k=3)
    assert res.hits.collect() == brute.hits.collect()
    assert len(_texts(res)) == 3


@pytest.mark.parametrize("k", [0, -1])
def test_lsh_k_nonpositive_no_hits(engine, k):
    res = engine.search(
        engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=k, index="lsh",
    )
    assert res.hits.collect() == [] and res.index_used is None


def test_version_bumps_reflected_in_search(engine):
    before = engine.search(engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=1)
    engine.store.update_document(engine._lib, engine._doc, title="doc2")
    after = engine.search(engine._lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=1)
    assert after.library_version == before.library_version + 1
