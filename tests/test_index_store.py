"""ChunkIndexStore: version-keyed staleness (rebuild only when the library
version advances), parity of the served dot-product path with a numpy
exact cosine top-k, and LSH probes over precomputed codes."""

from __future__ import annotations

import numpy as np
import pytest

from vector_db_mvp_spark.engine import SearchEngine
from vector_db_mvp_spark.storage.index_store import ChunkIndexStore
from vector_db_mvp_spark.storage.store import EntityStore


@pytest.fixture()
def setup(spark, tmp_path):
    store = EntityStore(spark, str(tmp_path / "store"), default_dim=4)
    lib = store.create_library("lib")
    doc = store.add_document(lib, "doc", category="guide")
    store.add_chunk(lib, doc, "north", [1.0, 0.0, 0.0, 0.0], meta_type="heading")
    store.add_chunk(lib, doc, "east", [0.0, 1.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "northeast", [3.0, 3.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "zero", [0.0, 0.0, 0.0, 0.0], meta_type="paragraph")
    store.add_chunk(lib, doc, "no-embedding", None, meta_type="paragraph")
    idx = ChunkIndexStore(store, str(tmp_path / "index"))
    return store, lib, doc, idx


def _hits(idx, lib, q, k, **kw):
    res = SearchEngine(idx.store, idx).search(lib, query_embedding=q, k=k, **kw)
    return res.hits.collect()


def _exact_topk(store, lib, q, k):
    """numpy float64 cosine over the library's embedded chunks (a zero
    vector scores 0.0), ordered by score desc then chunk_id."""
    rows = [r for r in store.read_chunks_library(lib).collect() if r["embedding"] is not None]
    qv = np.asarray(q, dtype=np.float64)
    scored = []
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        den = np.linalg.norm(v) * np.linalg.norm(qv)
        scored.append((r["chunk_id"], float(v @ qv / den) if den else 0.0))
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:k]


def _assert_exact(store, lib, q, hits):
    want = _exact_topk(store, lib, q, len(hits))
    assert [r["chunk_id"] for r in hits] == [c for c, _ in want]
    for r, (_, score) in zip(hits, want):
        assert r["score"] == pytest.approx(score, abs=1e-12)


def test_build_once_serve_many(setup):
    store, lib, doc, idx = setup
    for _ in range(3):
        hits = _hits(idx, lib, [1.0, 0.0, 0.0, 0.0], 2)
        assert [r["text"] for r in hits] == ["north", "northeast"]
    assert idx.builds == 1  # staleness check, not rebuild-per-query


def test_write_invalidates(setup):
    store, lib, doc, idx = setup
    _hits(idx, lib, [1.0, 0.0, 0.0, 0.0], 1)
    assert idx.builds == 1
    store.add_chunk(lib, doc, "north2", [0.9, 0.1, 0.0, 0.0], meta_type="heading")
    hits = _hits(idx, lib, [1.0, 0.0, 0.0, 0.0], 2)
    assert idx.builds == 2  # version bump -> exactly one rebuild
    assert {r["text"] for r in hits} == {"north", "north2"}
    # unrelated metadata read does not rebuild
    _hits(idx, lib, [0.0, 1.0, 0.0, 0.0], 1)
    assert idx.builds == 2


def test_cached_parity_with_engine(setup):
    """dot(unit_emb, unit_q) from the persisted index == numpy float64
    exact cosine: same order, scores within 1e-12."""
    store, lib, doc, idx = setup
    q = [0.5, 0.8, 0.0, 0.0]
    hits = _hits(idx, lib, q, 4)
    assert len(hits) == 4
    _assert_exact(store, lib, q, hits)


def test_cached_semantics_edges(setup):
    store, lib, doc, idx = setup
    # null-embedding chunks were never indexed
    texts = {r["text"] for r in _hits(idx, lib, [1.0, 0.0, 0.0, 0.0], 100)}
    assert "no-embedding" not in texts and "zero" in texts
    # k<=0 -> empty
    assert _hits(idx, lib, [1.0, 0.0, 0.0, 0.0], 0) == []
    # filters prune before scoring
    got = _hits(idx, lib, [1.0, 1.0, 0.0, 0.0], 10, filters={"meta_type": "heading"})
    assert [r["text"] for r in got] == ["north"]
    # zero-vector query scores 0.0 everywhere (F1 convention)
    assert all(r["score"] == 0.0 for r in _hits(idx, lib, [0.0, 0.0, 0.0, 0.0], 10))


def test_engine_serves_from_index(setup):
    """SearchEngine(store, index_store=...) returns the exact cosine top-k,
    builds the index once across queries, and rebuilds after a write bumps
    the version."""
    store, lib, doc, idx = setup
    cached = SearchEngine(store, index_store=idx)
    q = [0.5, 0.8, 0.0, 0.0]

    b = cached.search(lib, query_embedding=q, k=4)
    _assert_exact(store, lib, q, b.hits.collect())
    assert (b.index_used, b.library_version) == ("brute", store.library_version(lib))
    cached.search(lib, query_embedding=q, k=2, filters={"meta_type": "heading"})
    assert idx.builds == 1  # one build served every query

    store.add_chunk(lib, doc, "west", [-1.0, 0.0, 0.0, 0.0], meta_type="heading")
    res = cached.search(lib, query_embedding=[-1.0, 0.0, 0.0, 0.0], k=1)
    assert idx.builds == 2
    assert res.hits.collect()[0]["text"] == "west"
    assert res.library_version == store.library_version(lib)


def test_engine_indexed_lsh_and_param_mismatch(setup):
    store, lib, doc, idx = setup
    cached = SearchEngine(store, index_store=idx)
    # matching (tables, planes) -> served from stored codes
    res = cached.search(lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=2, index="lsh")
    assert res.hits.count() >= 1  # fallback fills if buckets miss
    builds_before = idx.builds
    # another LSH config hashes the stored unit vectors in the plan; the
    # index is not rebuilt for it
    res2 = cached.search(
        lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=2, index="lsh",
        lsh_tables=2, lsh_planes=4,
    )
    assert res2.hits.count() >= 1
    assert idx.builds == builds_before
    # unknown index still errors through the indexed engine
    with pytest.raises(ValueError, match="unknown index"):
        cached.search(lib, query_embedding=[1.0, 0.0, 0.0, 0.0], k=2, index="hnsw")


def test_cached_lsh_probe(setup):
    store, lib, doc, idx = setup
    hits = _hits(idx, lib, [1.0, 0.0, 0.0, 0.0], 2, index="lsh")
    # LSH candidates re-ranked exactly: the query shares every bucket with
    # the identical vector, so it survives pruning and ranks first
    assert hits and hits[0]["text"] == "north"
    with pytest.raises(ValueError, match="unknown index"):
        _hits(idx, lib, [1.0, 0.0, 0.0, 0.0], 2, index="hnsw")


def test_rebuild_defers_eviction_one_generation(setup, spark):
    """ADVICE r12 + r13: index_df memoizes a localCheckpointed frame.
    When the pointer moves, the replaced checkpoint must NOT be
    unpersisted eagerly (a localCheckpoint truncates lineage, so eager
    eviction made any lazy frame held across the rebuild unrecomputable
    and could race an in-flight action — ADVICE r13); instead it parks
    ONE generation in a stale slot and is freed on the NEXT rebuild, so
    serving memory stays bounded at <= 2 index copies per library
    (the ADVICE r12 contract). DataFrame.unpersist only talks to the
    CacheManager, so the eviction unpersists the LogicalRDD's backing
    RDD — pinned here via getRDDStorageInfo."""
    store, lib, doc, idx = setup

    def _checkpoint_rdd_id(df) -> int:
        return df._jdf.queryExecution().logical().rdd().id()

    def _stored_rdd_ids() -> set[int]:
        sc = spark.sparkContext
        return {
            info.id() for info in sc._jsc.sc().getRDDStorageInfo()
            if info.isCached()
        }

    df1 = idx.index_df(lib)
    n1 = df1.count()
    gen1 = _checkpoint_rdd_id(df1)
    assert gen1 in _stored_rdd_ids()  # checkpoint blocks are live
    store.add_chunk(lib, doc, "south", [0.0, -1.0, 0.0, 0.0],
                    meta_type="heading")
    df2 = idx.index_df(lib)  # pointer moved -> rebuild; gen1 parks stale
    gen2 = _checkpoint_rdd_id(df2)
    assert gen2 != gen1
    assert gen2 in _stored_rdd_ids()
    # gen1 is DEFERRED, not evicted: still persisted and still computable
    # for callers who obtained a lazy frame before the rebuild
    assert gen1 in _stored_rdd_ids()
    assert df1.count() == n1  # the held frame replays the old snapshot
    assert df2.count() == n1 + 1
    store.add_chunk(lib, doc, "west", [0.0, 0.0, -1.0, 0.0],
                    meta_type="heading")
    df3 = idx.index_df(lib)  # second rebuild: gen1 (2 generations old) freed
    gen3 = _checkpoint_rdd_id(df3)
    assert gen3 not in (gen1, gen2)
    assert gen1 not in _stored_rdd_ids()  # bounded: <= 2 generations live
    assert gen2 in _stored_rdd_ids()  # the new stale slot occupant
    assert gen3 in _stored_rdd_ids()
    assert df3.count() == n1 + 2


def test_pointer_records_embedding_dim(setup):
    """The build records the embedding dim beside built_version, so a
    served search reads it from the pointer file instead of a Spark job;
    a pointer written without it reads as stale and is rebuilt."""
    store, lib, doc, idx = setup
    idx.index_df(lib)
    assert idx.embedding_dim(lib) == 4
    ptr = idx._pointer(lib)
    with open(ptr) as f:
        d, ver, dim = f.read().split("\t")
    assert (int(ver), int(dim)) == (store.library_version(lib), 4)
    with open(ptr, "w") as f:
        f.write(f"{d}\t{ver}")
    assert idx.built_version(lib) is None
    assert idx.refresh(lib) and idx.embedding_dim(lib) == 4
