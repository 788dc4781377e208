"""Connected components / dedup cluster resolution (operators/cluster.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_db_mvp_spark.operators.cluster import connected_components, dedup_clusters


def test_chain_and_island_and_singleton(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id1 long, id2 long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    got = {
        r["id"]: r["comp"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_edge_order_is_irrelevant(spark):
    # pairs listed in either orientation converge to the same labeling
    e1 = spark.createDataFrame([(2, 1), (3, 2)], "id1 long, id2 long")
    e2 = spark.createDataFrame([(1, 2), (2, 3)], "id1 long, id2 long")
    c1 = sorted(map(tuple, connected_components(e1).collect()))
    c2 = sorted(map(tuple, connected_components(e2).collect()))
    assert c1 == c2 == [(1, 1), (2, 1), (3, 1)]


def test_long_chain_converges(spark):
    # diameter 19: exercises multiple propagation rounds + lineage truncation
    n = 20
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id1 long, id2 long"
    )
    comp = connected_components(edges)
    assert comp.agg(F.count_distinct("comp")).collect()[0][0] == 1
    assert comp.agg(F.min("comp"), F.max("comp")).collect()[0] == (1, 1)


def test_dedup_clusters_keeper_rule(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame([(3, 2), (2, 5)], "id1 long, id2 long")
    rows = {r["doc_id"]: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[2]["cluster_id"] == 2 and rows[3]["cluster_id"] == 2
    assert rows[5]["cluster_id"] == 2
    assert rows[2]["is_keeper"] and not rows[3]["is_keeper"]
    assert rows[1]["is_keeper"] and rows[4]["is_keeper"]  # singletons keep


def test_driver_union_find_matches_distributed_loop(spark, sf_dir):
    """The small-graph fast path (driver union-find) must produce exactly
    the labels of the distributed HashMin loop (driver_threshold=0 forces
    it) over the real near-dup pair graph, singletons included."""
    from vector_db_mvp_spark.operators.cluster import dedup_clusters
    from vector_db_mvp_spark.operators.dedup import minhash_lsh_pairs
    from vector_db_mvp_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n=5, num_hashes=16, bands=4, tau=0.4)
    fast = {
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in dedup_clusters(docs, pairs, num_partitions=4).collect()
    }
    loop = {
        (r["doc_id"], r["cluster_id"], r["is_keeper"])
        for r in dedup_clusters(
            docs, pairs, num_partitions=4, driver_threshold=0
        ).collect()
    }
    assert fast == loop
    assert len(fast) == docs.count()
    # The union-find labels enter Spark as an Arrow local relation: no
    # Python-worker stage under any consumer of the clusters.
    lineage = (
        dedup_clusters(docs, pairs, num_partitions=4)
        ._jdf.queryExecution().toRdd().toDebugString()
    )
    assert "PythonRDD" not in lineage
