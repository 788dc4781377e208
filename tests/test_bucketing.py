"""Bucketed co-partitioned join — the storage-layout half of the 100 TB
contract: two fact tables bucketed+sorted on the join key join with NO
exchange of either side (the shuffle happened once, at write time, and is
amortized over every subsequent join)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_mvp_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(wh / "orders_b")).mode("overwrite")
        .saveAsTable("orders_b")
    )
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(wh / "lineitem_b")).mode("overwrite")
        .saveAsTable("lineitem_b")
    )
    yield spark.table("orders_b"), spark.table("lineitem_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_bucketed_join_has_no_exchange(spark, bucketed):
    orders_b, lineitem_b = bucketed
    # hint forces the sort-merge strategy (at fixture scale Spark would
    # rather broadcast — at 100 TB neither fact side is broadcastable, which
    # is exactly the regime bucketing exists for)
    joined = lineitem_b.hint("merge").join(
        orders_b, lineitem_b.l_orderkey == orders_b.o_orderkey
    ).groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    jvm = spark._jvm
    plan = joined._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    join_section = plan.split("HashAggregate")[0]
    # co-bucketed on the join key: sort-merge join with ZERO exchanges
    # before it — neither fact table shuffles
    assert "SortMergeJoin" in plan
    assert "Exchange" not in join_section


def test_chunks_scan_prunes_library_partition(spark, tmp_path):
    """The chunks fact table stores one immutable directory per library: a
    per-library index build scans ONLY that library's directory — at 100 TB
    this is the difference between reading one library and reading the
    world."""
    from vector_db_mvp_spark.storage.index_store import ChunkIndexStore
    from vector_db_mvp_spark.storage.store import EntityStore

    store = EntityStore(spark, str(tmp_path / "store"), default_dim=4)
    lib1 = store.create_library("a")
    lib2 = store.create_library("b")
    d1 = store.add_document(lib1, "d1")
    d2 = store.add_document(lib2, "d2")
    store.add_chunk(lib1, d1, "x", [1.0, 0.0, 0.0, 0.0])
    store.add_chunk(lib2, d2, "y", [0.0, 1.0, 0.0, 0.0])

    rows = ChunkIndexStore(store, str(tmp_path / "index"))._build_rows(lib1)
    jvm = spark._jvm
    plan = rows._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert f"chunks.{lib1}" in plan  # scans lib1's directory...
    assert f"chunks.{lib2}" not in plan  # ...and never touches lib2's
    assert "BroadcastHashJoin" in plan  # J1: the documents side is broadcast
    # full-table read still sees both libraries (union of current dirs)
    assert store.read("chunks").count() == 2


def test_bucketed_join_results_match_plain_join(spark, sf_dir, bucketed):
    orders_b, lineitem_b = bucketed
    got = {
        r["o_orderpriority"]: r["n"]
        for r in lineitem_b.join(
            orders_b, lineitem_b.l_orderkey == orders_b.o_orderkey
        ).groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    want = {
        r["o_orderpriority"]: r["n"]
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
