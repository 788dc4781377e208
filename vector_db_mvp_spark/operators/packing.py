"""Sequence packing: assign documents to fixed-capacity training packs.

GPT-style pretraining concatenates the tokenized corpus in a deterministic
order and slices it into fixed-length sequences ("concat-and-chunk", e.g.
Brown et al., arXiv:2005.14165 §2.2). For a data pipeline that means: given
a per-document token count and a total order, compute each document's
global token offset, from which its pack assignments follow arithmetically:

    first_pack = (offset) div capacity
    last_pack  = (offset + n_tokens - 1) div capacity
    pack_offset = offset mod capacity

The hard part at scale is the *global running sum*. A naive
``Window.orderBy(key)`` with no partition clause collapses the whole
dataset into ONE task (Spark plans it as Exchange SinglePartition) — the
classic scale-killer. This operator implements the textbook two-phase
distributed prefix sum instead:

1. range-repartition by the order key (ranges are contiguous and partition
   ids ascend with the key, a documented RangePartitioner property);
2. per-partition running sum via a window PARTITIONED by
   ``spark_partition_id()`` — one hash shuffle keyed by partition id, but
   every id is its own task: parallelism stays at n_partitions, never 1;
3. collect one row per partition (the partition totals — a few hundred
   longs, driver-side cost O(partitions)), turn them into exclusive
   prefix offsets, and broadcast-join them back.

Total cost: two keyed O(data) shuffles + one tiny broadcast — versus the
naive plan's Exchange SinglePartition, which is one task however large the
input. The order key must be unique (duplicate keys spanning a range
boundary would make the running sum order-ambiguous).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def pack_documents(
    df: DataFrame,
    *,
    size_col: str = "n_tokens",
    order_col: str = "doc_id",
    capacity: int = 2048,
    num_partitions: int | None = None,
) -> DataFrame:
    """(order_col, size_col, global_offset, first_pack, last_pack,
    pack_offset) under concat-and-chunk packing in ``order_col`` order."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = df.select(order_col, size_col).repartitionByRange(n, F.col(order_col))
    d = d.withColumn("_pid", F.spark_partition_id())
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Materialize once: both the totals collect below and the final join
    # read this frame — without the checkpoint each action would re-run the
    # range shuffle + window.
    d = d.withColumn("_local_cum", F.sum(size_col).over(w)).localCheckpoint(
        eager=True
    )

    # Phase 2: per-partition totals -> exclusive prefix offsets. O(n_parts)
    # rows ever reach the driver.
    totals = {
        r["_pid"]: r["_total"]
        for r in d.groupBy("_pid").agg(F.max("_local_cum").alias("_total")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    spark = df.sparkSession
    off = F.broadcast(
        local_frame(spark, offsets, "pid: int, _part_offset: long")
    )

    cum = F.col("_local_cum") + F.col("_part_offset")
    start = cum - F.col(size_col)
    return (
        d.join(off, d["_pid"] == off["pid"])
        .select(
            order_col,
            size_col,
            start.alias("global_offset"),
            F.expr(f"(_local_cum + _part_offset - {size_col}) div {capacity}").alias(
                "first_pack"
            ),
            F.expr(f"(_local_cum + _part_offset - 1) div {capacity}").alias(
                "last_pack"
            ),
            (start % capacity).alias("pack_offset"),
        )
    )


def sql_pack_documents(
    table: str = "documents",
    *,
    size_col: str = "n_chars",
    order_col: str = "doc_id",
    capacity: int = 2048,
) -> str:
    """DuckDB twin: single-node running sum (the semantics the distributed
    prefix sum must reproduce exactly)."""
    return f"""
WITH cum AS (
  SELECT {order_col}, {size_col},
         SUM({size_col}) OVER (
           ORDER BY {order_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS c
  FROM {table}
)
SELECT {order_col}, {size_col},
       CAST(c - {size_col} AS BIGINT) AS global_offset,
       CAST((c - {size_col}) // {capacity} AS BIGINT) AS first_pack,
       CAST((c - 1) // {capacity} AS BIGINT) AS last_pack,
       CAST((c - {size_col}) % {capacity} AS BIGINT) AS pack_offset
FROM cum ORDER BY {order_col}
"""
