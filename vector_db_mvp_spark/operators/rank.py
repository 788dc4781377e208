"""Distributed global-window primitives: exact global row_number and
strict-prefix running-min with NO single-partition exchange.

``Window.orderBy`` without ``partitionBy`` funnels every row through ONE
partition — acceptable over bounded aggregate frames (|months|, |days|,
#sources — see workload/relational.py monthly_growth), fatal over
unbounded ones (|customers|, |distinct prices| at 100 TB). These helpers
implement the classic range-bucketed two-phase evaluation instead:

1. bucket every row by driver-fetched approximate quantile boundaries of
   the ordering column (boundaries only affect load balance, never the
   result: all rows with equal ordering values land in the same bucket, and
   each bucket holds a contiguous range of the total order);
2. run the window WITHIN buckets (shuffle keyed on bucket — parallel);
3. combine with O(buckets) per-bucket aggregates fetched to the driver
   (control plane: counts or minima, one small row per bucket) and folded
   back in as a broadcast literal map.

The result is bit-identical to the single-partition window — same total
order, same ties — with the corpus-sized sort spread over ``buckets``
partitions. Costs two extra control-plane jobs (quantile probe + bucket
aggregate) — ~1 s of fixed latency at local scale, the difference between
working and not working at 100 TB.

Precondition: the ordering column must be non-null (``approxQuantile``
ignores nulls and the bucket expression would route them to bucket 0,
while a plain window sorts nulls first). Both callers order by non-null
aggregation keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket_expr(col: Column | str, bounds: list[float]) -> Column:
    """0-based bucket index = number of boundaries strictly below ``col``.
    Codegen-safe indicator sum (no HOF); rows with equal values always get
    equal buckets, so bucketing is consistent with any (col, ...) order.

    Pass the column NAME when possible: the ``buckets - 1`` chained
    comparisons then compile through ONE F.expr parse instead of ~2 py4j
    round trips per boundary (the functions/lsh.py spark_sql_plane_dot
    precedent — this helper is rebuilt with fresh boundary literals on
    every invocation of every caller, so construction latency is a real
    per-query cost). A Column input keeps the element-wise form for
    composability."""
    if isinstance(col, str):
        if not bounds:
            return F.expr("0")
        body = " + ".join(
            f"(CASE WHEN `{col}` > {float(bd)!r}D THEN 1 ELSE 0 END)"
            for bd in bounds
        )
        return F.expr(f"({body})")
    b: Column = F.lit(0)
    for bd in bounds:
        b = b + F.when(col > F.lit(float(bd)), 1).otherwise(0)
    return b


def _offset_lookup(offsets: dict[int, int], gb_col: str = "_gb") -> Column:
    """LONG prefix offset for this row's bucket, as one F.expr parse: a
    dense array literal indexed by ``gb_col`` (1-based element_at). Every
    realized bucket id is a key in ``offsets`` (both are derived from the
    same rows), so the coalesce-0 matches the former map-miss semantics;
    unrealized slots between keys carry the running offset and are never
    read. Replaces a create_map of 2 x |buckets| F.lit round trips."""
    dense: list[int] = []
    run = 0
    for b in range(max(offsets) + 1 if offsets else 0):
        run = offsets.get(b, run)
        dense.append(run)
    if not dense:
        return F.expr("0L")
    arr = "array(" + ", ".join(f"{v}L" for v in dense) + ")"
    return F.expr(f"coalesce(element_at({arr}, `{gb_col}` + 1), 0L)")


def _boundaries(df: DataFrame, value_col: str, buckets: int) -> list[float]:
    """Approximate, deduplicated quantile boundaries (driver-side control
    plane: ``buckets - 1`` doubles). Accuracy only shapes load balance."""
    if buckets <= 1:
        return []
    qs = [i / buckets for i in range(1, buckets)]
    got = df.approxQuantile(value_col, qs, 0.01)
    out: list[float] = []
    for x in got:
        if not out or x > out[-1]:
            out.append(x)
    return out


def global_row_number(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    *,
    buckets: int = 64,
    rn_col: str = "rn",
    materialize: bool = True,
) -> tuple[DataFrame, int]:
    """Exact 1-based global row number over the total order
    ``(value_col ASC, *tiebreak_cols ASC)`` — the distributed twin of
    ``row_number().over(Window.orderBy(...))``. Returns ``(df + rn_col,
    total_row_count)``.

    ``materialize``: the input is scanned three times (boundaries, bucket
    counts, final window). When it is the product of expensive upstream
    work (a shuffle, an aggregation), checkpoint it — SERIALIZED
    memory+disk, since deserialized on-heap blocks are ~5x the serialized
    size (the OOM class the sf10 probe caught in bfs.py). When the input
    is a bare column projection of a source scan, pass ``materialize=
    False``: re-reading a pruned parquet projection three times is CHEAPER
    than writing + twice-reading a corpus-sized checkpoint, and repeated
    invocations don't accumulate block-manager state (the sf100 probe
    measured the checkpointed form at 15.2x for 10x data on a 600M-row
    scan — run 2 slower than run 1 from lingering blocks — vs linear
    re-scan; BENCH_sf100.md)."""
    from pyspark import StorageLevel

    base = (
        df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
        if materialize
        else df
    )
    bounds = _boundaries(base, value_col, buckets)
    bucketed = base.withColumn("_gb", _bucket_expr(value_col, bounds))
    counts = {
        r["_gb"]: r["n"]
        for r in bucketed.groupBy("_gb").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    w = Window.partitionBy("_gb").orderBy(
        F.col(value_col).asc(), *[F.col(c).asc() for c in tiebreak_cols]
    )
    out = bucketed.withColumn(
        rn_col,
        (_offset_lookup(offsets) + F.row_number().over(w)).cast("long"),
    ).drop("_gb")
    return out, acc


def ntile_from_rn(rn: Column, n: int, tiles: int) -> Column:
    """SQL NTILE(tiles) bucket from an exact global row number: the first
    ``n % tiles`` tiles get ``n div tiles + 1`` rows, the rest
    ``n div tiles`` — identical to Spark's and DuckDB's NTILE over the
    same total order."""
    base, rem = divmod(n, tiles)
    if base == 0:
        return rn.cast("int")
    big = rem * (base + 1)
    return (
        F.when(rn <= F.lit(big), F.ceil(rn / F.lit(base + 1)))
        .otherwise(F.lit(rem) + F.ceil((rn - F.lit(big)) / F.lit(base)))
        .cast("int")
    )


def running_min_before(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    buckets: int = 64,
    out_col: str = "_prev_min",
) -> DataFrame:
    """``min(value_col)`` over all rows STRICTLY before the current row in
    ``order_col`` order (NULL for the global first row) — the distributed
    twin of ``min(v).over(Window.orderBy(o).rowsBetween(unboundedPreceding,
    -1))`` for frames where ``order_col`` values are distinct."""
    from pyspark import StorageLevel

    base = df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    bounds = _boundaries(base, order_col, buckets)
    bucketed = base.withColumn("_gb", _bucket_expr(order_col, bounds))
    bucket_mins = {
        r["_gb"]: r["m"]
        for r in bucketed.groupBy("_gb").agg(F.min(value_col).alias("m")).collect()
    }
    prefix, run = {}, None
    for b in sorted(bucket_mins):
        prefix[b] = run  # min over all STRICTLY EARLIER buckets
        m = bucket_mins[b]
        if m is None:  # every value_col in the bucket is NULL: contributes nothing
            continue
        run = m if run is None else min(run, m)
    entries = [x for b, v in prefix.items() if v is not None for x in (b, v)]
    prefix_map = (
        F.create_map(*[F.lit(x) for x in entries]) if entries else F.create_map()
    )
    local = F.min(value_col).over(
        Window.partitionBy("_gb")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # least() ignores NULL operands (returns the smallest non-null), which
    # is exactly "no preceding row in that scope contributes".
    return bucketed.withColumn(
        out_col, F.least(F.element_at(prefix_map, F.col("_gb")), local)
    ).drop("_gb")


def global_prefix_sums(
    df: DataFrame,
    value_col: str,
    sum_cols: list[str],
    *,
    buckets: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """Exact inclusive prefix sums of ``sum_cols`` over the global total
    order ``value_col ASC`` — the distributed twin of
    ``sum(c).over(Window.orderBy(value))`` without the single-partition
    exchange. Requires ``value_col`` values to be UNIQUE (aggregate to one
    row per value first); the running-CDF/K-S machinery below satisfies
    this by construction.

    Two-phase, same shape as :func:`global_row_number`: range-bucket on
    sampled boundaries, per-bucket totals to the driver (O(buckets)
    control plane), then per-bucket window cumsums shifted by broadcast
    bucket offsets. Adds ``cum_<col>`` columns (LONG).
    """
    from pyspark import StorageLevel

    base = (
        df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
        if materialize
        else df
    )
    bounds = _boundaries(base, value_col, buckets)
    bucketed = base.withColumn("_gb", _bucket_expr(value_col, bounds))
    totals = (
        bucketed.groupBy("_gb")
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    out = bucketed
    w = (
        Window.partitionBy("_gb")
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in sum_cols:
        per_bucket = {r["_gb"]: r[c] for r in totals}
        offsets, acc = {}, 0
        for b in sorted(per_bucket):
            offsets[b] = acc
            acc += per_bucket[b]
        out = out.withColumn(
            f"cum_{c}",
            (_offset_lookup(offsets) + F.sum(c).over(w)).cast("long"),
        )
    return out.drop("_gb")
