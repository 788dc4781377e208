"""From-scratch Lloyd's k-means over an embedding column, exactly
reproducible in SQL (unlike MLlib's KMeans, whose sampling/init is JVM-
internal — operators/ivf.py uses MLlib where reproducibility is NOT needed
and full-probe oracles cover correctness; this operator exists for the
pipelines that need the assignment itself to be verifiable).

Algorithm (all constants deterministic):
* init: the k rows with the smallest ids are the starting centroids
  (components rounded to 6 decimals);
* assign: nearest centroid by squared L2 distance (double math, sequential
  fold, distance rounded to 6; ties -> lowest cluster id);
* update: per-dimension mean, computed EXACTLY — components rounded to 6,
  summed as decimal(28,6) (order-independent), divided as double, rounded
  to 6 — so Spark and DuckDB produce bit-identical centroids each round;
* empty clusters keep their previous centroid.

Scale design (100 TB): centroids are k x d doubles — driver-side state,
like MLlib. Assignment is ONE projection with the centroid table folded
into a Catalyst expression (k sequential-fold distances per row — the
operators/pq.py ADC pattern): no join, no shuffle, whole-stage codegen
beside the parquet scan. The update step is posexplode -> groupBy
(cluster, dim) with map-side partial aggregation: the shuffle carries
k x d partial sums per map task, not rows. Driver collects k x d means
per iteration (control plane, O(k·d)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _round6(x: float) -> float:
    return float(round(x, 6))


def _dist_sq_sql(vec_col: str, centroid: list[float]) -> str:
    """Squared L2 distance to a literal centroid as a SQL snippet:
    sequential fold in double (mirrors DuckDB
    list_sum(list_transform(list_zip(...)))), rounded 6. A string, not a
    Column: the centroid table is k x d literals rebuilt every Lloyd
    round, and element-wise Column algebra paid ~k*d py4j round trips per
    round (measured ~1 s of pure plan-construction latency per iteration
    at k=8, d=64) — one F.expr parse is ~100x cheaper (the
    functions/lsh.py spark_sql_plane_dot precedent)."""
    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in centroid) + ")"
    return (
        f"round(aggregate(zip_with(cast({vec_col} as array<double>), {arr},"
        f" (x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x), 6)"
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist) for every non-null-embedding row; cluster is the
    0-based index of the nearest centroid, ties to the lowest index. The
    whole scoring projection compiles through ONE selectExpr parse (see
    _dist_sq_sql); the arithmetic is unchanged."""
    dists = "array(" + ", ".join(
        _dist_sq_sql(vec_col, c) for c in centroids
    ) + ")"
    return (
        df.filter(F.col(vec_col).isNotNull())
        .selectExpr(id_col, vec_col, f"{dists} AS _d")
        .selectExpr(
            id_col,
            vec_col,
            "cast(array_position(_d, array_min(_d)) - 1 as int) AS cluster",
            "array_min(_d) AS dist",
        )
    )


def _update_centroids(
    assigned: DataFrame,
    prev: list[list[float]],
    *,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Exact per-dimension means: posexplode -> decimal partial sums ->
    k x d rows to the driver. Empty clusters keep their previous centroid."""
    rows = (
        assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "_x"))
        .groupBy("cluster", "pos")
        .agg(
            F.sum(F.round(F.col("_x").cast("double"), 6).cast("decimal(28,6)"))
            .alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            "cluster",
            "pos",
            F.round(F.col("_s").cast("double") / F.col("_n"), 6).alias("_m"),
        )
        .collect()
    )
    nxt = [list(c) for c in prev]
    by_cluster: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, {})[r.pos] = r._m
    for cid, dims in by_cluster.items():
        nxt[cid] = [dims[p] for p in sorted(dims)]
    return nxt


def kmeans_fit(
    df: DataFrame,
    k: int,
    iters: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Run ``iters`` Lloyd rounds; return the final assignment frame
    (keeping ``vec_col`` for downstream scoring) AND the fitted centroids
    — callers like the IVF recall curve rank probe order against them.
    Centroid state is k x d floats on the driver (bounded control-plane,
    same class as the per-iteration collect)."""
    base = df.filter(F.col(vec_col).isNotNull())
    seed_rows = (
        base.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(k).collect()
    )
    centroids = [[_round6(float(x)) for x in r[vec_col]] for r in seed_rows]
    for _ in range(iters):
        assigned = assign_clusters(base, centroids, id_col=id_col, vec_col=vec_col)
        centroids = _update_centroids(assigned, centroids, vec_col=vec_col)
    return (
        assign_clusters(base, centroids, id_col=id_col, vec_col=vec_col),
        centroids,
    )


def kmeans_assignments(
    df: DataFrame,
    k: int,
    iters: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iters`` Lloyd rounds and return the final assignment
    ``(id_col, cluster, dist)`` (dist = squared L2, rounded to 6)."""
    assigned, _ = kmeans_fit(df, k, iters, id_col=id_col, vec_col=vec_col)
    return assigned.select(id_col, "cluster", "dist")


def sql_kmeans_ctes(
    k: int,
    iters: int,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """The CTE body of :func:`sql_kmeans_assignments` (no ``WITH``, no final
    SELECT): ``base`` (vid, v), ``c{iters}`` (fitted centroids), ``final``
    (vid, cluster, d). Composable by oracles that need the fitted model —
    e.g. the IVF recall curve ranks probe order against ``c{iters}``."""
    dist = (
        "ROUND(list_sum(list_transform(list_zip(b.v, c.c), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))), 6)"
    )
    parts = [
        f"""base AS (
  SELECT {id_col} AS vid, list_transform(CAST({vec_col} AS DOUBLE[]),
                                         x -> ROUND(x, 6)) AS v0,
         CAST({vec_col} AS DOUBLE[]) AS v
  FROM {table} WHERE {vec_col} IS NOT NULL
)""",
        f"""c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vid ASC) - 1 AS INT) AS cluster,
         v0 AS c
  FROM base QUALIFY cluster < {k}
)""",
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(
            f"""a{i} AS (
  SELECT vid, cluster FROM (
    SELECT b.vid, c.cluster, {dist} AS d
    FROM base b CROSS JOIN {prev} c
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vid
                               ORDER BY d ASC, cluster ASC) = 1
)"""
        )
        parts.append(
            f"""m{i} AS (
  SELECT cluster,
         list(m ORDER BY pos) AS c
  FROM (
    SELECT cluster, pos,
           ROUND(CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS m
    FROM (
      SELECT a.cluster, unnest(b.v) AS x,
             generate_subscripts(b.v, 1) AS pos
      FROM a{i} a JOIN base b USING (vid)
    )
    GROUP BY cluster, pos
  )
  GROUP BY cluster
)"""
        )
        parts.append(
            f"""c{i} AS (
  SELECT p.cluster, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN m{i} m USING (cluster)
)"""
        )
    return (
        ",\n".join(parts)
        + f""",
final AS (
  SELECT vid, cluster, d FROM (
    SELECT b.vid, c.cluster, {dist} AS d
    FROM base b CROSS JOIN c{iters} c
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vid
                               ORDER BY d ASC, cluster ASC) = 1
)"""
    )


def sql_kmeans_assignments(
    k: int,
    iters: int,
    *,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB unrolled-iteration mirror of :func:`kmeans_assignments` —
    identical init, distance math, decimal-exact means, rounding, and tie
    rules, so assignments hash-match bit-for-bit."""
    ctes = sql_kmeans_ctes(k, iters, table=table, id_col=id_col, vec_col=vec_col)
    return f"WITH {ctes}\nSELECT vid AS {id_col}, cluster, d AS dist FROM final"
