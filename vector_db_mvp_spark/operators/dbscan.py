"""Density-based clustering (DBSCAN) composed from relational primitives.

A training-corpus curation pipeline clusters embeddings to find dense
topical groups and isolate outliers (noise docs are frequently boilerplate
or junk). Classic DBSCAN (Ester et al., KDD'96) is defined procedurally —
seed-point expansion — which is both inherently sequential and
order-dependent for border points. This module implements the standard
*deterministic* restatement used by parallel DBSCAN work (e.g. MR-DBSCAN):

- ``core``   : point with >= ``min_pts`` points in its eps-neighborhood
  (count includes the point itself, matching the original paper).
- clusters  = connected components of the core points under the
  eps-neighbor relation restricted to core-core edges; the cluster id is
  the minimum core id in the component (stable under any execution order).
- ``border`` : non-core point with >= 1 core neighbor; deterministically
  assigned the MINIMUM cluster id among its core neighbors (classic DBSCAN
  assigns whichever cluster reaches it first — nondeterministic on any
  parallel engine and unreproducible by an oracle).
- ``noise``  : everything else.

The eps-neighborhood pairs are an INPUT (``pairs``), so the same clustering
core composes with any neighbor generator: the exact O(N^2) cosine join for
oracle parity, or the sub-quadratic LSH bucket join
(``operators/dedup.py:embedding_neardup_pairs_lsh``) as the 100 TB path —
where "eps-neighbor" then means "bucket-coincident AND cosine >= tau",
itself a deterministic predicate both engines can evaluate identically.

Scale notes (100 TB):
- the pair graph is typically orders of magnitude smaller than the corpus
  (bounded by bucket co-occupancy); every step here is edge-linear: one
  symmetrize pass, one keyed degree aggregation, two semi-joins, and the
  label-propagation loop from ``operators/cluster.py`` (one shuffle per
  round, rounds = core-graph diameter).
- the symmetrized edge list is localCheckpoint'ed SERIALIZED once and
  reused by degree / core-edge / border stages — without it the upstream
  pair-generation pipeline (band join + cosine verify) would re-execute
  three times.
- no step collects data to the driver beyond connected_components'
  gated small-graph fast path (exactly the same labeling, see cluster.py).

Reference capability anchor: the reference stores one embedding per row and
serves similarity queries over them (vector_store.py, search_service.py);
density clustering is the corpus-analysis extension of that same
similarity structure (SURVEY.md "LLM-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dbscan(
    points: DataFrame,
    pairs: DataFrame,
    *,
    min_pts: int = 5,
    id_col: str = "id",
    num_partitions: int | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Cluster ``points`` given precomputed eps-neighbor ``pairs``.

    ``points``: single-column node universe (``id_col``) — every point
    appears in the output, including isolated ones (role ``noise``).
    ``pairs``: columns ``id1``/``id2``, each unordered neighbor pair once.
    ``min_pts``: neighborhood size threshold INCLUDING the point itself
    (the KDD'96 convention), so core <=> degree >= min_pts - 1.

    Returns (``id_col``, role, cluster_id); cluster_id is NULL iff noise.
    """
    from pyspark import StorageLevel

    from .cluster import connected_components

    # Symmetrize in ONE pass over the pair input (see cluster.py: a union of
    # two selects would run the expensive pair-generation pipeline twice).
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id1").alias("a"), F.col("id2").alias("b")),
                    F.struct(F.col("id2").alias("a"), F.col("id1").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    if num_partitions is not None:
        sym = sym.repartition(num_partitions, "a")
    # Reused by three downstream stages; SERIALIZED storage (deserialized
    # on-heap blocks are ~5x larger — the sf10 OOM class, see pagerank.py).
    sym = sym.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)

    # Degree = neighbor count (self excluded by construction: id1 != id2).
    core_ids = (
        sym.groupBy("a")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .filter(F.col("_deg") >= min_pts - 1)
        .select(F.col("a").alias(id_col))
    )

    # Core-core edges only: two semi-joins against the (small) core set.
    core_edges = (
        sym.join(core_ids.select(F.col(id_col).alias("a")), "a", "left_semi")
        .join(core_ids.select(F.col(id_col).alias("b")), "b", "left_semi")
        .select("a", "b")
    )
    cc = connected_components(
        core_edges,
        src="a",
        dst="b",
        nodes=core_ids,
        id_col=id_col,
        num_partitions=num_partitions,
        driver_threshold=driver_threshold,
    ).select(F.col(id_col), F.col("comp").alias("_core_cluster"))

    # Border assignment: non-core endpoint -> MIN cluster over its core
    # neighbors. One keyed aggregation; the join against cc is by core id
    # (the small side — broadcastable at any realistic cluster count, but
    # left as a shuffle join so the plan survives adversarial core counts).
    border = (
        sym.join(core_ids.select(F.col(id_col).alias("a")), "a", "left_anti")
        .join(cc.select(F.col(id_col).alias("b"), "_core_cluster"), "b")
        .groupBy("a")
        .agg(F.min("_core_cluster").alias("_border_cluster"))
        .select(F.col("a").alias(id_col), "_border_cluster")
    )

    return (
        points.select(F.col(id_col))
        .join(cc, id_col, "left")
        .join(border, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_core_cluster").isNotNull(), F.lit("core"))
            .when(F.col("_border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("_core_cluster", "_border_cluster").alias("cluster_id"),
        )
    )


def knn_edges_lsh(
    df: DataFrame,
    planes: list[list[list[float]]],
    *,
    k: int = 10,
    tau: float = 0.3,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    num_partitions: int | None = None,
) -> DataFrame:
    """k-NN-graph pair generator for :func:`dbscan` — the bounded-degree
    scale path.

    The bucket-coincidence generator (dedup.py
    ``embedding_neardup_pairs_lsh``) has edge count Θ(N · density) at a
    fixed tau: as a corpus densifies, pairs-per-vector grows without bound
    (measured 5.2 -> 65.1 across one decade, BENCH_sf10.md). Capping each
    point's out-edges at its k best candidates bounds the graph at N·k
    edges REGARDLESS of density — the standard k-NN-graph DBSCAN
    restatement — while keeping every step deterministic:

    - candidates: directed (src, dst), src != dst, sharing an LSH bucket in
      >= 1 table AND round(cosine, 6) >= tau;
    - per src keep the k best by (cosine DESC, dst ASC) — total order, so
      the retained edge set is unique (an oracle can replay it with
      ROW_NUMBER);
    - symmetrize by UNION (a pair survives if EITHER endpoint ranked it),
      emitted once as id1 < id2.

    One shuffle keyed by (table, code), one keyed window per src (never a
    global window), one distinct. Output feeds :func:`dbscan` unchanged —
    "eps-neighbor" just becomes "mutually-or-singly ranked k-NN edge".
    """
    from ..functions.lsh import bucket_codes, planes_dim
    from ..functions.vector import l2_norm, sql_dot_cols

    dim = planes_dim(planes)
    # Norms hoisted: computed ONCE per base row (the HOF runs N times)
    # instead of inside the per-collision cosine (2x per collision,
    # interpreted) — the embedding_neardup_pairs precedent. The formula
    # stays dot/(na*nb) with the zero-norm guard, values bit-identical.
    # The codes are hashed here too, below the repartition: both sides of
    # the self-join below then read ONE (reused) shuffle, so the Arrow
    # kernel runs once per row instead of once per join side
    # (dbscan_knn_clusters, same JVM at sf0.01, identical rows: warm
    # median 3.16 -> 2.45 s).
    base = df.filter(F.col(embedding_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(embedding_col).alias("_e"),
        l2_norm(F.col(embedding_col)).alias("_n"),
        bucket_codes(embedding_col, planes).alias("_c"),
    )
    # Compute-spreading repartition (explicit count — AQE cannot coalesce
    # it): the per-collision cosine is the CPU-heavy stage, and a single
    # parquet file otherwise pins it to the scan's 1-2 input partitions (a
    # 44 s sf0.1 probe leg dropped to seconds once spread). The shuffled
    # payload is just (id, embedding, norm, codes) — N rows.
    if num_partitions is not None:
        base = base.repartition(num_partitions)
    coded = base.select(
        "_id", "_e", "_n", F.posexplode("_c").alias("table_id", "code")
    )
    a, b = coded.alias("a"), coded.alias("b")
    # Cosine is computed IN the join projection and the embeddings dropped
    # immediately: a pair colliding in t tables scores t times (a modest
    # flop overhead at typical table overlap), but every downstream
    # shuffle then carries (src, dst, c) — ~24 bytes — instead of two
    # 64-float vectors (~20x smaller rows). The embedding-carrying variant
    # spent its sf10 probe wall time shuffling ~13 GB of vectors through
    # dropDuplicates; the score is deterministic, so the per-table
    # duplicate rows are bit-identical and the dedup result is exact.
    # r15: the dot runs as ONE unrolled codegen expression over the
    # hoisted norms (sql_dot_cols) — the HOF cosine evaluated interpreted
    # per collision and was ~95% of the sf1 edge-build wall time.
    dot = F.expr(sql_dot_cols("a._e", "b._e", dim))
    cos = F.when(
        (F.col("a._n") == 0.0) | (F.col("b._n") == 0.0), F.lit(0.0)
    ).otherwise(dot / (F.col("a._n") * F.col("b._n")))
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("src"),
            F.col("b._id").alias("dst"),
            F.round(cos, 6).alias("c"),
        )
        .filter(F.col("c") >= tau)
    )
    # The ranked graph is tiny relative to the session's corpus-sized
    # shuffle width; one explicit narrow hash on src satisfies BOTH the
    # dropDuplicates clustering (src is a prefix of (src, dst)) and the
    # window's per-src distribution — no further exchange, no empty-task
    # overhead (the dedup_clusters lesson).
    if num_partitions is not None:
        cand = cand.repartition(num_partitions, "src")
    cand = cand.dropDuplicates(["src", "dst"])
    w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("dst").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.least("src", "dst").alias("id1"),
            F.greatest("src", "dst").alias("id2"),
        )
        .distinct()
    )
