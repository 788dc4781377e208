"""Duplicate-cluster resolution: connected components over near-dup pairs.

The dedup operators (operators/dedup.py) emit *pairs* (id1, id2, sim). A
training-data pipeline needs one more step — resolve pairs into clusters and
keep one canonical document per cluster (the reference's `keeper` notion from
exact dedup, ``workload/text.py`` SQL_DEDUP_EXACT ``MIN(doc_id)``, lifted to
transitive near-dup groups).

Algorithm: HashMin label propagation. Every node starts labeled with its own
id; each round a node takes the min label among itself and its neighbors;
fixpoint when no label changes. Rounds = graph diameter, and near-dup
clusters are shallow (stars/cliques around a template), so 3-5 rounds is
typical. Each round is one shuffle join keyed by node id.

Scale notes (100 TB):
- lineage is truncated every round with an eager ``localCheckpoint`` —
  without it the iterated join plan grows exponentially and the optimizer
  chokes long before data size matters; on a cluster use
  ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for fault
  tolerance instead of the local variant.
- the edge list stays partitioned by ``dst`` across rounds, so only the
  (small, shrinking) label frame moves.
- for adversarial graphs (long chains) swap HashMin for the
  large-star/small-star algorithm (Kiveris et al., "Connected Components in
  MapReduce and Beyond") — same join primitives, O(log n) rounds; near-dup
  workloads don't need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id1",
    dst: str = "id2",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 25,
    num_partitions: int | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(id, component) for every node, component = min node id reachable.

    ``edges`` is undirected input (each pair listed once, either order).
    ``nodes`` optionally supplies the full node universe (single-column
    DataFrame named ``id_col``) so isolated nodes appear as their own
    singleton components; defaults to the ids present in ``edges``.

    ``num_partitions`` sizes the iterative joins. The label/edge frames are
    usually orders of magnitude smaller than the corpus that produced the
    pairs, so inheriting the session's corpus-sized
    ``spark.sql.shuffle.partitions`` makes every round pay fixed task
    overhead for near-empty partitions (measured ~40% of CC wall time at
    sf0.1). Pass a small value when the pair graph is small; leave None on
    a cluster to inherit the session setting.

    ``driver_threshold``: edge graphs at or below this size are resolved
    with a driver-side union-find instead of the distributed loop. Near-dup
    edge sets are typically minuscule relative to the corpus that produced
    them (253 edges over 5k docs at sf0.1), and each distributed round costs
    a shuffle join + checkpoint + convergence probe — fixed overhead that
    dwarfs the actual work below ~10^5 edges (~2 MB collected; measured
    2.0 s loop vs 0.2 s union-find at sf0.1). The label propagation loop is
    the 100 TB path and stays bit-identical (same min-reachable-id
    labeling); set ``driver_threshold=0`` to force it.
    """
    # Both edge directions in ONE pass over the input: a union of two
    # selects would execute the (expensive) pair-generation pipeline once
    # per branch — caching upstream shingles doesn't save the band join +
    # verify stages (measured: 7.2 s vs 2.9 s for the symmetrized edge
    # materialization on dedup_clusters at sf0.1).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )
    if num_partitions is not None:
        sym = sym.repartition(num_partitions, "b")
    # Checkpoint the edge list FIRST: it is the output of the (expensive)
    # pair-generation pipeline, and both the label seed below and every
    # iteration read it. Deriving labels from the un-checkpointed plan would
    # run that pipeline twice (measured 2x on dedup_clusters at sf0.1).
    # SERIALIZED memory+disk, not the deserialized default: the edge list
    # is corpus-sized and deserialized on-heap blocks are ~5x larger —
    # the OOM class the sf10 probe caught in bfs.py (see pagerank.py).
    from pyspark import StorageLevel

    # LAZY checkpoint when a count follows (r15, guide §5 — the kcore
    # pattern): the threshold count scans every partition of the marked
    # RDD, materializing the checkpoint in the SAME job; eager=True paid
    # a separate materialization job first. With the fast path disabled
    # (driver_threshold=0) no count runs, so the checkpoint stays eager —
    # it is the pushdown/reuse barrier for the three downstream consumers.
    sym = sym.localCheckpoint(
        eager=not driver_threshold, storageLevel=StorageLevel.MEMORY_AND_DISK
    )

    # Small-graph fast path: exact same labeling, resolved on the driver.
    if driver_threshold and sym.count() <= driver_threshold:
        return _driver_union_find(sym, nodes=nodes, id_col=id_col)

    # Iterate ONLY over nodes that appear in an edge — isolated nodes can
    # never change label, so keeping the (typically corpus-sized) universe
    # in the label frame would make every round pay a full-corpus shuffle
    # for rows that are fixpoints by construction. Singletons are unioned
    # back in one non-iterated pass at the end.
    labels = (
        sym.select(F.col("a").alias(id_col)).distinct()
        .withColumn("comp", F.col(id_col))
    )
    if num_partitions is not None:
        labels = labels.repartition(num_partitions, id_col)
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iter):
        # min neighbor label per node, one shuffle keyed by node id
        neighbor_min = (
            sym.join(labels, sym["b"] == labels[id_col])
            .groupBy(sym["a"].alias(id_col))
            .agg(F.min("comp").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, id_col, "left")
            .select(
                id_col,
                F.least(F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))).alias(
                    "new_comp"
                ),
                F.col("comp"),
            )
            # lazy: the convergence count below materializes the
            # checkpoint in the same job — one job per round instead of
            # a materialization job plus a take(1) probe job
        ).localCheckpoint(eager=False)
        n_changed = updated.filter(F.col("new_comp") != F.col("comp")).count()
        labels = updated.select(id_col, F.col("new_comp").alias("comp"))
        if not n_changed:
            break
    if nodes is not None:
        singles = (
            nodes.select(F.col(id_col)).distinct()
            .join(labels.select(id_col), id_col, "left_anti")
            .withColumn("comp", F.col(id_col))
        )
        labels = labels.unionByName(singles)
    return labels


def _driver_union_find(
    sym: DataFrame, *, nodes: DataFrame | None, id_col: str
) -> DataFrame:
    """Driver-side resolution of a (materialized, symmetrized) edge frame:
    classic union-find with path compression, then min-id canonical label
    per root — identical output to the label-propagation fixpoint. Edge-node
    labels are shipped back as a local Arrow frame (no Python worker reads
    them); singletons (if ``nodes`` given) stay distributed via the same
    anti-join as the loop path, so the corpus never collects."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    edge_nodes = set()
    for r in sym.collect():
        a, b = r["a"], r["b"]
        edge_nodes.add(a)
        edge_nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in edge_nodes:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    from pyspark.sql.types import StructField, StructType

    dt = sym.schema["a"].dataType
    spark = sym.sparkSession
    labels = local_frame(
        spark,
        [(n, comp_min[find(n)]) for n in sorted(edge_nodes)],
        StructType(
            [StructField(id_col, dt, False), StructField("comp", dt, False)]
        ),
    )
    if nodes is not None:
        singles = (
            nodes.select(F.col(id_col)).distinct()
            .join(F.broadcast(labels.select(id_col)), id_col, "left_anti")
            .withColumn("comp", F.col(id_col))
        )
        labels = labels.unionByName(singles)
    return labels


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    max_iter: int = 25,
    num_partitions: int | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Resolve near-dup ``pairs`` into clusters over the full ``docs``
    universe: (doc_id, cluster_id, is_keeper). The keeper is the cluster's
    min doc_id — the same canonical-choice rule as exact dedup's
    ``keeper_id``; singleton docs keep themselves."""
    comp = connected_components(
        pairs,
        src="id1",
        dst="id2",
        nodes=docs.select(F.col(id_col).alias("id")),
        id_col="id",
        max_iter=max_iter,
        num_partitions=num_partitions,
        driver_threshold=driver_threshold,
    )
    return comp.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("cluster_id"),
        (F.col("comp") == F.col("id")).alias("is_keeper"),
    )
