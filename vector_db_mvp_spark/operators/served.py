"""Build-once / serve-many ANN index over a parquet corpus table.

The reference rebuilds its LSH/brute index from scratch on *every* query
(``app/services/search_service.py:121-125`` — ``build_index`` inside the
search call), which is the one semantic that cannot survive 100 TB: hashing
the corpus is O(N·T·P) per query.  ``ChunkIndexStore``
(storage/index_store.py) already fixes this for the CRUD store's chunks;
this module is its table-level twin for a static corpus table such as the
benchmark's ``embeddings`` parquet:

- **build** (once): attach per-table sign-bit codes with the one exact
  kernel (functions.lsh.bucket_codes — bit-identical to the driver twin
  that hashes queries, asserted in tests/test_lsh.py) and persist the
  serving layout as parquet.  At cluster
  scale this is the artifact a pipeline publishes; rebuilds happen on data
  change, never per query.
- **serve** (per query): read only the serving columns, prune on the
  *precomputed* codes with the same ``exists`` filter as the live path, and
  exact-rerank the ~C << N candidates.  The per-query cost drops from
  O(N·T·P + C·D) to O(N + C·D) — and with a code-partitioned layout the scan
  side prunes too.

The build is keyed by (corpus path, LSH config) and skipped when the
artifact already exists, so callers may invoke ``lsh_topk_served`` per query
exactly like ``lsh_topk`` and pay the build once per corpus.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lsh import bucket_codes_python
from ..session import local_frame
from .lsh import lsh_candidates, with_bucket_codes
from .topk import topk_cosine


def _planes_key(planes: list[list[list[float]]]) -> str:
    """Deterministic fingerprint of the LSH config (tables x planes x dim
    plus the plane values themselves)."""
    h = hashlib.md5()
    for table in planes:
        for plane in table:
            for x in plane:
                h.update(repr(float(x)).encode())
        h.update(b"|")
    return h.hexdigest()[:16]


def served_index_path(
    corpus_path: str,
    planes: list[list[list[float]]],
    *,
    root: str | None = None,
) -> str:
    """Filesystem location of the serving artifact for (corpus, config)."""
    root = root or os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_served_index"),
    )
    key = hashlib.md5(
        f"{os.path.abspath(corpus_path)}|{_planes_key(planes)}".encode()
    ).hexdigest()[:16]
    return os.path.join(root, f"embidx-{key}")


def build_served_index(
    spark: SparkSession,
    corpus_path: str,
    planes: list[list[list[float]]],
    *,
    embedding_col: str = "embedding",
    root: str | None = None,
    force: bool = False,
) -> str:
    """Persist the corpus with precomputed ``lsh_codes``; returns the index
    directory.  No-op when the artifact for this (corpus, config) exists."""
    path = served_index_path(corpus_path, planes, root=root)
    if not force and os.path.isfile(os.path.join(path, "_SUCCESS")):
        return path
    corpus = spark.read.parquet(corpus_path).filter(
        F.col(embedding_col).isNotNull()
    )
    # The exact Arrow kernel; codes are bit-identical to the query-side
    # driver fold and the oracle's (tests/test_lsh.py).
    indexed = with_bucket_codes(corpus, planes, embedding_col=embedding_col)
    indexed.write.mode("overwrite").parquet(path)
    return path


def append_to_served_index(
    spark: SparkSession,
    new_rows,
    corpus_path: str,
    planes: list[list[list[float]]],
    *,
    embedding_col: str = "embedding",
    root: str | None = None,
    subdir: str | None = None,
) -> str:
    """O(batch) ingestion into an existing LSH serving artifact: hash ONLY
    the new vectors (same exact kernel as the build — codes are
    corpus-independent, so appended rows are bit-identical to a rebuild)
    and append their parquet files. The LSH mirror of
    operators/ivf.py append_to_ivf_layout; between corpus versions every
    batch lands with one map-only job and queries see it immediately.

    Contract: ``new_rows`` ids must not already exist in the artifact
    (append-only ingestion invariant).

    ``subdir``: idempotent-append mode for at-least-once callers (the
    index-maintenance stream): rows land in ``<path>/<subdir>/`` with
    OVERWRITE semantics, so a replayed epoch rewrites its own directory
    instead of appending duplicate vectors (duplicate ids in a serving
    artifact surface as duplicate top-k results). Serve paths read the
    artifact with recursiveFileLookup, so flat and subdirectory layouts
    are equivalent."""
    path = served_index_path(corpus_path, planes, root=root)
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"no served index at {path}; build first")
    indexed = with_bucket_codes(
        new_rows.filter(F.col(embedding_col).isNotNull()),
        planes,
        embedding_col=embedding_col,
    )
    if subdir is not None:
        indexed.write.mode("overwrite").parquet(os.path.join(path, subdir))
    else:
        indexed.write.mode("append").parquet(path)
    return path


def build_served_ivf(
    spark: SparkSession,
    corpus_path: str,
    num_clusters: int,
    *,
    embedding_col: str = "embedding",
    seed: int = 42,
    root: str | None = None,
    force: bool = False,
) -> str:
    """Persist the IVF serving layout (parquet partitioned by cluster_id +
    centroid sidecar, operators/ivf.py) for a corpus table, keyed and cached
    like the LSH artifact. The KMeans fit runs once per (corpus, config);
    queries then read only their nprobe directories."""
    from .ivf import build_ivf_index, write_ivf_layout

    root = root or os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_served_index"),
    )
    key = hashlib.md5(
        f"{os.path.abspath(corpus_path)}|ivf|{num_clusters}|{seed}".encode()
    ).hexdigest()[:16]
    path = os.path.join(root, f"ivfidx-{key}")
    # _centroids.json is written last via atomic rename: its presence marks a
    # complete build.
    if not force and os.path.isfile(os.path.join(path, "_centroids.json")):
        return path
    corpus = spark.read.parquet(corpus_path)
    assigned, centroids = build_ivf_index(
        corpus, num_clusters, embedding_col=embedding_col, seed=seed
    )
    write_ivf_layout(assigned, centroids, path)
    return path


def build_served_pq(
    spark: SparkSession,
    corpus_path: str,
    codebooks: Sequence[Sequence[Sequence[float]]],
    *,
    embedding_col: str = "embedding",
    root: str | None = None,
    force: bool = False,
) -> str:
    """Persist the corpus with precomputed PQ byte codes (operators/pq.py
    encode_pq) + a codebooks sidecar — the third serving artifact next to
    the LSH codes table and the IVF layout. Encoding (the Arrow/BLAS pass)
    is paid once per (corpus, codebooks); queries then ADC-scan m-byte
    codes with zero Python. Codebooks come from the caller (fit_pq on a
    sample, or fixed_codebooks for oracle parity) because the fit policy —
    refit cadence, sample size — is a pipeline decision, not a serving one.
    """
    import json

    cb_key = hashlib.md5(repr(codebooks).encode()).hexdigest()[:16]
    root = root or os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_served_index"),
    )
    key = hashlib.md5(
        f"{os.path.abspath(corpus_path)}|pq|{cb_key}".encode()
    ).hexdigest()[:16]
    path = os.path.join(root, f"pqidx-{key}")
    # sidecar written last via atomic rename marks a complete build
    if not force and os.path.isfile(os.path.join(path, "_codebooks.json")):
        return path
    from .pq import encode_pq

    corpus = spark.read.parquet(corpus_path).filter(F.col(embedding_col).isNotNull())
    encode_pq(corpus, codebooks, embedding_col=embedding_col).write.mode(
        "overwrite"
    ).parquet(path)
    tmp = os.path.join(path, "_codebooks.json.tmp")
    with open(tmp, "w") as f:
        json.dump([[list(map(float, c)) for c in sub] for sub in codebooks], f)
    os.replace(tmp, os.path.join(path, "_codebooks.json"))
    return path


def append_to_served_pq(
    spark: SparkSession,
    new_rows: DataFrame,
    path: str,
    *,
    embedding_col: str = "embedding",
) -> str:
    """O(batch) ingestion into a PQ serving artifact: encode ONLY the new
    vectors against the persisted codebooks (codes are corpus-independent
    given the codebooks, so appended rows are bit-identical to a rebuild)
    and append their parquet files. Same contract as the LSH/IVF appends:
    ids must not already exist in the artifact."""
    import json

    sidecar = os.path.join(path, "_codebooks.json")
    if not os.path.isfile(sidecar):
        raise FileNotFoundError(f"no served PQ artifact at {path}; build first")
    with open(sidecar) as f:
        codebooks = json.load(f)
    from .pq import encode_pq

    encode_pq(
        new_rows.filter(F.col(embedding_col).isNotNull()),
        codebooks,
        embedding_col=embedding_col,
    ).write.mode("append").parquet(path)
    return path


def pq_topk_served(
    spark: SparkSession,
    path: str,
    query_vector: Sequence[float],
    k: int,
    *,
    candidates: int = 100,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int | None = None,
) -> DataFrame:
    """`pq_topk` semantics served from the persisted artifact: identical
    ADC ranking and exact re-rank, but the encode pass was paid at
    build/append time — the query is a pure native scan over m-byte codes
    plus a candidates-sized exact re-rank."""
    import json

    with open(os.path.join(path, "_codebooks.json")) as f:
        codebooks = json.load(f)
    from .pq import pq_topk

    encoded = apply_tombstones(
        spark,
        spark.read.option("recursiveFileLookup", "true").parquet(path),
        path,
        id_col=id_col,
    )
    return pq_topk(
        encoded, codebooks, [float(x) for x in query_vector], k,
        candidates=candidates, embedding_col=embedding_col,
        id_col=id_col, score_decimals=score_decimals,
    )


def lsh_topk_served(
    spark: SparkSession,
    corpus_path: str,
    query_vector: Sequence[float],
    k: int,
    planes: list[list[list[float]]],
    *,
    embedding_col: str = "embedding",
    id_col: str = "vec_id",
    score_decimals: int | None = None,
    root: str | None = None,
) -> DataFrame:
    """`lsh_topk` semantics served from the persisted index: identical
    candidates and scores (same codes, same exists-prune, same rerank), but
    the per-row hashing was paid once at build time."""
    path = build_served_index(
        spark, corpus_path, planes, embedding_col=embedding_col, root=root
    )
    idx = apply_tombstones(
        spark,
        spark.read.option("recursiveFileLookup", "true").parquet(path),
        path,
        id_col=id_col,
    )
    qv = [float(x) for x in query_vector]
    cands = lsh_candidates(idx, bucket_codes_python(qv, planes)).drop("lsh_codes")
    return topk_cosine(
        cands, qv, k,
        embedding_col=embedding_col, id_col=id_col,
        score_decimals=score_decimals,
    )


# --------------------------------------------------------------------------
# Tombstone deletes: O(batch) removal from any serving artifact
# --------------------------------------------------------------------------

def tombstone_delete(
    spark: SparkSession,
    path: str,
    ids,
    *,
    id_col: str = "vec_id",
) -> str:
    """Delete rows from a serving artifact WITHOUT rewriting it: append the
    ids as tombstone markers under ``<path>/_tombstones``. O(batch) — one
    tiny parquet append regardless of corpus size; the serve paths
    anti-join the marker set (broadcast — tombstones are small relative to
    the corpus by construction; :func:`compact_served_artifact` keeps that
    true). Deleting an id not present in the artifact is a harmless no-op,
    and re-deleting is idempotent (markers are distinct-ed at read time).

    ``ids`` is a DataFrame with ``id_col`` or an iterable of ints.

    r14: re-deletes are idempotent in STATE, not just semantics — only ids
    not already tombstoned are appended (as ONE file, not one per task),
    and an all-duplicate batch skips the write entirely. The old
    append-always form grew ~8 tiny files per invocation without bound
    (every serve path then re-listed and re-read them all); repeated
    lifecycle runs now leave the marker directory unchanged.
    """
    if not isinstance(ids, DataFrame):
        ids = local_frame(spark, [(int(i),) for i in ids], f"{id_col} long")
    td = os.path.join(path, "_tombstones")
    new = ids.select(id_col)
    if os.path.isdir(td):
        existing = spark.read.parquet(td).select(id_col)
        new = new.join(existing, id_col, "left_anti")
    rows = new.distinct().coalesce(1)
    if rows.take(1):
        rows.write.mode("append").parquet(td)
    return path


def apply_tombstones(
    spark: SparkSession, rows: DataFrame, path: str, *, id_col: str = "vec_id"
) -> DataFrame:
    """Filter a serving-artifact frame down to live rows (broadcast
    anti-join on the tombstone ids; no-op when none exist)."""
    td = os.path.join(path, "_tombstones")
    if not os.path.isdir(td):
        return rows
    tombs = spark.read.parquet(td).select(id_col).distinct()
    return rows.join(F.broadcast(tombs), id_col, "left_anti")


def compact_served_artifact(
    spark: SparkSession,
    path: str,
    *,
    id_col: str = "vec_id",
    min_tombstones: int = 1,
) -> bool:
    """Fold accumulated tombstones into the artifact: rewrite live rows,
    drop the marker set. Publish-then-swap (same discipline as
    operators/incremental.py compact_dedup_state): the compacted layout is
    written beside the live one, sidecar files are carried over, and the
    directories are swapped only after the write succeeds — a reader
    mid-swap sees old or new state, never a mix. Returns True if a rewrite
    happened. Run it when the tombstone set approaches the broadcast
    budget; until then deletes stay O(batch).

    Stream-epoch awareness: the index-maintenance stream appends one
    subdirectory per epoch (idempotent replays). Compaction folds them
    flat, REFUSES while any epoch subdirectory lacks its replay marker
    (an uncommitted crash remnant must stay a directory so its
    redelivery cleanup can remove it), and carries the marker files into
    the new layout — they live inside the artifact directory, and losing
    them across the swap would make every past epoch replayable."""
    import shutil

    td = os.path.join(path, "_tombstones")
    if not os.path.isdir(td):
        return False
    for d in os.listdir(path):
        if d.startswith("batch_") and os.path.isdir(os.path.join(path, d)):
            key = d[len("batch_"):]
            if not os.path.exists(
                os.path.join(path, f"_STREAM_BATCH_{key}_OK")
            ):
                return False  # uncommitted crash remnant — do not fold
    n_tombs = spark.read.parquet(td).select(id_col).distinct().count()
    if n_tombs < min_tombstones:
        return False
    tmp = path + "_compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    live = apply_tombstones(
        spark,
        spark.read.option("recursiveFileLookup", "true").parquet(path),
        path,
        id_col=id_col,
    )
    live.write.mode("overwrite").parquet(tmp)
    # carry sidecars (codebooks/centroids) AND stream replay markers into
    # the new layout
    for f in os.listdir(path):
        if f.endswith(".json") or (
            f.startswith("_STREAM_BATCH_") and f.endswith("_OK")
        ):
            shutil.copy2(os.path.join(path, f), os.path.join(tmp, f))
    old = path + "_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return True
