"""Persisted chunk index with version-based staleness — the cache the
reference declared but never implemented: ``Library.version`` exists "to
support caching" (``app/models/library.py:12-15``) yet every query rebuilds
its index from scratch (``app/services/search_service.py:121-125``).
SURVEY.md §4 ("version-based staleness signal") / §7 step 6.

Per library the index table holds one row per embedded chunk:
``chunk_id, doc_id, meta_type, category, text, unit_embedding, lsh_codes``.
The build does the two things the reference does at index-build time, once:

- **normalize-once** (``app/indexing/brute_force.py:29-30``): store unit
  vectors so query-time cosine is a plain dot product;
- **bucket-once** (``app/indexing/lsh.py:39-41``): per-table sign-bit codes
  from the one exact kernel (``functions.lsh.bucket_codes``), bit-identical
  to the driver fold that hashes each query.

``refresh()`` compares the stored ``built_version`` against the library's
current ``version`` and is a no-op while they match; any write path bumps the
version (store.py) and therefore invalidates. Snapshot isolation comes from
the same atomic pointer flip the EntityStore uses — it applies to the
PARQUET snapshot (the old index directory stays on disk and readable) AND,
for exactly ONE generation, to the driver-memoized block-manager copy:
a rebuild moves the evicted checkpoint into a one-slot stale cache instead
of unpersisting it immediately (ADVICE r13 — eager unpersist made lazy
frames held across a rebuild unrecomputable, since a localCheckpoint
truncates lineage, and the non-blocking unpersist could race an in-flight
action on the old frame). The stale generation's blocks are freed on the
NEXT rebuild, so serving memory stays bounded at <= 2 index copies per
library while callers holding a frame across a single rebuild keep a
computable snapshot. A frame held across TWO rebuilds becomes
unrecomputable — re-request it from ``index_df``, or re-read
the old immutable directory with ``spark.read.parquet`` (collected
results are never affected).

Scale notes: at 100 TB the index table is the serving layout — partitioned by
``library_id`` like the fact table, rebuilt incrementally per library (only
libraries whose version advanced), scanned with only the columns a query
needs (unit vectors for brute, codes for LSH probes).
"""

from __future__ import annotations

import os
import uuid
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import lsh as lsh_fn
from ..functions.lsh import generate_planes, spark_sql_plane_dot
from ..functions.vector import unit_normalize
from ..operators.lsh import lsh_candidates, with_bucket_codes
from .store import EntityStore


class ChunkIndexStore:
    """Staleness-aware persisted index over an EntityStore's chunks."""

    def __init__(
        self,
        store: EntityStore,
        root: str,
        *,
        lsh_tables: int = 8,
        lsh_planes: int = 12,
        seed: int = 42,
    ) -> None:
        self.store = store
        self.spark = store.spark
        self.root = root
        self.lsh_tables = lsh_tables
        self.lsh_planes = lsh_planes
        self.seed = seed
        self.builds = 0  # observability: staleness tests count rebuilds
        self._planes: dict[tuple[int, int, int], list] = {}  # (dim, tables, planes)
        os.makedirs(root, exist_ok=True)

    # ---- pointer files: "<dir>\t<built_version>\t<dim>" -----------------
    # ``dim`` is the embedding dimension of the build (0: the library had no
    # embedded chunk), recorded at build time so a served search learns it
    # from this file instead of a Spark job. A pointer without the dim field
    # reads as stale, so the next refresh rewrites it.

    def _pointer(self, library_id: str) -> str:
        return os.path.join(self.root, f"index-{library_id}._CURRENT")

    def _read_pointer(self, library_id: str) -> tuple[str, int, int] | None:
        try:
            with open(self._pointer(library_id)) as f:
                fields = f.read().strip().split("\t")
        except FileNotFoundError:
            return None
        if len(fields) != 3:
            return None
        return fields[0], int(fields[1]), int(fields[2])

    def built_version(self, library_id: str) -> int | None:
        ptr = self._read_pointer(library_id)
        return None if ptr is None else ptr[1]

    def embedding_dim(self, library_id: str) -> int:
        """Embedding dimension of the library's current build, 0 when it
        holds no embedded chunk. A file read, no Spark job; call
        ``index_df`` (or ``refresh``) first so the build is current."""
        return self._read_pointer(library_id)[2]

    def _current_dir(self, library_id: str) -> str:
        return self._read_pointer(library_id)[0]

    def planes_for(
        self, dim: int, tables: int | None = None, planes: int | None = None
    ) -> list:
        """The hyperplanes of one LSH config (default: the index's own),
        generated once per (dim, tables, planes). A code is one bigint per
        table, so a table holds 1 to 63 planes."""
        tables = self.lsh_tables if tables is None else tables
        planes = self.lsh_planes if planes is None else planes
        if tables < 1 or not 1 <= planes <= 63:
            raise ValueError(
                f"lsh_tables must be >= 1 and lsh_planes in 1..63, got {tables}, {planes}"
            )
        key = (dim, tables, planes)
        if key not in self._planes:
            self._planes[key] = generate_planes(dim, tables, planes, seed=self.seed)
        return self._planes[key]

    # ---- build ----------------------------------------------------------

    def _build_rows(self, library_id: str) -> DataFrame:
        """The rows a build indexes (S3/J1): one library's embedded chunks
        joined to their documents' category, with unit vectors.
        ``read_chunks_library`` opens only that library's directories — the
        layout IS the partition, so no partition filter is needed."""
        chunks = self.store.read_chunks_library(library_id).filter(
            F.col("embedding").isNotNull()
        )
        docs = (
            self.store.read("documents")
            .filter(F.col("library_id") == library_id)
            .select("doc_id", "category")
        )
        return chunks.join(F.broadcast(docs), "doc_id", "left").withColumn(
            "unit_embedding", unit_normalize(F.col("embedding"))
        )

    def refresh(self, library_id: str) -> bool:
        """Rebuild the library's index iff its version advanced. Returns
        True when a rebuild happened."""
        current = self.store.library_version(library_id)  # raises NotFound
        if self.built_version(library_id) == current:
            return False
        rows = self._build_rows(library_id)
        first = rows.select("embedding").take(1)
        dim = len(first[0]["embedding"]) if first else 0
        if dim:
            rows = with_bucket_codes(
                rows, self.planes_for(dim), embedding_col="unit_embedding"
            )
        else:
            rows = rows.withColumn("lsh_codes", F.lit(None).cast("array<long>"))
        out = rows.select(
            "chunk_id", "doc_id", F.lit(library_id).alias("library_id"),
            "text", "meta_type", "category", "unit_embedding", "lsh_codes",
        )
        new_dir = os.path.join(self.root, f"index-{library_id}.v{uuid.uuid4().hex[:12]}")
        out.write.mode("overwrite").parquet(new_dir)
        tmp = self._pointer(library_id) + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{new_dir}\t{current}\t{dim}")
        os.replace(tmp, self._pointer(library_id))
        self.builds += 1
        return True

    def index_df(self, library_id: str) -> DataFrame:
        """The fresh index frame (rebuilding first when stale). Memoized
        per built directory AND materialized once via localCheckpoint:
        the reader memo alone still paid the parquet decode on every
        query job (~29 ms/query of the ~113 ms serving latency at a
        2k-chunk library — measured r12, same-vector-vs-distinct probe
        ruled out codegen); serving from the block-manager copy cuts the
        per-query job to ~84 ms. The checkpoint's default
        MEMORY_AND_DISK storage spills rather than OOMs if a library's
        index outgrows executor memory, and the directory is immutable,
        so the cached frame stays valid until the pointer moves (the
        same (dir) key invalidates both memo layers together).

        Eviction is DEFERRED by one generation (ADVICE r13): when the
        pointer moves, the replaced checkpoint parks in a one-slot stale
        cache — still persisted, so a lazy frame a caller obtained from
        an earlier ``index_df`` stays computable across one
        rebuild, and the non-blocking unpersist cannot race an in-flight
        action on the frame being replaced. The slot's PREVIOUS occupant
        (two generations old) is unpersisted here; a frame held across
        TWO rebuilds is unrecomputable (see module docstring). The
        bounded-memory contract (ADVICE r12) holds at <= 2 generations
        per library, pytest-pinned via getRDDStorageInfo."""
        self.refresh(library_id)
        d = self._current_dir(library_id)
        cache = getattr(self, "_df_cache", None)
        if cache is None:
            cache = self._df_cache = {}
            self._stale_cache: dict[str, DataFrame] = {}
        hit = cache.get(library_id)
        if hit is not None and hit[0] == d:
            return hit[1]
        if hit is not None:
            # The pointer moved: free the blocks of the generation parked
            # at the LAST rebuild (if any), then park the one being
            # replaced now. DataFrame.unpersist only talks to the
            # CacheManager; a localCheckpoint's blocks belong to the
            # LogicalRDD's backing RDD, so unpersist THAT.
            prev = self._stale_cache.get(library_id)
            if prev is not None:
                try:
                    prev._jdf.queryExecution().logical().rdd().unpersist(False)
                except Exception:  # noqa: BLE001 — eviction is best-effort
                    pass
            self._stale_cache[library_id] = hit[1]
        df = self.spark.read.parquet(d).localCheckpoint(eager=True)
        cache[library_id] = (d, df)
        return df

    # ---- query paths over the precomputed columns -----------------------
    # ``unit_query``, ``lsh_candidates`` and ``topk`` are the one indexed
    # top-k, composed by ``SearchEngine.search``.

    @staticmethod
    def unit_query(qvec: Sequence[float]) -> list[float]:
        """The query as a unit vector (a zero vector stays zero), so cosine
        against the stored unit embeddings is a plain dot product."""
        q = [float(x) for x in qvec]
        norm = sum(x * x for x in q) ** 0.5
        return [x / norm for x in q] if norm != 0.0 else q

    def lsh_candidates(
        self, rows: DataFrame, unit_q: list[float], tables: int, planes: int
    ) -> DataFrame:
        """Rows sharing a bucket with the query in at least one table. The
        query's codes are folded on the driver (sign(dot) is norm-invariant,
        so hashing the unit query gives the raw vector's buckets) and
        embedded as long literals in the one candidate filter
        (operators.lsh.lsh_candidates). At the index's own config the stored
        codes are filtered; any other config hashes the stored unit vectors
        in the plan and never rebuilds the index."""
        hyper = self.planes_for(len(unit_q), tables, planes)
        if (tables, planes) != (self.lsh_tables, self.lsh_planes):
            rows = with_bucket_codes(rows, hyper, embedding_col="unit_embedding")
        return lsh_candidates(rows, lsh_fn.bucket_codes_python(unit_q, hyper))

    @staticmethod
    def topk(rows: DataFrame, unit_q: list[float], k: int) -> DataFrame:
        """Exact top-k by cosine == dot(unit_embedding, unit_q), ties broken
        by chunk_id. One parsed SQL string instead of Column-API lambdas:
        the HOF builders cost ~28 ms of py4j round-trips per query; the
        parsed tree is the identical aggregate(zip_with(...)) expression
        functions.vector.dot builds (see spark_sql_plane_dot)."""
        scored = rows.withColumn(
            "score", F.expr(spark_sql_plane_dot("unit_embedding", unit_q))
        )
        return scored.orderBy(F.desc("score"), F.asc("chunk_id")).limit(k)
