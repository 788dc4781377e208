"""SearchEngine — the reference's ``SearchService.search``
(``app/services/search_service.py:83-156``) as a composition of declarative
Spark plans over the EntityStore star. Every §2.11 edge semantic reproduced:

1. ``k <= 0`` -> empty hits immediately, **without** ``index_used``
   (search_service.py:95-96).
2. Row collection = chunks ⋈ documents (broadcast) with null-embedding chunks
   invisible (S3, :34-60, null-skip :43-46).
3. Conjunctive equality metadata filters applied before any index work
   (P1, :62-81) — raw equality, missing key fails the predicate; Catalyst
   additionally pushes these to the parquet scan.
4. Empty row set -> empty hits + current library_version (:105-106).
5. Query vector: ``query_embedding`` as-is, else embed ``query_text`` with
   the provider (dim hint = corpus dim), else ValueError (:108-116).
6. Dispatch: 'brute' -> exact top-k; 'lsh' -> bucket-prune + re-rank with
   silent brute fallback when 0 hits and N <= 10,000, reporting
   ``index_used`` (:118-133); unknown index -> ValueError.
7. Pack {chunk_id, document_id, library_id, text, meta_type, score} +
   library_version (:135-156).

Deviation by design: the reference rebuilds its index on every query
(search_service.py:121-125) even though ``version`` exists to support
caching. We keep a per-(library, version) plane cache (planes are the only
build artifact the single-query plan needs) — the improvement the reference
declared but never implemented (library.py:12-15, SURVEY.md §4).

Which steps run a Spark job. A served search over a library of thousands
of chunks is bound by jobs and driver round trips, not flops, so the job
count is its cost model:

- Served path (``SearchEngine(store, index_store)``, 'brute' or 'lsh' at
  the index's own config): ``library_version`` is a driver-side metadata
  read, and the corpus dim comes from the index pointer file — no job
  either. A brute, filtered or text search runs ONE job, the result
  collect in ``SearchResult.to_dict``. LSH adds one: the bucket probe
  (``take(1)`` on the pruned top-k); a probe that misses adds the
  fallback ``count()``. The row set is probed only on the error branches
  of step 5 (missing query, wrong dim), so an empty row set still returns
  empty hits instead of raising. The first search after a write also pays
  the index rebuild (``ChunkIndexStore.refresh``).
- Live path (``SearchEngine(store)`` or another LSH config): one
  ``take(1)`` probe reads the corpus dim and detects step 4, then the
  collect; LSH adds the same bucket probe and fallback count.
- The ``k <= 0`` and empty-row-set results are zero-row plans: their
  collect runs no job.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.lsh import generate_planes
from .operators.lsh import FALLBACK_MAX_ROWS, search_with_fallback
from .operators.topk import topk_cosine
from .storage.store import EntityStore

_FILTERABLE = {"meta_type", "category", "doc_id", "chunk_id", "text"}


@dataclass
class SearchResult:
    hits: DataFrame
    index: str
    library_version: int
    index_used: str | None = None
    extras: dict[str, Any] = field(default_factory=dict)

    def to_dict(self) -> dict[str, Any]:
        out = {
            "hits": [r.asDict() for r in self.hits.collect()],
            "index": self.index,
            "library_version": self.library_version,
        }
        if self.index_used is not None:
            out["index_used"] = self.index_used
        out.update(self.extras)
        return out


class SearchEngine:
    def __init__(self, store: EntityStore, index_store=None) -> None:
        """``index_store`` (a ChunkIndexStore) is the opt-in serving path:
        queries read precomputed unit vectors / LSH codes from the
        version-keyed index table (rebuilt only when the library version
        advances) instead of normalizing and hashing per query — the
        improvement the reference declared but never implemented
        (library.py:12-15; rebuild-per-query search_service.py:121-125)."""
        self.store = store
        self.index_store = index_store
        self._plane_cache: dict[tuple[str, int, int, int, int], list] = {}

    # S3: flatten one library into search rows (join docs for category).
    # read_chunks_library opens exactly one per-library directory — the
    # pruned scan, with no partition filter needed (the layout IS the
    # partition).
    def collect_rows(self, library_id: str, *, require_embedding: bool = True) -> DataFrame:
        chunks = self.store.read_chunks_library(library_id)
        docs = (
            self.store.read("documents")
            .filter(F.col("library_id") == library_id)
            .select("doc_id", "category")
        )
        rows = chunks.join(F.broadcast(docs), "doc_id", "left")
        if require_embedding:
            rows = rows.filter(F.col("embedding").isNotNull())
        return rows

    @staticmethod
    def apply_metadata_filters(rows: DataFrame, filters: dict[str, Any] | None) -> DataFrame:
        """P1: conjunctive raw-equality; a key outside the schema can never
        match (the reference's missing-key-fails via ``.get`` -> None)."""
        if not filters:
            return rows
        for key, value in filters.items():
            if key not in _FILTERABLE:
                return rows.limit(0)
            rows = rows.filter(F.col(key) == F.lit(value))
        return rows

    def _planes(self, library_id: str, version: int, dim: int, tables: int, planes: int):
        key = (library_id, version, dim, tables, planes)
        if key not in self._plane_cache:
            self._plane_cache[key] = generate_planes(dim, tables, planes, seed=42)
        return self._plane_cache[key]

    def search(
        self,
        library_id: str,
        *,
        query_text: str | None = None,
        query_embedding: list[float] | None = None,
        k: int = 5,
        index: str = "brute",
        lsh_tables: int = 8,
        lsh_planes: int = 12,
        filters: dict[str, Any] | None = None,
    ) -> SearchResult:
        version = self.store.library_version(library_id)  # raises NotFound (404 path)

        if k <= 0:  # step 1 — no index_used key
            return SearchResult(self._no_hits(self.collect_rows(library_id)), index, version)

        # Serving path: precomputed index table when available. The cached
        # LSH codes only apply at the index's own (tables, planes) config.
        if self.index_store is not None and (
            index == "brute"
            or (
                index == "lsh"
                and (lsh_tables, lsh_planes)
                == (self.index_store.lsh_tables, self.index_store.lsh_planes)
            )
        ):
            return self._search_indexed(
                library_id, version, query_text, query_embedding, k, index, filters
            )

        rows = self.apply_metadata_filters(self.collect_rows(library_id), filters)
        first = rows.select("embedding").take(1)
        if not first:  # step 4
            return SearchResult(self._no_hits(rows), index, version, index_used=index)
        corpus_dim = len(first[0]["embedding"])
        qvec = self._query_vector(query_text, query_embedding, corpus_dim)

        if index not in ("brute", "lsh"):  # dispatch-time error, AFTER the
            raise ValueError(f"unknown index: {index}")  # empty-rows return

        if index == "brute":  # step 6
            hits = topk_cosine(rows, qvec, k, id_col="chunk_id")
            used = "brute"
        else:  # search_service.py:127-131
            planes = self._planes(library_id, version, corpus_dim, lsh_tables, lsh_planes)
            hits, used = search_with_fallback(rows, qvec, k, planes, id_col="chunk_id")

        return SearchResult(self._pack(hits), index, version, index_used=used)

    def _query_vector(
        self, query_text: str | None, query_embedding: list[float] | None, corpus_dim: int
    ) -> list[float]:
        """Step 5 plus the P5 dimension guard (brute_force.py:36-37)."""
        if query_embedding is not None:
            qvec = [float(x) for x in query_embedding]
        elif query_text is not None:
            qvec = self.store.provider.embed_text(query_text, corpus_dim)
        else:
            raise ValueError("query_text or query_embedding required")
        if len(qvec) != corpus_dim:
            raise ValueError(f"query dim {len(qvec)} != index dim {corpus_dim}")
        return qvec

    def _search_indexed(
        self,
        library_id: str,
        version: int,
        query_text: str | None,
        query_embedding: list[float] | None,
        k: int,
        index: str,
        filters: dict[str, Any] | None,
    ) -> SearchResult:
        """Steps 2-7 over the precomputed index (``index`` is 'brute' or
        'lsh'): the shared ChunkIndexStore top-k, with the live path's
        fallback contract (search_service.py:127-131). The build recorded
        the corpus dim, so no job reads it. The row set is probed only
        where step 5 raises ValueError (missing query, wrong dim): an empty
        row set returns empty hits before any query check (step 4)."""
        idx = self.index_store
        rows = self.apply_metadata_filters(idx.index_df(library_id), filters)
        corpus_dim = idx.embedding_dim(library_id)

        def no_hits() -> SearchResult:  # step 4
            return SearchResult(self._no_hits(rows), index, version, index_used=index)

        if corpus_dim == 0:  # the library has no embedded chunk
            return no_hits()
        try:
            qvec = self._query_vector(query_text, query_embedding, corpus_dim)
        except ValueError:
            if not rows.take(1):
                return no_hits()
            raise
        unit_q = idx.unit_query(qvec)
        if index == "brute":
            hits, used = idx.topk(rows, unit_q, k), "brute"
        else:
            hits, used = idx.topk(idx.lsh_candidates(rows, unit_q), unit_q, k), "lsh"
            # n == 0 keeps index_used='lsh': the empty-rows result (step 4).
            if not hits.take(1) and 0 < rows.count() <= FALLBACK_MAX_ROWS:
                hits, used = idx.topk(rows, unit_q, k), "brute"
        return SearchResult(self._pack(hits), index, version, index_used=used)

    @classmethod
    def _no_hits(cls, rows: DataFrame) -> DataFrame:
        """An empty result with the hit schema; Spark answers a zero-row
        limit without running a job."""
        return cls._pack(rows.limit(0).withColumn("score", F.lit(0.0)))

    @staticmethod
    def _pack(hits: DataFrame) -> DataFrame:
        """P4 result projection (search_service.py:136-148)."""
        return hits.select(
            "chunk_id",
            F.col("doc_id").alias("document_id"),
            "library_id",
            "text",
            "meta_type",
            "score",
        )
