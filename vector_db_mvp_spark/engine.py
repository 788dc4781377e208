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

Every search is served from a ChunkIndexStore, the persisted index the
reference declared but never built: it rebuilds a library's unit vectors and
LSH codes only when the library version advances (library.py:12-15), where
the reference rebuilds its index on every query (search_service.py:121-125).
LSH at the index's own (tables, planes) filters on the stored codes; any
other config hashes the stored unit vectors in the plan (SURVEY.md §4).

Which steps run a Spark job. A served search over a library of thousands
of chunks is bound by jobs and driver round trips, not flops, so the job
count is its cost model:

- ``library_version`` is a driver-side metadata read, and the corpus dim
  comes from the index pointer file — no job either. A brute, filtered or
  text search runs ONE job, the result collect in ``SearchResult.to_dict``.
  LSH adds one: the bucket probe (``take(1)`` on the pruned top-k); a probe
  that misses adds the fallback ``count()``. The row set is probed only on
  the error branches of step 5 and 6 (missing query, wrong dim, unknown
  index, bad LSH config), so an empty row set still returns empty hits
  instead of raising. The first search after a write also pays the index
  rebuild (``ChunkIndexStore.refresh``).
- The ``k <= 0`` and empty-row-set results are an empty local frame: their
  collect runs no job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.lsh import FALLBACK_MAX_ROWS
from .session import local_frame
from .storage.index_store import ChunkIndexStore
from .storage.store import EntityStore

_FILTERABLE = {"meta_type", "category", "doc_id", "chunk_id", "text"}
_HIT_SCHEMA = (
    "chunk_id string, document_id string, library_id string, text string, "
    "meta_type string, score double"
)


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
    def __init__(self, store: EntityStore, index_store: ChunkIndexStore | None = None) -> None:
        """Searches read precomputed unit vectors / LSH codes from
        ``index_store``, the version-keyed index table (rebuilt only when the
        library version advances). Without one, the engine keeps its index
        under the store root, in ``_index`` (``EntityStore.vacuum`` removes
        only ``*.v*`` entries there)."""
        self.store = store
        self.index_store = index_store or ChunkIndexStore(
            store, os.path.join(store.root, "_index")
        )

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
        """Steps 1-7 over the index. The build recorded the corpus dim, so
        no job reads it. The row set is probed only where steps 5-6 raise
        ValueError: an empty row set returns empty hits before any query or
        dispatch check (step 4)."""
        version = self.store.library_version(library_id)  # raises NotFound (404 path)
        if k <= 0:  # step 1 — no index_used key
            return SearchResult(self._no_hits(), index, version)

        idx = self.index_store
        rows = self.apply_metadata_filters(idx.index_df(library_id), filters)
        corpus_dim = idx.embedding_dim(library_id)

        def no_hits() -> SearchResult:  # step 4
            return SearchResult(self._no_hits(), index, version, index_used=index)

        if corpus_dim == 0:  # the library has no embedded chunk
            return no_hits()
        try:
            unit_q = idx.unit_query(self._query_vector(query_text, query_embedding, corpus_dim))
            if index == "lsh":
                cands = idx.lsh_candidates(rows, unit_q, lsh_tables, lsh_planes)
            elif index != "brute":
                raise ValueError(f"unknown index: {index}")
        except ValueError:
            if not rows.take(1):
                return no_hits()
            raise
        if index == "brute":  # step 6
            hits, used = idx.topk(rows, unit_q, k), "brute"
        else:  # search_service.py:127-131
            hits, used = idx.topk(cands, unit_q, k), "lsh"
            # n == 0 keeps index_used='lsh': the empty-rows result (step 4).
            if not hits.take(1) and 0 < rows.count() <= FALLBACK_MAX_ROWS:
                hits, used = idx.topk(rows, unit_q, k), "brute"
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

    def _no_hits(self) -> DataFrame:
        """An empty result with the hit schema; its collect runs no job."""
        return local_frame(self.store.spark, [], _HIT_SCHEMA)

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
