"""Framework-free endpoint facade — the reference's FastAPI router surface
(``app/api/routers/{libraries,documents,chunks,search}.py``) as plain
methods with the SAME route semantics: validation order, 404/400 error
codes and messages, response dict shapes (nested library -> documents ->
chunks, version counter, ``durable_execution`` flag). Mounting these under
FastAPI would be mechanical; keeping the facade dependency-free lets the
whole contract run anywhere Spark runs.

Error contract: every failure raises ``ApiError(status, detail)`` with the
reference's status codes — 404 "Library/Document/Chunk not found", 400 for
missing/invalid parameters (ValueError from the engine maps to 400 exactly
like the router's try/except, search.py:88-89).
"""

from __future__ import annotations

import os
import tempfile
from typing import Any

from pyspark.sql import functions as F

from .engine import SearchEngine
from .plans.pipeline import DurableQueryPipeline, QueryRequest
from .storage.store import EntityStore, NotFoundError


class ApiError(Exception):
    def __init__(self, status: int, detail: str) -> None:
        super().__init__(f"{status}: {detail}")
        self.status = status
        self.detail = detail


class InteractiveApi:
    """The interactive router (``routers/interactive.py``) over the
    Structured Streaming session instead of Temporal: ``start`` mints a
    session, ``signal_*`` enqueue commands (202-style accept dicts, same
    400 validations), ``process`` drains pending commands through one
    availableNow micro-batch run (the Temporal worker's role), and
    ``status``/``results`` mirror the workflow's ``get_status`` /
    ``get_partial_results`` query shapes (interactive_workflow.py:198-222).
    """

    def __init__(self, engine: SearchEngine, root: str | None = None) -> None:
        from .streaming.session_stream import SessionStreamProcessor

        self.root = root or tempfile.mkdtemp(prefix="interactive-api-")
        self.cmd_dir = os.path.join(self.root, "commands")
        os.makedirs(self.cmd_dir, exist_ok=True)
        self.processor = SessionStreamProcessor(engine, os.path.join(self.root, "out"))
        self._seqs: dict[str, int] = {}
        self._clock = 0

    def start(self) -> dict[str, Any]:
        import uuid

        sid = f"interactive-session-{uuid.uuid4()}"
        self._seqs[sid] = 0
        return {"workflow_id": sid}

    def _signal(self, workflow_id: str, action: str, payload: dict[str, Any]) -> dict[str, Any]:
        import json as _json

        if workflow_id not in self._seqs:
            raise ApiError(404, "workflow not found")
        seq = self._seqs[workflow_id]
        self._seqs[workflow_id] = seq + 1
        path = os.path.join(self.cmd_dir, f"{workflow_id}-{seq:06d}.json")
        with open(path, "w") as f:
            f.write(_json.dumps({
                "session_id": workflow_id, "seq": seq,
                "action": action, "payload": _json.dumps(payload),
            }))
        # monotone mtimes: the file stream source orders pending files by
        # modification time (commands "arrive over time")
        self._clock += 1
        t = 1_700_000_000 + self._clock
        os.utime(path, (t, t))
        return {"accepted": True, "message": f"{action} signaled"}

    def signal_add_library(self, workflow_id: str, body: dict[str, Any]) -> dict[str, Any]:
        name = body.get("name")
        if not name or not str(name).strip():  # interactive.py:86-88
            raise ApiError(400, "name is required")
        return self._signal(workflow_id, "add_library",
                            {"name": name, "description": body.get("description")})

    def signal_add_document(self, workflow_id: str, body: dict[str, Any]) -> dict[str, Any]:
        if not body.get("lib_id") or not body.get("title"):  # interactive.py:106-108
            raise ApiError(400, "lib_id and title are required")
        return self._signal(workflow_id, "add_document", {
            "library_id": body["lib_id"], "title": body["title"],
            "category": (body.get("metadata") or {}).get("category"),
        })

    def signal_add_chunk(self, workflow_id: str, body: dict[str, Any]) -> dict[str, Any]:
        if not body.get("lib_id") or not body.get("doc_id") or not body.get("text"):
            raise ApiError(400, "lib_id, doc_id and text are required")  # :127-129
        return self._signal(workflow_id, "add_chunk", {
            "library_id": body["lib_id"], "doc_id": body["doc_id"],
            "text": body["text"], "embedding": body.get("embedding"),
            "meta_type": (body.get("metadata") or {}).get("type"),
            "dim": body.get("dim"),
        })

    def signal_set_query_params(self, workflow_id: str, body: dict[str, Any]) -> dict[str, Any]:
        return self._signal(workflow_id, "set_query_params", dict(body))

    def signal_start_query(self, workflow_id: str, body: dict[str, Any]) -> dict[str, Any]:
        if not body.get("lib_id"):  # interactive.py:166-173
            raise ApiError(400, "lib_id is required")
        payload = {"library_id": body.pop("lib_id"), **body}
        return self._signal(workflow_id, "start_query", payload)

    def signal_cancel(self, workflow_id: str) -> dict[str, Any]:
        """POST /{workflow_id}/signal/cancel (interactive.py:189-199):
        cancel on an already-finished workflow is idempotent success
        ("workflow already closed"); unknown workflow -> 404."""
        if workflow_id not in self._seqs:
            raise ApiError(404, "workflow not found")
        if self.processor._session_state.get(workflow_id, {}).get("finished"):
            return {"accepted": True, "message": "workflow already closed"}
        return self._signal(workflow_id, "cancel", {})

    def signal_finish(self, workflow_id: str) -> dict[str, Any]:
        if self.processor._session_state.get(workflow_id, {}).get("finished"):
            return {"accepted": True, "message": "workflow already closed"}
        return self._signal(workflow_id, "finish", {})

    def process(self, timeout_sec: int = 240) -> None:
        """Drain all pending commands (one file per micro-batch, in order) —
        the role Temporal's worker loop plays in the reference."""
        from .streaming.session_stream import start_session_stream

        q = start_session_stream(
            self.processor.spark, self.cmd_dir, self.processor,
            available_now=True, max_files_per_trigger=1,
            checkpoint_dir=os.path.join(self.root, "ckpt"),
        )
        q.awaitTermination(timeout_sec)

    def status(self, workflow_id: str) -> dict[str, Any]:
        if workflow_id not in self._seqs:
            raise ApiError(404, "workflow not found")
        st = self.processor._session_state.get(workflow_id, {})
        try:
            tail = [
                f"{r['action']}:{r['status']}"
                for r in self.processor.timeline()
                .filter(F.col("session_id") == workflow_id)
                .orderBy("seq").collect()
            ][-10:]
        except Exception:  # no timeline written yet
            tail = []
        return {
            "current_step": st.get("current_step"),
            "active_library_id": st.get("library_id"),
            "active_document_id": st.get("doc_id"),
            "created_library_ids": list(st.get("created_library_ids", [])),
            "created_libraries_by_id": dict(st.get("library_names", {})),
            "created_document_ids_by_library": dict(st.get("doc_ids_by_library", {})),
            "created_chunk_counts_by_doc": dict(st.get("chunk_counts_by_doc", {})),
            "chunk_metadata_catalog_by_library": dict(st.get("metadata_catalog", {})),
            "query_params": dict(self.processor.query_params.get(workflow_id, {})),
            "finished": bool(st.get("finished", False)),
            "timeline_tail": tail,
        }

    def results(self, workflow_id: str) -> dict[str, Any]:
        if workflow_id not in self._seqs:
            raise ApiError(404, "workflow not found")
        st = self.processor._session_state.get(workflow_id, {})
        return dict(st.get("last_results") or {})


def _f32_json(values) -> list[float] | None:
    """Serialize a stored float32 embedding for JSON with the SHORTEST
    decimal that round-trips at float32 precision — what a float32-aware
    JSON encoder emits. The chunk store keeps embeddings as array<float>
    (half the memory of double at 100 TB); a naive float64 widening would
    render 0.1f as 0.10000000149011612, breaking clients (and the
    reference's own endpoint tests) that compare against the posted
    literal. Shortest-repr recovers every posted decimal of <=9
    significant digits exactly."""
    import numpy as np

    if values is None:
        return None
    return [
        float(np.format_float_positional(np.float32(v), trim="-")) for v in values
    ]


def _lib_404() -> ApiError:
    return ApiError(404, "Library not found")


class VectorDbApi:
    def __init__(self, engine: SearchEngine, *, max_chunks_per_response: int = 10_000) -> None:
        self.engine = engine
        self.store: EntityStore = engine.store
        # Driver OOM guard: nested library/document responses collect at most
        # this many chunks (the limit is pushed into the Spark plan, so the
        # excess rows are never shipped to the driver); a truncated response
        # carries "truncated": True so callers know to page via list_chunks.
        self.max_chunks_per_response = max_chunks_per_response

    # -- entity serialization (reference response models) ------------------

    def _chunk_dict(self, row) -> dict[str, Any]:
        return {
            "id": row["chunk_id"],
            "text": row["text"],
            "embedding": _f32_json(row["embedding"]),
            "metadata": {
                "type": row["meta_type"],
                "created_at": row["created_at"],
                "updated_at": row["updated_at"],
            },
        }

    def _doc_dict(self, row, chunks: list[dict]) -> dict[str, Any]:
        return {
            "id": row["doc_id"],
            "title": row["title"],
            "metadata": {
                "category": row["category"],
                "created_at": row["created_at"],
                "updated_at": row["updated_at"],
            },
            "chunks": chunks,
        }

    def _library_dict(self, row, documents: list[dict]) -> dict[str, Any]:
        return {
            "id": row["library_id"],
            "name": row["name"],
            "description": row["description"],
            "metadata": {
                "tags": row["tags"],
                "created_at": row["created_at"],
                "updated_at": row["updated_at"],
            },
            "documents": documents,
            "version": row["version"],
        }

    def _assemble_library(self, lib_row) -> dict[str, Any]:
        lib_id = lib_row["library_id"]
        docs = []
        budget = self.max_chunks_per_response
        truncated = False
        for d in self.store.list_documents(lib_id).collect():
            if budget <= 0:
                truncated = True
                docs.append(self._doc_dict(d, []))
                continue
            rows = self.store.list_chunks(lib_id, d["doc_id"]).limit(budget + 1).collect()
            if len(rows) > budget:
                truncated = True
                rows = rows[:budget]
            budget -= len(rows)
            docs.append(self._doc_dict(d, [self._chunk_dict(c) for c in rows]))
        out = self._library_dict(lib_row, docs)
        if truncated:
            out["truncated"] = True
        return out

    def _require_library(self, lib_id: str) -> None:
        # library_version is a driver-side metadata read: no Spark job.
        try:
            self.store.library_version(lib_id)
        except NotFoundError:
            raise _lib_404() from None

    # -- libraries (routers/libraries.py) ----------------------------------

    def create_library(self, payload: dict[str, Any]) -> dict[str, Any]:
        name = payload.get("name")
        if not name:
            raise ApiError(400, "name is required")
        tags = (payload.get("metadata") or {}).get("tags")
        lib_id = self.store.create_library(name, payload.get("description"), tags)
        return self.get_library(lib_id)

    def list_libraries(self) -> list[dict[str, Any]]:
        return [
            self._assemble_library(r)
            for r in self.store.list_libraries().orderBy("created_at").collect()
        ]

    def get_library(self, lib_id: str) -> dict[str, Any]:
        try:
            return self._assemble_library(self.store.get_library(lib_id))
        except NotFoundError:
            raise _lib_404() from None

    def update_library(self, lib_id: str, payload: dict[str, Any]) -> dict[str, Any]:
        name = payload.get("name")
        if not name:  # libraries.py:36-37
            raise ApiError(400, "name is required")
        self._require_library(lib_id)
        self.store.update_library(
            lib_id,
            name=name,
            description=payload.get("description"),
            tags=(payload.get("metadata") or {}).get("tags"),
        )
        return self.get_library(lib_id)

    def delete_library(self, lib_id: str) -> None:
        try:
            self.store.delete_library(lib_id)
        except NotFoundError:
            raise _lib_404() from None

    # -- documents (routers/documents.py) ----------------------------------

    def list_documents(self, lib_id: str) -> list[dict[str, Any]]:
        self._require_library(lib_id)
        return self.get_library(lib_id)["documents"]

    def add_document(self, lib_id: str, payload: dict[str, Any]) -> dict[str, Any]:
        self._require_library(lib_id)
        title = payload.get("title")
        if not title:
            raise ApiError(400, "title is required")
        doc_id = self.store.add_document(
            lib_id, title, (payload.get("metadata") or {}).get("category")
        )
        return self.get_document(lib_id, doc_id)

    def get_document(self, lib_id: str, doc_id: str) -> dict[str, Any]:
        self._require_library(lib_id)
        try:
            row = self.store.get_document(lib_id, doc_id)
        except NotFoundError:
            raise ApiError(404, "Document not found") from None
        chunks = [
            self._chunk_dict(c) for c in self.store.list_chunks(lib_id, doc_id).collect()
        ]
        return self._doc_dict(row, chunks)

    def update_document(self, lib_id: str, doc_id: str, payload: dict[str, Any]) -> dict[str, Any]:
        self._require_library(lib_id)
        title = payload.get("title")
        metadata = payload.get("metadata")
        if title is None and not metadata:  # documents.py:51-52
            raise ApiError(400, "Provide at least one of: title, metadata")
        try:
            self.store.update_document(
                lib_id, doc_id, title=title, category=(metadata or {}).get("category")
            )
        except NotFoundError:
            raise ApiError(404, "Document not found") from None
        return self.get_document(lib_id, doc_id)

    def delete_document(self, lib_id: str, doc_id: str) -> None:
        self._require_library(lib_id)
        try:
            self.store.delete_document(lib_id, doc_id)
        except NotFoundError:
            raise ApiError(404, "Document not found") from None

    # -- chunks (routers/chunks.py) ----------------------------------------

    def _require_document(self, lib_id: str, doc_id: str) -> None:
        self._require_library(lib_id)
        try:
            self.store.get_document(lib_id, doc_id)
        except NotFoundError:
            raise ApiError(404, "Document not found") from None

    def list_chunks(self, lib_id: str, doc_id: str) -> list[dict[str, Any]]:
        self._require_document(lib_id, doc_id)
        return [
            self._chunk_dict(c) for c in self.store.list_chunks(lib_id, doc_id).collect()
        ]

    def add_chunk(self, lib_id: str, doc_id: str, payload: dict[str, Any]) -> dict[str, Any]:
        self._require_document(lib_id, doc_id)
        text = payload.get("text")
        if not text:
            raise ApiError(400, "text is required")
        chunk_id = self.store.add_chunk(
            lib_id,
            doc_id,
            text,
            payload.get("embedding"),
            (payload.get("metadata") or {}).get("type"),
            embed_if_missing=payload.get("embedding") is None,
        )
        return self._chunk_dict(self.store.get_chunk(lib_id, chunk_id))

    def update_chunk(
        self, lib_id: str, doc_id: str, chunk_id: str, payload: dict[str, Any]
    ) -> dict[str, Any]:
        self._require_document(lib_id, doc_id)
        text = payload.get("text")
        embedding = payload.get("embedding")
        metadata = payload.get("metadata")
        if text is None and embedding is None and not metadata:  # chunks.py:53-54
            raise ApiError(400, "Provide at least one of: text, embedding, metadata")
        try:
            self.store.get_chunk(lib_id, chunk_id)
            self.store.update_chunk(
                lib_id,
                chunk_id,
                text=text,
                embedding=embedding,
                meta_type=(metadata or {}).get("type"),
                reembed_if_needed=True,  # chunks.py:55-57 behavior
            )
        except NotFoundError:
            raise ApiError(404, "Chunk not found") from None
        return self._chunk_dict(self.store.get_chunk(lib_id, chunk_id))

    def delete_chunk(self, lib_id: str, doc_id: str, chunk_id: str) -> None:
        self._require_document(lib_id, doc_id)
        try:
            self.store.delete_chunk(lib_id, chunk_id)
        except NotFoundError:
            raise ApiError(404, "Chunk not found") from None

    # -- search (routers/search.py) ----------------------------------------

    def search(
        self, lib_id: str, body: dict[str, Any], *, use_temporal: bool = False
    ) -> dict[str, Any]:
        """POST /{lib_id}/search. ``use_temporal=True`` maps to the durable
        checkpointed pipeline (the reference's Temporal QueryWorkflow path);
        ValueError from the engine -> 400 (search.py:88-89)."""
        self._require_library(lib_id)
        query_text = body.get("query_text")
        query_embedding = body.get("query_embedding")
        if not query_text and not query_embedding:  # search.py:51-52
            raise ApiError(400, "Provide query_text or query_embedding")
        kwargs = dict(
            query_text=query_text,
            query_embedding=query_embedding,
            k=int(body.get("k", 5)),
            index=body.get("index", "brute"),
            lsh_tables=int(body.get("lsh_tables", 8)),
            lsh_planes=int(body.get("lsh_planes", 12)),
            filters=body.get("filters"),
        )
        try:
            if use_temporal:
                ckpt = tempfile.mkdtemp(prefix="durable-query-", dir=os.environ.get("TMPDIR"))
                resp = DurableQueryPipeline(self.engine, ckpt).run(
                    QueryRequest(library_id=lib_id, **kwargs)
                )
                return {
                    "hits": [r.asDict() for r in resp.hits.collect()],
                    "index": resp.index,
                    "library_version": resp.library_version,
                    "execution_metadata": resp.metadata,
                    "durable_execution": True,
                }
            # Direct path = SearchService.search semantics verbatim (k<=0
            # returns empty hits with NO index_used key, never an error).
            res = self.engine.search(lib_id, **kwargs)
            return {**res.to_dict(), "durable_execution": False}
        except ValueError as e:
            raise ApiError(400, str(e)) from None
