"""Interactive command-stream session — the Structured Streaming analog of
the reference's Temporal ``InteractiveDBWorkflow``
(``app/temporal_workflows/interactive_workflow.py``; SURVEY.md §2.9/§3.3).

Reference capabilities reproduced:
- ST1 command loop: a stream of action commands dispatched one at a time
  -> ``foreachBatch`` over a file/Kafka command source.
- ST2 session state: created ids, per-doc chunk counts, metadata catalog,
  timeline -> the EntityStore tables themselves + an append-only ``timeline``
  parquet log; status queries read those tables.
- ST3 **last-write-wins signal queue**: the reference overwrites a pending
  unprocessed action when a new signal arrives (interactive_workflow.py:
  225-229) — commands can be dropped by design. Our analog: within each
  micro-batch, only the highest-``seq`` command per session survives
  (``max_by`` semantics); earlier ones are recorded in the timeline as
  ``dropped``.
- ST4 pacing: 3 s between actions -> ``trigger(processingTime='3 seconds')``
  by default (tests use ``availableNow`` for determinism).
- ST5 error containment: action failures append an ``error`` timeline entry
  and the loop continues (interactive_workflow.py:373-377).

Command schema (JSON files / Kafka values):
  session_id STRING, seq LONG, action STRING, payload STRING(json)
Actions: add_library{name}, add_document{library_id,title,category},
  add_chunk{library_id,doc_id,text,embedding?,meta_type?},
  set_query_params{...}, start_query{library_id,k,...} (results written to a
  ``results`` parquet table), finish{}.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..engine import SearchEngine
from ..session import local_frame

COMMAND_SCHEMA = StructType(
    [
        StructField("session_id", StringType(), False),
        StructField("seq", LongType(), False),
        StructField("action", StringType(), False),
        StructField("payload", StringType(), True),
    ]
)

TIMELINE_SCHEMA = StructType(
    [
        StructField("session_id", StringType(), False),
        StructField("seq", LongType(), False),
        StructField("action", StringType(), False),
        StructField("status", StringType(), False),  # ok | error | dropped
        StructField("detail", StringType(), True),
    ]
)


class SessionStreamProcessor:
    """foreachBatch handler applying session commands to an EntityStore."""

    def __init__(self, engine: SearchEngine, out_dir: str) -> None:
        """Commands write through ``engine.store`` and query through
        ``engine``, so the session shares the caller's index cache."""
        self.engine = engine
        self.store = engine.store
        self.spark = engine.store.spark
        self.out_dir = out_dir
        self.timeline_dir = os.path.join(out_dir, "timeline")
        self.results_dir = os.path.join(out_dir, "results")
        # per-session name->id maps persisted as plain json (driver-side
        # control state, like the workflow's InteractiveState dataclass)
        self._session_state: dict[str, dict] = {}
        self.query_params: dict[str, dict] = {}

    # -- timeline -----------------------------------------------------------

    def _log(self, entries: list[tuple]) -> None:
        if entries:
            local_frame(self.spark, entries, TIMELINE_SCHEMA).write.mode(
                "append"
            ).parquet(self.timeline_dir)

    def timeline(self) -> DataFrame:
        return self.spark.read.schema(TIMELINE_SCHEMA).parquet(self.timeline_dir)

    def results(self) -> DataFrame:
        return self.spark.read.parquet(self.results_dir)

    # -- the batch handler --------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.orderBy("session_id", "seq").collect()
        # ST3: last-write-wins inside the batch — keep max seq per session
        latest: dict[str, object] = {}
        for r in rows:
            latest[r["session_id"]] = r
        entries: list[tuple] = []
        for r in rows:
            if latest[r["session_id"]] is not r:
                entries.append(
                    (r["session_id"], r["seq"], r["action"], "dropped",
                     "overwritten by newer pending action")
                )
        for r in latest.values():
            entries.append(self._dispatch(r))
        self._log(entries)

    CATALOG_CAP = 20  # A3 distinct-sample cap (interactive_workflow.py:302-304)

    def _dispatch(self, cmd) -> tuple:
        sid, seq, action = cmd["session_id"], cmd["seq"], cmd["action"]
        payload = json.loads(cmd["payload"]) if cmd["payload"] else {}
        state = self._session_state.setdefault(sid, {})
        try:
            if action == "add_library":
                lib = self.store.create_library(payload["name"])
                state["library_id"] = lib
                state.setdefault("created_library_ids", []).append(lib)
                state.setdefault("library_names", {})[lib] = payload["name"]
                detail = lib
            elif action == "add_document":
                lib = payload.get("library_id") or state["library_id"]
                doc = self.store.add_document(lib, payload["title"], payload.get("category"))
                state["doc_id"] = doc
                state.setdefault("doc_ids_by_library", {}).setdefault(lib, []).append(doc)
                detail = doc
            elif action == "add_chunk":
                lib = payload.get("library_id") or state["library_id"]
                doc = payload.get("doc_id") or state["doc_id"]
                cid = self.store.add_chunk(
                    lib, doc, payload["text"],
                    payload.get("embedding"),
                    payload.get("meta_type"),
                    embed_if_missing=True,
                    dim=payload.get("dim"),
                )
                counts = state.setdefault("chunk_counts_by_doc", {})
                counts[doc] = counts.get(doc, 0) + 1  # A2 incremental count
                if payload.get("meta_type") is not None:
                    # A3: per-library metadata key -> first CATALOG_CAP
                    # distinct stringified values, observed order
                    cat = state.setdefault("metadata_catalog", {}).setdefault(lib, {})
                    vals = cat.setdefault("type", [])
                    sval = str(payload["meta_type"])
                    if sval not in vals and len(vals) < self.CATALOG_CAP:
                        vals.append(sval)
                detail = cid
            elif action == "set_query_params":
                self.query_params[sid] = payload
                detail = json.dumps(payload)
            elif action == "start_query":
                lib = payload.get("library_id") or state["library_id"]
                params = {**self.query_params.get(sid, {}), **payload}
                params.pop("library_id", None)
                res = self.engine.search(lib, **params)
                (
                    res.hits.withColumn("session_id", F.lit(sid))
                    .withColumn("seq", F.lit(seq))
                    .write.mode("append")
                    .parquet(self.results_dir)
                )
                state["last_results"] = res.to_dict()
                detail = f"hits_written index_used={res.index_used}"
            elif action == "cancel":
                # interactive_workflow.py:189-191,362: cancel marks the whole
                # session finished ("For simplicity, we mark finished").
                state["finished"] = True
                detail = "Cancel received. Finishing workflow."
            elif action == "finish":
                state["finished"] = True
                detail = "finished"
            else:
                raise ValueError(f"unknown action: {action}")
            state["current_step"] = action
            return (sid, seq, action, "ok", detail)
        except Exception as e:  # ST5: contain, log, continue
            return (sid, seq, action, "error", f"{type(e).__name__}: {e}")


def start_session_stream(
    spark: SparkSession,
    command_dir: str,
    processor: SessionStreamProcessor,
    *,
    available_now: bool = False,
    processing_time: str = "3 seconds",  # ST4 pacing (interactive_workflow.py:371)
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
):
    reader = spark.readStream.schema(COMMAND_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    commands = reader.json(command_dir)
    writer = commands.writeStream.foreachBatch(processor.process_batch).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(processor.out_dir, f"ckpt-{uuid.uuid4().hex[:8]}"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
