"""Streaming ANN index maintenance: continuous add/delete ingestion into
the served LSH artifact (operators/served.py).

The serving artifact is build-once/serve-many; between rebuilds a real
deployment receives a change stream — new vectors and deletions. This
module keeps the artifact continuously queryable by running the two
O(batch) maintenance primitives inside ``foreachBatch``:

- ``op = 'add'`` rows → :func:`operators.served.append_to_served_index`
  (hash only the batch with the same exact kernel as the build —
  appended rows are bit-identical to a rebuild);
- ``op = 'delete'`` rows → :func:`operators.served.tombstone_delete`
  (marker append; serve paths anti-join the marker set).

Queries against the artifact (``lsh_topk_served``) therefore see every
acknowledged micro-batch immediately, with NO rebuild and no downtime;
:func:`operators.served.compact_served_artifact` folds tombstones in on
whatever cadence the deployment chooses.

Exactly-once: foreachBatch is at-least-once, so the handler writes a
per-batch marker AFTER both maintenance writes succeed and skips any
batch whose marker exists — a replayed batch is a no-op (same discipline
as streaming/neardup_stream.py).

Scale notes (100 TB): each micro-batch costs O(batch) — one map-only
encode+append job plus one tiny tombstone write; nothing ever rescans the
corpus. State lives in the artifact directory, not the streaming state
store, so the query restarts cheaply and multiple writers can be fenced
by the marker files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.served import (
    append_to_served_index,
    build_served_index,
    served_index_path,
    tombstone_delete,
)
from .replay import batch_key


class IndexMaintenance:
    """foreachBatch handler over an upsert stream with columns
    (op: 'add'|'delete', vec_id, embedding [, ...payload]). The artifact is
    created from ``corpus_path`` on first use if absent. Replay markers are
    keyed by (stream run id, epoch id) — see ``streaming/replay.py``;
    ``checkpoint_dir`` is wired by :func:`start_index_maintenance`."""

    def __init__(
        self,
        corpus_path: str,
        planes: list[list[list[float]]],
        *,
        embedding_col: str = "embedding",
        id_col: str = "vec_id",
        root: str | None = None,
        checkpoint_dir: str | None = None,
    ) -> None:
        self.corpus_path = corpus_path
        self.planes = planes
        self.embedding_col = embedding_col
        self.id_col = id_col
        self.root = root
        self.checkpoint_dir = checkpoint_dir

    @property
    def index_path(self) -> str:
        return served_index_path(self.corpus_path, self.planes, root=self.root)

    def _batch_marker(self, batch_id: int) -> str:
        key = batch_key(self.checkpoint_dir, batch_id)
        return os.path.join(self.index_path, f"_STREAM_BATCH_{key}_OK")

    def _batch_subdir(self, batch_id: int) -> str:
        return f"batch_{batch_key(self.checkpoint_dir, batch_id)}"

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._batch_marker(batch_id)):
            return
        spark = batch.sparkSession
        build_served_index(
            spark, self.corpus_path, self.planes,
            embedding_col=self.embedding_col, root=self.root,
        )
        # Crash remnant: a prior delivery of THIS epoch appended its
        # vectors but died before the marker write. Remove its directory
        # so the redelivery is a rewrite, not a duplicate append —
        # duplicate ids in a serving artifact surface as duplicate top-k
        # results. (Tombstone re-appends are already idempotent: markers
        # are distinct-ed at read time.)
        import shutil

        shutil.rmtree(
            os.path.join(self.index_path, self._batch_subdir(batch_id)),
            ignore_errors=True,
        )
        batch = batch.localCheckpoint(eager=True)  # micro-batches are small
        adds = batch.filter(F.col("op") == "add").drop("op")
        if adds.take(1):
            append_to_served_index(
                spark, adds, self.corpus_path, self.planes,
                embedding_col=self.embedding_col, root=self.root,
                subdir=self._batch_subdir(batch_id),
            )
        del_ids = batch.filter(F.col("op") == "delete").select(self.id_col)
        if del_ids.take(1):
            tombstone_delete(
                spark, self.index_path, del_ids, id_col=self.id_col
            )
        with open(self._batch_marker(batch_id), "w") as f:
            f.write("ok")


def start_index_maintenance(
    changes: DataFrame,
    handler: IndexMaintenance,
    *,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Wire a change-stream DataFrame to the maintenance handler."""
    handler.checkpoint_dir = checkpoint_dir
    writer = changes.writeStream.foreachBatch(handler).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
