"""Streaming drift monitor: per-micro-batch Population Stability Index
of arriving embedding norms against a PUBLISHED reference histogram —
the streaming twin of the batch `embedding_norm_psi` query and the
monitoring member of the ingestion-gate family (dedup gates route rows;
this gate routes BATCHES: a drifted batch's rows are quarantined, not
silently ingested into training state).

Build-once/serve-many: the reference bins (decile boundaries + expected
mass) are published out of band (:func:`publish_norm_reference`) from a
trusted corpus snapshot; the stream only scores — per micro-batch cost
is one norm projection + a broadcast bin-assignment join + a 10-row
aggregate, independent of the reference corpus size.

Routing: batches with PSI ≤ ``max_psi`` append to the ``accepted``
sink; drifted batches go WHOLE to ``quarantine`` with their PSI and
per-bin counts attached (the on-call page payload). Exactly-once via
(run id, epoch id) replay markers (streaming/replay.py); the reference
is read-only so there is no state/marker crash window.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import l2_norm
from ..session import local_frame
from .replay import batch_key


def publish_norm_reference(
    df: DataFrame, path: str, *, vec_col: str = "embedding", bins: int = 10
) -> None:
    """Publish the reference histogram: ``bins`` equi-mass buckets of the
    round-6 norm distribution — (bin, lo, expected_pct) rows. ``lo`` is
    each bin's inclusive lower bound; assignment at serve time is
    "largest lo ≤ value" (deterministic, no upper-bound ties)."""
    norms = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.round(l2_norm(F.col(vec_col)), 6).alias("v"))
    )
    n = norms.count()
    # Boundaries via exact per-bin first ranks over the value-aggregated
    # frame (reference publish is a once-per-corpus batch job — the
    # |distinct values| frame is collected only to derive <bins> cuts).
    vals = (
        norms.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy("v")
        .collect()
    )
    cuts, cum, target = [], 0, 0
    for r in vals:
        if target < bins and cum >= target * n / bins:
            cuts.append(r.v)
            target += 1
        cum += r.c
    # expected mass per published bin from the same pass
    rows = []
    for i, lo in enumerate(cuts):
        hi = cuts[i + 1] if i + 1 < len(cuts) else None
        mass = sum(
            r.c for r in vals if r.v >= lo and (hi is None or r.v < hi)
        )
        rows.append((i + 1, float(lo), mass / n))
    spark = df.sparkSession
    local_frame(
        spark, rows, "bin int, lo double, expected_pct double"
    ).coalesce(1).write.mode("overwrite").parquet(path)


class DriftIngest:
    """foreachBatch handler: score each batch's norm histogram against
    the published reference and route the WHOLE batch by PSI."""

    def __init__(
        self,
        reference_path: str,
        accepted_path: str,
        quarantine_path: str,
        *,
        max_psi: float = 0.2,
        vec_col: str = "embedding",
        checkpoint_dir: str | None = None,
    ) -> None:
        self.reference_path = reference_path
        self.accepted_path = accepted_path
        self.quarantine_path = quarantine_path
        self.max_psi = max_psi
        self.vec_col = vec_col
        self.checkpoint_dir = checkpoint_dir
        self._ref = None
        self.last_psi: float | None = None

    def _batch_marker(self, batch_id: int) -> str:
        key = batch_key(self.checkpoint_dir, batch_id)
        return os.path.join(self.accepted_path, f"_BATCH_{key}_OK")

    def _psi(self, spark: SparkSession, batch: DataFrame) -> float:
        if self._ref is None:
            self._ref = spark.read.parquet(self.reference_path).localCheckpoint(
                eager=True
            )
        ref = self._ref
        norms = (
            batch.filter(F.col(self.vec_col).isNotNull())
            .select(F.round(l2_norm(F.col(self.vec_col)), 6).alias("v"))
        )
        # Value-aggregate first (micro-batch norms repeat), then assign
        # each distinct value the largest published lo <= v; values below
        # the first cut clamp to bin 1 (coalesce).
        vals = norms.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("c"))
        assigned = (
            vals.join(F.broadcast(ref), F.col("v") >= F.col("lo"), "left")
            .groupBy("v", "c")
            .agg(F.coalesce(F.max("bin"), F.lit(1)).alias("bin"))
            .groupBy("bin")
            .agg(F.sum("c").cast("long").alias("n"))
        )
        tot = assigned.agg(F.sum("n").alias("t")).collect()[0].t or 0
        if tot == 0:
            return 0.0
        obs = {r.bin: r.n / tot for r in assigned.collect()}
        psi = 0.0
        eps = 1e-6  # standard PSI smoothing for empty cells
        for r in ref.collect():
            p = r.expected_pct
            q = obs.get(r.bin, 0.0)
            p, q = max(p, eps), max(q, eps)
            import math

            psi += (q - p) * math.log(q / p)
        return psi

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._batch_marker(batch_id)):
            return
        spark = batch.sparkSession
        batch = batch.localCheckpoint(eager=True)  # micro-batches are small
        psi = self._psi(spark, batch)
        self.last_psi = psi
        os.makedirs(self.accepted_path, exist_ok=True)
        out = batch.withColumn("batch_psi", F.lit(round(psi, 6)))
        if psi <= self.max_psi:
            out.write.mode("append").parquet(
                os.path.join(self.accepted_path, "data")
            )
        else:
            out.write.mode("append").parquet(self.quarantine_path)
        with open(self._batch_marker(batch_id), "w") as f:
            f.write("ok")


def drift_ingest_stream(
    stream: DataFrame,
    handler: DriftIngest,
    *,
    checkpoint: str,
):
    """Wire a streaming DataFrame of embedding rows through the monitor."""
    handler.checkpoint_dir = checkpoint
    return (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
