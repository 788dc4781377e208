"""Streaming CEP chain matching: the unbounded twin of operators/cep.py.

Batch ``chain_matches`` finds every ``A -> B -> C`` latest-chain match with
two stacked window passes; this module maintains the SAME automaton over an
unbounded stream in ``foreachBatch``, with per-key state bounded at ONE row
per key forever:

    state(key) = (last_a        — latest A timestamp seen,
                  chain         — latest valid (b_ts, a_ts) partial chain)

Each micro-batch runs the batch windows SEEDED by that state — the running
maxes start from the carried values via ``greatest(window_max, state_col)``
(state is constant per key, so folding it into a running max per row is
exact) — emits every completed match to the matches sink, and folds the
batch's own maxima back into state. Because both state fields are MAX
monoids over (timestamp, struct) and micro-batches arrive in event-time
order per key (the standard in-order CEP contract; out-of-order streams
need a watermark-delay reorder buffer upstream), the stream's cumulative
output equals the one-shot batch run — pinned by tests/test_cep_stream.py.

Commit protocol: state reuses ``operators/rollup_state.RollupState``'s
versioned-directory + atomic-pointer machinery (monoid-independent) with a
custom greatest-merge; the matches sink append is guarded by the same
(stream run id, epoch id) replay markers as the other ingest handlers
(streaming/replay.py) so re-delivered epochs are no-ops.

Scale: per-batch cost is O(batch + touched-state); state size is |keys|
rows regardless of stream volume. Keys are high-cardinality users —
skew-free keyed windows, the same shape as the batch operator.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.rollup_state import RollupState
from ..session import local_frame
from .replay import batch_key


class CepIngest:
    """foreachBatch handler: emit chain matches, maintain per-key state."""

    def __init__(
        self,
        spark: SparkSession,
        state_path: str,
        matches_path: str,
        *,
        stages: tuple[str, str, str],
        hop: str = "INTERVAL 7 DAY",
        key_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        order_tiebreak: str = "event_id",
        checkpoint_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.matches_path = matches_path
        self.stages = stages
        self.hop = hop
        self.key = key_col
        self.ts = ts_col
        self.typ = type_col
        self.tie = order_tiebreak
        self.checkpoint_dir = checkpoint_dir
        self._box: DataFrame | None = None
        # partial_fn returns the delta this handler already computed (the
        # seeded frame is needed twice — matches + state — so it is built
        # once per batch and handed over through _box).
        self.state = RollupState(
            spark,
            state_path,
            [key_col],
            None,
            partial_fn=lambda _batch: self._box,
            merge_fn=self._merge,
        )

    # -- state merge: per-key MAX monoid on both fields -------------------
    def _merge(self, old: DataFrame, new: DataFrame) -> DataFrame:
        k = self.key
        o = old.select(k, F.col("last_a").alias("_oa"), F.col("chain").alias("_oc"))
        n = new.select(k, F.col("last_a").alias("_na"), F.col("chain").alias("_nc"))
        return o.join(n, k, "full_outer").select(
            k,
            F.greatest("_oa", "_na").alias("last_a"),
            F.greatest("_oc", "_nc").alias("chain"),
        )

    # -- seeded automaton over one micro-batch ----------------------------
    def _seeded(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        a_t, b_t, c_t = self.stages
        k, ts, typ = self.key, self.ts, self.typ
        if self.state.exists():
            st = self.state.read()
        else:
            st = local_frame(
                self.spark,
                [],
                f"{k} long, last_a timestamp_ntz,"
                " chain struct<b_ts: timestamp_ntz, a_ts: timestamp_ntz>",
            )
        e = batch.join(st, k, "left")
        w_prev = (
            Window.partitionBy(k)
            .orderBy(ts, self.tie)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        run_a = F.max(F.when(F.col(typ) == a_t, F.col(ts))).over(w_prev)
        eff_a = F.greatest(run_a, F.col("last_a"))
        e = e.withColumn("_eff_a", eff_a)
        row_chain = F.when(
            (F.col(typ) == b_t)
            & F.col("_eff_a").isNotNull()
            & (F.col(ts) <= F.col("_eff_a") + F.expr(self.hop)),
            F.struct(F.col(ts).alias("b_ts"), F.col("_eff_a").alias("a_ts")),
        )
        e = e.withColumn("_row_chain", row_chain)
        eff_chain = F.greatest(F.max("_row_chain").over(w_prev), F.col("chain"))
        e = e.withColumn("_eff_chain", eff_chain)

        matches = e.filter(
            (F.col(typ) == c_t)
            & F.col("_eff_chain").isNotNull()
            & (F.col(ts) <= F.col("_eff_chain.b_ts") + F.expr(self.hop))
        ).select(
            F.col(k),
            F.col("_eff_chain.a_ts").alias("a_ts"),
            F.col("_eff_chain.b_ts").alias("b_ts"),
            F.col(ts).alias("c_ts"),
            F.expr(
                f"(unix_micros(cast({ts} as timestamp))"
                " - unix_micros(cast(_eff_chain.a_ts as timestamp)))"
                " div 1000000"
            ).alias("chain_secs"),
        )
        delta = e.groupBy(k).agg(
            F.max(F.when(F.col(typ) == a_t, F.col(ts))).alias("last_a"),
            F.max("_row_chain").alias("chain"),
        )
        return matches, delta

    def _marker(self, batch_id: int) -> str:
        key = batch_key(self.checkpoint_dir, batch_id)
        return os.path.join(self.state.path, f"_BATCH_{key}_OK")

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(self._marker(batch_id)):
            return
        if batch.isEmpty():
            return
        batch = batch.localCheckpoint(eager=True)  # micro-batches are small
        matches, delta = self._seeded(batch)
        # Materialize both BEFORE any write: the delta reads the pre-append
        # state pointer, and matches must not observe the state flip.
        delta = delta.localCheckpoint(eager=True)
        matches.write.mode("append").parquet(self.matches_path)
        self._box = delta
        key = batch_key(self.checkpoint_dir, batch_id)
        if not self.state.exists():
            self.state.init(delta, batch_id=key)
        else:
            self.state.apply_batch(batch, key)  # partial_fn returns _box
        self._box = None
        with open(self._marker(batch_id), "w", encoding="utf-8") as f:
            f.write("ok")

    def matches(self) -> DataFrame:
        return self.spark.read.parquet(self.matches_path)


def start_cep_stream(
    spark: SparkSession,
    source_path: str,
    state_path: str,
    matches_path: str,
    checkpoint_dir: str,
    *,
    schema,
    stages: tuple[str, str, str],
    hop: str = "INTERVAL 7 DAY",
    **kw,
):
    """Wire a file-source stream into a CepIngest handler (processing-time
    trigger; the tests drive the handler directly for determinism)."""
    ingest = CepIngest(
        spark, state_path, matches_path,
        stages=stages, hop=hop, checkpoint_dir=checkpoint_dir, **kw,
    )
    reader = spark.readStream.schema(schema).parquet(source_path)
    q = (
        reader.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return q, ingest
