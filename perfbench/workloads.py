"""The workloads. Each is a closed loop with one client thread on one
SparkSession, and drives the engine only through its public functions:

- ``search_write`` — one write per cycle through the API, then the first
  search after it (which rebuilds the index) and a pass of the query mix,
  which hits the index cache.
- ``pipeline_batch`` — passes of two batch operators over a generated
  corpus; the set-up is the first pass in the fresh session, and every
  result is compared with its DuckDB oracle.

A workload sets up, then runs its timed operations for ``seconds``, then
returns raw samples; ``run.py`` turns them into metrics. A pass's time is
the sum of its operations' wall times; output checks run between or after
the operations, never inside one.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd

import checks
import inputs
from tracing import SparkCounters, Tracer

CHUNK_SCHEMA = "cid string, text string, embedding array<float>, meta_type string"
PIPELINE_QUERIES = ("dedup_clusters", "dbscan_knn_clusters")


@dataclass
class Op:
    kind: str  # search / fresh_search / add / update / delete / query name
    wall: float  # seconds
    errors: list[str]
    layers: dict[str, float] = field(default_factory=dict)
    spark: dict[str, float] = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: list[float]
    ops: list[Op]  # timed operations
    passes: list[float]  # summed operation wall time of each pass
    recall: float
    checked: int  # operations whose output was checked (timed and warm-up)
    failed: int
    inputs: dict
    extra: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""

    def __init__(self, spark_factory, workdir: str, seed: int, seconds: float,
                 traced: bool, scale: float = 1.0) -> None:
        self.spark_factory = spark_factory
        self.spark = None
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.scale = scale
        self.tracer = Tracer() if traced else None
        self.counters = None
        self.checked = 0
        self.failed = 0
        self.errors: list[str] = []
        self.phases: dict[str, float] = {}  # wall seconds per phase of the run
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Close the current phase of the run under ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._mark
        self._mark = now

    def _record(self, errs: list[str]) -> None:
        self.checked += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs[:3])

    def _timed(self, kind: str, fn):
        """Run one operation; in the traced run, tag it with a job group and
        attribute its spans."""
        group = None
        if self.traced:
            self.tracer.op += 1
            group = self.counters.begin(kind)
        t0 = time.perf_counter()
        try:
            result, err = fn(), None
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            result, err = None, f"{kind} raised {type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        op = Op(kind, wall, [err] if err else [])
        if self.traced:
            op.spark = self.counters.end(group)
            op.layers = self.tracer.per_op().get(self.tracer.op, {})
        return op, result

    def start_spark(self):
        self.spark = self.spark_factory()
        if self.traced:
            self.counters = SparkCounters(self.spark)


# ---------------------------------------------------------------------------
# Served search with writes beside reads
# ---------------------------------------------------------------------------


class SearchWrite(Workload):
    """Each cycle: one write through the API (add/update/delete in the
    ``inputs.WRITE_PATTERN`` mix), the first search after it, which rebuilds
    the version-keyed index, then one pass of the 12-query mix, which hits
    the index cache. The cycle's responses are checked after its last
    operation. At least ``MIN_CYCLES`` cycles are timed. The library stays
    below the engine's 10,000-row LSH fallback bound."""

    name = "search_write"
    setups = 3  # setup_s is their median; the first also pays the fresh session's warm-up
    n = 5_000
    dim = 64
    MIN_CYCLES = 3

    def _engine_modules(self):
        from vector_db_mvp_spark import api, engine
        from vector_db_mvp_spark.embedding import provider
        from vector_db_mvp_spark.functions import lsh
        from vector_db_mvp_spark.storage import index_store, store

        return api, engine, store, index_store, provider, lsh

    def install_tracing(self) -> None:
        api, engine, store, index_store, provider, lsh = self._engine_modules()
        t = self.tracer
        t.wrap(api.VectorDbApi, "search", "api.search")
        for m in ("add_chunk", "update_chunk", "delete_chunk"):
            t.wrap(api.VectorDbApi, m, "api.write")
        t.wrap(engine.SearchEngine, "search", "engine.search")
        t.wrap(engine.SearchResult, "to_dict", "engine.to_dict")
        for m in ("library_version", "get_library", "get_document", "get_chunk",
                  "add_chunk", "update_chunk", "delete_chunk"):
            t.wrap(store.EntityStore, m, f"store.{m}")
        t.wrap(index_store.ChunkIndexStore, "refresh", "index_store.refresh")
        t.wrap(index_store.ChunkIndexStore, "index_df", "index_store.index_df")
        t.wrap(provider.HashEmbeddingProvider, "embed_text", "embedding.provider.embed_text")
        t.wrap(lsh, "bucket_codes_python", "functions.lsh.bucket_codes_python")

    def setup_once(self, i: int, lib: inputs.Library):
        """Create a store, a library and a document, bulk-load the chunks and
        build the index: the state a served search needs."""
        api_m, engine_m, store_m, index_m, _, _ = self._engine_modules()
        root = os.path.join(self.workdir, f"setup{i}")
        store = store_m.EntityStore(self.spark, os.path.join(root, "store"),
                                    default_dim=self.dim)
        index = index_m.ChunkIndexStore(store, os.path.join(root, "index"))
        api = api_m.VectorDbApi(engine_m.SearchEngine(store, index))
        lib_id = store.create_library(f"bench-{self.seed}")
        doc_id = store.add_document(lib_id, "corpus", "bench")
        frame = self.spark.createDataFrame(lib.frame(), CHUNK_SCHEMA)
        store.add_chunks_bulk(lib_id, doc_id, frame, id_col="cid", meta_type_col="meta_type")
        index.index_df(lib_id)
        return root, store, index, api, lib_id, doc_id

    def build(self):
        lib = inputs.make_library(self.seed, max(200, int(self.n * self.scale)), self.dim)
        times = []
        for i in range(self.setups):
            t0 = time.perf_counter()
            state = self.setup_once(i, lib)
            times.append(time.perf_counter() - t0)
            if i == 0:
                self.warm_writes(state, lib)
            if i < self.setups - 1:
                shutil.rmtree(state[0], ignore_errors=True)
        return lib, times, state

    def warm_writes(self, state, lib: inputs.Library) -> None:
        """One write of each kind on a state about to be discarded, so the
        timed cycles start with compiled write paths. Untimed; a call that
        raises counts as a failed operation."""
        _, _, _, api, lib_id, doc_id = state
        victims = [cid for cid, ok in zip(lib.chunk_ids, lib.has_embedding) if ok][:2]
        vec = [1.0] + [0.0] * (self.dim - 1)
        for call in (
            lambda: api.add_chunk(lib_id, doc_id, {"text": "warm-up", "embedding": vec}),
            lambda: api.update_chunk(lib_id, doc_id, victims[0], {"embedding": vec}),
            lambda: api.delete_chunk(lib_id, doc_id, victims[1]),
        ):
            op, _ = self._timed("warmup", call)
            self._record(op.errors)

    def check_search(self, shadow, index, q: inputs.Query, resp, version: int,
                     provider) -> tuple[list[str], tuple | None]:
        """Errors, and for an LSH query (exact neighbours found, wanted,
        candidate fraction)."""
        if resp is None:
            return [], None
        qvec = q.vector if q.vector is not None else provider.embed_text(q.text, self.dim)
        hits = resp["hits"]
        index_kind = "lsh" if q.kind == "lsh" else "brute"
        errs = checks.check_response(resp, version=version, index=index_kind)
        if q.kind == "lsh":
            e, good, want, frac = checks.check_lsh(shadow, qvec, q.k, q.meta_type, hits,
                                                   resp.get("index_used"),
                                                   index.planes_for(self.dim))
            return errs + e, (good, want, frac)
        if resp.get("index_used") != "brute":
            errs.append(f"index_used={resp.get('index_used')} for a brute query")
        return errs + checks.check_brute(shadow, qvec, q.k, q.meta_type, hits), None

    def write(self, api, lib_id, doc_id, shadow, w: dict):
        """One API write; returns (op, chunk id, the vector the read-your-write
        search queries)."""
        if w["op"] == "add":
            payload = {"text": w["text"], "embedding": w["embedding"],
                       "metadata": {"type": w["meta_type"]}}
            op, resp = self._timed("add", lambda: api.add_chunk(lib_id, doc_id, payload))
            cid = resp["id"] if resp else None
            if cid:
                shadow.add(cid, w["embedding"], w["meta_type"], w["text"])
            return op, cid, w["embedding"]
        cid = shadow.ids[w["index"]]
        if w["op"] == "update":
            op, _ = self._timed("update", lambda: api.update_chunk(
                lib_id, doc_id, cid, {"embedding": w["embedding"]}))
            shadow.update(cid, w["embedding"])
            return op, cid, w["embedding"]
        old = shadow.unit[w["index"]].tolist()
        op, _ = self._timed("delete", lambda: api.delete_chunk(lib_id, doc_id, cid))
        shadow.delete(cid)
        return op, cid, old

    def cycle(self, api, lib_id, doc_id, shadow, w, queries):
        """One cycle's operations, unchecked: [(op, query, response)] with
        the write first, and the written chunk's id."""
        op, cid, vec = self.write(api, lib_id, doc_id, shadow, w)
        run = [(op, None, None)]
        fresh = inputs.Query("brute", 5, vector=vec)
        op, resp = self._timed("fresh_search", lambda: api.search(lib_id, fresh.body()))
        run.append((op, fresh, resp))
        for q in queries:
            op, resp = self._timed("search", lambda: api.search(lib_id, q.body()))
            run.append((op, q, resp))
        return run, cid

    def check_cycle(self, run, cid, w, shadow, index, provider, version, lsh) -> None:
        """Check a cycle's responses against the shadow as it stands after
        the cycle's write; LSH results go to ``lsh``."""
        (op, _, _), (fop, _, fresp) = run[0], run[1]
        self._record(op.errors)
        if fresp is not None:
            fop.errors += checks.check_read_your_write(w, cid, fresp["hits"])
        for op, q, resp in run[1:]:
            e, lsh_result = self.check_search(shadow, index, q, resp, version, provider)
            op.errors += e
            self._record(op.errors)
            if lsh_result is not None:
                lsh.append(lsh_result)

    def run(self) -> Outcome:
        from vector_db_mvp_spark.embedding.provider import HashEmbeddingProvider

        self.start_spark()
        self.phase("spark")
        lib, setup_times, (root, store, index, api, lib_id, doc_id) = self.build()
        self.phase("set-up")
        version = store.library_version(lib_id)
        shadow = checks.Shadow(lib)
        provider = HashEmbeddingProvider()
        cycles = 100
        writes = inputs.write_plan(self.seed, lib, cycles)
        mixes = inputs.query_plan(self.seed, lib, passes=cycles + 1)
        ops, passes, lsh = [], [], []
        # One query of each kind, checked but untimed, compiles the search paths.
        for q in (q for q in mixes[0] if q.k == inputs.KS[1]):
            op, resp = self._timed("warmup", lambda: api.search(lib_id, q.body()))
            e, lsh_result = self.check_search(shadow, index, q, resp, version, provider)
            self._record(op.errors + e)
            if lsh_result is not None:
                lsh.append(lsh_result)
        if self.traced:
            self.install_tracing()
        self.phase("warm-up")
        rebuilds0 = index.builds
        t_end = time.perf_counter() + self.seconds
        for c in range(cycles):
            version += 1
            run, cid = self.cycle(api, lib_id, doc_id, shadow, writes[c], mixes[c + 1])
            self.phase("timed")
            passes.append(sum(op.wall for op, _, _ in run))
            ops += [op for op, _, _ in run]
            # A fixed query set gives recall that repeats for a seed.
            self.check_cycle(run, cid, writes[c], shadow, index, provider, version,
                             lsh if c < self.MIN_CYCLES else [])
            self.phase("checks")
            if time.perf_counter() >= t_end and len(passes) >= self.MIN_CYCLES:
                break
        if self.traced:
            self.tracer.unwrap_all()
        final = store.library_version(lib_id)
        self._record([] if final == version else [f"library_version {final} != {version}"])
        return Outcome(
            setup_s=setup_times, ops=ops, passes=passes,
            recall=statistics.fmean(g / w if w else 1.0 for g, w, _ in lsh),
            checked=self.checked, failed=self.failed, inputs=lib.stats,
            extra={"space_amp": _dir_bytes(root) / _chunk_bytes(lib),
                   "rebuilds": index.builds - rebuilds0,
                   "candidate_fraction": statistics.fmean(f for _, _, f in lsh)},
            errors=self.errors,
        )


def _chunk_bytes(lib: inputs.Library) -> float:
    """Raw bytes of the generated chunks: ids, texts, meta types and float32
    embeddings."""
    text = sum(len(s.encode()) for s in lib.chunk_ids + lib.texts + lib.meta_types)
    return float(text + int(lib.has_embedding.sum()) * lib.embeddings.shape[1] * 4)


# ---------------------------------------------------------------------------
# Batch pipeline
# ---------------------------------------------------------------------------


class PipelineBatch(Workload):
    """The set-up is the cold pass: the first pass over the queries in the
    fresh session, which compiles every plan and first reads the inputs;
    ``setup_s`` is its time. Then at least ``MIN_PASSES`` timed passes. After
    the last, every pass's results, the cold pass's too, are compared with
    the DuckDB oracles.

    The corpus is ``FRAC`` of the sf0.1 row counts: 500 documents and 200
    embeddings. Larger inputs do not fit the benchmark's time per run; see
    README.md."""

    name = "pipeline_batch"
    FRAC = 0.1
    MIN_PASSES = 2
    TAU = 0.4  # the near-duplicate Jaccard threshold of dedup_clusters

    def _oracle(self, fixture: str) -> dict:
        """DuckDB oracle results for every query, or {"error": ...}."""
        import duckdb

        from vector_db_mvp_spark.workload import ORACLE_SQL

        out = {}
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {os.cpu_count() or 1}")
            con.execute(f"SET temp_directory = '{os.path.join(self.workdir, 'duckdb')}'")
            for t in ("documents", "embeddings"):
                path = os.path.join(fixture, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in PIPELINE_QUERIES:
                out[q] = con.execute(ORACLE_SQL[q]).fetchdf()
        except Exception as e:  # noqa: BLE001 — reported as a failed check
            out["error"] = f"oracle raised {type(e).__name__}: {e}"
        finally:
            con.close()
        return out

    def _pass(self, fixture: str) -> tuple[list[Op], dict]:
        from vector_db_mvp_spark.workload import QUERIES

        ops, results = [], {}
        for q in PIPELINE_QUERIES:
            op, results[q] = self._query(QUERIES[q], q, fixture)
            ops.append(op)
        return ops, results

    def run(self) -> Outcome:
        fixture = os.path.join(self.workdir, "corpus")
        sizes = inputs.make_corpus(self.seed, fixture, self.FRAC * self.scale)
        self.phase("inputs")
        self.start_spark()
        self.phase("spark")
        cold = self._pass(fixture)
        self.phase("set-up")
        checked = [cold]
        ops, passes = [], []
        t_end = time.perf_counter() + self.seconds
        while True:
            checked.append(self._pass(fixture))
            passes.append(sum(op.wall for op in checked[-1][0]))
            ops += checked[-1][0]
            if time.perf_counter() >= t_end and len(passes) >= self.MIN_PASSES:
                break
        self.phase("timed")
        oracle = self._oracle(fixture)
        self.phase("oracle")
        docs = pd.read_parquet(os.path.join(fixture, "documents.parquet"))
        exact = checks.exact_jaccard_pairs(dict(zip(docs.doc_id, docs.text)), self.TAU)
        sizes["exact_jaccard_pairs"] = len(exact)
        recall = 0.0
        if "error" in oracle:
            self._record([oracle["error"]])
        for pass_ops, results in checked:
            for op in pass_ops:
                if results[op.kind] is None:
                    errs = op.errors or ["no result"]
                else:
                    rows, columns = results[op.kind]
                    res = pd.DataFrame([r.asDict() for r in rows], columns=columns)
                    errs = []
                    if op.kind in oracle:
                        errs = checks.check_oracle(op.kind, res, oracle[op.kind])
                    if op.kind == "dedup_clusters":
                        recall = checks.cluster_pair_recall(res, exact)
                op.errors = errs
                self._record(errs)
        self.phase("checks")
        return Outcome(setup_s=[sum(op.wall for op in cold[0])], ops=ops, passes=passes,
                       recall=recall, checked=self.checked, failed=self.failed,
                       inputs=sizes, errors=self.errors)

    def _query(self, fn, name: str, fixture: str):
        """Build the query's DataFrame (including any eager actions inside the
        operator) and collect it; the two parts are timed separately. The
        result is (rows, column names)."""
        parts = {}

        def call():
            t0 = time.perf_counter()
            df = fn(self.spark, fixture)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            parts["build_s"], parts["exec_s"] = t1 - t0, t2 - t1
            if self.traced:
                self.tracer.record(f"pipeline.{name}.build", t0, t1)
                self.tracer.record(f"pipeline.{name}.exec", t1, t2)
            return rows, df.columns

        op, res = self._timed(name, call)
        op.layers.update(parts)
        return op, res


WORKLOADS = {w.name: w for w in (SearchWrite, PipelineBatch)}
