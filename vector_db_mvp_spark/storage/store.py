"""Parquet-backed entity store: the Spark analog of the reference's
in-memory repositories (``app/repositories/memory/*``), with the same write
semantics (SURVEY.md §2.1 S5-S8):

- every write bumps the owning library's ``version`` (library_repo.py:74,
  document_repo.py:38,61,85, chunk_repo.py:43,60,96) and refreshes
  ``updated_at`` timestamps up the parent chain;
- deletes cascade parent -> children (library drops docs+chunks,
  document drops chunks);
- partial updates whitelist fields exactly like the reference
  (document: title/category — document_repo.py:78-82; chunk:
  text/embedding/meta_type — chunk_repo.py:90-93; library:
  name/description/tags — library_repo.py:56-75);
- update of chunk text without a supplied embedding re-embeds via the
  provider and silently skips on provider failure
  (chunk_service.py:23-48, swallow at :43-45).

Concurrency/consistency: the reference holds RW locks and deep-copies on
read; Spark DataFrames are immutable snapshots, so readers are isolated for
free. The dimension tables (libraries/documents — small) version as whole
directories behind an atomic ``_CURRENT`` pointer flip. The chunks FACT
table versions **per library** as an ordered list of immutable *generation*
directories behind a single atomic JSON pointer map: an insert appends a
new generation holding only the inserted rows (O(delta) — no existing file
is read or touched), updates/deletes copy-on-write the one library into a
fresh single-generation snapshot with the read's natural parallelism, and
size-tiered compaction (LSM-style) merges same-tier generations so the
per-library directory count stays bounded. This is the property that keeps
CRUD viable when the chunks table is 100 TB: inserts never pay O(library),
and the reference's own locking is per-library for content ops
(library_repo.py:24-38), so per-library snapshot granularity is the same
consistency contract. At deployment scale this class is a thin facade over
Delta Lake MERGE/DELETE (schema enforcement, optimistic concurrency, table
versions); the API is deliberately MERGE-shaped so the swap is mechanical.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..embedding.provider import EmbeddingProvider, HashEmbeddingProvider
from ..schemas import CHUNK_SCHEMA, DOCUMENT_SCHEMA, LIBRARY_SCHEMA
from ..session import local_frame

_DIM_TABLES = {
    "libraries": LIBRARY_SCHEMA,
    "documents": DOCUMENT_SCHEMA,
}
_TABLES = {**_DIM_TABLES, "chunks": CHUNK_SCHEMA}


class NotFoundError(KeyError):
    """Entity lookup miss (the reference's 404 path)."""


def _now() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)


class EntityStore:
    """Library -> Document -> Chunk star over versioned parquet directories."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        embedding_provider: EmbeddingProvider | None = None,
        default_dim: int = 384,
    ) -> None:
        self.spark = spark
        self.root = root
        self.provider = embedding_provider or HashEmbeddingProvider()
        self.default_dim = default_dim
        os.makedirs(root, exist_ok=True)
        for t, schema in _DIM_TABLES.items():
            if not os.path.exists(self._pointer(t)):
                self._write(t, local_frame(spark, [], schema))
        if not os.path.exists(self._pointer("chunks")):
            self._flip_chunks_map({})

    # ---- versioned table IO (atomic pointer flip) -----------------------

    def _pointer(self, table: str) -> str:
        return os.path.join(self.root, f"{table}._CURRENT")

    def _read_pointer(self, table: str) -> str:
        with open(self._pointer(table)) as f:
            return f.read().strip()

    def _chunks_map(self) -> dict[str, list[dict]]:
        """library_id -> ordered generation list ``[{"dir": path, "rows": n}]``.

        A library's current snapshot is the UNION of its generation
        directories. Inserts append a new generation holding only the new
        rows (generations are row-disjoint by construction — fresh UUIDs),
        so a single ``add_chunk`` is O(1) regardless of library size;
        updates/deletes collapse the list back to one rewritten generation.
        """
        return json.loads(self._read_pointer("chunks"))

    def _flip_chunks_map(self, mapping: dict[str, list[dict]]) -> None:
        tmp = self._pointer("chunks") + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(mapping))
        os.replace(tmp, self._pointer("chunks"))  # atomic snapshot flip
        self._log_commit("chunks", mapping)

    def _library_dirs(self, library_id: str) -> list[str]:
        return [g["dir"] for g in self._chunks_map().get(library_id, [])]

    def read(self, table: str) -> DataFrame:
        if table == "chunks":
            dirs = sorted(
                g["dir"] for gens in self._chunks_map().values() for g in gens
            )
            if not dirs:
                return local_frame(self.spark, [], CHUNK_SCHEMA)
            return self.spark.read.schema(CHUNK_SCHEMA).parquet(*dirs)
        return self.spark.read.schema(_TABLES[table]).parquet(self._read_pointer(table))

    def read_chunks_library(self, library_id: str) -> DataFrame:
        """One library's chunks = its few generation directories (compaction
        bounds the count) — the pruned read every search uses; no partition
        filter needed because the layout IS the partition."""
        dirs = self._library_dirs(library_id)
        if not dirs:
            return local_frame(self.spark, [], CHUNK_SCHEMA)
        return self.spark.read.schema(CHUNK_SCHEMA).parquet(*dirs)

    def _write(self, table: str, df: DataFrame) -> None:
        new_dir = os.path.join(self.root, f"{table}.v{uuid.uuid4().hex[:12]}")
        df.repartition(1).write.mode("overwrite").parquet(new_dir)
        tmp = self._pointer(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(new_dir)
        os.replace(tmp, self._pointer(table))  # atomic snapshot flip
        # Old version dirs are kept so in-flight snapshot reads stay valid
        # (Delta semantics: files live until VACUUM); reclaim via vacuum().
        self._log_commit(table, new_dir)

    # ---- commit log / time travel ---------------------------------------
    # Every pointer flip appends one JSON line to _log/<table>.jsonl —
    # the Delta-transaction-log idea reduced to its core: an append-only
    # ordered record of snapshot pointers. Snapshot v is readable for as
    # long as its directories survive (i.e. until vacuum()), giving
    # time-travel reads and auditable history with O(1) write overhead.

    def _log_path(self, table: str) -> str:
        return os.path.join(self.root, "_log", f"{table}.jsonl")

    def _log_commit(self, table: str, snapshot) -> None:
        os.makedirs(os.path.join(self.root, "_log"), exist_ok=True)
        # Seq cache: one O(log-size) scan per table per process, O(1) after
        # (the full-history scan is the part a production log would replace
        # with Delta-style checkpoints).
        cache = getattr(self, "_log_seq", None)
        if cache is None:
            cache = self._log_seq = {}
        if table not in cache:
            entries = self.history(table)
            cache[table] = entries[-1]["v"] if entries else -1
        seq = cache[table] = cache[table] + 1
        with open(self._log_path(table), "a", encoding="utf-8") as f:
            f.write(
                json.dumps(
                    {"v": seq, "snapshot": snapshot, "ts": _now().isoformat()}
                )
                + "\n"
            )

    def history(self, table: str) -> list[dict]:
        """Ordered commit history for a table (empty if never written)."""
        path = self._log_path(table)
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]

    def read_at(self, table: str, version: int) -> DataFrame:
        """Snapshot read of commit ``version`` (``history(table)[i]["v"]``).
        Raises KeyError for unknown versions and FileNotFoundError when the
        snapshot's directories were reclaimed by ``vacuum()`` — the Delta
        time-travel contract."""
        entries = {e["v"]: e["snapshot"] for e in self.history(table)}
        if version not in entries:
            raise KeyError(f"{table} has no commit v{version}")
        snap = entries[version]
        if table == "chunks":
            dirs = sorted(g["dir"] for gens in snap.values() for g in gens)
            missing = [d for d in dirs if not os.path.exists(d)]
            if missing:
                raise FileNotFoundError(
                    f"chunks v{version} was vacuumed: missing {missing[0]}"
                )
            if not dirs:
                return local_frame(self.spark, [], CHUNK_SCHEMA)
            return self.spark.read.schema(CHUNK_SCHEMA).parquet(*dirs)
        if not os.path.exists(snap):
            raise FileNotFoundError(f"{table} v{version} was vacuumed: {snap}")
        return self.spark.read.schema(_TABLES[table]).parquet(snap)

    # Generations sharing a size tier are merged once FANOUT of them pile up
    # (size-tiered LSM): a run of inserts costs O(1) each, compaction work is
    # amortized O(log N) rows per insert, and the generation count per
    # library stays O(FANOUT * log N) so reads never union an unbounded
    # directory list.
    _COMPACT_FANOUT = 8
    _ROWS_PER_FILE = 1 << 20

    def _new_chunk_dir(self, library_id: str) -> str:
        return os.path.join(self.root, f"chunks.{library_id}.v{uuid.uuid4().hex[:12]}")

    def _write_generation(self, library_id: str, df: DataFrame, rows: int | None) -> dict:
        """Materialize one immutable generation directory. ``rows=None``
        means unknown (rewrite path): write with the plan's natural
        parallelism, then take the count from parquet footers (metadata-only
        job, no data scan). Known-size paths coalesce toward the target
        file size instead of forcing a single task."""
        new_dir = self._new_chunk_dir(library_id)
        if rows is not None:
            df = df.coalesce(max(1, -(-rows // self._ROWS_PER_FILE)))
        df.write.mode("overwrite").parquet(new_dir)
        if rows is None:
            rows = self.spark.read.schema(CHUNK_SCHEMA).parquet(new_dir).count()
        return {"dir": new_dir, "rows": int(rows)}

    def _append_chunks_library(self, library_id: str, df: DataFrame, rows: int | None) -> None:
        """O(delta) insert: write ONLY the new rows as a fresh generation and
        append it to the library's list — no existing file is read or
        touched. The reference rewrites nothing either (in-place dict append,
        chunk_repo.py:32-45); this is the same cost shape on immutable
        storage."""
        gen = self._write_generation(library_id, df, rows)
        mapping = self._chunks_map()
        mapping[library_id] = mapping.get(library_id, []) + [gen]
        self._compact_tiers(library_id, mapping)
        self._flip_chunks_map(mapping)

    def _rewrite_chunks_library(self, library_id: str, df: DataFrame) -> None:
        """Copy-on-write rewrite of ONE library (update/delete paths): the
        new snapshot becomes a single generation, written with the read's
        natural parallelism (never a forced single task)."""
        gen = self._write_generation(library_id, df, None)
        mapping = self._chunks_map()
        mapping[library_id] = [gen]
        self._flip_chunks_map(mapping)

    def _compact_tiers(self, library_id: str, mapping: dict[str, list[dict]]) -> None:
        """Size-tiered compaction: merge any >= FANOUT generations whose row
        counts fall in the same power-of-FANOUT tier. Merge order is
        irrelevant — generations are row-disjoint (inserts mint fresh UUIDs;
        rewrites collapse to one generation first)."""
        gens = mapping[library_id]
        while True:
            tiers: dict[int, list[dict]] = {}
            for g in gens:
                t = 0
                n = g["rows"]
                while n >= self._COMPACT_FANOUT:
                    n //= self._COMPACT_FANOUT
                    t += 1
                tiers.setdefault(t, []).append(g)
            victims = next(
                (gs for gs in tiers.values() if len(gs) >= self._COMPACT_FANOUT), None
            )
            if victims is None:
                mapping[library_id] = gens
                return
            df = self.spark.read.schema(CHUNK_SCHEMA).parquet(*[g["dir"] for g in victims])
            merged = self._write_generation(
                library_id, df, sum(g["rows"] for g in victims)
            )
            victim_dirs = {g["dir"] for g in victims}
            first = next(i for i, g in enumerate(gens) if g["dir"] in victim_dirs)
            gens = [g for g in gens if g["dir"] not in victim_dirs]
            gens.insert(first, merged)

    def vacuum(self, retain_last: int = 1) -> None:
        """Drop version directories not referenced by the last
        ``retain_last`` commits of each table (default 1 = current only).
        ``retain_last > 1`` keeps that many time-travel snapshots readable
        — the Delta ``VACUUM ... RETAIN`` contract in commit units."""
        retain_last = max(1, retain_last)
        keep: set[str] = set()
        for t in _DIM_TABLES:
            keep.add(self._read_pointer(t))
            for e in self.history(t)[-retain_last:]:
                keep.add(e["snapshot"])
        keep |= {g["dir"] for gens in self._chunks_map().values() for g in gens}
        for e in self.history("chunks")[-retain_last:]:
            keep |= {g["dir"] for gens in e["snapshot"].values() for g in gens}
        for entry in os.listdir(self.root):
            path = os.path.join(self.root, entry)
            if os.path.isdir(path) and ".v" in entry and path not in keep:
                shutil.rmtree(path, ignore_errors=True)

    # ---- helpers --------------------------------------------------------

    def _bump_library(self, libs: DataFrame, library_id: str, ts) -> DataFrame:
        """version += 1, updated_at = ts for one library (library_repo.py:74)."""
        hit = F.col("library_id") == library_id
        return libs.withColumn(
            "version", F.when(hit, F.col("version") + 1).otherwise(F.col("version"))
        ).withColumn(
            "updated_at", F.when(hit, F.lit(ts)).otherwise(F.col("updated_at"))
        )

    def _require(self, table: str, **keys) -> None:
        df = self.read(table)
        for k, v in keys.items():
            df = df.filter(F.col(k) == v)
        if not df.take(1):
            raise NotFoundError(f"{table}: {keys} not found")

    # ---- libraries (S1/S2/S5/S6/S7) -------------------------------------

    def create_library(self, name: str, description: str | None = None, tags: str | None = None) -> str:
        lib_id = str(uuid.uuid4())
        ts = _now()
        row = [(lib_id, name, description, tags, ts, ts, 0)]
        new = local_frame(self.spark, row, LIBRARY_SCHEMA)
        self._write("libraries", self.read("libraries").unionByName(new))
        return lib_id

    def get_library(self, library_id: str):
        rows = self.read("libraries").filter(F.col("library_id") == library_id).collect()
        if not rows:
            raise NotFoundError(f"library {library_id}")
        return rows[0]

    def list_libraries(self) -> DataFrame:
        return self.read("libraries")

    def library_version(self, library_id: str) -> int:
        """Metadata-plane point read. This runs on EVERY served search
        (ChunkIndexStore.refresh's staleness check), so it must not launch
        a Spark job: the libraries dim table is one tiny parquet directory
        behind the pointer — read it driver-side with pyarrow (~1 ms vs
        ~100 ms for a cluster job). Falls back to the Spark path if the
        arrow read surprises (schema drift, remote FS)."""
        try:
            import glob as _glob

            import pyarrow.parquet as _pq

            files = _glob.glob(
                os.path.join(self._read_pointer("libraries"), "*.parquet")
            )
            if files:
                for fp in files:
                    t = _pq.read_table(fp, columns=["library_id", "version"])
                    ids = t.column("library_id").to_pylist()
                    if library_id in ids:
                        return int(t.column("version")[ids.index(library_id)].as_py())
                raise NotFoundError(f"library {library_id}")
        except (OSError, KeyError) as e:
            if isinstance(e, NotFoundError):
                raise
        return int(self.get_library(library_id)["version"])

    def update_library(
        self, library_id: str, *, name=None, description=None, tags=None
    ) -> None:
        """Whitelist partial update (library_repo.py:56-75) + version bump."""
        self._require("libraries", library_id=library_id)
        ts = _now()
        libs = self.read("libraries")
        hit = F.col("library_id") == library_id
        for col, val in (("name", name), ("description", description), ("tags", tags)):
            if val is not None:
                libs = libs.withColumn(col, F.when(hit, F.lit(val)).otherwise(F.col(col)))
        self._write("libraries", self._bump_library(libs, library_id, ts))

    def delete_library(self, library_id: str) -> None:
        """Cascade: drop the library, its documents and chunks
        (library_repo.py:77-83)."""
        self._require("libraries", library_id=library_id)
        self._write(
            "libraries", self.read("libraries").filter(F.col("library_id") != library_id)
        )
        self._write(
            "documents", self.read("documents").filter(F.col("library_id") != library_id)
        )
        mapping = self._chunks_map()
        mapping.pop(library_id, None)  # drop the library's chunk directory
        self._flip_chunks_map(mapping)

    # ---- documents ------------------------------------------------------

    def add_document(self, library_id: str, title: str, category: str | None = None) -> str:
        self._require("libraries", library_id=library_id)
        doc_id = str(uuid.uuid4())
        ts = _now()
        new = local_frame(
            self.spark,
            [(doc_id, library_id, title, category, ts, ts)], DOCUMENT_SCHEMA
        )
        self._write("documents", self.read("documents").unionByName(new))
        self._write("libraries", self._bump_library(self.read("libraries"), library_id, ts))
        return doc_id

    def get_document(self, library_id: str, doc_id: str):
        rows = (
            self.read("documents")
            .filter((F.col("library_id") == library_id) & (F.col("doc_id") == doc_id))
            .collect()
        )
        if not rows:
            raise NotFoundError(f"document {doc_id}")
        return rows[0]

    def list_documents(self, library_id: str) -> DataFrame:
        return self.read("documents").filter(F.col("library_id") == library_id)

    def update_document(self, library_id: str, doc_id: str, *, title=None, category=None) -> None:
        """Whitelist: title/category only (document_repo.py:78-82)."""
        self._require("documents", library_id=library_id, doc_id=doc_id)
        ts = _now()
        docs = self.read("documents")
        hit = (F.col("library_id") == library_id) & (F.col("doc_id") == doc_id)
        for col, val in (("title", title), ("category", category)):
            if val is not None:
                docs = docs.withColumn(col, F.when(hit, F.lit(val)).otherwise(F.col(col)))
        docs = docs.withColumn("updated_at", F.when(hit, F.lit(ts)).otherwise(F.col("updated_at")))
        self._write("documents", docs)
        self._write("libraries", self._bump_library(self.read("libraries"), library_id, ts))

    def delete_document(self, library_id: str, doc_id: str) -> None:
        """Cascade: drops the document's chunks (document_repo.py:51-63)."""
        self._require("documents", library_id=library_id, doc_id=doc_id)
        ts = _now()
        self._write(
            "documents", self.read("documents").filter(F.col("doc_id") != doc_id)
        )
        self._rewrite_chunks_library(
            library_id, self.read_chunks_library(library_id).filter(F.col("doc_id") != doc_id)
        )
        self._write("libraries", self._bump_library(self.read("libraries"), library_id, ts))

    # ---- chunks ---------------------------------------------------------

    def add_chunk(
        self,
        library_id: str,
        doc_id: str,
        text: str,
        embedding: list[float] | None = None,
        meta_type: str | None = None,
        *,
        embed_if_missing: bool = False,
        dim: int | None = None,
    ) -> str:
        self._require("documents", library_id=library_id, doc_id=doc_id)
        if embedding is None and embed_if_missing:
            try:
                embedding = self.provider.embed_text(text, dim or self.default_dim)
            except Exception:
                embedding = None  # same swallow as chunk_service.py:43-45
        chunk_id = str(uuid.uuid4())
        ts = _now()
        emb = [float(x) for x in embedding] if embedding is not None else None
        new = local_frame(
            self.spark,
            [(chunk_id, doc_id, library_id, text, emb, meta_type, ts, ts)], CHUNK_SCHEMA
        )
        self._append_chunks_library(library_id, new, rows=1)
        self._write("libraries", self._bump_library(self.read("libraries"), library_id, ts))
        return chunk_id

    def add_chunks_bulk(
        self,
        library_id: str,
        doc_id: str,
        df: DataFrame,
        *,
        text_col: str = "text",
        embedding_col: str | None = "embedding",
        meta_type_col: str | None = None,
        id_col: str | None = None,
    ) -> int:
        """Bulk chunk ingestion: the whole frame lands as ONE immutable
        generation and ONE library version bump — the corpus-load scale
        path beside :meth:`add_chunk`'s row-at-a-time reference semantic
        (chunk_service.py's single-chunk POST). O(delta) write, no per-row
        driver round-trips; compaction tiers absorb the generation like any
        other.

        ``id_col`` supplies deterministic chunk ids (required for exactly-
        once semantics under task retries on a real cluster — ``uuid()``
        re-evaluates per attempt); when omitted, ids are minted per row
        like the reference does. Returns the number of chunks inserted."""
        self._require("documents", library_id=library_id, doc_id=doc_id)
        ts = _now()
        cid = (
            F.col(id_col).cast("string")
            if id_col
            else F.expr("uuid()")
        )
        emb = (
            F.col(embedding_col).cast("array<float>")
            if embedding_col
            else F.lit(None).cast("array<float>")
        )
        meta = (
            F.col(meta_type_col).cast("string")
            if meta_type_col
            else F.lit(None).cast("string")
        )
        new_rows = df.select(
            cid.alias("chunk_id"),
            F.lit(doc_id).alias("doc_id"),
            F.lit(library_id).alias("library_id"),
            F.col(text_col).cast("string").alias("text"),
            emb.alias("embedding"),
            meta.alias("meta_type"),
            F.lit(ts).alias("created_at"),
            F.lit(ts).alias("updated_at"),
        )
        before = sum(
            g["rows"] for g in self._chunks_map().get(library_id, [])
        )
        # rows=None: the generation is written with the plan's natural
        # parallelism and counted from parquet footers — ONE pass over the
        # source (a pre-count would re-evaluate uuid() a second time).
        self._append_chunks_library(library_id, new_rows, rows=None)
        self._write(
            "libraries", self._bump_library(self.read("libraries"), library_id, ts)
        )
        after = sum(g["rows"] for g in self._chunks_map().get(library_id, []))
        return after - before

    def list_chunks(self, library_id: str, doc_id: str) -> DataFrame:
        return self.read_chunks_library(library_id).filter(F.col("doc_id") == doc_id)

    def get_chunk(self, library_id: str, chunk_id: str):
        rows = (
            self.read_chunks_library(library_id)
            .filter(F.col("chunk_id") == chunk_id)
            .collect()
        )
        if not rows:
            raise NotFoundError(f"chunk {chunk_id}")
        return rows[0]

    def update_chunk(
        self,
        library_id: str,
        chunk_id: str,
        *,
        text: str | None = None,
        embedding: list[float] | None = None,
        meta_type: str | None = None,
        reembed_if_needed: bool = True,
        dim: int | None = None,
    ) -> None:
        """Whitelist: text/embedding/meta_type (chunk_repo.py:90-93). If text
        changes and no embedding is supplied, re-embed via the provider;
        provider failure keeps the old embedding (chunk_service.py:23-48)."""
        old = self.get_chunk(library_id, chunk_id)
        if text is not None and embedding is None and reembed_if_needed and text != old["text"]:
            try:
                embedding = self.provider.embed_text(text, dim or self.default_dim)
            except Exception:
                embedding = None
        ts = _now()
        chunks = self.read_chunks_library(library_id)
        hit = F.col("chunk_id") == chunk_id
        if text is not None:
            chunks = chunks.withColumn("text", F.when(hit, F.lit(text)).otherwise(F.col("text")))
        if embedding is not None:
            emb_lit = F.array(*[F.lit(float(x)) for x in embedding]).cast("array<float>")
            chunks = chunks.withColumn(
                "embedding", F.when(hit, emb_lit).otherwise(F.col("embedding"))
            )
        if meta_type is not None:
            chunks = chunks.withColumn(
                "meta_type", F.when(hit, F.lit(meta_type)).otherwise(F.col("meta_type"))
            )
        chunks = chunks.withColumn(
            "updated_at", F.when(hit, F.lit(ts)).otherwise(F.col("updated_at"))
        )
        self._rewrite_chunks_library(library_id, chunks)
        self._write("libraries", self._bump_library(self.read("libraries"), library_id, ts))

    def delete_chunk(self, library_id: str, chunk_id: str) -> None:
        # Existence check against ONE library's directories, not the union
        # of every library (the reference's delete is likewise scoped to the
        # owning library, chunk_repo.py:47-62).
        if not (
            self.read_chunks_library(library_id)
            .filter(F.col("chunk_id") == chunk_id)
            .take(1)
        ):
            raise NotFoundError(f"chunks: {library_id}/{chunk_id} not found")
        ts = _now()
        self._rewrite_chunks_library(
            library_id,
            self.read_chunks_library(library_id).filter(F.col("chunk_id") != chunk_id),
        )
        self._write("libraries", self._bump_library(self.read("libraries"), library_id, ts))
