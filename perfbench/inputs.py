"""Seeded input generators for the benchmark.

Everything the engine receives is made here from the ``--seed`` argument, so
the same seed gives byte-identical inputs. The engine never sees the seed.

- ``make_library`` — a chunk library for the search workloads: clustered
  D-dimensional float32 vectors, NULL embeddings, exact duplicate vectors
  (score ties) and a skewed ``meta_type``.
- ``query_plan`` — the fixed search mix (brute, LSH, filtered brute, text)
  crossed with k in {1, 5, 100}.
- ``write_plan`` — the add/update/delete sequence of the write workload.
- ``make_corpus`` — the tables the batch pipeline reads (documents and
  embeddings), written as parquet with the fixture schemas.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

META_TYPES = ("paragraph", "heading", "list", "landmark", "city")
META_WEIGHTS = (0.62, 0.2, 0.1, 0.06, 0.02)
KS = (1, 5, 100)
QUERY_KINDS = ("brute", "lsh", "brute_filter", "text")
WRITE_PATTERN = ("add", "update", "delete", "add", "add", "update", "add")
_WORDS = (
    "scan join table value hash merge sort window batch stream spark query "
    "row column filter group order key agg part line data fast slow big "
    "small vector customer"
).split()
_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
_LANG = {  # marker words; English documents draw from the stopwords
    "en": _STOP,
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "los", "que", "y", "una"),
    "fr": ("le", "les", "et", "une", "est"),
}


@dataclass
class Library:
    """A generated library. ``embeddings`` holds a vector for every chunk;
    only the rows marked in ``has_embedding`` are stored with one."""

    chunk_ids: list[str]
    texts: list[str]
    meta_types: list[str]
    embeddings: np.ndarray  # (N, D) float32
    has_embedding: np.ndarray  # (N,) bool
    stats: dict = field(default_factory=dict)

    def frame(self) -> pd.DataFrame:
        emb = [
            row if ok else None
            for row, ok in zip(self.embeddings.tolist(), self.has_embedding)
        ]
        return pd.DataFrame(
            {
                "cid": self.chunk_ids,
                "text": self.texts,
                "embedding": emb,
                "meta_type": self.meta_types,
            }
        )


def make_library(seed: int, n: int, dim: int = 64, *, null_frac: float = 0.1,
                 dup_frac: float = 0.01, clusters: int = 24) -> Library:
    rng = np.random.default_rng([seed, n, dim])
    centers = rng.standard_normal((clusters, dim))
    # Skewed cluster sizes: a few dense regions and a thinner tail.
    weights = 1.0 / np.arange(1, clusters + 1) ** 0.5
    assign = rng.choice(clusters, size=n, p=weights / weights.sum())
    vecs = centers[assign] + 0.3 * rng.standard_normal((n, dim))
    vecs = vecs.astype(np.float32)
    n_dup = int(round(n * dup_frac))
    src = rng.choice(n, size=n_dup, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), size=n_dup, replace=False)
    vecs[dst] = vecs[src]
    has = rng.random(n) >= null_frac
    has[src] = True
    has[dst] = True
    metas = rng.choice(len(META_TYPES), size=n, p=META_WEIGHTS)
    meta_types = [META_TYPES[i] for i in metas]
    words = rng.choice(len(_WORDS), size=(n, 6))
    texts = [f"chunk {i} " + " ".join(_WORDS[w] for w in row) for i, row in enumerate(words)]
    lib = Library(
        chunk_ids=[f"c{seed}-{i:07d}" for i in range(n)],
        texts=texts,
        meta_types=meta_types,
        embeddings=vecs,
        has_embedding=has,
    )
    counts = {m: meta_types.count(m) for m in META_TYPES}
    lib.stats = {
        "n": n,
        "dim": dim,
        "null_fraction": round(float(1.0 - has.mean()), 6),
        "duplicate_vectors": n_dup,
        "meta_type": counts,
    }
    return lib


@dataclass
class Query:
    kind: str
    k: int
    vector: list[float] | None = None
    text: str | None = None
    meta_type: str | None = None

    def body(self) -> dict:
        """The POST body of ``VectorDbApi.search``."""
        if self.kind == "text":
            return {"query_text": self.text, "k": self.k}
        body = {
            "query_embedding": self.vector,
            "k": self.k,
            "index": "lsh" if self.kind == "lsh" else "brute",
        }
        if self.meta_type is not None:
            body["filters"] = {"meta_type": self.meta_type}
        return body


def query_plan(seed: int, lib: Library, passes: int) -> list[list[Query]]:
    """``passes`` passes of the 12-query mix. A query vector is a perturbed
    copy of a random embedded chunk, so it has near neighbours; filter
    values cycle over the three common ``meta_type`` values."""
    rng = np.random.default_rng([seed, 7])
    pool = np.flatnonzero(lib.has_embedding)
    out = []
    for p in range(passes):
        one = []
        for kind in QUERY_KINDS:
            for k in KS:
                if kind == "text":
                    one.append(Query(kind, k, text=f"query {seed} {p} {k}"))
                    continue
                base = lib.embeddings[rng.choice(pool)].astype(np.float64)
                vec = base + 0.05 * rng.standard_normal(base.shape[0])
                meta = META_TYPES[(p + KS.index(k)) % 3] if kind == "brute_filter" else None
                one.append(Query(kind, k, vector=[float(x) for x in vec], meta_type=meta))
        out.append(one)
    return out


def write_plan(seed: int, lib: Library, cycles: int) -> list[dict]:
    """The write of each cycle, in ``WRITE_PATTERN`` order (4 adds, 2
    updates, 1 delete per 7). Targets of updates and deletes are distinct
    embedded chunks of the original library; new vectors are fresh Gaussian
    draws, so a query with one has it as its unique exact match."""
    rng = np.random.default_rng([seed, 11])
    dim = lib.embeddings.shape[1]
    targets = iter(rng.permutation(np.flatnonzero(lib.has_embedding)).tolist())
    plan = []
    for c in range(cycles):
        op = WRITE_PATTERN[c % len(WRITE_PATTERN)]
        vec = [float(x) for x in rng.standard_normal(dim).astype(np.float32)]
        if op == "add":
            plan.append({"op": "add", "text": f"new chunk {seed} {c}", "embedding": vec,
                         "meta_type": META_TYPES[c % 3]})
        elif op == "update":
            plan.append({"op": "update", "index": next(targets), "embedding": vec})
        else:
            plan.append({"op": "delete", "index": next(targets)})
    return plan


# ---------------------------------------------------------------------------
# Batch pipeline corpus
# ---------------------------------------------------------------------------


def _doc_tokens(rng: np.random.Generator, lang: str) -> list[str]:
    n = int(rng.integers(30, 110))
    toks = [_WORDS[i] for i in rng.integers(0, len(_WORDS), n)]
    markers = _LANG[lang]
    for pos in rng.choice(n, size=max(1, n // 5), replace=False):
        toks[pos] = markers[int(rng.integers(0, len(markers)))]
    return toks


def _near_copy(rng: np.random.Generator, toks: list[str]) -> list[str]:
    """A near-duplicate: a few tokens replaced, so the 5-shingle Jaccard
    with the original spreads over roughly 0.4-0.95."""
    out = list(toks)
    edits = int(rng.integers(1, max(2, len(out) // 20)))
    for pos in rng.choice(len(out), size=edits, replace=False):
        out[pos] = _WORDS[int(rng.integers(0, len(_WORDS)))]
    return out


# Row counts of the repository's sf0.1 fixture (TESTDATA.md); the corpus is
# generated at ``frac`` of them.
SF01 = {"documents": 5_000, "embeddings": 2_000}


def make_corpus(seed: int, root: str, frac: float) -> dict:
    """Write documents and embeddings parquet under ``root`` at ``frac`` of
    the sf0.1 row counts and return their stated sizes."""
    docs, vectors = max(60, int(SF01["documents"] * frac)), max(40, int(SF01["embeddings"] * frac))
    dup_frac = 0.35
    rng = np.random.default_rng([seed, 3])
    os.makedirs(root, exist_ok=True)
    langs = list(_LANG)
    texts: list[str] = []
    doc_langs: list[str] = []
    n_base = int(docs * (1 - dup_frac))
    base: list[list[str]] = []
    for _ in range(n_base):
        lang = langs[int(rng.choice(len(langs), p=[0.55, 0.15, 0.15, 0.15]))]
        toks = _doc_tokens(rng, lang)
        base.append(toks)
        texts.append(" ".join(toks))
        doc_langs.append(lang)
    while len(texts) < docs:
        i = int(rng.integers(0, n_base))
        texts.append(" ".join(_near_copy(rng, base[i])))
        doc_langs.append(doc_langs[i])
    order = rng.permutation(docs)
    texts = [texts[i] for i in order]
    doc_langs = [doc_langs[i] for i in order]
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(docs, dtype=np.int64),
            "text": texts,
            "lang": doc_langs,
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    dim = 64
    centers = rng.standard_normal((12, dim))
    assign = rng.integers(0, 12, vectors)
    emb = centers[assign] + 0.6 * rng.standard_normal((vectors, dim))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(vectors, dtype=np.int64),
            "embedding": [row.astype(np.float32) for row in emb],
            "label": assign.astype(np.int32),
        }
    )

    _write(documents, os.path.join(root, "documents.parquet"))
    _write(embeddings, os.path.join(root, "embeddings.parquet"),
           {"embedding": pa.list_(pa.float32())})
    return {"documents": docs, "near_duplicate_docs": docs - n_base, "embeddings": vectors}


def _write(df: pd.DataFrame, path: str, types: dict | None = None) -> None:
    schema = pa.Schema.from_pandas(df, preserve_index=False)
    for name, typ in (types or {}).items():
        schema = schema.set(schema.get_field_index(name), pa.field(name, typ))
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
