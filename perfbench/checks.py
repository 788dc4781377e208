"""Output checks. Every check returns a list of error strings (empty = ok);
the workloads count an operation with any error as failed.

The search checks compare the engine's hits with the benchmark's own shadow
copy of the library, scored exactly in numpy float64. The engine's order is
score descending, then ``chunk_id`` ascending; scores must match within
``TOL``, and chunks whose exact score is within ``TOL`` of the k-th score
are ties, any of which may fill the last places.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from inputs import Library

TOL = 1e-9
FALLBACK_MAX_ROWS = 10_000  # the engine's LSH -> brute fallback bound


class Shadow:
    """Mutable numpy copy of one library: unit vectors, visibility (embedded
    and not deleted), meta types and texts, indexed by chunk id."""

    def __init__(self, lib: Library) -> None:
        emb = lib.embeddings.astype(np.float64)
        norms = np.linalg.norm(emb, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        self.ids = list(lib.chunk_ids)
        self.pos = {cid: i for i, cid in enumerate(self.ids)}
        self.unit = np.where(lib.has_embedding[:, None], emb / norms, 0.0)
        self.visible = lib.has_embedding.copy()
        self.meta = np.array(lib.meta_types, dtype=object)
        self.texts = list(lib.texts)

    def _unit(self, vec) -> np.ndarray:
        v = np.asarray(vec, dtype=np.float32).astype(np.float64)
        n = np.linalg.norm(v)
        return v / n if n else v

    def add(self, cid: str, vec, meta_type: str, text: str) -> None:
        self.pos[cid] = len(self.ids)
        self.ids.append(cid)
        self.unit = np.vstack([self.unit, self._unit(vec)])
        self.visible = np.append(self.visible, True)
        self.meta = np.append(self.meta, np.array([meta_type], dtype=object))
        self.texts.append(text)

    def update(self, cid: str, vec) -> None:
        self.unit[self.pos[cid]] = self._unit(vec)

    def delete(self, cid: str) -> None:
        self.visible[self.pos[cid]] = False

    def rows(self, meta_type: str | None) -> np.ndarray:
        mask = self.visible
        if meta_type is not None:
            mask = mask & (self.meta == meta_type)
        return np.flatnonzero(mask)

    def scores(self, rows: np.ndarray, qvec) -> np.ndarray:
        return self.unit[rows] @ self._unit_q(qvec)

    @staticmethod
    def _unit_q(qvec) -> np.ndarray:
        q = np.asarray(qvec, dtype=np.float64)
        n = np.linalg.norm(q)
        return q / n if n else q


def _bucket_codes(vectors: np.ndarray, planes) -> np.ndarray:
    """(n, T) LSH bucket codes: bit i of table t is set iff the vector's dot
    product with plane i of table t is >= 0."""
    p = np.asarray(planes, dtype=np.float64)  # (T, P, D)
    bits = np.einsum("nd,tpd->ntp", vectors, p) >= 0.0
    return (bits * (1 << np.arange(p.shape[1], dtype=np.int64))).sum(axis=2)


def _hit_errors(shadow: Shadow, score_of: dict, hits: list[dict],
                meta_type: str | None) -> list[str]:
    """Per-hit properties: a searchable row, exact score, fields as stored,
    passes the filter, unique, and in the engine's order."""
    errs: list[str] = []
    seen = set()
    for i, h in enumerate(hits):
        cid = h["chunk_id"]
        if cid in seen:
            errs.append(f"duplicate hit {cid}")
        seen.add(cid)
        if cid not in score_of:
            errs.append(f"hit {cid} is not a searchable row")
            continue
        if abs(h["score"] - score_of[cid]) > TOL:
            errs.append(f"hit {cid} score {h['score']!r} != exact {score_of[cid]!r}")
        p = shadow.pos[cid]
        if meta_type is not None and h["meta_type"] != meta_type:
            errs.append(f"hit {cid} fails filter meta_type={meta_type}")
        if h["meta_type"] != shadow.meta[p] or h["text"] != shadow.texts[p]:
            errs.append(f"hit {cid} fields differ from the library")
        if i and (h["score"] > hits[i - 1]["score"] + TOL or (
                h["score"] == hits[i - 1]["score"] and cid < hits[i - 1]["chunk_id"])):
            errs.append(f"hits out of order at rank {i + 1}")
    return errs


def _topk_errors(shadow: Shadow, rows: np.ndarray, exact: np.ndarray, k: int,
                 hits: list[dict], meta_type: str | None) -> list[str]:
    """Exact top-k: the per-hit properties, k hits, none below the k-th
    exact score, and every row above it (ties aside) present."""
    want = min(k, len(rows))
    errs = [] if len(hits) == want else [f"{len(hits)} hits, expected {want}"]
    if not hits or want == 0:
        return errs
    score_of = dict(zip((shadow.ids[r] for r in rows), exact))
    errs += _hit_errors(shadow, score_of, hits, meta_type)
    kth = np.sort(exact)[::-1][want - 1]
    low = [h["chunk_id"] for h in hits if h["score"] < kth - TOL]
    if low:
        errs.append(f"{len(low)} hits below the k-th exact score {kth!r}, e.g. {low[0]}")
    missing = {shadow.ids[r] for r, s in zip(rows, exact) if s > kth + TOL} - {
        h["chunk_id"] for h in hits}
    if missing:
        errs.append(f"{len(missing)} chunks above the k-th score missing, e.g. {min(missing)}")
    return errs


def check_brute(shadow: Shadow, qvec, k: int, meta_type: str | None,
                hits: list[dict]) -> list[str]:
    rows = shadow.rows(meta_type)
    return _topk_errors(shadow, rows, shadow.scores(rows, qvec), k, hits, meta_type)


def check_lsh(shadow: Shadow, qvec, k: int, meta_type: str | None, hits: list[dict],
              index_used: str, planes) -> tuple[list[str], int, int, float]:
    """Contract of the LSH path: at most k hits, each with its exact score,
    in order, passing the filters; brute fallback (then the exact top-k)
    happens iff no row shares a bucket with the query and at most
    ``FALLBACK_MAX_ROWS`` rows pass the filters. Returns (errors, hits
    within the exact top-k, the size of that top-k, fraction of rows that
    are candidates); recall@k is their ratio."""
    rows = shadow.rows(meta_type)
    exact = shadow.scores(rows, qvec)
    qcode = _bucket_codes(Shadow._unit_q(qvec)[None, :], planes)[0]
    cand = (_bucket_codes(shadow.unit[rows], planes) == qcode).any(axis=1)
    frac = float(cand.mean()) if len(rows) else 0.0
    fallback = not cand.any() and len(rows) <= FALLBACK_MAX_ROWS
    errs: list[str] = []
    if index_used != ("brute" if fallback else "lsh"):
        errs.append(f"index_used={index_used}, fallback rule gives "
                    f"{'brute' if fallback else 'lsh'}")
    if fallback:
        errs += _topk_errors(shadow, rows, exact, k, hits, meta_type)
    else:
        errs += _hit_errors(shadow, dict(zip((shadow.ids[r] for r in rows), exact)),
                            hits, meta_type)
        if len(hits) > k:
            errs.append(f"{len(hits)} hits for k={k}")
    want = min(k, len(rows))
    if want == 0:
        return errs, 0, 0, frac
    kth = np.sort(exact)[::-1][want - 1]
    score_of = dict(zip((shadow.ids[r] for r in rows), exact))
    good = sum(1 for h in hits if score_of.get(h["chunk_id"], -2.0) >= kth - TOL)
    return errs, good, want, frac


def check_response(resp: dict, *, version: int, index: str) -> list[str]:
    errs = []
    if resp.get("library_version") != version:
        errs.append(f"library_version {resp.get('library_version')} != {version}")
    if resp.get("index") != index:
        errs.append(f"index {resp.get('index')} != {index}")
    return errs


def check_read_your_write(write: dict, cid: str, hits: list[dict]) -> list[str]:
    """The first search after a write queries the written vector (or, for a
    delete, the deleted chunk's old vector)."""
    ids = [h["chunk_id"] for h in hits]
    if write["op"] == "delete":
        return [f"deleted chunk {cid} still returned"] if cid in ids else []
    if not ids or ids[0] != cid:
        return [f"{write['op']} chunk {cid} not at rank 1 (got {ids[:1]})"]
    if abs(hits[0]["score"] - 1.0) > 1e-6:
        return [f"{write['op']} chunk {cid} scores {hits[0]['score']!r}, expected 1"]
    return []


# ---------------------------------------------------------------------------
# Batch pipeline
# ---------------------------------------------------------------------------


def normalize_rows(df: pd.DataFrame) -> list[tuple]:
    """The oracle comparison form: columns sorted by name, floats rounded to
    9 decimals, rows sorted."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        rows.append(tuple(
            None if v is None or (isinstance(v, float) and math.isnan(v))
            else round(float(v), 9) if isinstance(v, (float, np.floating))
            else v.item() if isinstance(v, np.generic) else v
            for v in tup
        ))
    return sorted(rows, key=repr)


def check_oracle(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    a, b = normalize_rows(got), normalize_rows(want)
    if a == b:
        return []
    only_got = [r for r in a if r not in set(b)][:1]
    only_want = [r for r in b if r not in set(a)][:1]
    return [f"{name}: {len(a)} rows vs oracle {len(b)}; "
            f"first extra {only_got}, first missing {only_want}"]


def shingle_sets(texts: dict[int, str], n: int = 5) -> dict[int, set[str]]:
    """The engine's shingling: lower-cased whitespace tokens, positional
    word n-grams; documents shorter than n tokens have none."""
    out = {}
    for doc_id, text in texts.items():
        toks = re.split(r"\s+", text.lower().strip(" "))
        if len(toks) >= n:
            out[doc_id] = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    return out


def exact_jaccard_pairs(texts: dict[int, str], tau: float, n: int = 5) -> dict[tuple, float]:
    """All (id1 < id2) pairs with Jaccard (rounded to 6) >= tau, by an
    inverted index over shingles — the exact answer MinHash-LSH
    approximates."""
    sets = shingle_sets(texts, n)
    postings: dict[str, list[int]] = {}
    for d, s in sets.items():
        for sh in s:
            postings.setdefault(sh, []).append(d)
    common: dict[tuple, int] = {}
    for ds in postings.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                common[(a, b)] = common.get((a, b), 0) + 1
    out = {}
    for (a, b), c in common.items():
        j = round(c / (len(sets[a]) + len(sets[b]) - c), 6)
        if j >= tau:
            out[(a, b)] = j
    return out


def cluster_pair_recall(clusters: pd.DataFrame, exact: dict[tuple, float]) -> float:
    """Share of the exact near-duplicate pairs whose two documents the
    MinHash-LSH clustering put in one cluster."""
    cluster_of = dict(zip(clusters["doc_id"], clusters["cluster_id"]))
    if not exact:
        return 1.0
    together = 0
    for a, b in exact:
        ca = cluster_of.get(a)
        together += ca is not None and ca == cluster_of.get(b)
    return together / len(exact)
