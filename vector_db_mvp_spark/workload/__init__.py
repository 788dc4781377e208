"""Query inventory: every operator from SURVEY.md §2 (plus north-star
LLM-data-pipeline operators) as (Spark plan, DuckDB oracle SQL) pairs,
assembled from per-domain modules.

Each Spark callable takes ``(spark, sf_dir)`` and returns a DataFrame; each
oracle is ANSI SQL DuckDB runs over the same parquet views. Columns are
aliased identically on both sides (the driver hash-compares after sorting
columns by name). Queries without an oracle entry get the driver's weaker
rows-only check (genuinely non-SQL-expressible ops only).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import curation, media, relational, text, vector

_MODULES = (vector, relational, text, curation, media)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}

for _m in _MODULES:
    _overlap = set(QUERIES) & set(_m.QUERIES)
    assert not _overlap, f"duplicate query names: {_overlap}"
    QUERIES.update(_m.QUERIES)
    ORACLE_SQL.update(_m.ORACLE_SQL)

# ---------------------------------------------------------------------------
# Driver-gate rotation (least-recently-verified scheduling). The external
# correctness gate checks at most the FIRST 50 registry entries per round;
# the surface is larger, so the registry order is a fair LRU rotation
# COMPUTED from the driver's own CORRECTNESS_r*.json records — no hand
# curation of which queries the gate sees:
#
#   1. queries with no driver-green row in ANY round yet (alphabetical);
#   2. queries whose implementation changed this round (listed explicitly
#      below so behavior changes are re-verified, never hidden);
#   3. everything else, least-recently-green first (then alphabetical).
#
# This provably cycles: each round the ~50 checked queries become
# most-recently-green and drop to the back, so the stalest 50 advance —
# every query gets a fresh driver-green row at least every ceil(N/50)
# rounds. If the CORRECTNESS files are absent (fresh checkout), the order
# degenerates to alphabetical, which still rotates once records accumulate.
# ---------------------------------------------------------------------------

# Queries whose Spark plan or operator implementation changed this round.
# They are forced INTO the gate window (priority 2) for re-verification.
_CHANGED_THIS_ROUND = [
    # rounds 15-16 (re-verify the plans those rounds changed)
    # media_resize_real: build+resize fused into one mapInPandas.
    "media_resize_real",
    # hoisted L2 norms + unrolled codegen dot (sql_dot_cols); the dbscan
    # per-bucket pre-trim window is removed again this round.
    "dbscan_knn_clusters",
    "dbscan_embedding_clusters",
    "dedup_embedding_lsh",
    # kcore / connected components fuse the lazy checkpoint with the
    # convergence count.
    "dedup_clusters",
    "substring_clusters",
    "part_golden_record",
    "part_kcore",
    "part_kcore_served",
    # this round: driver-built rows enter the plan as an Arrow local
    # relation (session.local_frame) instead of a PythonRDD scan. The set
    # is every registered query whose builder calls local_frame at
    # sf0.001 (found by running all builders with a spy on it); the
    # union-find consumers above are in it too.
    "ann_ivf_recall_curve",
    "bm25_batch",
    "bpe_train_merges",
    "corpus_curation",
    "dedup_keep_best",
    "domain_quality_rollup",
    "lsh_topk_served_after_delete",
    "mmr_topk",
    "sequence_packing",
    "sequence_packing_bpe",
    # LSH bucket codes come from one exact Arrow kernel
    # (functions.lsh.bucket_codes) and query codes from its driver twin,
    # filtered by one parsed candidate predicate. The set is every
    # registered query whose builder calls bucket_codes or
    # bucket_codes_python at sf0.001 (all builders run with a spy on both);
    # the dbscan and embedding-dedup queries above are in it too.
    "ann_lsh_recall",
    "lsh_batch_topk",
    "lsh_topk",
    "lsh_topk_served",
]


def _last_green_rounds() -> dict[str, int]:
    """Per-query latest round with a driver-green row (0 = never checked),
    read from the CORRECTNESS_r*.json files the driver writes at the repo
    root. Oracle-less queries count rows_match as green (the driver's
    weaker check is all they can earn)."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    last: dict[str, int] = {}
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = bool(row.get("hash_match")) or (
                row.get("hash_match") is None and bool(row.get("rows_match"))
            )
            if green:
                last[name] = max(last.get(name, 0), rnd)
    return last


_LAST_GREEN = _last_green_rounds()


def _gate_key(name: str) -> tuple[int, int, str]:
    if _LAST_GREEN.get(name, 0) == 0:
        return (0, 0, name)
    if name in _CHANGED_THIS_ROUND:
        return (1, 0, name)
    return (2, _LAST_GREEN[name], name)


QUERIES = {n: QUERIES[n] for n in sorted(QUERIES, key=_gate_key)}
