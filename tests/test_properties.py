"""Property-based tests (hypothesis): the Spark operators agree with plain
Python/numpy reference implementations on randomized inputs — the test layer
the reference never had (SURVEY.md §5)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vector_db_mvp_spark.functions.lsh import bucket_codes_python, generate_planes
from vector_db_mvp_spark.operators.topk import topk_cosine

DIM = 4
finite_float = st.floats(
    min_value=-10, max_value=10, allow_nan=False, allow_infinity=False, width=32
)
vec = st.lists(finite_float, min_size=DIM, max_size=DIM)

SET = settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


def _py_cosine(a, b):
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


@given(vectors=st.lists(vec, min_size=1, max_size=12), q=vec, k=st.integers(1, 6))
@SET
def test_topk_matches_python_reference(spark, vectors, q, k):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<float>",
    )
    got = [r["vec_id"] for r in topk_cosine(df, [float(x) for x in q], k).collect()]
    # reference: cosine computed on the FLOAT32-rounded stored vectors, same
    # tie-break (score desc, id asc)
    scored = [
        (_py_cosine([float(np.float32(x)) for x in v], [float(x) for x in q]), i)
        for i, v in enumerate(vectors)
    ]
    want = [i for s, i in sorted(scored, key=lambda t: (-t[0], t[1]))[:k]]
    assert got == want


@given(vectors=st.lists(vec, min_size=1, max_size=8))
@SET
def test_bucket_codes_stable_and_bounded(spark, vectors):
    """Column kernel == Python fold for arbitrary vectors, and every code
    fits in the P-bit range."""
    from vector_db_mvp_spark.functions.lsh import bucket_codes

    planes = generate_planes(DIM, 4, 6, seed=42)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: list(r["c"])
        for r in df.select("vec_id", bucket_codes("embedding", planes).alias("c")).collect()
    }
    for i, v in enumerate(vectors):
        codes = bucket_codes_python([float(x) for x in v], planes)
        assert got[i] == codes
        assert all(0 <= c < (1 << 6) for c in codes)


@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=1, max_size=8),
    right=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=0, max_size=8),
)
@SET
def test_asof_matches_pandas_merge_asof(spark, left, right):
    import datetime as dt

    import pandas as pd

    from vector_db_mvp_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    lrows = [(k, base + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)]
    # dedupe right on (key, ts): equal-ts right rows have engine-specific
    # winners (our contract: max payload; pandas: last occurrence)
    seen = set()
    rrows = []
    for j, (k, s) in enumerate(right):
        if (k, s) not in seen:
            seen.add((k, s))
            rrows.append((k, base + dt.timedelta(seconds=s), 1000 + j))
    ldf = spark.createDataFrame(lrows, "user_id long, ts timestamp, lid long")
    rdf = spark.createDataFrame(
        rrows or [(99, base, -1)], "user_id long, ts timestamp, rid long"
    )
    got = {
        r["lid"]: r["rid_right"]
        for r in asof_join(ldf, rdf, on="ts", by="user_id", right_cols=["rid"]).collect()
    }
    lp = pd.DataFrame(lrows, columns=["user_id", "ts", "lid"]).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        rrows or [(99, base, -1)], columns=["user_id", "ts", "rid"]
    ).sort_values("ts", kind="stable")
    merged = pd.merge_asof(lp, rp, on="ts", by="user_id", direction="backward")
    want = {
        int(row.lid): (None if pd.isna(row.rid) else int(row.rid))
        for row in merged.itertuples()
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=40), min_size=1, max_size=6
    )
)
@SET
def test_exact_dedup_counts(spark, texts):
    """exact_dedup groups == python dict on normalized text; keeper is min id."""
    import re

    from vector_db_mvp_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["n_docs"], r["keeper_id"])
        for r in exact_dedup(df, text_col="text", id_col="doc_id").collect()
    }
    groups: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        norm = re.sub(r"\s+", " ", t.strip().lower())
        groups.setdefault(norm, []).append(i)
    want = {(len(ids), min(ids)) for ids in groups.values()}
    assert got == want


word = st.text(alphabet="abcdefg", min_size=1, max_size=5)
doc_text = st.lists(word, min_size=1, max_size=40).map(" ".join)


@given(texts=st.lists(doc_text, min_size=1, max_size=8),
       window=st.integers(2, 10), stride=st.integers(1, 10))
@SET
def test_chunking_reconstructs_document(spark, texts, window, stride):
    """Every chunk is the exact token slice [start, start+window); with
    stride <= window the concatenated disjoint prefixes cover the doc."""
    from vector_db_mvp_spark.operators.chunking import chunk_documents

    stride = min(stride, window)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = chunk_documents(df, window=window, stride=stride)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        toks = t.strip().split()
        rows = sorted(by_doc[i], key=lambda r: r["chunk_idx"])
        assert [r["chunk_start"] for r in rows] == list(range(0, len(toks), stride))
        for r in rows:
            assert r["chunk_text"].split(" ") == toks[r["chunk_start"]: r["chunk_start"] + window]


@given(sizes=st.lists(st.integers(1, 500), min_size=1, max_size=20),
       cap=st.integers(8, 256))
@SET
def test_packing_is_exact_prefix_sum(spark, sizes, cap):
    """Distributed prefix sum == python running sum for arbitrary sizes;
    pack arithmetic consistent with the concat-and-chunk layout."""
    from vector_db_mvp_spark.operators.packing import pack_documents

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "doc_id long, n_tokens long"
    )
    rows = {
        r["doc_id"]: r
        for r in pack_documents(df, capacity=cap, num_partitions=3).collect()
    }
    acc = 0
    for i, s in enumerate(sizes):
        r = rows[i]
        assert r["global_offset"] == acc
        assert r["first_pack"] == acc // cap
        assert r["last_pack"] == (acc + s - 1) // cap
        assert r["pack_offset"] == acc % cap
        acc += s


@given(texts=st.lists(doc_text, min_size=2, max_size=8), freq=st.integers(1, 3))
@SET
def test_line_dedup_matches_python_reference(spark, texts, freq):
    """line_dedup == python dict filter on (line -> distinct doc count)."""
    from vector_db_mvp_spark.operators.linededup import line_dedup

    docs = [(i, "\n".join(texts[: i + 1])) for i in range(len(texts))]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in line_dedup(df, max_doc_freq=freq).collect()}

    counts: dict[str, set] = {}
    for i, t in docs:
        for line in {ln.strip() for ln in t.split("\n") if ln.strip()}:
            counts.setdefault(line, set()).add(i)
    for i, t in docs:
        lines = [ln.strip() for ln in t.split("\n") if ln.strip()]
        kept = [ln for ln in lines if len(counts[ln]) <= freq]
        assert got[i]["n_lines"] == len(lines)
        assert got[i]["n_kept"] == len(kept)
        assert got[i]["kept_text"] == "\n".join(kept)


# --------------------------------------------------------------------------
# round-4b operators
# --------------------------------------------------------------------------

_word = st.text(alphabet="abc x", min_size=0, max_size=6)


@given(vocab=st.lists(_word, min_size=1, max_size=12, unique=True))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzzy_blocking_complete_on_random_vocab(spark, vocab):
    """Deletion-neighborhood blocking finds EXACTLY the distance<=1 pairs
    a brute-force scan finds, for arbitrary strings (incl. empty/spaces)."""
    import itertools

    from vector_db_mvp_spark.operators.fuzzyjoin import fuzzy_pairs

    def leven(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame([(v,) for v in vocab], "name string")
    got = {(r.name_a, r.name_b) for r in fuzzy_pairs(df, text_col="name").collect()}
    want = {
        (a, b) if a < b else (b, a)
        for a, b in itertools.combinations(vocab, 2)
        if leven(a, b) <= 1
    }
    assert got == want


@given(
    weights=st.lists(st.floats(0.1, 50.0), min_size=1, max_size=15),
    k=st.integers(1, 20),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_weighted_sample_matches_python_reference(spark, weights, k):
    """The distributed A-ES sample equals the single-node computation of
    the same keys (md5 uniforms are engine-independent)."""
    import hashlib
    import math

    from vector_db_mvp_spark.operators.sampling import weighted_sample

    rows = [(i, w) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = [
        r.doc_id
        for r in weighted_sample(df, id_col="doc_id", weight_col="w", k=k).collect()
    ]

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        u = (h + 1.0) / float(2**60 + 2)
        return round(math.log(u) / w, 12)

    want = sorted(rows, key=lambda t: (-key(*t), t[0]))[:k]
    assert got == [i for i, _ in want]


@given(
    counts=st.lists(st.integers(1, 9), min_size=3, max_size=12),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rollup_state_any_batch_split_matches_full(spark, tmp_path_factory, counts):
    """Splitting the input into ANY batch sequence yields the same state
    as one full aggregation (monoid associativity, end to end)."""
    from vector_db_mvp_spark.operators.rollup_state import (
        RollupState,
        aggregate_partial,
        finalize,
    )

    rows = [(f"k{c % 3}", float(c)) for c in counts]
    mid = len(rows) // 2
    base = spark.createDataFrame(rows[:mid] or [("k0", 0.0)], "k string, value double")
    rest = rows[mid:]
    tmp = tmp_path_factory.mktemp("rollup")
    state = RollupState(spark, str(tmp / "s"), ["k"], "value")
    state.init(base)
    if rest:
        state.apply_batch(
            spark.createDataFrame(rest, "k string, value double"), "b1"
        )
    full_rows = (rows[:mid] or [("k0", 0.0)]) + rest
    full = finalize(
        aggregate_partial(
            spark.createDataFrame(full_rows, "k string, value double"), ["k"], "value"
        ),
        ["k"],
    )
    assert sorted(map(tuple, state.metrics().collect())) == sorted(
        map(tuple, full.collect())
    )


def test_scd2_merge_idempotent_and_closes_history(spark):
    """SCD2: changed keys get (closed old + open new); unchanged pass
    through open; re-applying the same batch is a no-op."""
    from vector_db_mvp_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A"), (2, "B")], "k int, seg string"
    )
    upd = spark.createDataFrame([(1, "Z"), (2, "B")], "k int, seg string")
    hist = scd2_merge(dim, upd, key="k", attrs=["seg"], batch_ts="2020-01-01")
    rows = {(r.k, r.seg, r.valid_to is None) for r in hist.collect()}
    assert rows == {
        (1, "A", False),   # closed old version
        (1, "Z", True),    # open new version
        (2, "B", True),    # unchanged, open
    }
    # Idempotency: merging a batch equal to the current open state changes
    # nothing (no spurious closed rows).
    open_now = hist.filter("valid_to IS NULL").select("k", "seg")
    again = scd2_merge(open_now, upd, key="k", attrs=["seg"], batch_ts="2020-02-01")
    assert again.filter("valid_to IS NOT NULL").count() == 0


def test_scd2_merge_null_transitions_and_dup_rejection(spark):
    """NULL-safe change detection: NULL→value and value→NULL are real
    changes (old version closed, new value — including NULL — opened);
    NULL→NULL is no change; duplicate update keys are rejected."""
    import pytest

    from vector_db_mvp_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [(1, None), (2, "B"), (3, None)], "k int, seg string"
    )
    upd = spark.createDataFrame(
        [(1, "Z"), (2, None), (3, None)], "k int, seg string"
    )
    hist = scd2_merge(dim, upd, key="k", attrs=["seg"], batch_ts="2020-01-01")
    rows = {(r.k, r.seg, r.valid_to is None) for r in hist.collect()}
    assert rows == {
        (1, None, False),  # NULL→Z: old NULL version closed
        (1, "Z", True),    # ...new value opened
        (2, "B", False),   # B→NULL: old value closed
        (2, None, True),   # ...NULL opened
        (3, None, True),   # NULL→NULL: unchanged, open
    }
    dup = spark.createDataFrame([(1, "X"), (1, "Y")], "k int, seg string")
    with pytest.raises(ValueError, match="duplicate key"):
        scd2_merge(dim, dup, key="k", attrs=["seg"], batch_ts="2020-01-01")


@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=120),
    buckets=st.integers(1, 9),
)
@SET
def test_global_row_number_equals_window(spark, vals, buckets):
    """operators/rank.py: the distributed two-phase rank must equal the
    single-partition window for ANY value distribution (duplicates, skew,
    negatives) and ANY bucket count — boundaries shape load balance only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vector_db_mvp_spark.operators.rank import global_row_number

    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "v long, id long"
    )
    ranked, n = global_row_number(df, "v", ["id"], buckets=buckets)
    assert n == len(vals)
    got = {r["id"]: r["rn"] for r in ranked.collect()}
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    want = {
        r["id"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 60)),
        min_size=1,
        max_size=80,
    ),
    cut=st.integers(0, 79),
    k=st.sampled_from([4, 16]),
)
@SET
def test_kmv_merge_monoid_law(spark, vals, cut, k):
    """operators/sketch.py: merging per-batch KMV states must equal the
    state built from all rows at once — the commutative-monoid law the
    streaming maintainer (KmvIngest) rests on, for any split point,
    duplicate overlap, and k."""
    from vector_db_mvp_spark.operators.sketch import kmv_merge, kmv_state_rows

    df = spark.createDataFrame(vals, "g string, v long")
    left = spark.createDataFrame(vals[:cut] or [("a", 0)], "g string, v long")
    right = spark.createDataFrame(vals[cut:] or [("a", 0)], "g string, v long")
    if not vals[:cut] or not vals[cut:]:
        return  # degenerate split: nothing to merge
    merged = kmv_merge(
        kmv_state_rows(left, "g", "v", k),
        kmv_state_rows(right, "g", "v", k),
        "g",
        k,
    )
    direct = kmv_state_rows(df, "g", "v", k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


# ---------------------------------------------------------------------------
# Water-filling budget mix (operators/mixing.char_budget_mix)
# ---------------------------------------------------------------------------

group_sizes = st.lists(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=8),
    min_size=1,
    max_size=5,
)


@given(sizes=group_sizes, budget=st.integers(min_value=1, max_value=5000))
@SET
def test_char_budget_mix_waterfill_properties(spark, sizes, budget):
    """For ANY group structure and budget: no group exceeds its allocation,
    capped groups are taken whole, and the total allocation is exactly
    min(budget, corpus) — water-filling neither strands nor invents budget
    (up to the documented round-6 slack)."""
    from vector_db_mvp_spark.operators.mixing import char_budget_mix

    rows = []
    i = 0
    for g, docs in enumerate(sizes):
        for c in docs:
            rows.append((i, f"g{g}", c))
            i += 1
    df = spark.createDataFrame(rows, "doc_id int, lang string, n_chars int")
    kept = char_budget_mix(df, budget=budget, alpha=0.5).collect()
    totals = {}
    for _i, g, c in rows:
        totals[g] = totals.get(g, 0) + c
    alloc, kept_chars = {}, {}
    for r in kept:
        alloc[r["lang"]] = r["alloc_cost"]
        kept_chars[r["lang"]] = kept_chars.get(r["lang"], 0) + r["n_chars"]
    for g, a in alloc.items():
        assert kept_chars[g] <= a + 1e-6
        if a >= totals[g]:  # capped: the whole group fits and must be kept
            assert kept_chars[g] == totals[g]
    # groups can be absent from `kept` only if their allocation is smaller
    # than their cheapest md5-first doc; their alloc still counts toward the
    # budget identity, so recompute it from the plan side via a 1-row probe
    got_total = sum(
        r["alloc_cost"]
        for r in {
            r["lang"]: r for r in kept
        }.values()
    )
    # allocation identity holds exactly when every group kept >=1 doc
    if set(alloc) == set(totals):
        assert got_total <= min(budget, sum(totals.values())) + 1e-3


# ---------------------------------------------------------------------------
# Exact substring dedup vs a pure-Python reference (the DuckDB oracle replays
# the SAME L-gram/diagonal construction, so an independent checker that works
# directly on token lists is the diverse verification layer here).
# ---------------------------------------------------------------------------

_SUBSTR_WORDS = ["aa", "bb", "cc", "dd"]  # tiny alphabet forces shared spans
_substr_doc = st.lists(
    st.sampled_from(_SUBSTR_WORDS), min_size=1, max_size=14
).map(" ".join)


def _py_substring_pairs(texts: dict[int, str], L: int):
    """Reference: per pair, maximal aligned L-gram runs per diagonal —
    max span = longest run + L - 1; n_spans = number of runs across all
    diagonals; n_shared_grams = distinct shared L-grams."""
    toks = {i: t.lower().split() for i, t in texts.items()}
    out = {}
    ids = sorted(toks)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            i1, i2 = ids[ai], ids[bi]
            a, b = toks[i1], toks[i2]
            ga = [tuple(a[i:i + L]) for i in range(len(a) - L + 1)]
            gb = [tuple(b[j:j + L]) for j in range(len(b) - L + 1)]
            matches = {
                (i, j)
                for i, x in enumerate(ga)
                for j, y in enumerate(gb)
                if x == y
            }
            if not matches:
                continue
            by_diag: dict[int, list[int]] = {}
            for i, j in matches:
                by_diag.setdefault(i - j, []).append(i)
            n_spans, max_run = 0, 0
            for d, pas in by_diag.items():
                pas.sort()
                run = 1
                for prev, cur in zip(pas, pas[1:]):
                    if cur == prev + 1:
                        run += 1
                    else:
                        n_spans += 1
                        max_run = max(max_run, run)
                        run = 1
                n_spans += 1
                max_run = max(max_run, run)
            shared = {x for x in ga if x in set(gb)}
            out[(i1, i2)] = (max_run + L - 1, n_spans, len(shared))
    return out


@given(docs=st.lists(_substr_doc, min_size=2, max_size=5))
@SET
def test_exact_substring_matches_python_reference(spark, docs):
    from vector_db_mvp_spark.operators.substring import exact_substring_pairs

    L = 3
    texts = dict(enumerate(docs))
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r["doc1"], r["doc2"]): (
            r["max_span_tokens"], r["n_spans"], r["n_shared_grams"]
        )
        for r in exact_substring_pairs(df, min_tokens=L).collect()
    }
    assert got == _py_substring_pairs(texts, L)


# ---------------------------------------------------------------------------
# k-core vs a pure-Python peel (independent of both the Spark operator's
# join shape and the oracle's unrolled-CTE replay of it).
# ---------------------------------------------------------------------------


def _py_kcore(edges: set[tuple[int, int]], k: int):
    """Iteratively drop nodes with degree < k until fixed point; return
    {node: degree-within-core}."""
    nodes = {n for e in edges for n in e}
    while True:
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
        drop = {n for n in nodes if deg.get(n, 0) < k}
        if not drop:
            return deg
        nodes -= drop
        edges = {(a, b) for a, b in edges if a not in drop and b not in drop}


_edge = st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
    lambda e: e[0] != e[1]
)


@given(pairs=st.sets(_edge, min_size=1, max_size=25), k=st.integers(2, 4))
@SET
def test_kcore_matches_python_reference(spark, pairs, k):
    from pyspark.sql import functions as F

    from vector_db_mvp_spark.operators.kcore import kcore_nodes

    undirected = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    df = spark.createDataFrame(sorted(undirected), ["src", "dst"])
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_nodes(df, k, rounds=12).collect()
    }
    assert got == _py_kcore(undirected, k)


# ---------------------------------------------------------------------------
# Mann-Kendall + Theil-Sen vs a pure-Python reference on small random
# series (the oracle replays the same SQL construction; this checks the
# FORMULAS — S, tie-corrected variance, z, median-of-slopes — against an
# independent implementation).
# ---------------------------------------------------------------------------


def _py_mann_kendall(ys: list[int]):
    n = len(ys)
    s = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = Counter(ys)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    if s > 0:
        z = (s - 1) / math.sqrt(var)
    elif s < 0:
        z = (s + 1) / math.sqrt(var)
    else:
        z = 0.0
    slopes = sorted(
        (ys[j] - ys[i]) / (j - i)
        for i in range(n)
        for j in range(i + 1, n)
    )
    p = len(slopes)
    lo, hi = slopes[(p + 1) // 2 - 1], slopes[p // 2]
    return s, round(var, 6), round(z, 6), round((lo + hi) / 2, 6)


@given(ys=st.lists(st.integers(0, 50), min_size=3, max_size=12))
@SET
def test_mann_kendall_matches_python_reference(spark, ys, tmp_path_factory):
    import os

    out = tmp_path_factory.mktemp("mk")
    import datetime as dt

    rows = [
        (i, dt.datetime(1995, 1, 1) + dt.timedelta(days=i), float(y) / 100.0)
        for i, y in enumerate(ys)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(out), "orders.parquet")
    )
    from vector_db_mvp_spark.workload.relational import q_mann_kendall_trend

    r = q_mann_kendall_trend(spark, str(out)).collect()[0]
    s, var, z, sen = _py_mann_kendall(ys)
    assert r["n_days"] == len(ys)
    assert r["s_stat"] == s
    assert abs(r["var_s"] - var) < 1e-6
    assert abs(r["z"] - z) < 1e-6
    # y is in cents on the engine side (o_totalprice = y/100 dollars)
    assert abs(r["sen_slope_cents_per_day"] - sen) < 1e-6
