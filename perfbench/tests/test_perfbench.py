"""Smoke tests of the benchmark itself, at tiny sizes.

    python -m pytest perfbench/tests -q

They pin the metric names against BENCHMARK.json, show that every checker
rejects a corrupted result, and run each workload once end to end.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parents[1]
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    return json.loads((REPO / "BENCHMARK.json").read_text())


def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert "setup_s" in run.END_TO_END
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_inputs_repeat_per_seed():
    a, b = inputs.make_library(3, 300), inputs.make_library(3, 300)
    assert a.chunk_ids == b.chunk_ids and np.array_equal(a.embeddings, b.embeddings)
    assert not np.array_equal(a.embeddings, inputs.make_library(4, 300).embeddings)
    assert a.stats["n"] == 300 and a.stats["duplicate_vectors"] == 3
    assert 0.05 < a.stats["null_fraction"] < 0.2


def test_tail_rule():
    assert run.tail(list(range(1, 1001))) == (990, 99)
    assert run.tail(list(range(1, 41))) == (30, 75)
    assert run.tail([5.0, 1.0, 3.0]) == (5.0, 100)
    assert run.percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.0


# ---------------------------------------------------------------------------
# Search checkers
# ---------------------------------------------------------------------------


@pytest.fixture
def lib():
    return inputs.make_library(1, 400)


def _exact_hits(shadow, qvec, k, meta=None):
    rows = shadow.rows(meta)
    s = shadow.scores(rows, qvec)
    order = sorted(range(len(rows)), key=lambda i: (-s[i], shadow.ids[rows[i]]))[:k]
    return [{"chunk_id": shadow.ids[rows[i]], "score": float(s[i]),
             "meta_type": shadow.meta[rows[i]], "text": shadow.texts[rows[i]]}
            for i in order]


def test_brute_checker_accepts_exact_and_rejects_corruption(lib):
    shadow = checks.Shadow(lib)
    q = lib.embeddings[np.flatnonzero(lib.has_embedding)[0]].tolist()
    hits = _exact_hits(shadow, q, 5)
    assert checks.check_brute(shadow, q, 5, None, hits) == []
    swapped = [hits[1], hits[0]] + hits[2:]
    assert any("out of order" in e for e in checks.check_brute(shadow, q, 5, None, swapped))
    assert checks.check_brute(shadow, q, 5, None, hits[:4])
    wrong = [dict(hits[0], score=hits[0]["score"] - 1e-6)] + hits[1:]
    assert any("!= exact" in e for e in checks.check_brute(shadow, q, 5, None, wrong))
    dropped = [hits[0]] + _exact_hits(shadow, q, 6)[2:]
    assert any("missing" in e for e in checks.check_brute(shadow, q, 5, None, dropped))
    filtered = _exact_hits(shadow, q, 5, "heading")
    assert checks.check_brute(shadow, q, 5, "heading", filtered) == []
    assert checks.check_brute(shadow, q, 5, "heading", hits)  # unfiltered hits


def test_brute_checker_treats_kth_ties_as_interchangeable(lib):
    shadow = checks.Shadow(lib)
    src, twin = np.flatnonzero(lib.has_embedding)[:2]
    shadow.unit[twin] = shadow.unit[src]
    q = shadow.unit[src].tolist()
    best = _exact_hits(shadow, q, 2)
    assert {h["chunk_id"] for h in best} == {lib.chunk_ids[src], lib.chunk_ids[twin]}
    for h in best:  # k=1: either twin may fill the last place
        assert checks.check_brute(shadow, q, 1, None, [h]) == []


def test_lsh_checker(lib):
    from vector_db_mvp_spark.functions.lsh import generate_planes

    planes = generate_planes(64, 8, 12, seed=42)
    shadow = checks.Shadow(lib)
    q = lib.embeddings[np.flatnonzero(lib.has_embedding)[0]].tolist()
    errs, good, want, frac = checks.check_lsh(shadow, q, 5, None,
                                              _exact_hits(shadow, q, 5), "lsh", planes)
    assert errs == [] and good == want == 5 and 0 < frac <= 1
    errs, _, _, _ = checks.check_lsh(shadow, q, 5, None, _exact_hits(shadow, q, 5),
                                     "brute", planes)
    assert any("fallback rule" in e for e in errs)
    swapped = _exact_hits(shadow, q, 5)
    swapped[0], swapped[1] = swapped[1], swapped[0]
    errs, _, _, _ = checks.check_lsh(shadow, q, 5, None, swapped, "lsh", planes)
    assert any("out of order" in e for e in errs)


def test_read_your_write_checker():
    hit = {"chunk_id": "new", "score": 1.0}
    other = {"chunk_id": "old", "score": 0.9}
    assert checks.check_read_your_write({"op": "add"}, "new", [hit, other]) == []
    assert checks.check_read_your_write({"op": "add"}, "new", [other])
    assert checks.check_read_your_write({"op": "update"}, "new", [other, hit])
    assert checks.check_read_your_write({"op": "delete"}, "old", [hit]) == []
    assert checks.check_read_your_write({"op": "delete"}, "old", [hit, other])
    assert checks.check_response({"library_version": 3, "index": "brute"},
                                 version=3, index="brute") == []
    assert checks.check_response({"library_version": 2, "index": "brute"},
                                 version=3, index="brute")


# ---------------------------------------------------------------------------
# Pipeline checkers
# ---------------------------------------------------------------------------


def test_oracle_checker():
    got = pd.DataFrame({"b": [0.1 + 0.2, 2.0], "a": [1, 2]})
    want = pd.DataFrame({"a": [2, 1], "b": [2.0, 0.3]})
    assert checks.check_oracle("q", got, want) == []
    changed = want.copy()
    changed.loc[0, "b"] = 2.5
    assert checks.check_oracle("q", got, changed)
    assert checks.check_oracle("q", got, want.iloc[:1])
    assert checks.check_oracle("q", got, want.rename(columns={"b": "c"}))


def test_exact_pairs_and_cluster_recall():
    base = " ".join(f"w{i}" for i in range(30))
    texts = {0: base, 1: base.replace("w15", "x"), 2: "something else entirely here ok",
             3: base.replace("w3", "y")}
    exact = checks.exact_jaccard_pairs(texts, 0.4)
    assert sorted(exact) == [(0, 1), (0, 3), (1, 3)]
    assert exact[(0, 1)] == round(21 / 31, 6)
    together = pd.DataFrame({"doc_id": [0, 1, 2, 3], "cluster_id": [0, 0, 2, 0]})
    assert checks.cluster_pair_recall(together, exact) == 1.0
    split = together.assign(cluster_id=[0, 0, 2, 3])
    assert checks.cluster_pair_recall(split, exact) == 1 / 3


# ---------------------------------------------------------------------------
# End to end, tiny
# ---------------------------------------------------------------------------


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(cwd / "perfbench" / "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    p = _run(tmp_path, "--workload", "search_write", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("workload,trace,scale", [
    ("search_write", "1", "0.05"),
    ("pipeline_batch", "0", "0.2"),
])
def test_workload_end_to_end(workload, trace, scale):
    p = _run(REPO, "--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", trace, "--scale", scale)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, p.stdout
    names = run.PER_LAYER if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    if workload == "search_write":
        m = {k: v["value"] for k, v in out["metrics"].items()}
        assert m["index_store.rebuilds"] >= 3 and m["spark.search.jobs"] > 0
        assert abs(m["trace.coverage_pct"] - 100.0) < 5.0
