"""bench.py's generated round record (r12 verdict task 2): the closing
record in BENCH_CREEP.md must be emitted FROM BENCH_DETAIL.json, replaced
per run, and byte-reproducible from the artifact — two consecutive rounds
of hand-typed records disagreed with the shipped detail (r11: flattering;
r12: conservative), so reproducibility is pinned here, not promised."""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _write_round_record  # noqa: E402

_DETAIL = {
    "value": 123.4567,
    "sf": 0.1,
    "runs": 3,
    "queries": {"q_a": 1.0, "q_b": 2.0},
    "canary": {
        "q_a": [1.0, 1.2, 1.1],
        "q_b": [0.30, 0.30, 0.30, 0.31, 0.29, 0.30, 0.30],
    },
    "quiet_batched": ["q_b"],
    "isolated": {"engine_search_served": [3.0, 3.1, 3.2]},
    "metaspace_mb": {"start": 70.0, "after_warm": 200.0, "end": 205.0},
}


def _setup(tmp_path, anchor=None):
    root = tmp_path
    (root / ".claude").mkdir()
    if anchor is not None:
        (root / ".claude" / "bench_anchor.json").write_text(
            json.dumps(anchor)
        )
    (root / "BENCH_r01.json").write_text("{}")
    (root / "BENCH_r02.json").write_text("{}")
    return str(root)


def _block(root, rnd=3):
    text = open(os.path.join(root, "BENCH_CREEP.md")).read()
    m = re.search(
        rf"<!-- bench-record r{rnd} start -->\n(.*?)\n"
        rf"<!-- bench-record r{rnd} end -->",
        text,
        re.S,
    )
    return text, (m.group(1) if m else None)


def test_record_numbers_match_artifact_recomputation(tmp_path):
    anchor = {"q_a": {"sec": 0.9}, "q_b": {"sec": 0.25}}
    root = _setup(tmp_path, anchor)
    _write_round_record(dict(_DETAIL), root)
    _, block = _block(root)
    assert block is not None
    # round inferred from max(BENCH_r*)+1
    assert "r3 record" in block
    # every number recomputable from the detail dict
    vals_a = _DETAIL["canary"]["q_a"]
    med_a = statistics.median(vals_a)
    ratio_a = med_a / 0.9
    jvm = _DETAIL.get("session_env", {}).get("machine_index", {}).get("jvm_arith_sec")
    norm_a = f"{med_a / jvm:.2f}" if jvm else "—"
    spread_a = (max(vals_a) - min(vals_a)) / med_a * 100
    assert (
        f"| q_a | {med_a:.3f} | {norm_a} | 0.9 | {ratio_a:.2f}x |"
        f" {spread_a:.0f}% | {len(vals_a)}x1 |"
    ) in block
    assert f"**{_DETAIL['value']} s** over 2 queries" in block
    # worst ratio line names the actual argmax
    worst = max(
        ("q_a", med_a / 0.9),
        ("q_b", statistics.median(_DETAIL["canary"]["q_b"]) / 0.25),
        key=lambda t: t[1],
    )
    assert f"Worst anchor ratio: **{worst[0]} {worst[1]:.2f}x**" in block
    # the batched canary is labeled as batch samples
    assert "7x5-batch" in block
    # spread violators computed, not asserted by hand: q_a spread is
    # (1.2-1.0)/1.1 = 18% > 15%, q_b ~7%
    assert "q_a 18%" in block
    assert "q_b" not in block.split("violators:")[1].splitlines()[0]


def test_record_block_replaced_not_duplicated(tmp_path):
    root = _setup(tmp_path, {"q_a": {"sec": 0.9}})
    _write_round_record(dict(_DETAIL), root)
    d2 = dict(_DETAIL)
    d2["value"] = 99.9
    _write_round_record(d2, root)
    text, block = _block(root)
    assert text.count("<!-- bench-record r3 start -->") == 1
    assert "**99.9 s**" in block
    assert "123.4567" not in text


def test_off_sf_run_does_not_clobber_record(tmp_path):
    root = _setup(tmp_path, {"q_a": {"sec": 0.9}})
    _write_round_record(dict(_DETAIL), root)
    d2 = dict(_DETAIL)
    d2["sf"] = 0.01
    d2["value"] = 1.23
    _write_round_record(d2, root)
    _, block = _block(root)
    assert "123.4567" in block  # sf0.1 record intact
    assert "1.23 s" not in block


def test_missing_anchor_writes_sane_line(tmp_path):
    root = _setup(tmp_path, anchor=None)
    _write_round_record(dict(_DETAIL), root)
    _, block = _block(root)
    assert "n/a (no anchor entries)" in block
    assert "None" not in block


def test_round_marker_overrides_artifact_count(tmp_path):
    """ADVICE r13: once the round's own BENCH_r{N}.json lands mid-round,
    max+1 would mislabel subsequent runs; the explicit round marker wins."""
    root = _setup(tmp_path)
    (tmp_path / ".claude" / "round_marker").write_text("2\n")
    _write_round_record(dict(_DETAIL), root=root)
    # marker says 2 even though BENCH_r02.json exists (count would say 3)
    assert _block(root, rnd=2)[1] is not None


def test_session_stamp_and_machine_index_in_record(tmp_path):
    """r13 verdict finding #1: the record-run-first rule must be
    verifiable from the artifact — uptime/load/prior-runs/machine-index
    are emitted into the record block."""
    root = _setup(tmp_path)
    d = dict(_DETAIL)
    d["session_env"] = {
        "machine_uptime_s": 1234.5,
        "loadavg_1m": 0.42,
        "prior_bench_runs_this_boot": 7,
        "machine_index": {"jvm_arith_sec": 0.33, "py_loop_sec": 0.41,
                          "scan_sec": 0.30},
    }
    _write_round_record(d, root=root)
    block = _block(root)[1]
    assert "uptime 1234.5 s" in block
    assert "prior bench runs this boot 7" in block
    assert "machine index jvm 0.33" in block
    # the norm column divides the quiet median by that index
    med_a = statistics.median(d["canary"]["q_a"])
    assert f"| q_a | {med_a:.3f} | {med_a / 0.33:.2f} |" in block


def test_batched_canary_uses_sec_batch_else_flags_cross_protocol(tmp_path):
    """ADVICE r13: batch-mean samples compare against the batch-protocol
    anchor when present; a batch-vs-single fallback is visibly labeled
    (its ratio is biased low)."""
    anchor = {
        "q_a": {"sec": 1.0},
        "q_b": {"sec": 0.25, "sec_batch": 0.29},
    }
    root = _setup(tmp_path, anchor=anchor)
    _write_round_record(dict(_DETAIL), root=root)
    block = _block(root)[1]
    # q_b (batched, median 0.30) ratios against sec_batch 0.29 -> 1.03x
    row = next(ln for ln in block.splitlines() if ln.startswith("| q_b "))
    assert "(batch)" in row and "1.03x" in row
    # without sec_batch the same row is flagged cross-protocol vs sec
    sub = tmp_path / "b"
    sub.mkdir()
    root2 = _setup(sub, anchor={"q_b": {"sec": 0.25}})
    _write_round_record(dict(_DETAIL), root=root2)
    row2 = next(
        ln for ln in _block(root2)[1].splitlines() if ln.startswith("| q_b ")
    )
    assert "cross-protocol" in row2
