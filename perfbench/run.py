"""Benchmark entry point.

    python3 perfbench/run.py --workload search_write --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds nothing: the engine is imported
from the checkout's ``vector_db_mvp_spark`` package, on ``local[4]``. All
files it writes go under ``.perfbench_work/`` (removed at exit) and, in the
traced run, the span log under ``.perfbench_out/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
(prefixed ``#``) record the inputs' sizes, the tail percentile and its
sample count, and the first check failures. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import PIPELINE_QUERIES, WORKLOADS  # noqa: E402

CPUS = 4
TAIL_PERCENTILES = (99, 95, 90, 75, 50)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "pass_s": "s",
    "recall": "ratio",
}

SEARCH_LAYERS = {
    # mean self time per search operation; these sum to the mean search wall
    "api.search.self_ms": "api.search",
    "engine.search.self_ms": "engine.search",
    "engine.to_dict_ms": "engine.to_dict",
    "store.library_version_ms": "store.library_version",
    "store.get_library_ms": "store.get_library",
    "embedding.provider.embed_text_ms": "embedding.provider.embed_text",
    "functions.lsh.bucket_codes_python_ms": "functions.lsh.bucket_codes_python",
    "index_store.refresh_ms": "index_store.refresh",
    "index_store.index_df_ms": "index_store.index_df",
}
WRITE_LAYERS = {
    # mean self time per write operation of the named kind
    "api.write.self_ms": ("api.write", None),
    "store.add_chunk_ms": ("store.add_chunk", "add"),
    "store.update_chunk_ms": ("store.update_chunk", "update"),
    "store.delete_chunk_ms": ("store.delete_chunk", "delete"),
    "store.get_chunk_ms": ("store.get_chunk", None),
    "store.get_document_ms": ("store.get_document", None),
}
SPARK_COUNTS = ("jobs", "stages", "tasks")
SPARK_TIMES = ("executor_run_s", "executor_cpu_s", "offjvm_s", "shuffle_bytes")
WRITE_KINDS = ("add", "update", "delete")


def _layer_units() -> dict[str, str]:
    units = {name: "ms" for name in SEARCH_LAYERS}
    units.update({name: "ms" for name in WRITE_LAYERS})
    units["lsh.candidate_fraction"] = "ratio"
    units["index_store.rebuilds"] = "count"
    for cls in ("search", "write"):
        for c in SPARK_COUNTS:
            units[f"spark.{cls}.{c}"] = "count"
    for c in SPARK_TIMES:
        units[f"spark.{c}"] = "bytes" if c == "shuffle_bytes" else "s"
    for q in PIPELINE_QUERIES:
        units[f"pipeline.{q}.build_s"] = "s"
        units[f"pipeline.{q}.exec_s"] = "s"
        for c in SPARK_COUNTS:
            units[f"pipeline.{q}.{c}"] = "count"
    units.update({
        "search.p50_ms": "ms", "search.tail_ms": "ms",
        "fresh_search.p50_ms": "ms", "write.p50_ms": "ms", "write.tail_ms": "ms",
        "space_amp": "ratio", "checks.error_rate": "ratio",
        "trace.op_p50_ms": "ms", "trace.wrapper_overhead_ms": "ms",
        "trace.coverage_pct": "pct",
    })
    return units


PER_LAYER = _layer_units()


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(1, math.ceil(p / 100 * len(s))) - 1]


def tail(values: list[float]) -> tuple[float, int]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    it; the maximum when there are fewer than 20 samples."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n - math.ceil(p / 100 * n) >= 10:
            return percentile(values, p), p
    return max(values), 100


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def end_to_end(out) -> tuple[dict, list[str]]:
    walls = [op.wall * 1e3 for op in out.ops]
    t, pct = tail(walls)
    metrics = {
        "setup_s": statistics.median(out.setup_s),
        "op_p50_ms": statistics.median(walls),
        "op_tail_ms": t,
        "pass_s": statistics.median(out.passes),
        "recall": out.recall,
    }
    notes = [f"op_tail_ms is p{pct} of n={len(walls)} operations; "
             f"pass_s is the median of {[round(x, 3) for x in out.passes]}; "
             f"setup_s is the median of {[round(x, 3) for x in out.setup_s]}"]
    return metrics, notes


def per_layer(out) -> dict:
    searches = [op for op in out.ops if op.kind in ("search", "fresh_search")]
    writes = [op for op in out.ops if op.kind in WRITE_KINDS]
    m: dict[str, float] = {}
    for name, span in SEARCH_LAYERS.items():
        m[name] = _mean(op.layers.get(span, 0.0) * 1e3 for op in searches)
    for name, (span, kind) in WRITE_LAYERS.items():
        sel = [op for op in writes if kind is None or op.kind == kind]
        m[name] = _mean(op.layers.get(span, 0.0) * 1e3 for op in sel)
    m["lsh.candidate_fraction"] = out.extra.get("candidate_fraction", 0.0)
    m["index_store.rebuilds"] = out.extra.get("rebuilds", 0)
    for cls, sel in (("search", searches), ("write", writes)):
        for c in SPARK_COUNTS:
            m[f"spark.{cls}.{c}"] = _mean(op.spark.get(c, 0) for op in sel)
    for c in SPARK_TIMES:
        m[f"spark.{c}"] = _mean(op.spark.get(c, 0.0) for op in out.ops)
    for q in PIPELINE_QUERIES:
        sel = [op for op in out.ops if op.kind == q]
        for part in ("build_s", "exec_s"):
            m[f"pipeline.{q}.{part}"] = _mean(op.layers.get(part, 0.0) for op in sel)
        for c in SPARK_COUNTS:
            m[f"pipeline.{q}.{c}"] = _mean(op.spark.get(c, 0) for op in sel)
    steady = [op.wall * 1e3 for op in out.ops if op.kind == "search"]
    fresh = [op.wall * 1e3 for op in out.ops if op.kind == "fresh_search"]
    wms = [op.wall * 1e3 for op in writes]
    m["search.p50_ms"] = statistics.median(steady) if steady else 0.0
    m["search.tail_ms"] = tail(steady)[0] if steady else 0.0
    m["fresh_search.p50_ms"] = statistics.median(fresh) if fresh else 0.0
    m["write.p50_ms"] = statistics.median(wms) if wms else 0.0
    m["write.tail_ms"] = tail(wms)[0] if wms else 0.0
    m["space_amp"] = out.extra.get("space_amp", 0.0)
    m["checks.error_rate"] = out.failed / max(1, out.checked)
    walls = [op.wall * 1e3 for op in out.ops]
    m["trace.op_p50_ms"] = statistics.median(walls)
    overhead_s = out.extra.get("trace_overhead_s", 0.0)
    m["trace.wrapper_overhead_ms"] = overhead_s * 1e3 / max(1, len(walls))
    # The share of each search's wall time (timed outside api.search) that
    # the layers below the api account for; api.search's own self time and
    # the wrappers are the rest.
    covered = [sum(t for name, t in op.layers.items() if name != "api.search") / op.wall
               for op in searches if op.wall > 0]
    m["trace.coverage_pct"] = 100.0 * _mean(covered)
    return m


def _prepare_env(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def _cpu_times() -> list[int] | None:
    """Aggregate CPU jiffies from /proc/stat (user ... steal), if present."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _stop_spark() -> None:
    """Stop the SparkContext, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smoke tests use a small one)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "vector_db_mvp_spark")):
        print(f"no vector_db_mvp_spark package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    workdir = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _prepare_env(workdir)
    sys.path.insert(0, root)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    marks = {}

    def spark_factory():
        from vector_db_mvp_spark.session import get_spark
        from vector_db_mvp_spark.shipping import ensure_package_shipped

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        ensure_package_shipped(spark)
        return spark

    wl = WORKLOADS[args.workload](spark_factory, workdir, args.seed, args.seconds,
                                  bool(args.trace), args.scale)
    marks["run"] = time.perf_counter()
    cpu0 = _cpu_times()
    try:
        out = wl.run()
    finally:
        marks["stop"] = time.perf_counter()
        _stop_spark()
        shutil.rmtree(workdir, ignore_errors=True)
    marks["end"] = time.perf_counter()
    cpu1 = _cpu_times()
    if wl.tracer is not None:
        out.extra["trace_overhead_s"] = wl.tracer.overhead
        os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
        wl.tracer.dump(os.path.join(root, ".perfbench_out",
                                    f"spans-{args.workload}-{args.seed}.jsonl"))

    print("# inputs " + json.dumps(out.inputs, sort_keys=True))
    print(f"# wall s: imports {marks['run'] - T0:.2f}, "
          + "".join(f"{k} {v:.2f}, " for k, v in wl.phases.items())
          + f"shutdown {marks['end'] - marks['stop']:.2f}")
    if cpu0 and cpu1:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        print(f"# cpu during the run: busy {100 * (sum(d) - d[3] - d[4] - d[7]) / sum(d):.0f}%, "
              f"stolen by the host {100 * d[7] / sum(d):.0f}%")
    for e in out.errors[:10]:
        print("# check failed: " + e)
    if args.trace:
        values, units = per_layer(out), PER_LAYER
    else:
        values, notes = end_to_end(out)
        units = END_TO_END
        for n in notes:
            print("# " + n)
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({
        "correct": out.failed == 0 and out.checked > 0,
        "attempted": out.checked,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
