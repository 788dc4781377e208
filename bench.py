"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is timed as a full action (plan -> execute -> collect). A tiny
warm-up query first absorbs one-time JVM/codegen/parquet-footer costs so the
numbers measure the plans, not the cold start.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_db_mvp_spark.session import get_spark  # noqa: E402
from vector_db_mvp_spark.sources.testdata import load_table  # noqa: E402
from vector_db_mvp_spark.workload import QUERIES  # noqa: E402

# Headline set: the reference's core capability (vector top-k brute + LSH,
# k grid per BASELINE.md) plus the heaviest relational/analytic plans.
HEADLINE = [
    "topk_cosine_brute",
    "topk_cosine_filtered",
    "topk_cosine_k100",
    "lsh_topk",
    "lsh_topk_served",
    "lsh_topk_served_after_delete",
    "ann_ivf_served",
    "ann_batch_topk",
    "pricing_summary",
    "top_revenue_orders",
    "region_nation_revenue",
    "top_orders_per_customer",
    "events_hourly",
    "user_sessions",
    "asof_purchase_view",
    "range_join_events",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "substring_clusters",
    "corpus_curation",
    "lsh_batch_topk",
    "token_stats",
    "pii_redaction",
    "line_dedup",
    "sequence_packing",
    "incremental_dedup",
    "incremental_substring",
    "incremental_substring_bucketed",
    "ann_projected_topk",
    "temperature_mix",
    "topk_cosine_pq",
    "ann_ivfpq_topk",
    "dedup_simhash",
    "semantic_dedup",
    "semantic_dedup_sqrtn",
    "lm_perplexity",
    "duplicated_spans",
    "exact_substring_pairs",
    "substring_pairs_capped",
    "forecast_revenue_change",
    "bm25_search",
    "hybrid_rrf",
    "min_cost_supplier",
    "copurchase_pairs",
    "copurchase_hub_profile",
    "association_rules",
    "anomalous_hours",
    "events_gapfill",
    "fuzzy_part_names",
    "weighted_sample",
    "supplier_pagerank",
    "kmeans_clusters",
    "bm25_batch",
    "revenue_moving_avg",
    "events_pivot",
    "winsorized_prices",
    "part_triangles",
    "parts_skyline",
    "customer_spend_deciles",
    "monthly_growth",
    "session_windows",
    "sales_grouping_sets",
    "props_key_counts",
    "distinct_kmv_users",
    "cms_join_cardinality",
    "part_degree_assortativity",
    "supplier_ppr",
    "part_reachability",
    "heavy_hitter_tokens",
    "streaming_heavy_hitters",
    "streaming_distinct_kmv",
    "global_price_median",
    "bpe_train_merges",
    "char_budget_mix",
    "price_histogram",
    "bloom_filtered_part_revenue",
    "hll_distinct_users",
    "peak_concurrent_users",
    "wma_nation_revenue",
    "supplier_similarity_jaccard",
    "event_throttle_dedup",
    "char_entropy",
    "zipf_fit",
    "event_transition_matrix",
    "events_anomaly_zscore",
    "frequent_tokens_guaranteed",
    "ann_lsh_recall",
    "zorder_parts_curve",
    "url_canonical_dedup",
    "domain_quality_rollup",
    "hdr_price_quantiles",
    "dbscan_embedding_clusters",
    "dbscan_knn_clusters",
    "part_golden_record",
    "cep_chain_matches",
    "price_multiple_regression",
    "revenue_seasonal_decomposition",
    "part_cheapest_routes",
    "event_type_dow_chi2",
    "ks_test_price_by_flag",
    "mannwhitney_price_by_flag",
    "phrase_search",
    "dedup_prefix_filter",
    "spearman_quantity_price",
    "price_mad_by_flag",
    "boolean_search",
    "kendall_quantity_discount",
    "mann_kendall_trend",
    "revenue_changepoint",
    "mutual_information_flag_status",
    "last_touch_attribution",
    "km_conversion_curve",
    "quality_rater_kappa",
    "ann_ivf_recall_curve",
    "proximity_search",
    "dedup_weighted_jaccard",
    "part_kcore",
    "hll_audience_overlap",
    "part_clustering_coeff",
    "part_adamic_adar",
    "trade_hits",
    "revenue_acf",
    "ql_dirichlet_search",
    "nb_language_confusion",
    "part_anf_profile",
    "customer_spend_gini",
    "benford_price_digits",
    "welch_ttest_price_by_flag",
    "part_adamic_adar_capped",
    "price_woe_iv",
    "part_communities",
    "embedding_norm_psi",
    "part_ktruss",
    "part_harmonic_centrality",
    "revenue_customer_ccf",
    "fd_violations",
    "dedup_minhash_quality",
    "price_moments_by_flag",
    # round 12
    "part_kcore_served",
    "dedup_minhash_quality_sampled",
    "logistic_return_by_quantity",
    "part_communities_capped",
    "part_pagerank_weighted",
    # round 13
    "part_ppr_weighted",
    "logistic_return_by_discount",
    "logistic_return_qty_discount",
    # round 14 — the real-codec multimodal legs (Arrow-batched mapInPandas
    # building + parsing actual PNG/WAV containers; the only all-Python
    # hot path in the bench, which is exactly why it's measured)
    "media_decode_real",
    "media_resize_real",
    "media_video_real",
    "media_pixel_stats",
    "media_audio_stats",
    "poisson_quantity_by_discount",
]


def _write_round_record(detail: dict, root: str | None = None) -> None:
    """Generate the round's closing record IN BENCH_CREEP.md from the
    BENCH_DETAIL dict itself — never re-typed by hand (r12 verdict
    finding #1: two consecutive rounds' hand-written records disagreed
    with the shipped artifact, once flattering, once conservative). The
    block is marker-delimited per round and REPLACED on every bench run,
    so the round's final bench is the record and a recomputation from
    BENCH_DETAIL.json is byte-identical by construction."""
    import glob
    import statistics

    # The round record is defined at the driver's record SF only: a
    # sanity run at another SF must not clobber the round's closing
    # record with off-SF numbers.
    if detail.get("sf") != 0.1:
        print(f"RECORD-SKIPPED sf={detail.get('sf')} (record SF is 0.1)")
        return
    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    # Round identity comes from the explicit marker the builder bumps at
    # round start (.claude/round_marker), NOT from counting BENCH_r*.json
    # artifacts: once a round's own BENCH_r{N}.json lands in the repo
    # mid-round, max+1 would mislabel every subsequent same-round bench
    # run as round N+1 and strand the real round-N block stale (ADVICE
    # r13). The count is only the fallback for a fresh checkout, with a
    # loud note in the block when it disagrees with the marker.
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(root, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    counted = (max(rounds) + 1) if rounds else 1
    try:
        with open(os.path.join(root, ".claude", "round_marker")) as f:
            rnd = int(f.read().strip())
    except (OSError, ValueError):
        rnd = counted
    marker_note = (
        ""
        if rnd >= counted - 1
        else f" (round_marker={rnd} lags BENCH_r*.json max+1={counted} — stale marker?)"
    )
    try:
        with open(os.path.join(root, ".claude", "bench_anchor.json")) as f:
            anchor = json.load(f)
    except OSError:
        anchor = {}

    sess = detail.get("session_env", {})
    midx = sess.get("machine_index", {})
    sess_txt = (
        "Session at record time: machine uptime"
        f" {sess.get('machine_uptime_s', '?')} s, loadavg(1m)"
        f" {sess.get('loadavg_1m', '?')}, prior bench runs this boot"
        f" {sess.get('prior_bench_runs_this_boot', '?')}, machine index"
        f" jvm {midx.get('jvm_arith_sec', '?')} s / py"
        f" {midx.get('py_loop_sec', '?')} s."
        " (Protocol, binding since r13: the authoritative record run is"
        " the FIRST heavy workload of its session — this stamp makes"
        " violations self-documenting.)"
    )

    def _anchor_base(name: str) -> tuple[float | None, str]:
        """Protocol-matched anchor: batched samples compare against the
        batch-protocol anchor value when one exists; a batch-vs-single
        comparison is labeled cross-protocol (back-to-back batch runs
        are systematically warmer, so such a ratio is biased LOW and a
        real regression can hide under the guard bar — ADVICE r13)."""
        rec = anchor.get(name, {})
        if name in batched:
            if rec.get("sec_batch") is not None:
                return rec["sec_batch"], "b"
            return rec.get("sec"), "x" if rec.get("sec") is not None else ""
        return rec.get("sec"), ""

    lines = [
        f"### r{rnd} record (generated by bench.py from BENCH_DETAIL.json"
        f" — do not hand-edit){marker_note}",
        "",
        f"Crowded headline: **{detail['value']} s** over"
        f" {len(detail['queries'])} queries"
        f" (median of {detail['runs']} interleaved runs, sf{detail['sf']}).",
        sess_txt,
        "",
        # norm = quiet median / this session's jvm_arith machine index
        # (r14 verdict #4: the r14 25-regression smear sat on untouched
        # plans and could not be attributed from driver artifacts alone.
        # A per-round normalized column makes uniform machine-state drift
        # self-cancelling in round-over-round reads: if raw medians move
        # together WITH jvm_arith_sec, norm stays flat -> machine; if one
        # query's norm moves alone -> the plan. Additions-only; the raw
        # columns and the timed loop are untouched.)
        "| canary | quiet median (s) | norm (med/jvm) | anchor (s) | ratio |"
        " spread | samples |",
        "|---|---|---|---|---|---|---|",
    ]
    worst_name, worst_ratio = None, 0.0
    violators: list[str] = []
    over_bar: list[str] = []
    batched = set(detail.get("quiet_batched", []))
    jvm_idx = midx.get("jvm_arith_sec")
    for name in sorted(detail.get("canary", {})):
        vals = detail["canary"][name]
        med = statistics.median(vals)
        spread_pct = (max(vals) - min(vals)) / med * 100 if med else 0.0
        anc, proto = _anchor_base(name)
        ratio = med / anc if anc else None
        if ratio is not None and ratio > worst_ratio:
            worst_name, worst_ratio = name, ratio
        if ratio is not None and ratio > 1.5:
            over_bar.append(name)
        if spread_pct > 15:
            violators.append(f"{name} {spread_pct:.0f}%")
        kind = f"{len(vals)}x5-batch" if name in batched else f"{len(vals)}x1"
        mark = {"b": " (batch)", "x": " †cross-protocol", "": ""}[proto]
        norm = f"{med / jvm_idx:.2f}" if jvm_idx else "—"
        lines.append(
            f"| {name} | {med:.3f} | {norm} |"
            f" {f'{anc}{mark}' if anc is not None else '—'} |"
            f" {f'{ratio:.2f}x' if ratio is not None else '—'} |"
            f" {spread_pct:.0f}% | {kind} |"
        )
    worst_txt = (
        f"**{worst_name} {worst_ratio:.2f}x**"
        if worst_name is not None
        else "**n/a (no anchor entries)**"
    )
    lines += [
        "",
        f"Worst anchor ratio: {worst_txt}."
        f" Canaries over the 1.5x guard bar: "
        + (", ".join(sorted(over_bar)) if over_bar else "none")
        + ".",
        "Quiet-spread (>15% of median) violators: "
        + (", ".join(violators) if violators else "none")
        + ".",
        "Anchor marks: (batch) = protocol-matched batch anchor"
        " (sec_batch); † = cross-protocol batch-vs-single comparison,"
        " ratio biased low (ADVICE r13).",
        f"Metaspace MB: {detail.get('metaspace_mb')}.",
    ]
    iso = detail.get("isolated", {})
    if "engine_search_served" in iso:
        med = statistics.median(iso["engine_search_served"])
        lines.append(
            f"engine_search_served quiet median: {med:.2f} s"
            " (50-query serving loop)."
        )
    block = "\n".join(lines)
    start = f"<!-- bench-record r{rnd} start -->"
    end = f"<!-- bench-record r{rnd} end -->"
    creep = os.path.join(root, "BENCH_CREEP.md")
    try:
        with open(creep, encoding="utf-8") as f:
            text = f.read()
    except OSError:
        text = ""
    wrapped = f"{start}\n{block}\n{end}"
    if start in text and end in text:
        pre, _, rest = text.partition(start)
        _, _, post = rest.partition(end)
        text = pre + wrapped + post
    else:
        text = text.rstrip("\n") + "\n\n" + wrapped + "\n"
    with open(creep, "w", encoding="utf-8") as f:
        f.write(text)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # Session-age stamp (r13 verdict finding #1): the r13 adjudication
    # proved monotone session-state inflation on identical code (217.7 s
    # clean -> 271.9 mid -> 284.9 late in one day), and the r13 record run
    # violated the binding "record run first" rule. These three observables
    # make every future violation self-documenting in the artifact itself.
    def _session_env() -> dict:
        env: dict = {}
        try:
            with open("/proc/uptime") as f:
                env["machine_uptime_s"] = round(float(f.read().split()[0]), 1)
        except (OSError, ValueError, IndexError):
            pass
        try:
            with open("/proc/loadavg") as f:
                env["loadavg_1m"] = float(f.read().split()[0])
        except (OSError, ValueError, IndexError):
            pass
        try:  # prior bench invocations this boot (counter keyed by boot id)
            with open("/proc/sys/kernel/random/boot_id") as f:
                boot = f.read().strip()
            cpath = f"/tmp/spark_graft_bench_count_{boot}"
            n = 0
            try:
                with open(cpath) as f:
                    n = int(f.read().strip())
            except (OSError, ValueError):
                pass
            env["prior_bench_runs_this_boot"] = n
            with open(cpath, "w") as f:
                f.write(str(n + 1))
        except OSError:
            pass
        return env

    session_env = _session_env()

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Metaspace tracking (r9 verdict task 6): the whole-stage-codegen class
    # cache was raised to 5000 entries (session.py) — record JVM metaspace
    # at start / after the codegen warm-up / at end so class-metadata creep
    # across 107+ plans x 3 runs is measured, not assumed (BENCH_CREEP.md).
    def _metaspace_mb() -> float | None:
        try:
            mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
            for pool in mf.getMemoryPoolMXBeans():
                if pool.getName() == "Metaspace":
                    return round(pool.getUsage().getUsed() / 1048576, 1)
        except Exception:  # noqa: BLE001 — telemetry only, never fail the bench
            return None
        return None

    metaspace = {"start": _metaspace_mb()}

    # Machine-speed index (r14): the r13/r14 adjudications proved uniform
    # 1.2-1.9x swings on identical code driven by machine state (boot age),
    # each costing a probe fleet to attribute. Two fixed pure-compute
    # workloads — a JVM whole-stage-codegen arithmetic scan over all slots
    # and a single-thread Python loop, no IO, no shuffle — recorded at
    # session start turn that attribution into a lookup: if a round's
    # canary ratios move together WITH the index, it's the machine; if a
    # query moves alone against a steady index, it's the plan.
    def _machine_index() -> dict:
        s = 0
        t0 = time.perf_counter()
        for i in range(3_000_000):
            s += i * i
        py = time.perf_counter() - t0
        vals = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 200_000_000, 1, 32).selectExpr(
                "sum(id * 2 + 1)"
            ).collect()
            vals.append(time.perf_counter() - t0)
        # IO leg: a fixed full scan of the benched lineitem parquet.
        # Known limits (r14 same-day capture): on the machine whose full
        # bench read uniformly 1.2-1.7x high, BOTH legs read normal
        # (jvm 0.33 s, warm scan 0.30 s) — the inflation only appears
        # under the bench's concurrent task pressure. So the index
        # attributes by EXCLUSION: a high index = machine slow at rest
        # (strongest evidence); a normal index with uniform canary drift
        # = contention-state inflation (the r13/r14 class); a normal
        # index with a single drifting canary = the plan.
        svals = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.read.parquet(
                os.path.join(sf_dir, "lineitem.parquet")
            ).selectExpr("sum(l_quantity)").collect()
            svals.append(time.perf_counter() - t0)
        return {
            "py_loop_sec": round(py, 4),
            "jvm_arith_sec": round(sorted(vals)[1], 4),
            "scan_sec": round(sorted(svals)[1], 4),
        }

    session_env["machine_index"] = _machine_index()

    # Warm-up (JMH-style): parquet footers for every benched table, then one
    # pass of each headline query at the smallest SF. Whole-stage codegen
    # compiles each plan's generated source once per session (~3-4 s for the
    # expression-heavy dedup/LSH plans) and caches it by source text, so the
    # timed runs below measure the plan executing, not javac.
    for t in ["nation", "region", "customer", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        load_table(spark, sf_dir, t).count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and os.path.abspath(warm_dir) != os.path.abspath(sf_dir):
        for name in HEADLINE:
            QUERIES[name](spark, warm_dir).collect()
    # Build the served ANN index for the benched SF ahead of timing: the
    # artifact is build-once/serve-many by contract (operators/served.py), so
    # `lsh_topk_served` measures serving latency — the 100 TB query shape —
    # while `lsh_topk` right above it measures the reference's
    # rebuild-per-query semantic for comparison.
    from vector_db_mvp_spark.workload.vector import _PLANES  # noqa: E402
    from vector_db_mvp_spark.operators.served import (  # noqa: E402
        build_served_index,
        build_served_ivf,
    )

    corpus = os.path.join(sf_dir, "embeddings.parquet")
    build_served_index(spark, corpus, _PLANES, force=True)
    build_served_ivf(spark, corpus, 8, seed=42, force=True)
    # Same contract for the incremental-dedup state: the corpus-side build is
    # a once-per-corpus publish; `incremental_dedup` times the per-batch path.
    from vector_db_mvp_spark.operators.incremental import (  # noqa: E402
        build_dedup_state,
        dedup_state_path,
    )

    build_dedup_state(
        load_table(spark, sf_dir, "documents").filter("doc_id % 10 < 8"),
        dedup_state_path(sf_dir, n=5, num_hashes=16, bands=4),
        n=5,
        num_hashes=16,
        bands=4,
        force=True,
    )
    # Same once-per-corpus contract for the substring postings state:
    # `incremental_substring` times the per-batch path only.
    from vector_db_mvp_spark.operators.substring import (  # noqa: E402
        build_substring_state,
        substring_state_path,
    )
    from vector_db_mvp_spark.workload.text import _SUBSTR_L  # noqa: E402

    build_substring_state(
        load_table(spark, sf_dir, "documents").filter("doc_id % 10 < 8"),
        substring_state_path(sf_dir, min_tokens=_SUBSTR_L),
        min_tokens=_SUBSTR_L,
        force=True,
    )
    # Same contract for the bucketed co-purchase edge table:
    # `copurchase_hub_profile` times the zero-exchange consumers.
    from vector_db_mvp_spark.workload.copurchase import (  # noqa: E402
        publish_copurchase_edges,
    )

    publish_copurchase_edges(spark, sf_dir, force=True)
    # And for the bucketed substring postings table:
    # `incremental_substring_bucketed` times the per-batch merge join.
    from vector_db_mvp_spark.operators.substring import (  # noqa: E402
        publish_substring_state_table,
        substring_table_prefix,
    )

    publish_substring_state_table(
        load_table(spark, sf_dir, "documents").filter("doc_id % 10 < 8"),
        substring_table_prefix(sf_dir, min_tokens=_SUBSTR_L),
        os.environ.get(
            "SPARK_GRAFT_INDEX_DIR", "/tmp/spark_graft_served_index"
        ),
        min_tokens=_SUBSTR_L,
        force=True,
    )
    # The reference's PRIMARY read path end-to-end: EntityStore library ->
    # ChunkIndexStore (build once) -> 50 brute-force top-k searches per
    # pass. Bulk-loaded from the benched SF's embeddings so the serving
    # number is at corpus scale, not fixture scale. Timed as
    # `engine_search_served` below (r6 verdict task 7).
    import shutil
    import tempfile

    from vector_db_mvp_spark.engine import SearchEngine  # noqa: E402
    from vector_db_mvp_spark.storage.index_store import ChunkIndexStore  # noqa: E402
    from vector_db_mvp_spark.storage.store import EntityStore  # noqa: E402

    _eng_root = tempfile.mkdtemp(prefix="bench-engine-")
    _eng_store = EntityStore(spark, os.path.join(_eng_root, "store"), default_dim=64)
    _eng_lib = _eng_store.create_library("bench-corpus")
    _eng_doc = _eng_store.add_document(_eng_lib, "corpus")
    _emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    _eng_store.add_chunks_bulk(
        _eng_lib,
        _eng_doc,
        _emb.selectExpr(
            "concat('vec-', vec_id) AS text",
            "embedding",
            "cast(vec_id AS string) AS cid",
        ),
        id_col="cid",
    )
    _eng_idx = ChunkIndexStore(_eng_store, os.path.join(_eng_root, "index"))
    _eng_idx.refresh(_eng_lib)  # build once; the timed loop serves
    _eng_queries = [
        list(r["embedding"]) for r in _emb.orderBy("vec_id").limit(50).collect()
    ]

    _eng = SearchEngine(_eng_store, _eng_idx)

    def _engine_search_pass() -> None:
        for qv in _eng_queries:
            _eng.search(_eng_lib, query_embedding=qv, k=5).hits.collect()

    _engine_search_pass()  # codegen/plan warm
    metaspace["after_warm"] = _metaspace_mb()

    # Median of RUNS interleaved full passes: single-shot numbers swung
    # +/-2.5x between rounds on identical code (BENCH_r02 vs r03), so a
    # regression smaller than that was invisible. Interleaving (pass 1 of
    # every query, then pass 2, ...) keeps one query's GC/JIT debt from
    # landing entirely on its own later passes.
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    # Inter-query GC, OUTSIDE the timed window: the iterative queries
    # (kmeans/pagerank/BFS/rank machinery) localCheckpoint per round, and
    # those blocks are only reclaimed when a JVM GC lets the ContextCleaner
    # see the dead RDDs — without this, 78 queries x 3 passes accumulate
    # block-manager debt that lands on LATER queries' timings (r6 verdict
    # task 1: isolated-JVM medians were 20-35% below the crowded bench on
    # the creepers; .claude/probe_isolated.py reproduces the measurement).
    import gc as _gc

    _jvm_gc = spark.sparkContext._jvm.System.gc
    samples["engine_search_served"] = []
    for _ in range(RUNS):
        for name in HEADLINE:
            fn = QUERIES[name]
            _gc.collect()  # release py4j refs so dead RDDs are collectable
            _jvm_gc()
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            samples[name].append(time.perf_counter() - t0)
        _gc.collect()
        _jvm_gc()
        t0 = time.perf_counter()
        _engine_search_pass()
        samples["engine_search_served"].append(time.perf_counter() - t0)

    metaspace["end"] = _metaspace_mb()

    # Residual-contention probe (BENCH_CREEP.md part B): part_reachability's
    # per-round DISK_ONLY checkpoints contend with neighboring queries'
    # spill/page-cache traffic, leaving ~1 s of crowd effects in its
    # crowded-pass number even after the GC fix. Re-time it after the crowd
    # has finished, same JVM, full GC between passes — DETAIL records the
    # quiet number beside the protocol number so plan cost and protocol
    # cost are separately trackable (r7 verdict task 7).
    # Membership rule (r9 verdict task 4): part_reachability's DISK_ONLY
    # checkpoints, plus every query whose 3-run spread exceeded 50% of
    # its median in the latest round's record (r9: price_mad_by_flag
    # 6.29/6.61, spearman 2.64/3.43, K-S 2.46/1.61, hdr 0.89/1.48;
    # r10: mann_kendall_trend 4.79/5.43 — added per the rule, r10 verdict
    # finding 2; r11 final record: dbscan_knn_clusters 5.84/5.25,
    # dbscan_embedding_clusters 3.37/3.59, global_price_median 2.26/2.08,
    # part_golden_record 1.26/1.75, association_rules 0.97/1.88 — all
    # added per the same rule. Sub-second violators (boolean_search
    # 0.17/0.32, copurchase_hub_profile 0.27/0.48) are excluded: their
    # crowd variance exceeds their plan cost, so a quiet-JVM number
    # carries no signal either way — the BENCH_CREEP.md sub-second
    # exclusion, stated here so the omission is the rule, not an
    # oversight) — the crowded-vs-quiet split separates neighborhood
    # contention from plan cost for exactly the queries where the crowded
    # number alone can't.
    ISOLATED_PROBE = [
        "part_reachability",
        "price_mad_by_flag",
        "spearman_quantity_price",
        "ks_test_price_by_flag",
        "hdr_price_quantiles",
        "mann_kendall_trend",
        "dbscan_knn_clusters",
        "dbscan_embedding_clusters",
        "global_price_median",
        "part_golden_record",
        "association_rules",
    ]
    # Absolute canary (r10 verdict task 1): a FIXED family-spanning set,
    # re-timed every round under this same quiet-JVM protocol and compared
    # by the guard against .claude/bench_anchor.json — an anchor that is
    # NEVER refreshed (no --update path; a justified re-anchor requires a
    # written entry in BENCH_CREEP.md and a hand edit). The per-round
    # crowded reference refresh forgives compounding creep (1.22x r9->r10
    # went unflagged); the anchor cannot.
    CANARY = [
        "topk_cosine_brute",        # vector brute top-k
        "lsh_topk_served",          # served ANN
        "dedup_minhash_lsh",        # near-dup banding
        "exact_substring_pairs",    # ExactSubstr postings join
        "incremental_dedup",        # batch-vs-state path
        "part_kcore",               # iterative graph peel
        "supplier_pagerank",        # iterative graph rank
        "part_reachability",        # BFS + DISK_ONLY checkpoints
        "price_mad_by_flag",        # value-domain CDF statistics
        "mann_kendall_trend",       # pairwise-trend statistics
        "corpus_curation",          # composed curation pipeline
        "sequence_packing",         # prefix-sum packing
        "bm25_search",              # text retrieval
        "kmeans_clusters",          # iterative ML
        "streaming_heavy_hitters",  # streaming twin
    ]
    # engine_search_served joined ISOLATED_PROBE in r12: two rounds of
    # crowded creep (2.67 -> 3.80 -> 4.42 s r9->r11) with no quiet-JVM
    # coverage — the crowded number alone can't say contention vs plan
    # (r11 verdict task 2). It's not in QUERIES, so the quiet loop calls
    # its pass closure directly; the served index is torn down AFTER.
    ISOLATED_PROBE.append("engine_search_served")
    # Sub-second canaries drown in JVM noise at 3 samples (r11: the three
    # biggest apparent anchor "drifters" were exactly the three sub-second
    # canaries, 1.27-1.38x on 0.3-0.6 s queries). The anchor stays
    # UNTOUCHED; the protocol raises signal where it is smallest. r12 took
    # 7 single samples; 7 canaries still exceeded the 15% spread target —
    # a single GC pause is a visible fraction of a 0.3 s query. r13
    # implements the batch protocol BENCH_CREEP proposed (r12 verdict
    # task 2): a quiet median under 1 s re-samples as 7 BATCHES of 5
    # back-to-back executions, each sample = batch_time / 5 — per-job
    # jitter amortizes 5x inside one sample while the recorded number
    # stays a per-execution second, directly comparable to the anchor.
    SUBSEC_SAMPLES = max(RUNS, 7)
    SUBSEC_BATCH = 5
    quiet_names = list(dict.fromkeys(ISOLATED_PROBE + CANARY))
    quiet: dict[str, list[float]] = {}
    quiet_batched: list[str] = []
    for name in quiet_names:
        run_fn = (
            _engine_search_pass
            if name == "engine_search_served"
            else (lambda n=name: QUERIES[n](spark, sf_dir).collect())
        )
        vals: list[float] = []
        while len(vals) < RUNS:
            _gc.collect()
            _jvm_gc()
            t0 = time.perf_counter()
            run_fn()
            vals.append(time.perf_counter() - t0)
        if sorted(vals)[len(vals) // 2] < 1.0:
            quiet_batched.append(name)
            vals = []
            while len(vals) < SUBSEC_SAMPLES:
                _gc.collect()
                _jvm_gc()
                t0 = time.perf_counter()
                for _ in range(SUBSEC_BATCH):
                    run_fn()
                vals.append((time.perf_counter() - t0) / SUBSEC_BATCH)
        quiet[name] = [round(v, 4) for v in vals]
    shutil.rmtree(_eng_root, ignore_errors=True)
    isolated = {n: quiet[n] for n in ISOLATED_PROBE}
    canary = {n: quiet[n] for n in CANARY}

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    timings = {k: round(median(v), 4) for k, v in samples.items()}
    spread = {k: round(max(v) - min(v), 4) for k, v in samples.items()}
    total = round(sum(timings.values()), 4)

    # The driver captures only the last ~2000 chars of stdout, so the FINAL
    # line must be compact or the record is truncated/unparseable (this is
    # what nulled BENCH_r04). Full detail (4-decimal timings + per-query
    # spread) goes to a sidecar file and an EARLIER stdout line; the last
    # line is the driver-contract JSON with 2-decimal per-query timings,
    # verified under the capture limit (queries dropped only as a last
    # resort if the surface ever outgrows it).
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "runs": RUNS,
        "sf": sf,
        # Queries that deliberately reproduce a reference semantic whose
        # cost grows with corpus size (lsh_topk rebuilds the index per
        # query — search_service.py's behavior). Their growth is parity,
        # not regression; the served twins are the scale path. The bench
        # guard skips ratio checks for these.
        "parity_only": ["lsh_topk"],
        # Quiet-JVM re-times of the DISK_ONLY-checkpoint queries (see the
        # ISOLATED_PROBE comment above): crowded median minus quiet median
        # is the residual contention, comparable against "spread".
        "isolated": isolated,
        # Fixed canary set (quiet-JVM protocol, same samples); the guard
        # compares its medians against the never-refreshed
        # .claude/bench_anchor.json (see CANARY comment above).
        "canary": canary,
        # Machine-index-normalized canary medians (median sec divided by
        # this session's jvm_arith_sec — r14 verdict #4): uniform machine
        # drift moves raw medians and the index together, so these stay
        # flat under it; a plan regression moves one entry alone. Makes
        # the r14-style 25-regression smear attributable from driver
        # artifacts alone. Additions-only telemetry.
        "canary_norm": {
            n: round(median(v) / session_env["machine_index"]["jvm_arith_sec"], 3)
            for n, v in canary.items()
            if session_env.get("machine_index", {}).get("jvm_arith_sec")
        },
        # Metaspace (MB) at start / after codegen warm / at end — bounded
        # growth after warm-up means the 5000-entry codegen cache is not
        # creeping class metadata across the crowded runs (BENCH_CREEP.md).
        "metaspace_mb": metaspace,
        # Sub-second quiet queries whose samples are 5-execution batch
        # means (per-execution seconds) rather than single runs — the r13
        # batch protocol (see the SUBSEC comment above).
        "quiet_batched": sorted(quiet_batched),
        # Machine uptime / loadavg / prior-bench count at run start: the
        # self-documenting session-age stamp (r13 verdict finding #1 —
        # the record-run-first protocol rule is verifiable from the
        # artifact, not from narrative).
        "session_env": session_env,
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
            "w",
            encoding="utf-8",
        ) as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    try:
        _write_round_record(detail)
    except Exception as exc:  # noqa: BLE001 — the record is telemetry
        print(f"RECORD-ERROR {exc}", file=sys.stderr)
    print("DETAIL " + json.dumps(detail))
    compact = {
        "metric": "headline_queries_total_sec",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "runs": RUNS,
        "sf": sf,
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:
        # Shed the CHEAPEST queries first until the line fits — the slow
        # ones are the performance record; the full set is in the DETAIL
        # line and BENCH_DETAIL.json either way. The flagship vector
        # workload (BASELINE.md's k-grid + the entry() query + the parity
        # LSH twin) is exempt from shedding: r6's driver record silently
        # lost the k-grid because those queries are fast, and fast-but-
        # flagship is exactly what the record must keep.
        always_keep = {
            "topk_cosine_brute",
            "topk_cosine_filtered",
            "topk_cosine_k100",
            "lsh_topk",
            "engine_search_served",
        }
        by_cost = sorted(
            (k for k in timings if k not in always_keep),
            key=lambda k: (-timings[k], k),
        )
        while len(line) > 1900 and by_cost:
            dropped = by_cost.pop()
            compact["queries"].pop(dropped)
            compact["queries_omitted"] = len(timings) - len(compact["queries"])
            line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
