"""End-to-end demo — the engine's answer to the reference's ``demo.py``
(seed a library, run filtered top-k searches brute and LSH, exercise the
durable pipeline and the persisted index), plus the batch surfaces the
reference never had. Run: ``python demo.py`` (~1 min on local[8]).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_db_mvp_spark.engine import SearchEngine
from vector_db_mvp_spark.plans.pipeline import DurableQueryPipeline, QueryRequest
from vector_db_mvp_spark.session import get_spark
from vector_db_mvp_spark.storage.store import EntityStore


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("demo", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="vector-demo-")

    store = EntityStore(spark, os.path.join(root, "store"), default_dim=8)
    lib = store.create_library("docs", description="demo library")
    guide = store.add_document(lib, "user guide", category="guide")
    faq = store.add_document(lib, "faq", category="faq")
    seed = [
        (guide, "how to install the engine", "heading"),
        (guide, "configuring spark sessions", "paragraph"),
        (guide, "tuning shuffle partitions", "paragraph"),
        (faq, "why is my query slow", "heading"),
        (faq, "how do i install dependencies", "paragraph"),
    ]
    for doc, text, kind in seed:
        store.add_chunk(lib, doc, text, embed_if_missing=True, meta_type=kind, dim=8)
    print(f"seeded library {lib} (version {store.library_version(lib)})")

    engine = SearchEngine(store)  # serves from its index under the store root

    res = engine.search(lib, query_text="install", k=3)
    print("\nbrute top-3 for 'install':")
    for r in res.hits.collect():
        print(f"  {r['score']:+.4f}  {r['text']}  [{r['meta_type']}]")

    res = engine.search(lib, query_text="install", k=3, filters={"meta_type": "paragraph"})
    print("\nsame query, filters={'meta_type': 'paragraph'}:")
    for r in res.hits.collect():
        print(f"  {r['score']:+.4f}  {r['text']}")

    res = engine.search(lib, query_text="install", k=3, index="lsh")
    print(f"\nlsh top-3 (index_used={res.index_used}):")
    for r in res.hits.collect():
        print(f"  {r['score']:+.4f}  {r['text']}")

    pipe = DurableQueryPipeline(engine, os.path.join(root, "ckpt"))
    resp = pipe.run(QueryRequest(lib, query_text="slow queries", k=2))
    print(f"\ndurable pipeline ({resp.metadata}):")
    for r in resp.hits.collect():
        print(f"  {r['score']:+.4f}  {r['text']}")

    # the batch surfaces the reference never had, on the fixture tables
    sf = "/root/testdata/sf0.001"
    if os.path.isdir(sf):
        from vector_db_mvp_spark.workload import QUERIES

        print("\nfixture workload samples (sf0.001):")
        for name in ["topk_cosine_brute", "dedup_minhash_lsh", "dedup_clusters",
                     "lsh_topk_served", "lsh_batch_topk", "media_resize",
                     "asof_purchase_view"]:
            n = QUERIES[name](spark, sf).count()
            print(f"  {name}: {n} rows")

        # the training-data curation pipeline, end to end: gate -> dedup ->
        # quality -> mix -> chunk -> pack -> shard
        print("\ncorpus curation tour (sf0.001 documents):")
        for name in ["pii_redaction", "quality_rules", "line_dedup",
                     "corpus_curation", "incremental_dedup", "temperature_mix",
                     "chunk_documents", "sequence_packing", "shard_manifest",
                     "decontaminate_train", "curation_report"]:
            n = QUERIES[name](spark, sf).count()
            print(f"  {name}: {n} rows")

    print("\ndemo artifacts under", root)


if __name__ == "__main__":
    main()
