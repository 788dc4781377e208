"""Round-2 curation workload: PII redaction, Gopher quality rules,
line-level boilerplate dedup, and sequence packing — each as a
(Spark plan, DuckDB oracle) pair over the ``documents`` fixture.

The synthetic fixture text contains no digits, '@', or newlines, so the PII
and line-dedup queries deterministically ENRICH the text from ``doc_id`` /
``source`` with identical expressions on both sides (the same technique as
the sha256-derived media stubs): injected emails/phones/IPs/SSNs for the
scanner, and per-source header/footer boilerplate lines for the line dedup.
The operators themselves are generic over any text column.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.linededup import line_dedup, sql_line_dedup
from ..sinks.shards import assign_shards, shard_manifest
from ..operators.packing import pack_documents, sql_pack_documents
from ..operators.pii import pii_redact, sql_redacted
from ..operators.quality import quality_rules, sql_quality_rules
from ..session import local_frame
from ..sources.testdata import load_table


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

def _pii_enriched(docs: DataFrame) -> DataFrame:
    """Append deterministic PII tokens to some documents (keyed off doc_id
    residues so Spark and the oracle inject byte-identical text)."""
    did = F.col("doc_id")
    email = F.concat(
        F.lit(" user"), did, F.lit("@mail"), did % 7, F.lit(".net")
    )
    phone = F.concat(
        F.lit(" 415-"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    ssn = F.concat(
        F.lit(" "),
        (did % 900 + 100).cast("string"),
        F.lit("-"),
        F.lpad((did % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit(" 10."), (did % 256).cast("string"), F.lit(".0."), (did % 254 + 1).cast("string")
    )
    t = F.col("text")
    t = F.when(did % 3 == 0, F.concat(t, email)).otherwise(t)
    t = F.when(did % 5 == 0, F.concat(t, phone)).otherwise(t)
    t = F.when(did % 7 == 0, F.concat(t, ssn)).otherwise(t)
    t = F.when(did % 11 == 0, F.concat(t, ip)).otherwise(t)
    return docs.select("doc_id", t.alias("text"))


_SQL_PII_ENRICHED = """
SELECT doc_id,
  CASE WHEN doc_id % 11 = 0 THEN t4 || ' 10.' || (doc_id % 256) || '.0.' || (doc_id % 254 + 1) ELSE t4 END AS t
FROM (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN t3 || ' ' || (doc_id % 900 + 100)
         || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE t3 END AS t4
  FROM (
    SELECT doc_id,
      CASE WHEN doc_id % 5 = 0 THEN t2 || ' 415-'
           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
           || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE t2 END AS t3
    FROM (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0
             THEN text || ' user' || doc_id || '@mail' || (doc_id % 7) || '.net'
             ELSE text END AS t2
      FROM documents
    )
  )
)
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _pii_enriched(load_table(spark, sf_dir, "documents"))
    out = pii_redact(docs)
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ssn",
        "n_ipv4",
        "n_pii",
        "has_pii",
        F.md5("redacted").alias("redacted_md5"),
    ).orderBy("doc_id")


def _sql_pii_redaction() -> str:
    from ..operators.pii import PII_PATTERNS

    counts = ",\n       ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    total = " + ".join(f"n_{name}" for name in PII_PATTERNS)
    return f"""
WITH enriched AS ({_SQL_PII_ENRICHED}),
scanned AS (
  SELECT doc_id,
       {counts},
       md5({sql_redacted('t')}) AS redacted_md5
  FROM enriched
)
SELECT doc_id, n_email, n_phone, n_ssn, n_ipv4,
       {total} AS n_pii, ({total}) > 0 AS has_pii, redacted_md5
FROM scanned ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Gopher quality rules
# --------------------------------------------------------------------------

def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = quality_rules(load_table(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        "word_count",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_word_ratio", 6).alias("alpha_word_ratio"),
        "stopword_distinct",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_alpha_words",
        "rule_stopwords",
        "keep",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Line-level boilerplate dedup
# --------------------------------------------------------------------------

def _boilerplate_enriched(docs: DataFrame) -> DataFrame:
    """Wrap each document in per-source header/footer lines (boilerplate
    that repeats across every document of a source)."""
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("breaking news from "),
            F.col("source"),
            F.lit("\n"),
            F.col("text"),
            F.lit("\nsubscribe to the "),
            F.col("source"),
            F.lit(" newsletter"),
        ).alias("text"),
    )


_SQL_BOILERPLATE_SRC = (
    "SELECT doc_id, 'breaking news from ' || source || chr(10) || text || "
    "chr(10) || 'subscribe to the ' || source || ' newsletter' AS t "
    "FROM documents"
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _boilerplate_enriched(load_table(spark, sf_dir, "documents"))
    out = line_dedup(docs, max_doc_freq=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5("kept_text").alias("kept_md5"),
    ).orderBy("doc_id")


def _sql_line_dedup() -> str:
    inner = sql_line_dedup(_SQL_BOILERPLATE_SRC, max_doc_freq=2)
    return f"""
SELECT doc_id, n_lines, n_kept, md5(kept_text) AS kept_md5
FROM ({inner}) ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)
# --------------------------------------------------------------------------

_PACK_CAPACITY = 2048


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(
        docs, size_col="n_chars", order_col="doc_id", capacity=_PACK_CAPACITY
    ).orderBy("doc_id")


def _sql_sequence_packing() -> str:
    return sql_pack_documents(
        "documents", size_col="n_chars", order_col="doc_id", capacity=_PACK_CAPACITY
    )


def q_sequence_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end tokenizer-aware packing pipeline in ONE plan: train
    the BPE tokenizer on the corpus (operators/bpe.py), tokenize every doc
    by lookup, then concat-and-chunk pack into 512-TOKEN sequences via the
    two-phase distributed prefix sum — the packing a pre-training batch
    actually ships, where sequence budget is tokens under YOUR tokenizer,
    not chars. Every stage is an already-oracled operator; the oracle
    recomputes the whole pipeline (recursive-CTE BPE folds feeding the
    running-sum packer) in SQL."""
    from ..operators.bpe import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    counts = bpe_token_counts(docs, k=4).select("doc_id", "n_bpe_tokens")
    return pack_documents(
        counts, size_col="n_bpe_tokens", order_col="doc_id", capacity=512
    ).orderBy("doc_id")


def _sql_sequence_packing_bpe() -> str:
    from ..operators.bpe import sql_bpe_token_counts

    inner = sql_bpe_token_counts(4)
    return sql_pack_documents(
        f"(SELECT doc_id, n_bpe_tokens FROM ({inner}))",
        size_col="n_bpe_tokens",
        order_col="doc_id",
        capacity=512,
    )


# --------------------------------------------------------------------------
# Incremental dedup: a new batch (doc_id % 10 >= 8) against the persisted
# state of the existing corpus (doc_id % 10 < 8). The oracle recomputes the
# FULL corpus pairs and restricts to pairs touching the batch — equality
# proves the O(batch) path loses nothing vs the O(corpus) recompute.
# --------------------------------------------------------------------------

def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import (
        build_dedup_state,
        dedup_state_path,
        incremental_minhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    state = dedup_state_path(sf_dir, n=5, num_hashes=16, bands=4)
    build_dedup_state(existing, state, n=5, num_hashes=16, bands=4)
    return incremental_minhash_pairs(
        spark, state, batch, n=5, num_hashes=16, bands=4, tau=0.4
    ).orderBy("id1", "id2")


def _sql_incremental_dedup() -> str:
    from .text import _sql_minhash

    return f"""
SELECT * FROM ({_sql_minhash(5, 16, 4, 0.4)})
WHERE id1 % 10 >= 8 OR id2 % 10 >= 8
ORDER BY id1, id2
"""


# --------------------------------------------------------------------------
# Training-shard plan (sink assignment + manifest; the write itself is
# exercised in tests/test_shards.py — the driver gate checks the pure plan)
# --------------------------------------------------------------------------

_N_SHARDS = 16


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest(
        assign_shards(docs, n_shards=_N_SHARDS), size_col="n_chars"
    )


_SQL_SHARD_MANIFEST = f"""
WITH a AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_N_SHARDS} AS shard_id
  FROM documents
)
SELECT shard_id, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id, CAST(SUM(n_chars) AS BIGINT) AS total_size
FROM a GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Document chunking (ingestion primitive: docs -> embedding-ready chunks)
# --------------------------------------------------------------------------

def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_documents

    return chunk_documents(
        load_table(spark, sf_dir, "documents"), window=20, stride=15
    ).orderBy("doc_id", "chunk_idx")


def _sql_chunk_documents() -> str:
    from ..operators.chunking import sql_chunk_documents

    return sql_chunk_documents(window=20, stride=15)


# --------------------------------------------------------------------------
# Train-side decontamination (enforcement twin of contamination_check)
# --------------------------------------------------------------------------

def q_decontaminate_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import decontaminate_train

    return decontaminate_train(
        load_table(spark, sf_dir, "documents"), n=8, train_pct=90, max_rate=0.2
    ).orderBy("doc_id")


def _sql_decontaminate_train(n: int = 8, train_pct: int = 90, max_rate: float = 0.2) -> str:
    from ..functions.text import SQL_TOKENS, sql_h64, sql_shingles

    return f"""
WITH split AS (
  SELECT doc_id, text,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS b
  FROM documents
),
toks AS (SELECT doc_id, b, {SQL_TOKENS.format(text="text")} AS t FROM split),
grams AS (
  SELECT doc_id, b, unnest(list_distinct({sql_shingles("t", n)})) AS shingle
  FROM toks
),
hashed AS (SELECT doc_id, b, {sql_h64("shingle")} AS h FROM grams),
val_index AS (SELECT DISTINCT h FROM hashed WHERE b >= {train_pct}),
stats AS (
  SELECT t.doc_id,
         COUNT(*) AS n_ngrams,
         COUNT(v.h) AS n_overlap
  FROM hashed t LEFT JOIN val_index v ON t.h = v.h
  WHERE t.b < {train_pct}
  GROUP BY 1
)
SELECT s.doc_id,
       COALESCE(n_ngrams, 0) AS n_ngrams,
       COALESCE(n_overlap, 0) AS n_overlap,
       ROUND(COALESCE(n_overlap * 1.0 / n_ngrams, 0.0), 6) AS overlap_rate,
       ROUND(COALESCE(n_overlap * 1.0 / n_ngrams, 0.0), 6) <= {max_rate} AS keep
FROM split s LEFT JOIN stats USING (doc_id)
WHERE s.b < {train_pct}
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Per-source curation report (operator-composition rollup)
# --------------------------------------------------------------------------

def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-health rollup per source: doc counts, Gopher keep rate,
    average word count, English share — the dashboard query a corpus build
    watches. Composes quality_rules + language_id in one plan."""
    from ..operators.quality import quality_rules
    from ..operators.textops import language_id

    docs = load_table(spark, sf_dir, "documents")
    q = quality_rules(docs).select("doc_id", "word_count", "keep")
    lang = language_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .join(lang, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
            F.round(F.avg("word_count"), 6).alias("avg_words"),
            F.sum(F.when(F.col("pred_lang") == "en", 1).otherwise(0)).alias("n_en"),
        )
        .orderBy("source")
    )


def _sql_curation_report() -> str:
    from ..operators.quality import sql_quality_rules
    from .text import _sql_language_id

    return f"""
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       ROUND(AVG(q.word_count), 6) AS avg_words,
       CAST(SUM(CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
FROM documents d
JOIN ({sql_quality_rules()}) q USING (doc_id)
JOIN ({_sql_language_id()}) l USING (doc_id)
GROUP BY 1 ORDER BY d.source
"""


# --------------------------------------------------------------------------
# Temperature-scaled data mixing
# --------------------------------------------------------------------------

def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mixing import temperature_mix

    return temperature_mix(
        load_table(spark, sf_dir, "documents"), total=200, alpha=0.5
    ).orderBy("doc_id")


def _sql_temperature_mix() -> str:
    from ..operators.mixing import sql_temperature_mix

    return sql_temperature_mix("documents", total=200, alpha=0.5)


# --------------------------------------------------------------------------
# Cost-aware budget mixing (water-filling)
# --------------------------------------------------------------------------

def q_char_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling character-budget mixture (operators/mixing.py
    ``char_budget_mix``): split a 130k-char budget across languages with
    temperature weights, capping languages whose whole corpus fits their
    share and redistributing the surplus; select each language's
    deterministic md5-order prefix that fits its allocation. The cost-aware
    sibling of ``temperature_mix`` (which plans doc COUNTS, not chars)."""
    from ..operators.mixing import char_budget_mix

    return char_budget_mix(
        load_table(spark, sf_dir, "documents"), budget=130_000, alpha=0.5
    ).orderBy("doc_id")


def _sql_char_budget_mix() -> str:
    from ..operators.mixing import sql_char_budget_mix

    return sql_char_budget_mix("documents", budget=130_000, alpha=0.5)


# --------------------------------------------------------------------------
# URL / domain curation (operators/urlops.py) — the stage a web-scale
# pipeline runs BEFORE content dedup. The fixture has no URL column, so the
# queries derive one deterministically from doc_id with a generator written
# in the shared Spark/DuckDB SQL dialect (same technique as the PII
# enrichment above): noise dimensions (scheme/host case, www, default
# port, tracking params in shuffled order, fragments, trailing slashes)
# vary on residues the canonicalizer must erase, while the canonical
# identity (host base mod 7, TLD mod 3, path mod 5, real param mod 2)
# varies on residues it must keep — so canonical groups are exactly the
# residue classes and any canonicalization bug flips the oracle hash.
# --------------------------------------------------------------------------

_URL_GEN_EXPR = (
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://' || "
    "CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END || "
    "CASE WHEN doc_id % 2 = 0 THEN 'Site-' ELSE 'site-' END || CAST(doc_id % 7 AS STRING) || "
    "CASE WHEN doc_id % 3 = 0 THEN '.CO.UK' WHEN doc_id % 3 = 1 THEN '.com' ELSE '.Org' END || "
    "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || "
    "'/docs/' || CAST(doc_id % 5 AS STRING) || "
    "CASE WHEN doc_id % 8 = 0 THEN '/' ELSE '' END || "
    "CASE WHEN doc_id % 6 = 0 THEN '?b=' || CAST(doc_id % 2 AS STRING) || '&a=1&utm_source=feed' "
    "WHEN doc_id % 6 = 1 THEN '?a=1&b=' || CAST(doc_id % 2 AS STRING) "
    "WHEN doc_id % 6 = 2 THEN '?utm_medium=email&a=1&b=' || CAST(doc_id % 2 AS STRING) "
    "WHEN doc_id % 6 = 3 THEN '?a=1&gclid=G123&b=' || CAST(doc_id % 2 AS STRING) "
    "WHEN doc_id % 6 = 4 THEN '?b=' || CAST(doc_id % 2 AS STRING) || '&a=1&ref=home' "
    "ELSE '?fbclid=F9&b=' || CAST(doc_id % 2 AS STRING) || '&a=1&utm_campaign=x' END || "
    "CASE WHEN doc_id % 9 = 0 THEN '#section-2' ELSE '' END"
)


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: canonicalize (operators/urlops.py contract — case,
    www, default ports, tracking params, param order, fragments, trailing
    slashes) and group; each canonical group keeps its smallest doc_id.
    Zero-shuffle canonicalization (pure codegen regexp/array expressions)
    + one map-side-combined groupBy — at 100 TB this is the cheapest dedup
    pass a web pipeline runs, ahead of any content hashing."""
    from ..operators.urlops import with_canonical_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    canon = with_canonical_url(docs.withColumn("url", F.expr(_URL_GEN_EXPR)))
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw_forms"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("canonical_url")
    )


def _sql_url_canonical_dedup() -> str:
    from ..operators.urlops import sql_canonical_ctes

    return f"""
WITH urls AS (SELECT doc_id, {_URL_GEN_EXPR} AS url FROM documents),
{sql_canonical_ctes('urls')}
SELECT canonical_url,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT url) AS n_raw_forms,
       MIN(doc_id) AS keep_doc_id
FROM canon
GROUP BY 1
HAVING COUNT(*) >= 2
ORDER BY canonical_url
"""


def q_domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup with blocklist filtering: canonical host ->
    longest-public-suffix registrable domain (broadcast PSL join over the
    DISTINCT host map, not the corpus), anti-join a domain blocklist, then
    per-domain corpus stats. The standard shape for domain-level quality
    decisions (keep/downsample/block a *site*, not a URL) in web-corpus
    curation."""
    from ..operators.urlops import registrable_domain_map, with_canonical_url

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    canon = with_canonical_url(docs.withColumn("url", F.expr(_URL_GEN_EXPR)))
    dmap = registrable_domain_map(canon.select("host"))
    blocked = local_frame(
        spark, [("site-3.co.uk",), ("site-5.org",)], "domain string"
    )
    return (
        canon.join(dmap, "host")
        .join(F.broadcast(blocked), "domain", "left_anti")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("domain")
    )


def _sql_domain_quality_rollup() -> str:
    from ..operators.urlops import sql_canonical_ctes, sql_domain_ctes

    return f"""
WITH urls AS (SELECT doc_id, lang, n_chars, {_URL_GEN_EXPR} AS url FROM documents),
{sql_canonical_ctes('urls')},
{sql_domain_ctes('canon')}
SELECT d.domain,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT c.host) AS n_hosts,
       COUNT(DISTINCT c.lang) AS n_langs,
       CAST(SUM(c.n_chars) AS BIGINT) AS total_chars,
       round(AVG(c.n_chars), 6) AS avg_chars
FROM canon c
JOIN dom d USING (host)
WHERE d.domain NOT IN ('site-3.co.uk', 'site-5.org')
GROUP BY 1
ORDER BY d.domain
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pii_redaction": q_pii_redaction,
    "quality_rules": q_quality_rules,
    "line_dedup": q_line_dedup,
    "sequence_packing": q_sequence_packing,
    "sequence_packing_bpe": q_sequence_packing_bpe,
    "shard_manifest": q_shard_manifest,
    "incremental_dedup": q_incremental_dedup,
    "temperature_mix": q_temperature_mix,
    "char_budget_mix": q_char_budget_mix,
    "chunk_documents": q_chunk_documents,
    "decontaminate_train": q_decontaminate_train,
    "curation_report": q_curation_report,
    "url_canonical_dedup": q_url_canonical_dedup,
    "domain_quality_rollup": q_domain_quality_rollup,
}

ORACLE_SQL: dict[str, str] = {
    "pii_redaction": _sql_pii_redaction(),
    "quality_rules": sql_quality_rules(),
    "line_dedup": _sql_line_dedup(),
    "sequence_packing": _sql_sequence_packing(),
    "sequence_packing_bpe": _sql_sequence_packing_bpe(),
    "shard_manifest": _SQL_SHARD_MANIFEST,
    "incremental_dedup": _sql_incremental_dedup(),
    "temperature_mix": _sql_temperature_mix(),
    "char_budget_mix": _sql_char_budget_mix(),
    "chunk_documents": _sql_chunk_documents(),
    "decontaminate_train": _sql_decontaminate_train(),
    "curation_report": _sql_curation_report(),
    "url_canonical_dedup": _sql_url_canonical_dedup(),
    "domain_quality_rollup": _sql_domain_quality_rollup(),
}
