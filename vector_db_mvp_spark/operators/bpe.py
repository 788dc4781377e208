"""Distributed BPE tokenizer training: learn merge rules from a corpus.

The reference counts tokens but never *learns* a tokenizer; training one is
the canonical pre-training-pipeline step this engine adds (north-star scope,
SURVEY.md §2.9 — alongside token_counts_bpe, which *applies* a GPT-2-style
pre-tokenizer). Classic byte-pair encoding (Sennrich et al., ACL 2016,
arXiv:1508.07909 §3.2) trains on the *word-frequency table*, not the raw
corpus: every round counts adjacent symbol pairs weighted by word frequency,
picks the globally most frequent pair, and merges it greedily left-to-right
inside every word.

Spark shape — why this scales to 100 TB:
- The only corpus-sized work is ONE tokenize + groupBy(word) scan; by Heaps'
  law the resulting vocabulary is sublinear in corpus size, and every merge
  round runs over that small vocab frame, never the corpus.
- Pair counting is a map-side-combinable groupBy over exploded adjacent
  pairs (pure Catalyst expressions, whole-stage codegen).
- The winning pair is a 1-row driver fetch per round (control-plane, like
  kmeans centroids), broadcast back into the next round's merge expression.
- The merge itself is a native ``aggregate()`` fold — no Python in the loop.

Greedy-merge equivalence: BPE merges disjoint (left,right) occurrences
left-to-right. A left fold that merges when ``last(acc) == left AND x ==
right`` is exactly that scan, because a just-merged symbol ``left||right``
can never equal ``left`` again (``right`` is non-empty), so one merge can
never chain into the next — e.g. pair (a,a) on "aaaa" folds to [aa,aa], on
"aaa" to [aa,a], matching the greedy scan.

Determinism: counts are integers, symbols are strings, ties break by
(count DESC, lhs ASC, rhs ASC) — no floats anywhere, so the DuckDB oracle
(same fold via a per-word recursive CTE) is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

# Words = lowercase ASCII-alpha runs: trivially identical in Java regex and
# DuckDB RE2, so both engines train on the same word table.
_WORD_RE = "[a-z]+"


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) frequency table — the one corpus-sized scan."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{_WORD_RE}', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# Callers filter size(syms) >= 2 first: Spark's sequence(1, 0) DESCENDS
# ([1, 0]) rather than returning empty, so the guard cannot live inline.
_PAIRS_EXPR = """
transform(sequence(1, size(syms) - 1),
          i -> struct(element_at(syms, i) AS lhs,
                      element_at(syms, i + 1) AS rhs))
"""


def _merge_expr(left: str, right: str) -> str:
    """Native greedy-merge fold (see module docstring for the equivalence
    proof). ``left``/``right`` are [a-z]+ concatenations — no escaping
    hazards, asserted anyway."""
    assert left.isalpha() and right.isalpha(), (left, right)
    merged = left + right
    return f"""
    aggregate(syms, cast(array() as array<string>),
      (acc, x) -> CASE WHEN size(acc) > 0
                        AND element_at(acc, -1) = '{left}' AND x = '{right}'
                  THEN concat(slice(acc, 1, size(acc) - 1), array('{merged}'))
                  ELSE concat(acc, array(x)) END)
    """


def _train(
    df: DataFrame, k: int, text_col: str, fold_last: bool
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared training loop: returns (merges, vocab) where vocab carries the
    post-merge symbol arrays. ``fold_last`` applies the k-th merge too (the
    merge table itself doesn't need it; tokenization does)."""
    vocab = _word_counts(df, text_col).withColumn(
        "syms",
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
    )
    # The vocab frame is Heaps-sublinear; persist it once, then each round
    # replaces only the syms column (narrow, no reshuffle).
    vocab = vocab.persist()
    merges = []
    for rank in range(1, k + 1):
        top = (
            vocab.filter(F.size("syms") >= 2)
            .select(F.explode(F.expr(_PAIRS_EXPR)).alias("p"), "cnt")
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"]
        merges.append((rank, lhs, rhs, int(cnt)))
        if rank < k or fold_last:
            nxt = vocab.withColumn("syms", F.expr(_merge_expr(lhs, rhs))).persist()
            nxt.count()  # materialize before dropping the parent
            vocab.unpersist()
            vocab = nxt
    # Survive the caller's lazy downstream plan: checkpoint, then release
    # the persist (unpersisting a frame a returned plan still reads would
    # silently recompute the whole loop).
    final = vocab.localCheckpoint(eager=True)
    vocab.unpersist()
    return merges, final


def bpe_train(
    df: DataFrame,
    *,
    k: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``k`` BPE merges; returns (merge_rank, lhs, rhs,
    pair_count), one row per learned merge, in training order.

    Each round: count adjacent symbol pairs over the vocab (weighted by word
    frequency), fetch the argmax — a single control-plane row — and fold the
    merge into every word natively. Stops early if no pairs remain."""
    spark = df.sparkSession
    merges, _ = _train(df, k, text_col, fold_last=False)
    return local_frame(
        spark, merges, "merge_rank int, lhs string, rhs string, pair_count bigint"
    ).orderBy("merge_rank")


def bpe_token_counts(
    df: DataFrame,
    *,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train ``k`` merges, then TOKENIZE the corpus with them: per-doc
    (n_words, n_bpe_tokens) under the learned tokenizer — the number a
    token-budgeted pipeline actually needs (contrast textops.
    token_counts_bpe, which applies a FIXED GPT-2-style pre-tokenizer).

    Apply is a lookup, not a re-fold: every occurrence of a word tokenizes
    identically, so the per-word token count is already in the trained
    vocab. One explode + one shuffle join keyed by word (AQE broadcasts it
    when the vocab is small; Heaps-sublinear either way) + one groupBy
    doc."""
    _, vocab = _train(df, k, text_col, fold_last=True)
    words = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{_WORD_RE}', 0)")
            ).alias("word"),
        )
    )
    return (
        words.join(vocab.select("word", F.size("syms").alias("n_syms")), "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
        .orderBy(id_col)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: the same training unrolled — per round, pair counts via
# UNNEST over the vocab, argmax with the same tie-break, and the greedy merge
# as a per-word recursive fold stepping one symbol position at a time
# (recursion depth = longest word, width = vocab size — tiny both ways).
# ---------------------------------------------------------------------------

def _sql_ctes(k: int, table: str, text_col: str, fold_last: bool) -> list[str]:
    ctes = [
        f"""words AS MATERIALIZED (
  SELECT word, COUNT(*) AS cnt
  FROM (SELECT UNNEST(regexp_extract_all(lower({text_col}), '{_WORD_RE}')) AS word
        FROM {table} WHERE {text_col} IS NOT NULL)
  GROUP BY 1)""",
        """syms0 AS MATERIALIZED (
  SELECT word, cnt,
         list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
  FROM words)""",
    ]
    for r in range(k):
        ctes.append(f"""top{r} AS MATERIALIZED (
  SELECT u.p.lhs AS lhs, u.p.rhs AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM syms{r}, UNNEST(list_transform(range(1, len(syms)),
                       i -> {{'lhs': syms[i], 'rhs': syms[i + 1]}})) AS u(p)
  GROUP BY 1, 2
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1)""")
        if r < k - 1 or fold_last:
            # Early-exhaustion guard: if the corpus admits fewer than k
            # merges, top{r} is EMPTY and a bare CROSS JOIN would cascade
            # syms{r+1} to zero rows (while the Spark loop `break`s and
            # keeps the folded vocab). Pad to exactly one row with ''
            # sentinels — '' never equals a real [a-z]+ symbol, so the
            # fold degrades to the identity fold, matching the break.
            ctes.append(f"""top{r}pad AS MATERIALIZED (
  SELECT COALESCE(MAX(lhs), '') AS lhs, COALESCE(MAX(rhs), '') AS rhs
  FROM top{r})""")
            ctes.append(f"""fold{r}(word, pos, out) AS (
  SELECT word, 1, CAST([] AS VARCHAR[]) FROM syms{r}
  UNION ALL
  SELECT f.word, f.pos + 1,
         CASE WHEN len(f.out) > 0 AND f.out[-1] = t.lhs
                   AND s.syms[f.pos] = t.rhs
              THEN list_append(f.out[1:len(f.out) - 1], t.lhs || t.rhs)
              ELSE list_append(f.out, s.syms[f.pos]) END
  FROM fold{r} f JOIN syms{r} s USING (word) CROSS JOIN top{r}pad t
  WHERE f.pos <= len(s.syms))""")
            ctes.append(f"""syms{r + 1} AS MATERIALIZED (
  SELECT s.word, s.cnt, f.out AS syms
  FROM fold{r} f JOIN syms{r} s USING (word)
  WHERE f.pos = len(s.syms) + 1)""")
    return ctes


def sql_bpe_train(k: int = 4, table: str = "documents", text_col: str = "text") -> str:
    ctes = _sql_ctes(k, table, text_col, fold_last=False)
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r + 1} AS INTEGER) AS merge_rank, lhs, rhs, pair_count FROM top{r}"
        for r in range(k)
    )
    return (
        "WITH RECURSIVE " + ",\n".join(ctes) + "\n" + union + "\nORDER BY merge_rank"
    )


def sql_bpe_token_counts(
    k: int = 4,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`bpe_token_counts`: the same trained vocab
    (folds applied through merge k), then tokenize-by-lookup."""
    ctes = _sql_ctes(k, table, text_col, fold_last=True)
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f""",
tok AS (SELECT word, len(syms) AS n_syms FROM syms{k}),
docw AS (SELECT {id_col},
                UNNEST(regexp_extract_all(lower({text_col}), '{_WORD_RE}'))
                  AS word
         FROM {table} WHERE {text_col} IS NOT NULL)
SELECT {id_col}, COUNT(*) AS n_words,
       CAST(SUM(n_syms) AS BIGINT) AS n_bpe_tokens
FROM docw JOIN tok USING (word)
GROUP BY 1 ORDER BY {id_col}"""
    )
