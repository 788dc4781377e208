"""Deduplication operators for large-scale training-data pipelines
(north-star surface; BASELINE.json "dedup, similarity search ... at 100 TB
scale"). Five strategies over a (id, text | embedding) corpus:

1. ``exact_dedup``            — hash-groupBy on a normalized-text fingerprint.
2. ``ngram_jaccard_pairs``    — word-n-gram shingle inverted-index join +
                                exact Jaccard verify. No cross join, ever:
                                candidate pairs come from the shingle join,
                                so cost is Σ_s df(s)² over shared shingles,
                                not N².
3. ``minhash_lsh_pairs``      — k-minhash signatures banded into b bands;
                                pairs sharing a band are verified with true
                                Jaccard. The classic sub-quadratic near-dup
                                pass: one shuffle on band keys.
4. ``simhash_pairs``          — 32-bit simhash, banded into 4 bytes
                                (pigeonhole: hamming <= 3 guarantees a shared
                                byte-band), verified with bit_count(xor).
5. ``embedding_neardup_pairs``— cosine-threshold self-join; exact variant for
                                oracle parity, LSH-bucketed variant as the
                                scale path.

Every operator is pure DataFrame ops (shuffles on content-derived keys,
map-side combine, AQE-friendly); skew from hot shingles/buckets is handled
by ``max_doc_freq`` stop-shingle pruning (mirrors stopword removal in
MinHash literature) which also mirrors into the SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    h64,
    shingles,
    tokens,
)


NORM_TEXT = lambda c: F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")  # noqa: E731
SQL_NORM_TEXT = "regexp_replace(trim(lower({c})), '\\s+', ' ', 'g')"


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition on the id before CPU-heavy text work.

    A small parquet file arrives as ONE input split, so without this every
    shingling/hashing expression runs on a single core while the rest idle
    (measured: 8 s single-task shingling at sf0.1 on local[32]). The shuffle
    moves only (id, text) — cheap — and the same move is what a 1000-executor
    cluster needs anyway to spread row-group-skewed inputs.

    The partition count is EXPLICIT: ``repartition(col)`` without a count is
    an AQE-coalescible exchange, and because the shuffled (id, text) bytes
    are far below the advisory partition size, AQE merges it back to ONE
    partition — resurrecting exactly the single-task shingling this shuffle
    exists to prevent (the 3.3 s vs 8.8 s bench flap: whether AQE coalesced
    depended on session state). A user-specified count is never coalesced.
    Sized to the cluster's total cores: text work is CPU-bound, not
    bytes-bound, so the advisory byte target is the wrong heuristic."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


def _spread_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _t: array<string>) token arrays, spread and CHECKPOINTED.

    This is the structural barrier every shingle consumer builds on. Two
    distinct pathologies required it (both measured as multi-second
    single-task stalls at sf0.1 and as the 3.3 s vs 8.8 s bench flap):

    1. predicate pushdown: any filter derived above (an explicit
       size(_sh) > 0, or the size>0 AND isnotnull filter Catalyst INFERS
       from explode()) re-inlines the full tokenize+shingle expression
       below the spread exchange, running it twice on the one pre-shuffle
       input task;
    2. lazy .cache() is order-sensitive (whether the boundary holds depends
       on what the session analyzed first) and Dataset.unpersist() degrades
       unrelated cached plans (see build_dedup_state).

    An EAGER localCheckpoint of the token arrays is immune to both: the
    materialized RDD is a hard pushdown barrier, tokens are the smallest
    frame worth keeping (≈ text bytes; shingle strings are ~5x), and all
    CPU-heavy work above it runs at full parallelism."""
    return (
        _spread(df, id_col)
        .select(F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t"))
        .localCheckpoint(eager=True)
    )


def exact_dedup(df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by md5(normalized text): (fingerprint, n_docs, keeper_id).
    keeper = min id (deterministic survivor selection)."""
    return (
        df.withColumn("fingerprint", F.md5(NORM_TEXT(F.col(text_col))))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def _shingle_digests(toks: DataFrame, n: int) -> DataFrame:
    """(_id, m) DISTINCT per-shingle md5 digests from a
    :func:`_spread_tokens` frame — the minhash pipeline's canonical
    intermediate, in EXPLODED (not array) form: signatures derive as
    groupBy-min aggregates and the Jaccard-verify postings are these very
    rows, so exactly one cryptographic hash runs per shingle. Exploded
    matters for speed: md5 applied to a plain column runs in whole-stage
    codegen, while the same md5 inside a transform() lambda is interpreted
    per element (measured ~8x slower at sf0.1). Documents with zero
    shingles simply emit no rows (the old size(_sh) > 0 filter). The
    explode-inferred size/isnotnull filter stops at the token checkpoint:
    it re-evaluates the shingle transform once more, but 32-way parallel
    over materialized tokens — not on the single pre-shuffle input task."""
    return (
        toks.select("_id", F.explode(shingles(F.col("_t"), n)).alias("s"))
        .select("_id", F.md5("s").alias("m"))
        .distinct()
    )


def _distinct_shingles(toks: DataFrame, n: int) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index postings — from a
    :func:`_spread_tokens` frame (the barrier that keeps the explode-
    inferred filter off the pre-shuffle input task)."""
    return (
        toks.select("_id", F.explode(shingles(F.col("_t"), n)).alias("s"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    n: int = 5,
    tau: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Pairs (id1 < id2) with n-gram-shingle Jaccard >= tau.

    Plan: postings -> (optional stop-shingle prune at document frequency >
    max_doc_freq, the skew guard at scale) -> self equi-join on shingle ->
    count common -> join per-doc set sizes -> Jaccard filter. Under
    pruning, the pruned postings generate CANDIDATE pairs only; common
    counts and set sizes are both recomputed from the FULL postings (the
    minhash_lsh_pairs discipline), so the prune affects recall only —
    reported scores are exact for every surviving pair. (Counting common
    from pruned postings would undercount whenever a pruned shingle is
    shared — the ADVICE r7 flaw.)
    """
    # eager localCheckpoint, not .cache(): same reuse (sizes + both join
    # sides), but no permanent CacheManager entry per invocation (see
    # operators/incremental.py _incremental_pairs).
    post = _distinct_shingles(
        _spread_tokens(df, text_col, id_col), n
    ).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        cands = _pruned_candidates(post, max_doc_freq)
        return _jaccard_verify(cands, post, tau)
    a, b = post.alias("a"), post.alias("b")
    sizes = post.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.select(F.col("_id").alias("id1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("_id").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        common.join(s1, "id1").join(s2, "id2")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= tau)
        .select("id1", "id2", "jaccard")
    )


def _pruned_candidates(post: DataFrame, max_doc_freq: int) -> DataFrame:
    """Distinct candidate pairs (id1 < id2) sharing >= 1 shingle whose
    document frequency is <= max_doc_freq. Candidate generation ONLY —
    callers recompute exact counts from the full postings, so the prune is
    a recall/score-exactness trade made explicitly at the verify step."""
    hot = (
        post.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("s")
    )
    cand_post = post.join(F.broadcast(hot), "s", "left_anti")
    a, b = cand_post.alias("a"), cand_post.alias("b")
    return (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    *,
    n: int = 5,
    tau: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram-Jaccard pair join via PREFIX FILTERING (AllPairs /
    PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08) — same
    output as :func:`ngram_jaccard_pairs`, sub-quadratic candidate set,
    ZERO recall loss (unlike MinHash banding, the prune here is provably
    complete).

    Canonical order: shingles sorted by global document frequency
    ascending, ties by shingle text — rarest first, so prefixes index the
    least-common shingles and the candidate self-join fans out minimally.
    Per doc x the prefix is its first |x| - ceil(tau*|x|) + 1 shingles.
    Completeness: if J(x,y) >= tau, let w be the canonically-smallest
    shared shingle; were w past x's prefix, all prefix shingles of x would
    be missing from y, so |x∩y| <= |x| - prefix_len = ceil(tau*|x|) - 1
    < tau*|x| <= tau*|x∪y| <= |x∩y| — contradiction. Hence w lies in BOTH
    prefixes and the prefix-postings equi-join finds every qualifying
    pair; the exact-Jaccard verify then recomputes true scores from full
    postings (candidates are a superset, never a substitute).

    Scale: one df-count aggregation, one per-doc window (keyed by doc —
    never global), a self-join on RARE shingles only (the hot shingles a
    max_doc_freq prune would drop land past the prefix automatically for
    any tau > 0 as corpus frequency grows), then _jaccard_verify. The
    prefix-length ceil gets a 1e-9 slack so float rounding can only
    LENGTHEN a prefix (keeping completeness), never shorten it.
    """
    post = _distinct_shingles(
        _spread_tokens(df, text_col, id_col), n
    ).localCheckpoint(eager=True)
    dfreq = post.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    sizes = post.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    w = Window.partitionBy("_id").orderBy("_df", "s")
    pref = (
        post.join(dfreq, "s")
        .withColumn("_pos", F.row_number().over(w))
        .join(sizes, "_id")
        .filter(
            F.col("_pos")
            <= F.col("n_sh") - F.ceil(F.lit(tau) * F.col("n_sh") - F.lit(1e-9)) + 1
        )
        .select("_id", "s")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cands = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )
    return _jaccard_verify(cands, post, tau)


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    tau: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    rows_per_band = num_hashes / bands. Candidates = pairs agreeing on all
    rows of >= 1 band (join on (band_idx, band_hash) — one shuffle keyed by
    band content). Verification recomputes true Jaccard from the postings, so
    output pairs are exact — LSH affects recall only.
    """
    assert num_hashes % bands == 0
    # The token checkpoint inside _spread_tokens is the only materialization
    # barrier; the digest postings above it feed BOTH the signature/banding
    # path and the exact-Jaccard verify path, deduplicated at execution time
    # by ReuseExchange (the distinct's shuffle is byte-identical in every
    # branch of the single final plan).
    post = _shingle_digests(_spread_tokens(df, text_col, id_col), n)
    cands = _banded_candidates(post, num_hashes, bands)
    # exact-Jaccard verify on candidates only (digest equality == shingle
    # equality on both engines, so counts match the string-based verify)
    return _jaccard_verify(cands, post.withColumnRenamed("m", "s"), tau)


def _banded_candidates(post: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Distinct (id1 < id2) candidate pairs agreeing on >= 1 full band —
    the pre-verification stage, exposed so quality instruments can
    measure candidate recall/precision against exact ground truth."""
    band_rows = _band_rows(post, num_hashes, bands)
    a, b_ = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    *,
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded candidate pairs WITHOUT the Jaccard verify — what the LSH
    stage alone proposes. Recall against exact ground truth is the
    banding quality; see the ``dedup_minhash_quality`` instrument."""
    assert num_hashes % bands == 0
    post = _shingle_digests(_spread_tokens(df, text_col, id_col), n)
    return _banded_candidates(post, num_hashes, bands)


def _km_hash_cols(m, num_hashes: int) -> list:
    """The Kirsch–Mitzenmacher k-hash family h_i = h1 + i*h2 over a digest
    COLUMN (functions/text.py documents the construction and its overflow
    bounds; this is the codegen-friendly column twin of the array-lambda
    form there)."""
    h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 17, 14), 16, 10).cast("long")
    return [h1 + F.lit(i) * h2 for i in range(num_hashes)]


def _band_rows(post: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band, bh) banded-signature rows from (_id, m) digest postings.

    Signature slots are min-aggregates over each document's digests — one
    hash-aggregate with map-side partial combine, fully inside whole-stage
    codegen (the array-transform formulation ran interpreted). Minhash over
    the DISTINCT digest set equals minhash over the multiset (min ignores
    duplicates), so postings serve as the single source for both signatures
    and Jaccard verification.

    Signatures depend only on the document's own shingles (fixed
    Kirsch–Mitzenmacher family over per-shingle md5s), so band rows are
    corpus-independent — the property the incremental path
    (operators/incremental.py) relies on: bands computed for a new batch are
    bit-identical to what a full recompute would emit.
    """
    r = num_hashes // bands
    sig = post.groupBy("_id").agg(
        *[
            F.min(h).alias(f"_s{i}")
            for i, h in enumerate(_km_hash_cols(F.col("m"), num_hashes))
        ]
    )
    return sig.select(
        "_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(",", *[F.col(f"_s{b * r + j}") for j in range(r)])
                    ).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bh")


def _jaccard_verify(cands: DataFrame, post: DataFrame, tau: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against shingle
    postings: (id1, id2, jaccard) for pairs with jaccard >= tau. Jaccard
    uses FULL per-doc set sizes, so candidate pruning upstream affects
    recall only, never the reported score."""
    sizes = post.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    pa, pb = post.alias("pa"), post.alias("pb")
    common = (
        cands.join(pa, F.col("pa._id") == F.col("id1"))
        .join(pb, (F.col("pb._id") == F.col("id2")) & (F.col("pa.s") == F.col("pb.s")))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.select(F.col("_id").alias("id1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("_id").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        common.join(s1, "id1").join(s2, "id2")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= tau)
        .select("id1", "id2", "jaccard")
    )


def simhash_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by 60-bit simhash hamming distance <= max_hamming.

    Banding: 4 bands of 15 bits; pigeonhole guarantees any pair with
    hamming <= 3 shares at least one unchanged band, so the band join has
    full recall for the default threshold (requires max_hamming < 4).
    2^15 bucket values per band keep band-bucket occupancy — and with it
    the candidate-pair count — sub-quadratic as the corpus grows (the old
    8-bit bands saturated 256 buckets: 82 s at sf1 vs 2.5 s at sf0.1)."""
    assert max_hamming < 4, "banding recall guarantee needs hamming < bands"
    from ..functions.text import SIMHASH_BITS

    # Exploded codegen form (see _shingle_digests for the pattern and
    # measurements): one md5 per TOKEN on a plain column inside whole-stage
    # codegen — the array-lambda twin (token_hashes/simhash_from_hashes,
    # kept as the expression-level API) runs interpreted per element. Bit
    # votes are commutative integer sums, so groupBy-agg over exploded
    # token-hash rows reproduces the array fold exactly (multiset
    # preserved: explode keeps duplicates, and tokens() never yields an
    # empty array — split() of any string has >= 1 element). The eager
    # localCheckpoint is the shared barrier: sh feeds both sides of the
    # band self-join, and a lazy .cache() is order-sensitive.
    tok_hashes = (
        _spread_tokens(df, text_col, id_col)
        .select("_id", F.explode("_t").alias("_tok"))
        .select("_id", h64(F.col("_tok")).alias("_h"))
    )
    votes = tok_hashes.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    code = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"_v{i}") >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        code = term if code is None else code + term
    sh = votes.select("_id", code.alias("sh")).localCheckpoint(eager=True)
    band_rows = sh.select(
        "_id", "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("sh"), 15 * b)
                    .bitwiseAND(F.lit(0x7FFF))
                    .alias("bv"),
                )
                for b in range(4)
            ])
        ).alias("bb"),
    ).select("_id", "sh", "bb.band", "bb.bv")
    a, b_ = band_rows.alias("a"), band_rows.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id1"),
            F.col("b._id").alias("id2"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    tau: float = 0.4,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
    score_decimals: int | None = 6,
) -> DataFrame:
    """Exact cosine-threshold pair join (id1 < id2, cos >= tau).

    This is the O(N²) oracle-parity variant — correct at any N but quadratic;
    the scale path is ``embedding_neardup_pairs_lsh`` which buckets first."""
    from ..functions.vector import dot, l2_norm

    # Norms are precomputed once per row and cached: inlined, every one of
    # the N^2/2 pairs would recompute both norms (3x the flops), and the
    # nested-loop join would stream a single input partition on one core.
    # The formula stays dot/(n1*n2) with the zero-norm guard — bitwise the
    # oracle's _DUCK_COS, just with the norm subexpressions hoisted.
    rows = (
        df.filter(F.col(embedding_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(embedding_col).alias("_e"),
            l2_norm(F.col(embedding_col)).alias("_n"),
        )
        .repartition(F.col("_id"))
        .localCheckpoint(eager=True)
    )
    a, b = rows.alias("a"), rows.alias("b")
    cos = F.when(
        (F.col("a._n") == 0.0) | (F.col("b._n") == 0.0), F.lit(0.0)
    ).otherwise(dot(F.col("a._e"), F.col("b._e")) / (F.col("a._n") * F.col("b._n")))
    if score_decimals is not None:
        cos = F.round(cos, score_decimals)
    return (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= tau)
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"), "cosine")
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    planes: list[list[list[float]]],
    *,
    tau: float = 0.4,
    id_col: str = "vec_id",
    embedding_col: str = "embedding",
) -> DataFrame:
    """Scale path: candidates = pairs sharing an LSH bucket in >= 1 table
    (shuffle keyed by (table, code) — sub-quadratic), then exact cosine
    verify. Recall < 1 by construction; measured against the exact variant in
    tests."""
    from ..functions.lsh import bucket_codes, planes_dim
    from ..functions.vector import l2_norm, sql_dot_cols

    dim = planes_dim(planes)
    codes = bucket_codes(embedding_col, planes)
    # posexplode the codes expression directly — materializing via withColumn
    # first makes Catalyst re-inline it into both the Generate input and the
    # outer project, evaluating the hash twice per row (see lsh_topk_batch).
    # Norms hoisted to once per base row and the verify dot unrolled into
    # one codegen expression (r15, see dbscan.knn_edges_lsh: the HOF cosine
    # evaluates interpreted per pair and dominated the dense-bucket probes);
    # formula stays dot/(n1*n2) with the zero-norm guard — values
    # bit-identical, same _DUCK_COS oracle.
    coded = df.filter(F.col(embedding_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(embedding_col).alias("_e"),
        l2_norm(F.col(embedding_col)).alias("_n"),
        F.posexplode(codes).alias("table_id", "code"),
    )
    a, b = coded.alias("a"), coded.alias("b")
    cos = F.when(
        (F.col("_n1") == 0.0) | (F.col("_n2") == 0.0), F.lit(0.0)
    ).otherwise(
        F.expr(sql_dot_cols("_e1", "_e2", dim)) / (F.col("_n1") * F.col("_n2"))
    )
    return (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id1"),
            F.col("b._id").alias("id2"),
            F.col("a._e").alias("_e1"),
            F.col("b._e").alias("_e2"),
            F.col("a._n").alias("_n1"),
            F.col("b._n").alias("_n2"),
        )
        .dropDuplicates(["id1", "id2"])
        .withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= tau)
        .select("id1", "id2", "cosine")
    )


def ngram_containment_pairs(
    df: DataFrame,
    *,
    n: int = 5,
    tau: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Pairs (id1 < id2) with n-gram-shingle OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) >= tau — the asymmetric companion to
    :func:`ngram_jaccard_pairs` that catches quote/subset relationships
    Jaccard misses (a short doc fully embedded in a long one has high
    containment but low Jaccard, since the union is dominated by the long
    doc). Same plan shape: inverted-index postings -> shingle equi-join ->
    common counts -> size join -> threshold filter. Under pruning,
    candidate pairs come from the pruned postings but common counts and
    set sizes are recomputed from the FULL postings (see
    ngram_jaccard_pairs), so reported containment is exact for every
    surviving pair — the prune trades recall only (ADVICE r7)."""
    post = _distinct_shingles(
        _spread_tokens(df, text_col, id_col), n
    ).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        return _containment_verify(_pruned_candidates(post, max_doc_freq), post, tau)
    a, b = post.alias("a"), post.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _containment_from_common(common, post, tau)


def _containment_from_common(
    common: DataFrame, post: DataFrame, tau: float
) -> DataFrame:
    """Attach FULL per-doc set sizes to (id1, id2, common) counts and apply
    the overlap-coefficient threshold."""
    sizes = post.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = sizes.select(F.col("_id").alias("id1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("_id").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        common.join(s1, "id1").join(s2, "id2")
        .withColumn(
            "containment",
            F.round(F.col("common") / F.least(F.col("n1"), F.col("n2")), 6),
        )
        .filter(F.col("containment") >= tau)
        .select("id1", "id2", "containment")
    )


def _containment_verify(cands: DataFrame, post: DataFrame, tau: float) -> DataFrame:
    """Exact-containment verification of candidate pairs against the FULL
    shingle postings — the overlap-coefficient twin of _jaccard_verify."""
    pa, pb = post.alias("pa"), post.alias("pb")
    common = (
        cands.join(pa, F.col("pa._id") == F.col("id1"))
        .join(pb, (F.col("pb._id") == F.col("id2")) & (F.col("pa.s") == F.col("pb.s")))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _containment_from_common(common, post, tau)


def weighted_jaccard_pairs(
    df: DataFrame,
    *,
    n: int = 5,
    tau: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact WEIGHTED-Jaccard pair join — J_w(x,y) = W(x∩y)/W(x∪y) with
    per-shingle IDF weights — via the weighted generalization of the
    prefix filter (Chaudhuri et al. ICDE'06 signature scheme). Weighted
    Jaccard is the dedup measure that stops boilerplate from dominating:
    two docs sharing only ubiquitous shingles score near 0 however many
    they share, while a shared rare passage scores high.

    Weights are INTEGER-scaled IDF — w_s = floor(ln(N/df_s)·1e6) + 1 —
    so every downstream sum (doc totals, intersection weight) is an exact
    BIGINT on both engines and the only float step is the final division
    (ln parity per the TF-IDF/DSIR precedent; +1 keeps corpus-saturated
    shingles at positive weight, so W(x) > 0 always).

    Canonical order: (df ASC, shingle ASC) — identical to the unweighted
    prefix join since IDF is monotone in df. Per doc, position j stays in
    the prefix iff the suffix weight INCLUDING j is >= tau·W(x) (1e-6
    absolute slack against integer weights: float rounding can only
    LENGTHEN a prefix). Completeness: if J_w(x,y) >= tau, the canonically
    first shared shingle t lies in BOTH prefixes — were every shared
    shingle past x's prefix, W(x∩y) <= W(suffix_x) < tau·W(x) <=
    tau·W(x∪y) <= W(x∩y), a contradiction; symmetrically for y. The
    prefix-postings equi-join therefore finds every qualifying pair, and
    the verify recomputes exact integer weights from FULL postings
    (candidates are a superset, never a substitute).

    Scale shape mirrors prefix_filter_jaccard_pairs: one df aggregation,
    one keyed per-doc window, a self-join on rare-prefix shingles only,
    then an exact verify keyed by candidate pairs.
    """
    post = _distinct_shingles(
        _spread_tokens(df, text_col, id_col), n
    ).localCheckpoint(eager=True)
    nd = post.agg(F.countDistinct("_id").alias("_nd"))
    dfreq = post.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    wts = dfreq.crossJoin(F.broadcast(nd)).select(
        "s",
        "_df",
        (F.floor(F.log(F.col("_nd") / F.col("_df")) * 1e6) + 1)
        .cast("long")
        .alias("_w"),
    )
    # Reused by the prefix pass, both verify legs, and the totals — one
    # materialization, same reasoning as the p1 checkpoint in
    # price_mad_by_flag (un-checkpointed, the join re-derives per consumer).
    wpost = post.join(wts, "s").localCheckpoint(eager=True)
    tot = wpost.groupBy("_id").agg(F.sum("_w").alias("_wtot"))
    win = (
        Window.partitionBy("_id")
        .orderBy("_df", "s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = (
        wpost.withColumn("_cum", F.sum("_w").over(win))
        .join(tot, "_id")
        .filter(
            (F.col("_wtot") - F.col("_cum") + F.col("_w")).cast("double")
            >= F.lit(tau) * F.col("_wtot") - F.lit(1e-6)
        )
        .select("_id", "s")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cands = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )
    pa = wpost.select(F.col("_id").alias("id1"), "s", F.col("_w").alias("_wa"))
    pb = wpost.select(F.col("_id").alias("id2"), "s")
    inter = (
        cands.join(pa, "id1")
        .join(pb, ["id2", "s"])
        .groupBy("id1", "id2")
        .agg(F.sum("_wa").alias("_wi"))
    )
    t1 = tot.select(F.col("_id").alias("id1"), F.col("_wtot").alias("_w1"))
    t2 = tot.select(F.col("_id").alias("id2"), F.col("_wtot").alias("_w2"))
    return (
        inter.join(t1, "id1")
        .join(t2, "id2")
        .withColumn(
            "wjaccard",
            F.round(
                F.col("_wi") / (F.col("_w1") + F.col("_w2") - F.col("_wi")), 6
            ),
        )
        .filter(F.col("wjaccard") >= tau)
        .select("id1", "id2", "wjaccard")
    )
