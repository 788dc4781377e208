"""HyperLogLog distinct-count sketch with a deterministic, oracle-exact
estimator (Flajolet et al. '07).

Companion to the KMV sketch (operators/sketch.py) — same motivation
(bounded-state cardinality per group at 100 TB corpus scale, extending the
reference's corpus-level `/stats` reporting, app/routers/stats.py), but a
different monoid: KMV state is the k smallest hashes (merge = min-k of the
union), HLL state is a fixed 256-register max-rho array (merge = per
register max), which is smaller (256 ints vs k hashes) and merge-cheaper —
the standard choice for per-shard rollups that a coordinator combines.

Spark's own `approx_count_distinct` is HLL++, but its sketch is not
reproducible outside the JVM, so it cannot be hash-verified against a
DuckDB oracle. This implementation derives every register from md5 — both
engines compute the IDENTICAL register array, and the estimator is made
bit-deterministic by integer-scaling the harmonic sum:

    register  = first 2 hex chars of md5(value)       (m = 256 registers)
    v52       = next 13 hex chars as a 52-bit integer
    rho       = 1 + leading zeros of v52 = 53 - bitlength(v52)   (v52 > 0)
              = 53                                               (v52 = 0)
    Z_scaled  = zeros * 2^53 + SUM over hit registers of 2^(53 - max_rho)

Every 2^(53 - rho) term is an exact BIGINT, so Z_scaled is an exact
integer regardless of summation order (a float harmonic sum would be
order-dependent and engine-divergent). The raw estimate
floor(alpha_m * m^2 * 2^53 / Z_scaled) then uses one correctly-rounded
double division — bitwise identical across engines, same discipline as the
KMV estimator's floor(). No small-range bias correction is applied: this
reports the raw HLL estimator (the docstring'd contract), and the exact
count is emitted beside it for comparison.

Scale design (100 TB): one full-width shuffle for the distinct on
(group, value) — set semantics require it — then a (group, register)
aggregation whose output is bounded at 256 rows per group with map-side
partial max. No windows, no skew sensitivity (registers are uniform by
construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M = 256          # registers (first 2 hex chars = 8-bit register index)
TWO53 = 9007199254740992  # 2^53, the integer scaling of the harmonic sum

# alpha_m for m = 256, computed ONCE in Python as an IEEE-754 double and
# injected verbatim into both engines. Deriving it from literals inside
# each engine is NOT portable: Spark constant-folds '0.7213 / (1.0 +
# 1.079 / 256.0)' in DECIMAL(24,16) arithmetic (0.7182725959317630) while
# DuckDB folds it in DOUBLE (0.7182725932495458); the ~3.7e-9 relative
# difference flips floor(alpha*m^2*2^53/Z) at integer boundaries once
# estimates grow (~3e8+), breaking the bit-identical contract.
_ALPHA = 0.7213 / (1.0 + 1.079 / 256.0)


def hll_state_rows(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Bounded HLL state: (group_col, reg, rho) with rho = per-register
    max, at most 256 rows per group. This is the mergeable monoid
    (:func:`hll_merge`)."""
    d = df.select(group_col, value_col).distinct()
    h = d.select(group_col, F.md5(F.col(value_col).cast("string")).alias("h"))
    v52 = F.conv(F.substring("h", 3, 13), 16, 10).cast("long")
    rho = F.when(v52 == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.conv(F.substring("h", 3, 13), 16, 2))
    )
    regs = h.select(
        group_col,
        F.conv(F.substring("h", 1, 2), 16, 10).cast("int").alias("reg"),
        rho.cast("int").alias("rho"),
    )
    return regs.groupBy(group_col, "reg").agg(F.max("rho").alias("rho"))


def hll_merge(a: DataFrame, b: DataFrame, group_col: str) -> DataFrame:
    """Monoid merge: per-register max over the union — associative,
    commutative, idempotent (re-delivered batches are absorbed)."""
    return a.unionByName(b).groupBy(group_col, "reg").agg(F.max("rho").alias("rho"))


def hll_estimate_from_state(
    state: DataFrame, group_cols: str | list[str]
) -> DataFrame:
    """(group..., registers_hit, distinct_estimate) from register state,
    via the integer-scaled harmonic sum described in the module
    docstring. ``group_cols`` may be one column name or a list — composite
    keys (e.g. a pair-overlap's (g1, g2)) group directly, never through a
    string-concatenated surrogate that could collide on separator bytes
    in the data."""
    cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    # 2^(53 - rho) as an exact long via a literal power-of-two lookup
    # (shiftleft needs a literal shift; float pow is inexact past 2^53).
    # One expr parse, not 54 F.lit round trips (spark_sql_plane_dot precedent).
    pow2 = F.expr("array(" + ", ".join(f"{1 << i}L" for i in range(54)) + ")")
    term = F.element_at(pow2, (F.lit(53) - F.col("rho")).cast("int") + F.lit(1))
    agg = state.groupBy(*cols).agg(
        F.count(F.lit(1)).alias("registers_hit"),
        F.sum(term).alias("_zsum"),
    )
    z_scaled = (F.lit(M).cast("long") - F.col("registers_hit")) * F.lit(TWO53) + F.col("_zsum")
    est = F.floor(
        F.lit(_ALPHA) * F.lit(65536.0) * F.lit(float(TWO53)) / z_scaled.cast("double")
    )
    return agg.select(
        *cols,
        F.col("registers_hit").cast("long").alias("registers_hit"),
        est.cast("long").alias("distinct_estimate"),
    )


def hll_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HLL distinct estimate beside the exact count.

    Returns DataFrame[group_col, registers_hit, distinct_estimate,
    n_exact], ordered by group.
    """
    state = hll_state_rows(df, group_col, value_col)
    est = hll_estimate_from_state(state, group_col)
    exact = (
        df.select(group_col, value_col)
        .distinct()
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.join(F.broadcast(exact), group_col).orderBy(group_col)


def sql_hll_distinct(table: str, group_col: str, value_col: str) -> str:
    """DuckDB oracle computing the identical register array and the
    identical integer-scaled estimator — exact value parity."""
    return f"""
WITH d AS (SELECT DISTINCT {group_col}, {value_col} FROM {table}),
h AS (SELECT {group_col}, md5(CAST({value_col} AS VARCHAR)) AS h FROM d),
regs AS (
  SELECT {group_col},
         CAST(('0x' || substr(h, 1, 2)) AS INTEGER) AS reg,
         CASE WHEN CAST(('0x' || substr(h, 3, 13)) AS BIGINT) = 0 THEN 53
              ELSE 53 - length(format('{{:b}}', CAST(('0x' || substr(h, 3, 13)) AS BIGINT)))
         END AS rho
  FROM h
),
state AS (SELECT {group_col}, reg, MAX(rho) AS rho FROM regs GROUP BY 1, 2),
agg AS (
  SELECT {group_col},
         COUNT(*) AS registers_hit,
         SUM(CAST(1 AS BIGINT) << (53 - rho)) AS zsum
  FROM state GROUP BY 1
),
exact AS (SELECT {group_col}, COUNT(*) AS n_exact FROM d GROUP BY 1)
SELECT a.{group_col},
       CAST(a.registers_hit AS BIGINT) AS registers_hit,
       CAST(FLOOR(CAST({_ALPHA!r} AS DOUBLE) * 65536.0 * {float(TWO53)} /
            CAST(({M} - a.registers_hit) * {TWO53} + a.zsum AS DOUBLE)) AS BIGINT)
         AS distinct_estimate,
       CAST(e.n_exact AS BIGINT) AS n_exact
FROM agg a JOIN exact e USING ({group_col})
ORDER BY a.{group_col}
"""


def hll_pair_overlap(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Audience-overlap estimates for every PAIR of groups from the HLL
    register monoid: the union sketch is the per-register max of the two
    group sketches (the monoid's defining operation — no data re-scan),
    the intersection estimate is inclusion–exclusion est(A) + est(B) −
    est(A∪B), and the Jaccard estimate their ratio. The classic sketch
    algebra an audience/segment system runs over thousands of segments
    where exact pairwise intersections would need |pairs| corpus passes;
    here ONE corpus pass builds the per-group states and everything
    downstream is O(|groups|² · 256) register rows.

    Everything is deterministic (same md5 registers as
    :func:`hll_distinct`), so a SQL oracle reproduces the identical
    estimates; the exact pairwise intersection rides along for the
    accuracy audit.

    Returns DataFrame[g1, g2, union_est, inter_est, jaccard_est,
    inter_exact] for g1 < g2, ordered.
    """
    state = hll_state_rows(df, group_col, value_col)
    singles = hll_estimate_from_state(state, group_col).select(
        group_col, F.col("distinct_estimate").alias("_e")
    )
    groups = state.select(group_col).distinct()
    pairs = (
        groups.select(F.col(group_col).alias("g1"))
        .crossJoin(groups.select(F.col(group_col).alias("g2")))
        .filter(F.col("g1") < F.col("g2"))
    )
    s1 = pairs.join(
        state, F.col(group_col) == F.col("g1")
    ).select("g1", "g2", "reg", "rho")
    s2 = pairs.join(
        state, F.col(group_col) == F.col("g2")
    ).select("g1", "g2", "reg", "rho")
    merged = (
        s1.unionByName(s2)
        .groupBy("g1", "g2", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    # Group the merged state by the pair columns DIRECTLY (composite-key
    # hll_estimate_from_state) — a concat_ws surrogate would collide
    # distinct pairs whose group values contain the separator byte.
    union_est = hll_estimate_from_state(merged, ["g1", "g2"]).select(
        "g1", "g2", F.col("distinct_estimate").alias("union_est")
    )
    d = df.select(group_col, value_col).distinct()
    da = d.select(F.col(group_col).alias("g1"), F.col(value_col).alias("_v"))
    db = d.select(F.col(group_col).alias("g2"), F.col(value_col).alias("_v"))
    inter_exact = (
        da.join(db, "_v")
        .filter(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).cast("long").alias("inter_exact"))
    )
    e1 = singles.select(F.col(group_col).alias("g1"), F.col("_e").alias("_e1"))
    e2 = singles.select(F.col(group_col).alias("g2"), F.col("_e").alias("_e2"))
    return (
        pairs.join(F.broadcast(union_est), ["g1", "g2"])
        .join(F.broadcast(e1), "g1")
        .join(F.broadcast(e2), "g2")
        .join(F.broadcast(inter_exact), ["g1", "g2"], "left")
        .select(
            "g1",
            "g2",
            F.col("union_est").cast("long").alias("union_est"),
            F.greatest(
                F.lit(0), F.col("_e1") + F.col("_e2") - F.col("union_est")
            )
            .cast("long")
            .alias("inter_est"),
            F.round(
                F.greatest(
                    F.lit(0), F.col("_e1") + F.col("_e2") - F.col("union_est")
                )
                / F.col("union_est"),
                6,
            ).alias("jaccard_est"),
            F.coalesce("inter_exact", F.lit(0)).cast("long").alias("inter_exact"),
        )
        .orderBy("g1", "g2")
    )


def sql_hll_pair_overlap(table: str, group_col: str, value_col: str) -> str:
    """DuckDB mirror of :func:`hll_pair_overlap` — identical registers,
    identical merged sketches, identical integer-scaled estimates."""
    est = (
        f"CAST(FLOOR(CAST({_ALPHA!r} AS DOUBLE) * 65536.0 * {float(TWO53)} /"
        f" CAST(({M} - registers_hit) * {TWO53} + zsum AS DOUBLE)) AS BIGINT)"
    )
    return f"""
WITH d AS (SELECT DISTINCT {group_col} AS g, {value_col} AS v FROM {table}),
h AS (SELECT g, md5(CAST(v AS VARCHAR)) AS h FROM d),
regs AS (
  SELECT g,
         CAST(('0x' || substr(h, 1, 2)) AS INTEGER) AS reg,
         CASE WHEN CAST(('0x' || substr(h, 3, 13)) AS BIGINT) = 0 THEN 53
              ELSE 53 - length(format('{{:b}}', CAST(('0x' || substr(h, 3, 13)) AS BIGINT)))
         END AS rho
  FROM h
),
state AS (SELECT g, reg, MAX(rho) AS rho FROM regs GROUP BY 1, 2),
singles AS (
  SELECT g, {est} AS e FROM (
    SELECT g, COUNT(*) AS registers_hit,
           SUM(CAST(1 AS BIGINT) << (53 - rho)) AS zsum
    FROM state GROUP BY 1)
),
pairs AS (
  SELECT a.g AS g1, b.g AS g2
  FROM (SELECT DISTINCT g FROM state) a
  JOIN (SELECT DISTINCT g FROM state) b ON a.g < b.g
),
merged AS (
  SELECT g1, g2, reg, MAX(rho) AS rho FROM (
    SELECT p.g1, p.g2, s.reg, s.rho FROM pairs p JOIN state s ON s.g = p.g1
    UNION ALL
    SELECT p.g1, p.g2, s.reg, s.rho FROM pairs p JOIN state s ON s.g = p.g2
  ) GROUP BY 1, 2, 3
),
unions AS (
  SELECT g1, g2, {est} AS union_est FROM (
    SELECT g1, g2, COUNT(*) AS registers_hit,
           SUM(CAST(1 AS BIGINT) << (53 - rho)) AS zsum
    FROM merged GROUP BY 1, 2)
),
inter_x AS (
  SELECT a.g AS g1, b.g AS g2, COUNT(*) AS inter_exact
  FROM d a JOIN d b ON a.v = b.v AND a.g < b.g
  GROUP BY 1, 2
)
SELECT p.g1, p.g2,
       CAST(u.union_est AS BIGINT) AS union_est,
       CAST(GREATEST(0, e1.e + e2.e - u.union_est) AS BIGINT) AS inter_est,
       ROUND(GREATEST(0, e1.e + e2.e - u.union_est)::DOUBLE / u.union_est, 6)
         AS jaccard_est,
       CAST(COALESCE(i.inter_exact, 0) AS BIGINT) AS inter_exact
FROM pairs p
JOIN unions u USING (g1, g2)
JOIN singles e1 ON e1.g = p.g1
JOIN singles e2 ON e2.g = p.g2
LEFT JOIN inter_x i USING (g1, g2)
ORDER BY p.g1, p.g2
"""
