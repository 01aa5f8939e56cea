"""Sketch / approximate aggregation operators.

At 100 TB, exact count-distinct over a high-cardinality key is a
full shuffle of every distinct value; the sketch form is a constant
few KB per group and — critically — MERGEABLE: per-partition /
per-day sketches union without re-reading history (Spark's
datasketches-backed ``hll_sketch_agg`` / ``hll_union_agg``). Same
story for quantiles (``percentile_approx``) and heavy hitters
(``count_min_sketch``).

All of these are deterministic for a fixed input dataset (the
sketches are hash-based, not sampled), so correctness gates can pin
"approx within ε of exact" as a stable boolean.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_distinct(col: str | Column, lg_k: int = 12) -> Column:
    """HyperLogLog distinct-count estimate (datasketches HLL_4;
    relative error ≈ 1.04/√2^lg_k ≈ 1.6% at lg_k=12)."""
    return F.hll_sketch_estimate(F.hll_sketch_agg(col, F.lit(lg_k)))


def approx_quantile(col: str | Column, prob: float, accuracy: int = 10000) -> Column:
    """Greenwald-Khanna approximate quantile (error ≤ 1/accuracy of
    rank) — single-pass, mergeable, no sort."""
    return F.percentile_approx(col, prob, accuracy)


# ------------------------------------------------------------- bloom
def _bloom_positions(value: Column, m_bits: int, k_hashes: int) -> Column:
    """The k bit positions of ``value``: md5("<i>|<value>") first 8 hex
    chars → int mod m — engine-portable (DuckDB computes the identical
    positions via ('0x'||substr(md5(...),1,8))::BIGINT)."""
    return F.array(*[
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}|"), value.cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("long") % m_bits
        )
        for i in range(k_hashes)
    ])


def bloom_build(
    df: DataFrame,
    value_col: str,
    m_bits: int = 1 << 13,
    k_hashes: int = 4,
) -> DataFrame:
    """Build a Bloom filter over ``value_col`` as a (word_idx, bits)
    table of 32-bit words — m_bits/32 rows total (256 rows at the
    8192-bit default; 32-bit words because DuckDB raises on BIGINT
    shifts of 63, and parity with the oracle outweighs halving rows), the set-membership sketch of the family above.

    Scale shape: one explode (k rows per value) then ONE map-side-
    combined ``bit_or`` groupBy onto ≤ m/32 word rows — the filter for
    a 10-billion-key column is still just m/32 rows, broadcastable to
    every probe task. MERGEABLE like the HLL rollup: union per-
    partition/per-day word tables and ``bit_or`` groupBy again.
    Deterministic (md5-derived positions, no RNG), so the DuckDB
    oracle reproduces the exact filter INCLUDING its false positives.
    FPR ≈ (1 - e^(-k·n/m))^k — size m for the expected key count.
    """
    pos = F.explode(
        _bloom_positions(F.col(value_col), m_bits, k_hashes)
    ).alias("pos")
    ex = df.select(pos)
    one = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
    return ex.groupBy(
        (F.col("pos") / F.lit(32)).cast("long").alias("word_idx")
    ).agg(F.bit_or(one).alias("bits"))


def bloom_probe(
    df: DataFrame,
    id_col: str,
    value_col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 13,
    k_hashes: int = 4,
    carry_cols: list | None = None,
) -> DataFrame:
    """Probe: (id, value) → ``maybe_member`` (no false negatives;
    false positives at the filter's FPR, deterministically — the gate
    hash-matches them). Each value explodes to its k positions, joins
    the BROADCAST word table on word_idx, and is a member iff ALL k
    bits are set (an absent word row means unset bits).
    ``carry_cols``: columns constant per (id, value) to ride through
    the aggregation (e.g. a precomputed per-doc set size)."""
    carry = list(carry_cols or [])
    ex = df.select(
        F.col(id_col),
        F.col(value_col),
        *[F.col(c) for c in carry],
        F.explode(
            _bloom_positions(F.col(value_col), m_bits, k_hashes)
        ).alias("pos"),
    ).withColumn(
        "word_idx", (F.col("pos") / F.lit(32)).cast("long")
    ).withColumn(
        "mask",
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"),
    )
    joined = ex.join(F.broadcast(bloom), "word_idx", "left")
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
        != 0
    ).cast("int")
    # membership = ALL probed bits set → min(hit) over the group, NOT
    # sum == k: duplicate (id, value) input rows double the group's
    # position rows, and a sum test would then report an inserted key
    # absent — a false negative (review-found)
    return (
        joined.groupBy(id_col, value_col, *carry)
        .agg(F.min(hit).alias("__all_set"))
        .select(
            id_col,
            value_col,
            *carry,
            (F.col("__all_set") == 1).alias("maybe_member"),
        )
    )


# --------------------------------------------------------- count-min
def cms_build(
    df: DataFrame,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over
    ``value_col``, as a SPARSE (row_idx, col_idx, cnt) counter table —
    the frequency sibling of :func:`bloom_build`: every occurrence
    increments counter (r, h_r(value)) for each of ``depth``
    md5-derived hash rows.

    Scale shape: one explode (depth rows per occurrence) + ONE
    map-side-combined count groupBy onto ≤ depth×width counter rows —
    constant-size for any corpus, broadcastable to estimators, and
    MERGEABLE by summing counters (per-day sketches roll up like the
    HLL path). Estimates are deterministic (md5 positions, no RNG), so
    the DuckDB oracle reproduces them exactly, collisions included.
    Guarantee: estimate ≥ true count always; error ≤ εN with
    probability 1-δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.
    """
    # same md5 position formula as the Bloom filter (ONE definition —
    # _bloom_positions); posexplode yields (row_idx, col_idx) pairs
    ex = df.select(
        F.posexplode(
            _bloom_positions(F.col(value_col), width, depth)
        ).alias("row_idx", "col_idx")
    )
    return ex.groupBy("row_idx", "col_idx").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_estimate(
    df: DataFrame,
    value_col: str,
    cms: DataFrame,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-query the sketch: per distinct value, the MIN over its
    ``depth`` counters (absent counter = 0). The sketch table
    broadcasts (≤ depth×width rows); the probe is a broadcast
    equijoin + one groupBy on the value."""
    probes = df.select(
        F.col(value_col),
        F.posexplode(
            _bloom_positions(F.col(value_col), width, depth)
        ).alias("row_idx", "col_idx"),
    )
    joined = probes.join(
        F.broadcast(cms), ["row_idx", "col_idx"], "left"
    )
    return (
        joined.groupBy(value_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long").alias("cms_est")
        )
    )
