"""Skew mitigation for shuffles: salted joins and a key-skew report.

AQE's skew-join handling (``spark.sql.adaptive.skewJoin``) splits
oversized partitions at runtime and is the first line of defense —
sparkt enables AQE everywhere. These operators are the *explicit*
fallback for pathological producer-side skew AQE can't fix: one key
holding >⅓ of a 100 TB fact table (the classic "null key" / "default
tenant" shape), where even a split partition re-skews on re-shuffle.

- ``salted_join``: append a deterministic salt (pmod of xxhash64 over
  the whole left row) to the big side's key, replicate the small side
  ``n_salts``× via an explode (NOT a broadcast — this is for when the
  small side is too big to broadcast but small enough to replicate),
  and equijoin on (key, salt). One hot key fans out across n_salts
  reducers.

Salting is deterministic (hash-based, no rand()) so retried tasks
produce identical output — the same property sampling.py relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


#: join modes where replicating the small side cannot duplicate or drop
#: rows: the small side is never the preserved outer side, so an
#: unmatched small-side row (which exists once per salt) is never
#: emitted. 'right'/'full'/'left_anti'-on-small shapes would emit each
#: unmatched replicated row n_salts times.
SAFE_HOWS = frozenset({"inner", "left", "left_outer", "leftouter",
                       "left_semi", "leftsemi", "semi",
                       "left_anti", "leftanti", "anti"})


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equijoin robust to extreme key skew on ``big``: the big side is
    salted deterministically; the small side is replicated once per
    salt value. Output equals ``big.join(small, on, how)`` exactly for
    ``how`` in :data:`SAFE_HOWS` (modes that preserve only the big
    side); outer-on-small modes would see unmatched small rows once per
    salt and are rejected."""
    if how.lower().replace("_", "") not in {h.replace("_", "") for h in SAFE_HOWS}:
        raise ValueError(
            f"salted_join: how={how!r} is not replication-safe; use one of "
            f"{sorted(SAFE_HOWS)} (outer-on-small modes would duplicate "
            f"unmatched small-side rows n_salts times)"
        )
    keys = [on] if isinstance(on, str) else list(on)
    # salt from the full row hash PLUS a per-row discriminator:
    # fully-duplicate hot-key rows (the classic null-key/default-tenant
    # shape often collapses to identical rows after projection) would
    # all hash to ONE salt and re-skew; monotonically_increasing_id
    # breaks those ties. Deterministic within a run's partition layout
    # (no rand()); the salt only needs uniformity, not rerun identity.
    salt = F.pmod(
        F.xxhash64(
            *[F.col(c) for c in big.columns],
            F.monotonically_increasing_id(),
        ),
        F.lit(n_salts),
    )
    b = big.withColumn(SALT, salt)
    s = small.withColumn(
        SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = b.join(s, keys + [SALT], how)
    return out.drop(SALT)


def key_skew_report(
    df: DataFrame,
    key_cols: list[str] | str,
    top_n: int = 10,
    skew_factor: float = 4.0,
) -> DataFrame:
    """Shuffle-key skew diagnostics — the measurement step before
    reaching for :func:`salted_join` / AQE tuning: the ``top_n``
    heaviest keys of a prospective shuffle with their exact row count,
    corpus share (per-mille, integer — engine-exact), and a
    ``is_skewed`` flag (count > ``skew_factor`` × the mean key load).
    One look at this table answers "will this join/groupBy key melt a
    reducer at 100 TB, and how many salts do I need".

    Scale shape: ONE map-side-combined count shuffle on the key (the
    same shuffle the diagnosed operation would do, minus the payload),
    a scalar-subquery total (no collect), and the two-phase top-N over
    the aggregated key table (the inverted_index cap argument: phase 1
    keeps ≤ top_n per hash sub-bucket, so no task ever sorts the full
    billion-key table; phase 2 ranks the ≤ 64·top_n survivors —
    keeping each sub-bucket's top-N is a superset of the global
    top-N, so the result EXACTLY equals the naive global window).
    Deterministic tie-break (count desc, key asc).
    """
    from pyspark.sql import Window

    from sparkt.functions import join_scalars

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    sub = F.pmod(F.xxhash64(*keys), F.lit(64))
    order = [F.desc("n_rows")] + [F.asc(k) for k in keys]
    w1 = Window.partitionBy(sub).orderBy(*order)
    w2 = Window.orderBy(*order)
    return (
        join_scalars(
            counts.withColumn("__rk1", F.row_number().over(w1))
            .filter(F.col("__rk1") <= top_n),
            totals,
        )
        .withColumn("__rk", F.row_number().over(w2))
        .filter(F.col("__rk") <= top_n)
        .select(
            *keys,
            "n_rows",
            F.floor(F.col("n_rows") * 1000 / F.col("__total"))
            .cast("int").alias("share_permille"),
            (
                F.col("n_rows")
                > F.lit(skew_factor) * F.col("__total") / F.col("__n_keys")
            ).alias("is_skewed"),
            F.col("__rk").alias("rank"),
        )
    )
