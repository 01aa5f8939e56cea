"""Data-layout operators: space-filling-curve clustering keys.

Z-ordering (Morton order) interleaves the bits of several bounded
integer dimensions so that rows close in EVERY dimension get close
keys; writing files sorted by the key gives min-max (data-skipping)
pruning on ALL participating columns at once, where a plain sort
only prunes its leading column. This is the public design behind
Delta Lake's ``OPTIMIZE ZORDER BY`` and ClickHouse/Iceberg z-order
clustering; here it is a plain column expression, usable with
``repartitionByRange(zkey).sortWithinPartitions(zkey)`` + a parquet
write on stock Spark.

Reference surface: dbt has no layout operators (it delegates
physical layout to the warehouse); this extends the pipeline set
alongside the materializations' partition_by/bucketing options.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton (Z-order) key of 2..4 dimension columns.

    Inputs MUST already be non-negative integers below ``2**bits``
    (normalize first — modulo a power of two, a rank, or a min-max
    scale; the gate uses modulo). The key interleaves bit j of
    dimension d into output bit ``j * n_dims + d``, so equal-weight
    locality across dimensions.

    Pure integer shift/mask arithmetic — whole-stage codegen, no
    shuffle, bit-exact in every engine (the DuckDB oracle runs the
    same expression). Key width = ``bits * n_dims`` <= 63 is
    enforced (a signed-long key keeps ordering semantics identical
    across engines).
    """
    n = len(cols)
    if not 2 <= n <= 4:
        raise ValueError(f"zorder_key wants 2..4 dimensions, got {n}")
    if bits * n > 63:
        raise ValueError(
            f"bits * n_dims = {bits * n} > 63 overflows a signed key"
        )
    key = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        x = c.cast("long")
        for j in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(x, j).bitwiseAND(F.lit(1)),
                    j * n + d,
                )
            )
    return key
