"""Parquet source loading, including nanosecond-timestamp repair.

Spark cannot read parquet TIMESTAMP(NANOS) columns natively
(PARQUET_TYPE_ILLEGAL); with
``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as BIGINT
nanoseconds. This module detects ns columns from the parquet footer
(pyarrow, driver-side metadata only — no data read) and rebuilds a
proper ``timestamp`` column via integer division (``DIV 1000`` —
float division would lose precision above 2^53 ns). Truncation to
microseconds matches DuckDB's µs timestamp semantics, so engine and
oracle agree.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession


def _first_parquet_file(path: str) -> str | None:
    """First data file under ``path`` — RECURSIVE, so hive-partitioned
    layouts (date=.../part-0.parquet) are found too (r12 adapter
    review #4: a top-level-only listdir returned () and ns columns
    silently stayed BIGINT)."""
    if not os.path.isdir(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".parquet"):
                return os.path.join(root, f)
    return None


def ns_timestamp_columns(path: str) -> tuple[str, ...]:
    """Column names with timestamp[ns] physical type (parquet footer).

    Cached per (file, mtime): caching on the path alone pinned stale
    footer metadata when a staged directory gained files later in the
    process lifetime (r12 adapter review #5)."""
    data_file = _first_parquet_file(path)
    if data_file is None:
        return ()
    try:
        sig = os.path.getmtime(data_file)
    except OSError:
        return ()
    return _ns_cols_cached(data_file, sig)


@lru_cache(maxsize=512)
def _ns_cols_cached(data_file: str, _sig: float) -> tuple[str, ...]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(data_file)
    return tuple(
        f.name for f in schema if str(f.type).startswith("timestamp[ns")
    )


def _bt(name: str) -> str:
    from sparkt.relation import quote_identifier

    return quote_identifier(name)


def ns_fix_exprs(columns: list[str], ns_cols: tuple[str, ...]) -> list[str]:
    # quoted (r12 adapter review #2): a reserved-word or
    # special-character column name must survive the repair SQL
    return [
        f"timestamp_micros(CAST({_bt(c)} DIV 1000 AS BIGINT)) AS {_bt(c)}"
        if c in ns_cols
        else _bt(c)
        for c in columns
    ]


def repair_event_time(df: DataFrame, ns_cols: tuple[str, ...] = ()) -> DataFrame:
    """Normalize event-time columns to TIMESTAMP (UTC wall time):

    - BIGINT-nanosecond columns (parquet TIMESTAMP(NANOS) read under
      ``nanosAsLong``) → integer ``DIV 1000`` → ``timestamp_micros``;
    - TIMESTAMP_NTZ columns (naive parquet µs timestamps, which Spark
      reads as NTZ while the DuckDB oracle reads as naive TIMESTAMP)
      → cast to TIMESTAMP, interpreting the wall time in the session
      timezone (pinned to UTC by :func:`ensure_runtime_conf`), so
      event-time functions (``unix_micros``, watermarks, streaming
      windows) accept the column.

    Works on batch and streaming DataFrames alike.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    out = df
    for c in ns_cols:
        out = out.withColumn(
            c,
            F.expr(f"timestamp_micros(CAST({_bt(c)} DIV 1000 AS BIGINT))"),
        )
    for f in out.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            out = out.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return out


# Runtime-settable confs the engine depends on for *correctness* (not
# just speed). A driver-provided session built without our defaults
# (plain ``SparkSession.builder.getOrCreate()``) would otherwise run
# with partitionOverwriteMode=STATIC, where ``INSERT OVERWRITE`` on a
# partitioned table silently replaces the WHOLE table instead of only
# the partitions present in the source — a data-loss mode.
_RUNTIME_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ensure_runtime_conf(spark: SparkSession) -> None:
    """Apply the engine's correctness-critical runtime-settable confs to
    a possibly-foreign session (driver-provided sessions lack them)."""
    for key, val in _RUNTIME_CONF.items():
        try:
            spark.conf.set(key, val)
        except Exception:  # noqa: BLE001 — conf may be pinned
            pass


def ensure_nanos_conf(spark: SparkSession) -> None:
    """nanosAsLong is runtime-settable, so set it defensively before any
    parquet read that may contain TIMESTAMP(NANOS). The session timezone
    is pinned to UTC at the same time: naive (NTZ) parquet timestamps
    are treated as UTC wall time when normalized to TIMESTAMP, matching
    the DuckDB oracle's naive semantics regardless of host timezone."""
    for key, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, val)
        except Exception:  # noqa: BLE001 — conf may be pinned; reads will tell
            pass


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet; ns- and ntz-timestamp columns come back as real
    (UTC) timestamps."""
    ensure_nanos_conf(spark)
    df = spark.read.parquet(path)
    return repair_event_time(df, ns_timestamp_columns(path))


def spread(df: DataFrame) -> DataFrame:
    """Repartition a too-narrow input across all cores before CPU-bound
    per-row work (tokenize/shingle/hash/vector HOFs).

    A small parquet file scans as 1-2 partitions, serializing expensive
    expression work onto one core; at 100 TB the scan already has
    thousands of splits and this is a no-op (the repartition only fires
    when the input has fewer partitions than the cluster has slots, so
    it never adds a shuffle at scale)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
