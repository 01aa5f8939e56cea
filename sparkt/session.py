"""SparkSession factory with scale-oriented defaults.

The engine runs every node's SQL through a single shared session
(reference analogue: one warehouse connection pool,
``core/dbt/task/runnable.py:364-402``). Defaults are tuned so the same
logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast-join demotion/promotion).
- Arrow on (fast toPandas / pandas_udf batches for the pipeline
  operators that genuinely need Python).
- shuffle partitions sized for local[32] testing; on a real cluster AQE
  coalesces from ``spark.sql.shuffle.partitions`` downward, so a large
  initial value is safe.
- on a local master with a local warehouse, partition directories
  listed on the driver up to 4096 paths
  (``parallelPartitionDiscovery.threshold``, Spark's default is 32).
  The first read of a freshly written partitioned table lists every
  partition directory; above the threshold Spark starts a listing job
  with one task per directory. On local disk the driver wins at every
  size measured (first read of a fresh table, local[4] on a 4-core
  box, driver vs job: 64 dirs 0.23 vs 0.74 s, 256: 0.35 vs 1.48 s,
  1024: 0.90 vs 5.27 s, 4096: 1.95 vs 13.55 s), because one local
  listing costs well under a millisecond while a task costs several.
  Nothing else was measured: on a cluster, or with the warehouse on
  an object store (one LIST costs tens of ms, and the driver lists
  one directory after another), Spark's default stays.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.sql.session.timeZone": "UTC",
    # parquet TIMESTAMP(NANOS) columns surface as BIGINT ns; the source
    # layer (sparkt/sources.py) rebuilds timestamps from them
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
}


def get_spark(
    app_name: str = "sparkt",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions or int(cpus if str(cpus).isdigit() else 32)
    )
    if extra_conf:
        conf.update(extra_conf)
    warehouse = conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    if master.startswith("local") and urlparse(warehouse).scheme in ("", "file"):
        # measured only here (module docstring)
        conf.setdefault(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "4096"
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
