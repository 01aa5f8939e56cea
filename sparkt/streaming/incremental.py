"""Structured Streaming extension: streaming incremental models.

The reference is batch-only (SURVEY.md §2.5: streaming is absent from
dbt's surface; its closest analogue is the incremental
materialization). This extension expresses the incremental contract as
a Structured Streaming pipeline:

- ``stream_append``: file-source ingestion with ``availableNow`` —
  each invocation processes exactly the files not yet seen (checkpoint
  = the engine-managed high-water mark the batch incremental emulates
  with ``where id > (select max(id) from this)``), then stops. This is
  the exactly-once version of dbt's append strategy.
- ``windowed_aggregate``: watermarked tumbling-window aggregation for
  late-arriving events.

At scale these run identically on a real cluster: the checkpoint dir
moves to object storage and the trigger can become ``processingTime``
for continuous ingestion without changing the model contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_append(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    schema=None,
    transform=None,
    fmt: str = "parquet",
) -> None:
    """Ingest new files from ``source_dir`` into ``target_path``
    exactly once (availableNow trigger: drain everything new, stop)."""
    from sparkt.sources import ensure_nanos_conf

    ensure_nanos_conf(spark)
    stream = _open_file_stream(spark, source_dir, schema, fmt)
    if transform is not None:
        stream = transform(stream)
    query = (
        stream.writeStream.format("parquet")
        .option("path", target_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def _open_file_stream(
    spark: SparkSession, source_dir: str, schema, fmt: str
) -> DataFrame:
    """File-source readStream with batch-inferred schema (streaming
    file sources REQUIRE a schema — AnalysisException otherwise, unless
    schemaInference is on; the batch read infers it for ANY format).
    Shared by stream_append and stream_upsert."""
    reader = spark.readStream.format(fmt).option(
        "recursiveFileLookup", "true"
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(
            spark.read.format(fmt)
            .option("recursiveFileLookup", "true")
            .load(source_dir)
            .schema
        )
    return reader.load(source_dir)


def stream_upsert(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    unique_key,
    order_by,
    schema=None,
    transform=None,
    fmt: str = "parquet",
) -> None:
    """Streaming MERGE sink (the streaming analogue of the incremental
    'merge' strategy, which the batch-only reference cannot express):
    every micro-batch upserts into the target by ``unique_key``, latest
    row winning by ``order_by`` (DESC, e.g. ["ts", "event_id"] — the
    trailing unique column makes the winner deterministic).

    Per batch: dedupe the batch per key (one window over batch-sized
    data), union with the current target and keep the top-1 per key —
    associative, so any micro-batch split of the input converges to the
    same final state as one big batch (pinned by the m14 oracle).

    CRASH-SAFE SWAP: the target is a directory of immutable version
    dirs plus a ``current`` symlink replaced atomically
    (``os.replace`` of a symlink is one rename syscall) — a crash at
    ANY point leaves ``current`` pointing at the last COMPLETE version,
    and the replayed micro-batch simply re-merges (the merge is
    idempotent). Read the state with :func:`upsert_current_path`.
    Stale version dirs are swept on the next batch. On Delta this
    foreachBatch body would be one merge statement; at scale the windows
    shuffle on the unique key exactly like the batch merge's anti-join,
    and the checkpoint makes ingestion exactly-once."""
    import shutil

    from pyspark.sql import Window
    from sparkt.sources import ensure_nanos_conf

    ensure_nanos_conf(spark)
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    stream = _open_file_stream(spark, source_dir, schema, fmt)
    if transform is not None:
        stream = transform(stream)

    def _latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(
            *[F.desc(c) for c in order_cols]
        )
        return (
            df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .drop("__rk")
        )

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        merged = _latest(batch_df)
        cur = upsert_current_path(target_path)
        if cur is not None:
            merged = _latest(sess.read.parquet(cur).unionByName(merged))
        os.makedirs(target_path, exist_ok=True)
        version = f"v{batch_id}_{os.getpid()}"
        vdir = os.path.join(target_path, version)
        merged.write.mode("overwrite").parquet(vdir)
        # atomic pointer flip: symlink prepared aside, then ONE rename
        link_tmp = os.path.join(target_path, f".current_tmp_{batch_id}")
        if os.path.islink(link_tmp):
            os.unlink(link_tmp)
        os.symlink(version, link_tmp)
        os.replace(link_tmp, os.path.join(target_path, "current"))
        # sweep superseded versions (crash here leaves garbage dirs
        # only — 'current' already points at the new complete version)
        for entry in os.listdir(target_path):
            p = os.path.join(target_path, entry)
            if (
                entry not in (version, "current")
                and not entry.startswith(".")
                and os.path.isdir(p)
                and not os.path.islink(p)
            ):
                shutil.rmtree(p, ignore_errors=True)

    query = (
        stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def upsert_current_path(target_path: str) -> str | None:
    """The current version dir of a :func:`stream_upsert` target, or
    None before the first completed batch."""
    link = os.path.join(target_path, "current")
    if os.path.islink(link) or os.path.exists(link):
        return os.path.join(
            target_path, os.readlink(link)
        ) if os.path.islink(link) else link
    return None


def windowed_aggregate(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window counts/sums (late rows beyond the
    watermark are dropped deterministically)."""
    groups = [F.window(F.col(ts_col), window_duration).alias("win")] + [
        F.col(c) for c in (group_cols or [])
    ]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*groups)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(c) for c in (group_cols or [])],
            "n_events",
        )
    )


def run_windowed_stream(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    ts_col: str,
    window_duration: str = "1 hour",
    group_cols: list[str] | None = None,
    transform=None,
    watermark: str = "0 seconds",
) -> None:
    """End-to-end: file stream → watermarked window agg → parquet sink
    (update-complete semantics via availableNow + append mode).
    ``transform`` runs before the aggregation (e.g. ns-timestamp
    repair)."""
    from sparkt.sources import ensure_nanos_conf

    ensure_nanos_conf(spark)
    # the shared infer-then-readStream helper (r12 streaming review
    # #10 — this path had an inline parquet-only copy that could
    # drift from stream_append/stream_upsert's)
    stream = _open_file_stream(spark, source_dir, None, "parquet")
    if transform is not None:
        stream = transform(stream)
    agg = windowed_aggregate(stream, ts_col, window_duration,
                             watermark=watermark, group_cols=group_cols)
    query = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", target_path)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def shard_assignment(id_col, n_shards: int = 16, seed: str = "shard"):
    """Deterministic per-row shard id: first 4 hex chars of the seeded
    md5 modulo ``n_shards`` — a PURE row function (no cumulative
    state), so it is identical for any micro-batch split, any retry,
    and any engine (the DuckDB oracle reproduces it exactly)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}|"), id_col.cast("string"))),
                1, 4,
            ),
            16, 10,
        ).cast("bigint") % n_shards
    ).alias("shard_id")


def stream_shard_sink(
    spark: SparkSession,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    id_col: str,
    n_shards: int = 16,
    seed: str = "shard",
    schema=None,
    transform=None,
    fmt: str = "parquet",
) -> None:
    """Streaming shard writer — continuous ingestion packed into a
    FIXED NUMBER of hash shards (the streaming complement of
    ``sampling.shuffle_shards``: size-packed shards need the global
    cumulative offset, a property of the whole corpus, so the batch
    operator owns them; an unbounded stream gets hash shards, whose
    assignment is a pure row function and therefore batch-split
    invariant BY CONSTRUCTION — the final shard contents equal the
    static assignment no matter how the stream was micro-batched,
    which is exactly what the m15 oracle pins).

    Exactly-once without a transactional sink: each micro-batch writes
    ``batch=<id>/shard_id=<s>/`` with ``mode=overwrite`` — a crashed
    and replayed batch OVERWRITES its own directory instead of
    appending duplicates (the standard idempotent-foreachBatch
    pattern); the checkpoint guarantees each input file lands in
    exactly one batch id. Readers load the whole tree (both levels are
    hive-style partitions, so shard pruning pushes down) or one
    ``shard_id=s`` slice across batches.

    At scale: ``repartition(shard_id)`` keeps files-per-(batch,shard)
    at O(1); shard count is fixed, so downstream consumers address a
    stable layout while ingestion runs forever.
    """
    from sparkt.sources import ensure_nanos_conf

    ensure_nanos_conf(spark)
    stream = _open_file_stream(spark, source_dir, schema, fmt)
    if transform is not None:
        stream = transform(stream)

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        assigned = batch_df.withColumn(
            "shard_id", shard_assignment(F.col(id_col), n_shards, seed)
        )
        (
            assigned.repartition("shard_id")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(os.path.join(target_path, f"batch={batch_id}"))
        )

    query = (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
