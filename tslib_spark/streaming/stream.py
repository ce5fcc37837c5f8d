"""Structured Streaming rollup: the streaming variant of the 1-minute tier.

The production path for this engine is incremental *batch* over tier
snapshots (TierStore + checkpoint, sidestepping watermarks — SURVEY §2.10);
this module provides the true streaming shape for append-only arrivals:
readStream → watermark → windowed aggregation with the same associative
tier state, suitable for ``foreachBatch`` upserts into the TierStore.
"""

from __future__ import annotations

import threading

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tslib_spark.operators.rollup import SUM_DECIMAL

# serializes ingest_to_store's swap of the session's shuffle-partition conf
_START_LOCK = threading.Lock()


def streaming_rollup(
    spark: SparkSession,
    path: str,
    schema: str,
    keys: list[str],
    ts_col: str,
    measure_col: str,
    window: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming 1-minute rollup over a parquet directory source.

    Late rows beyond ``watermark`` are dropped (the reference has no late-
    data concept; crawl ingestion is append-mostly). Output schema matches
    the batch rollup, so foreachBatch can upsert into the same tier tables.
    """
    stream = spark.readStream.schema(schema).parquet(path)
    # watermarks require TIMESTAMP (with TZ); parquet often yields NTZ
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*[F.col(k) for k in keys], F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col(measure_col).cast(SUM_DECIMAL)).alias("val_sum"),
            F.min(F.col(measure_col).cast("double")).alias("val_min"),
            F.max(F.col(measure_col).cast("double")).alias("val_max"),
        )
        .select(*keys, F.col("w.start").alias("bucket_ts"), "cnt", "val_sum", "val_min", "val_max")
    )
    return agg


def ingest_to_store(
    spark: SparkSession,
    path: str,
    schema: str,
    store,
    ts_col: str,
    measure_col: str,
    content_cols: list[str],
    window: str = "1 minute",
    watermark: str = "10 minutes",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
):
    """The full streaming ingest chain, wired end to end: readStream →
    watermark-bounded content dedup → 1-minute tier aggregation (append
    mode: a bucket is emitted exactly once, when the watermark passes it)
    → ``foreachBatch`` merge-upsert into the TierStore minute tier.

    The upsert is a bucket-level replace-merge: the batch's finalized
    buckets replace any same-(keys, bucket_ts) rows in the touched
    part_key partitions (append-mode windows emit exactly once, so a
    colliding row can only be a replayed write of this same bucket —
    replace is idempotent under foreachBatch's at-least-once contract;
    sum-merging would double-count the replay), other existing buckets
    of those partitions are kept via anti-join, and the partitions are
    rewritten with dynamic partition overwrite + checkpointed
    (``times_updated`` per partition is the epoch lineage counter).

    Watermark semantics: buckets newer than (max event time − watermark)
    remain in state when an ``availableNow`` run drains — they emit on the
    next run once later events advance the watermark. That is the
    standard streaming contract; the batch TierStore path stays the
    authority for complete history.

    Cost follows the rows touched, not the store:
    - the two stateful operators (dedup, window aggregate) run
      ``min(spark.sql.shuffle.partitions, defaultParallelism)`` state
      partitions. The conf is set only around ``start()``, where the
      query clones the session; the session keeps its own value. The
      checkpoint's offset metadata records the count, so a resumed
      checkpoint keeps the count it started with;
    - each micro-batch is persisted for the length of the upsert, which
      reads it several times (touched partitions, anti-join, union);
    - the merge reads back only the touched minute partitions, so
      partition and chunk pruning leave the rest of the tier undecoded.
    """
    keys = store.keys
    stream = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = stream.parquet(path)
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    deduped = (
        stream.withColumn("_fp", F.xxhash64(*[F.col(c) for c in content_cols]))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )
    agg = (
        deduped.groupBy(*[F.col(k) for k in keys], F.window(ts_col, window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col(measure_col).cast(SUM_DECIMAL)).alias("val_sum"),
            F.min(F.col(measure_col).cast("double")).alias("val_min"),
            F.max(F.col(measure_col).cast("double")).alias("val_max"),
        )
        .select(*keys, F.col("w.start").alias("bucket_ts"), "cnt", "val_sum", "val_min", "val_max")
    )

    def _upsert(batch_df, epoch_id: int) -> None:
        batch_df.persist()
        try:
            touched = sorted(
                r["part_key"]
                for r in store._with_part_key(batch_df, "minute")
                .select("part_key").distinct().collect()
            )
            if not touched:
                return
            merged_src = batch_df
            if store.tier_exists("minute"):
                # bucket-level REPLACE, not sum-merge: append mode emits every
                # bucket exactly once, so an existing row for the same
                # (keys, bucket_ts) can only be this batch's own earlier
                # replayed write — replacing is idempotent under foreachBatch's
                # at-least-once contract, where re-summing would double-count.
                # Minute partitions are days: read from the first touched day
                # to the end of the last one.
                prev = store.read_tier(
                    "minute",
                    pd.Timestamp(touched[0]),
                    pd.Timestamp(touched[-1]) + pd.Timedelta(days=1),
                )
                prev = store._with_part_key(prev, "minute").filter(
                    F.col("part_key").isin(touched)
                ).drop("part_key")
                keep = prev.join(
                    batch_df.select(*keys, "bucket_ts"), [*keys, "bucket_ts"], "left_anti"
                )
                merged_src = batch_df.unionByName(keep)
            store.upsert_partitions("minute", merged_src, touched)
        finally:
            batch_df.unpersist()

    writer = agg.writeStream.outputMode("append").foreachBatch(_upsert).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    # start() clones the session and fixes the state-partition count from
    # it: size the count to the cores, then give the session its value back
    key, conf = "spark.sql.shuffle.partitions", spark.conf
    with _START_LOCK:
        session_value = conf.get(key)
        conf.set(key, str(min(int(session_value), spark.sparkContext.defaultParallelism)))
        try:
            return writer.start()
        finally:
            conf.set(key, session_value)


def streaming_dedup(
    spark: SparkSession,
    path: str,
    schema: str,
    content_cols: list[str],
    ts_col: str,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact content-dedup for append-only ingestion.

    The streaming counterpart of ``operators.dedup.exact_dedup``: rows
    whose content fingerprint (``xxhash64`` over ``content_cols``, same
    8-byte key as the batch path) already arrived within the watermark
    horizon are dropped. State is the fingerprint set, bounded by the
    watermark — Spark evicts fingerprints older than the horizon, which
    is the standard streaming trade-off (a dup arriving later than the
    watermark re-enters; the batch exact_dedup pass downstream catches
    those). Checkpointed, so dedup state survives restarts.
    """
    stream = spark.readStream.schema(schema).parquet(path)
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withColumn("_fp", F.xxhash64(*[F.col(c) for c in content_cols]))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )
