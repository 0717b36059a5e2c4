"""Continuous aggregate maintenance: a streaming-updated hourly rollup.

The batch side (``operators/sketches.py::q_hypertable_rollup``) proves
hourly→daily re-aggregation is lossless; this module maintains the hourly
base INCREMENTALLY from a stream, the way a serving store would — and
exactly-once without an ACID table format:

- each micro-batch aggregates its own rows to (hour, event_type) partials
  (partial aggregation: batch-local, map-side combinable);
- the partials land in a batch-keyed directory
  (``rollup/batch_id=N/``), written with overwrite — a REPLAYED batch
  (failure/restart, Structured Streaming's at-least-once ``foreachBatch``
  contract) overwrites its own output instead of double-counting. That
  turns at-least-once delivery into an exactly-once table, the same
  idempotence trick as transactional sinks' (topic, partition, offset)
  dedup keys, expressed in pure directory layout;
- serving reads re-aggregate the partials (SUM of decimal partial sums
  and counts is exact and order-independent), so the served rollup equals
  the batch recompute bit-for-bit — pinned in tests/test_streaming.py.

At 100 TB the partials stay tiny (hours × event types per batch), the
stream never rewrites history, and compaction of old batch directories is
a plain re-aggregation of the same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def hourly_partials(batch_df: DataFrame) -> DataFrame:
    """Batch-local (hour, event_type) partial aggregate."""
    return (
        batch_df.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"))
    )


def write_batch_partials(batch_df: DataFrame, batch_id: int, rollup_path: str) -> None:
    """foreachBatch body: idempotent batch-keyed partial write."""
    (hourly_partials(batch_df)
     .write.mode("overwrite")
     .parquet(f"{rollup_path}/batch_id={batch_id}"))


def maintain_hourly_rollup(sdf: DataFrame, rollup_path: str,
                           checkpoint: str) -> None:
    """Drain the event stream once (availableNow), maintaining the
    batch-keyed hourly partials under ``rollup_path``."""
    q = (sdf.writeStream
         .foreachBatch(lambda df, bid: write_batch_partials(df, bid, rollup_path))
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def serve_hourly(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The served rollup: re-aggregate partials across batches. Exact —
    counts and decimal partial sums are order-independent under SUM."""
    return (
        spark.read.parquet(rollup_path)
        .groupBy("hour", "event_type")
        .agg(F.sum("n_events").alias("n_events"),
             F.sum("sum_value").alias("sum_value"))
    )


def compact_rollup(spark: SparkSession, rollup_path: str,
                   out_path: str) -> None:
    """Fold the batch-keyed partial directories into ONE file at
    ``out_path``. The stream leaves one directory per micro-batch, and
    small-file count (listing, open-per-file, metadata) is the serving
    store's scale limit — not data volume, which stays hours ×
    event_types. The fold is a plain re-aggregation of the same shape
    (exact, order-independent SUMs), so serving from ``out_path``
    equals serving from the batch-keyed history bit-for-bit —
    oracle-checked as ``stream_serving_compacted``. The caller serves
    from ``out_path`` once this returns; the batch directories are then
    superseded (``engine.generations.vacuum_superseded``)."""
    from ..engine.generations import write_generation

    write_generation(serve_hourly(spark, rollup_path), out_path, None, 1)
