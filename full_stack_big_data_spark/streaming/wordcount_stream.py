"""Streaming word count — the reference's speed layer (Q2/A1/A2).

The same ``word_counts`` operator as the batch layer (Q1), applied to an
unbounded DataFrame: ``outputMode("update")`` reproduces Storm's
per-key running-count emission (``TestWordCounter`` with fieldsGrouping,
``integration/StormSpec.scala:53-62``) — one updated row per changed key
per micro-batch, keyed state in the state store instead of bolt-local
maps, exactly-once under checkpointing.

The reference's A3 (aggregate over the update stream of another
aggregate, ``StormSpec.scala:60-61``) is not expressible as stacked
streaming aggregations in one query — ``chained_aggregation`` reproduces
it with ``foreachBatch``: each micro-batch of first-level updates is
merged into a sink table and the second-level aggregate is recomputed
transactionally per batch (SURVEY.md §7 risk 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.generations import append_epoch, read_epochs
from ..engine.scratch import scratch_dir
from ..operators.wordcount import word_counts
from .core import drain


def streaming_word_counts(stream_df: DataFrame, text_col: str = "text") -> DataFrame:
    return word_counts(stream_df, text_col)


def start_update_query(stream_df: DataFrame, sink_name: str,
                       checkpoint: str | None = None):
    """Continuous form: update-mode memory sink, one row per changed word
    per batch — A1's emission contract."""
    wc = streaming_word_counts(stream_df)
    w = wc.writeStream.format("memory").queryName(sink_name).outputMode("update")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def chained_aggregation(stream_df: DataFrame, spark: SparkSession,
                        sink_path: str) -> DataFrame:
    """A3: aggregate-of-aggregates via foreachBatch chaining.

    Each micro-batch of first-level word-count updates lands as its
    epoch of the table at ``sink_path`` (``engine.generations.
    append_epoch``, so a replayed batch rewrites itself instead of
    appending its updates twice); the second-level aggregate runs over
    that table. This is the modern equivalent of TestAggregatesCounter
    consuming TestWordCounter's update stream."""
    drain(streaming_word_counts(stream_df),
          lambda df, bid: append_epoch(df, bid, sink_path),
          scratch_dir("fsbd_a3_ckpt_"), output_mode="update")
    return read_epochs(spark, sink_path, "word string, cnt long").agg(
        F.count("*").alias("update_events"),
        F.sum("cnt").alias("sum_counts"),
    )
