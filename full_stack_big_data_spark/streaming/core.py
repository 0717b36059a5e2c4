"""Streaming runtime helpers.

The reference's topology lifecycle — build → submit → sleep → kill
(``storm/utils/StormRunner.scala:13-24``) — maps to Structured Streaming's
query lifecycle: ``writeStream.start()`` → ``awaitTermination`` → ``stop``.
``run_to_completion`` packages the Available-Now trigger (bounded replay of
everything currently in the source, exactly-once) so streaming operators
can participate in the batch-style correctness gate: same program, the
trigger is the only difference between "stream forever" and "drain once".

Every checkpointed gate is the same program — read a feed, run a
``foreachBatch`` body to completion, read back what it wrote — so its
three pieces live here once: :func:`corpus_stream` (the feed),
:func:`drain_dirs` (the per-run sink and checkpoint) and :func:`drain`
(the run).
"""

from __future__ import annotations

import hashlib
import itertools
import os

from pyspark.sql import DataFrame, SparkSession

from ..engine.scratch import memo, scratch_dir
from ..engine.session import tune_session

_seq = itertools.count()
_stage_root: str | None = None


def _staged_dir(path: str) -> str:
    """The file-streaming source requires a *directory*; testdata tables
    are single parquet files. Stage each file behind a symlink in a
    per-process temp dir (testdata itself stays untouched/read-only)."""
    global _stage_root
    if _stage_root is None:
        _stage_root = scratch_dir("fsbd_stream_src_")
    # Key by the full source path, not the basename: the same table name
    # exists at every scale factor, and a basename-keyed dir would silently
    # serve the first SF's data to every later one in the same process.
    tag = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:10]
    d = os.path.join(_stage_root,
                     f"{os.path.basename(path).replace('.', '_')}_{tag}")
    if not os.path.isdir(d):
        os.makedirs(d, exist_ok=True)
        os.symlink(os.path.abspath(path), os.path.join(d, os.path.basename(path)))
    return d


def stream_table(spark: SparkSession, path: str, template: DataFrame) -> DataFrame:
    """File-streaming source over a parquet table, schema pinned from the
    batch reader (streaming sources require explicit schemas)."""
    src = _staged_dir(path) if os.path.isfile(path) else path
    return spark.readStream.schema(template.schema).parquet(src)


def corpus_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-streaming source over the corpus table ``table`` of
    ``sf_dir``, on a tuned session."""
    tune_session(spark)
    path = f"{sf_dir}/{table}.parquet"
    return stream_table(spark, path, spark.read.parquet(path))


def drain_dirs(tag: str, sf_dir: str) -> tuple[str, str]:
    """The (sink, checkpoint) scratch pair a gate drains ``sf_dir``'s
    feed into: one pair per process and corpus, a per-run memo entry,
    so ``engine.scratch.forget_runs`` makes the next drain start
    fresh."""
    return memo((tag, sf_dir),
                lambda: (scratch_dir(f"fsbd_{tag}_out_"),
                         scratch_dir(f"fsbd_{tag}_ckpt_")),
                per_run=True)


def drain(feed: DataFrame, body, checkpoint: str,
          output_mode: str = "append") -> None:
    """Run ``body(batch_df, batch_id)`` over every micro-batch of
    ``feed`` available now, with its offsets checkpointed at
    ``checkpoint``, and return when the query has finished. A drain
    over a checkpoint that already covers the feed adds no batches."""
    q = (feed.writeStream.outputMode(output_mode).foreachBatch(body)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def run_to_completion(sdf: DataFrame, *, output_mode: str,
                      name: str | None = None) -> DataFrame:
    """Drain a streaming DataFrame with trigger(availableNow) into a memory
    sink; returns the sink table as a batch DataFrame."""
    spark = sdf.sparkSession
    sink = name or f"stream_sink_{next(_seq)}_{id(sdf) & 0xFFFF}"
    q = (sdf.writeStream.format("memory").queryName(sink)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(sink)
