"""Continuous aggregate maintenance: a streaming-updated hourly rollup,
served from a checked decode cache over its store.

The batch side (``operators/sketches.py::q_hypertable_rollup``) proves
hourly→daily re-aggregation is lossless; this module maintains the hourly
base INCREMENTALLY from a stream, the way a serving store would — and
exactly-once without an ACID table format.

The store is the truth.

- Each micro-batch aggregates its own rows to (hour, event_type)
  partials — a few hundred rows at most (hours × event types) — and
  collects them to the driver in one job.
- The partials land as a one-file generation ``rollup/batch_id=N/``
  (``engine.generations.write_single_file``: the directory is replaced
  whole, ``_SUCCESS`` last). A REPLAYED batch (failure/restart,
  Structured Streaming's at-least-once ``foreachBatch`` contract)
  replaces its own directory instead of double-counting: at-least-once
  delivery becomes an exactly-once table, the transactional-sink
  (batch id) dedup key expressed in directory layout.
- :func:`compact_rollup` folds the batch directories into one flat
  generation; the caller serves from it and vacuums the batch
  directories.

The view is a checked decode cache. :func:`serve_hourly` lists the
store on every request and takes every committed ``batch_id=N``
directory (or the flat committed generation). Each parquet file is
decoded once with pyarrow and kept in a process-wide cache keyed by its
path and checked against the file's (inode, size, ``mtime_ns``), read
from the same open descriptor as the content. The partials are summed
on the driver — counts and DECIMAL partial sums are exact and
order-independent, so the served rollup equals the batch recompute
bit-for-bit (pinned in tests/test_streaming.py) — and handed to Spark
as a local relation: the caller's filter/project/collect runs no Spark
job. Consequences:

- a deleted, replayed, uncommitted (no ``_SUCCESS``), compacted or
  vacuumed directory shows in the very next answer, and a cold start
  (empty cache) decodes the store — there is no separate rebuild path;
- writes in this process go through to the cache, so a rewrite wins
  even where the fingerprint cannot tell (a reused inode, a coarse
  mtime and the same byte size);
- entries of files that left the store are evicted on that store's
  next serve, so the cache holds at most the live files of the stores
  served;
- paths follow the store's ``local_path`` contract: plain paths and
  ``file:`` URIs; any other scheme is refused by name.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.generations import committed, local_path, write_single_file
from .core import drain

# The served rollup: the partials' SUM types (Spark widens a decimal SUM
# by 10 digits), hours as UTC instants.
_SERVED = pa.schema([("hour", pa.timestamp("us", tz="UTC")),
                     ("event_type", pa.string()),
                     ("n_events", pa.int64()),
                     ("sum_value", pa.decimal128(38, 6))])

# store root → {parquet file → ((inode, size, mtime_ns), decoded table)}
_views: dict[str, dict[str, tuple[tuple[int, int, int], pa.Table]]] = {}
_views_lock = threading.Lock()


def hourly_partials(batch_df: DataFrame) -> DataFrame:
    """Batch-local (hour, event_type) partial aggregate."""
    return (
        batch_df.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"))
    )


def _fingerprint(st: os.stat_result) -> tuple[int, int, int]:
    return st.st_ino, st.st_size, st.st_mtime_ns


def _conform(table: pa.Table) -> pa.Table:
    """``table`` in the served column types (Spark's own parquet writes
    store ``hour`` as a naive INT96 UTC instant)."""
    return table.select(_SERVED.names).cast(_SERVED)


def _write_through(table: pa.Table, root: str, gen_dir: str) -> None:
    """Write ``table`` as the one-file generation ``gen_dir`` of the
    store ``root``, then put the same rows in the cache under the new
    file's fingerprint."""
    part = write_single_file(table, gen_dir)
    entry = (_fingerprint(os.stat(part)), _conform(table))
    with _views_lock:
        _views.setdefault(root, {})[part] = entry


def write_batch_partials(batch_df: DataFrame, batch_id: int, rollup_path: str) -> None:
    """foreachBatch body: idempotent batch-keyed partial write. The
    partial is aggregated in one task — a single partition needs no
    exchange, so the collect is one job of one stage."""
    root = os.path.abspath(local_path(rollup_path))
    _write_through(hourly_partials(batch_df.coalesce(1)).toArrow(), root,
                   os.path.join(root, f"batch_id={batch_id}"))


def maintain_hourly_rollup(sdf: DataFrame, rollup_path: str,
                           checkpoint: str) -> None:
    """Drain the event stream once (availableNow), maintaining the
    batch-keyed hourly partials under ``rollup_path``."""
    drain(sdf, lambda df, bid: write_batch_partials(df, bid, rollup_path),
          checkpoint)


def _store_files(root: str) -> list[str]:
    """The parquet files the store serves: the flat committed generation
    at ``root``, or else every committed ``batch_id=N`` directory."""
    if committed(root):
        dirs = [root]
    else:
        dirs = [e.path for e in os.scandir(root)
                if e.name.startswith("batch_id=") and e.is_dir()
                and committed(e.path)]
    return [e.path for d in dirs for e in os.scandir(d)
            if e.name.endswith(".parquet")
            and not e.name.startswith((".", "_"))]


def _decoded(path: str, cached: tuple | None) -> tuple:
    """``(fingerprint, table)`` of the file at ``path``: ``cached`` when
    the file still matches its fingerprint, else a fresh decode. The
    fingerprint and the content come from one open descriptor, so a
    file replaced in between cannot pair old content with a new
    fingerprint."""
    with open(path, "rb") as f:
        fp = _fingerprint(os.fstat(f.fileno()))
        if cached is not None and cached[0] == fp:
            return cached
        return fp, _conform(pq.read_table(f))


def _store_table(rollup_path: str) -> pa.Table:
    """The served rollup of the store, folded on the driver."""
    root = os.path.abspath(local_path(rollup_path))
    with _views_lock:
        old = _views.get(root, {})
        view = {p: _decoded(p, old.get(p)) for p in _store_files(root)}
        _views[root] = view
    rows = pa.concat_tables([t for _fp, t in view.values()]
                            or [_SERVED.empty_table()])
    agg = rows.group_by(["hour", "event_type"]).aggregate(
        [("n_events", "sum"), ("sum_value", "sum")])
    return pa.table([agg["hour"], agg["event_type"], agg["n_events_sum"],
                     agg["sum_value_sum"]], schema=_SERVED)


def serve_hourly(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The served rollup: the partials of every committed generation of
    the store, summed on the driver — exact, since counts and decimal
    partial sums are order-independent under SUM. The frame is a local
    relation, so a filter/project/collect over it runs no Spark job."""
    return spark.createDataFrame(_store_table(rollup_path))


def compact_rollup(spark: SparkSession, rollup_path: str,
                   out_path: str) -> None:
    """Fold the batch-keyed partial directories into ONE file at
    ``out_path``. The stream leaves one directory per micro-batch, and
    small-file count (listing, open-per-file, metadata) is the serving
    store's scale limit — not data volume, which stays hours ×
    event_types. The fold is the served rollup itself (exact,
    order-independent SUMs), so serving from ``out_path`` equals
    serving from the batch-keyed history bit-for-bit — oracle-checked
    as ``stream_serving_compacted``. The caller serves from
    ``out_path`` once this returns; the batch directories are then
    superseded (``engine.generations.vacuum_superseded``)."""
    root = os.path.abspath(local_path(out_path))
    _write_through(_store_table(rollup_path), root, root)
