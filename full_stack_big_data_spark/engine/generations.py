"""The generation store: the one module that knows the on-disk layout
of every index lifecycle (append → compact → serve → vacuum).

A store is a set of GENERATION directories. Each family (the ingest
gates, the IVF and IVFADC cell stores, the phash index, the hourly
rollup) supplies only its rows, its partition key and its fold; this
module owns the four layout decisions they share:

* :func:`append_epoch` / :func:`read_epochs` — a micro-batch lands as
  its own ``batch_id=<epoch>`` partition under dynamic partition
  overwrite, and is read back with an explicit schema;
* :func:`write_generation` — a keyed fold into a fresh generation, one
  file per key value;
* :func:`compact_parquet` — a byte-sized small-files rewrite;
* :func:`vacuum_superseded` / :func:`vacuum_checked` — reclaim of the
  generations a fold superseded.

Idempotence (the epoch append). ``foreachBatch`` is at-least-once: a
crash after the sink write but before the checkpoint commit replays
the micro-batch. The write is therefore keyed by batch id — Structured
Streaming's transactional-sink contract expressed in directory layout:
a replayed epoch REWRITES its own partition in place instead of
appending a duplicate file set, and epochs never overwrite each other.
With a deterministic feed (a file source replays byte-identical) this
makes the sink exactly-once at both replay layers: the checkpoint
dedups batch delivery, the epoch key dedups a replayed write. The base
generation lives in its own directory and is never written by a drain
(Spark rightly refuses to overwrite a path the same plan reads from).

Crash safety (the fold and the vacuum).

1. **Completeness-gated.** Spark's file committer writes ``_SUCCESS``
   last, after every task output is committed and moved into place, so
   its presence is a generation's commit record. Vacuum runs only after
   every REQUIRED generation verifies committed; an interrupted fold
   makes vacuum refuse and leaves every superseded byte in place, and
   serving continues from the old generations untouched.
2. **Delete-last, idempotent.** Nothing reads a superseded directory
   once the fold is complete (every caller receives the new
   generation's path as a return value and serves from it), so a crash
   mid-delete leaves only unreferenced orphans; re-running the vacuum
   completes the sweep. Missing superseded directories are skipped, not
   errors.
3. **Quiescence is the caller's contract.** Vacuum runs between drains.
   The streaming CHECKPOINT is never deleted: a later drain resumes from
   recorded offsets against the folded base and starts fresh epochs —
   committed batches are never replayed, so folded rows cannot re-enter
   through the at-least-once layer.

Driver-side file operations (commit checks, vacuum, size walks, the
single-file write) run on the local filesystem; :func:`local_path`
accepts plain paths and ``file:`` URIs and refuses any other scheme by
name rather than silently missing the files.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession, functions as F

_COMMIT = "_SUCCESS"
COMPACT_TARGET_BYTES = 64 * 1024 * 1024


class IncompleteGenerationError(RuntimeError):
    """A required generation directory is missing its commit record —
    the fold did not complete; nothing was deleted."""


def local_path(path: str) -> str:
    """``path`` as a local filesystem path: plain paths pass through,
    ``file:`` URIs lose their scheme, and any other scheme raises
    ``ValueError`` naming the path."""
    u = urlsplit(path)
    if not u.scheme:
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return u.path
    raise ValueError(f"generation store: not a local path: {path!r}")


def committed(path: str) -> bool:
    """Whether ``path`` carries its ``_SUCCESS`` commit record."""
    return os.path.isfile(os.path.join(local_path(path), _COMMIT))


def append_epoch(df: DataFrame, batch_id: int, path: str) -> None:
    """foreachBatch sink write: ``df`` becomes the ``batch_id=<epoch>``
    partition of ``path``; a replay of the same epoch rewrites it."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id").parquet(path))


def read_epochs(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read an epoch-partitioned sink with an EXPLICIT schema: a feed
    whose every batch is fully dropped writes no files, and a
    schema-less read of the empty directory raises
    UNABLE_TO_INFER_SCHEMA — an all-dropped stream is an EMPTY result,
    not an error. ``batch_id`` is layout, not contract: the schema omits
    it, and the drop removes the discovered partition column when files
    exist."""
    return spark.read.schema(schema).parquet(path).drop("batch_id")


def write_generation(df: DataFrame, path: str, key: str | None,
                     n_parts: int, mode: str = "overwrite") -> None:
    """Write ``df`` as a generation clustered by ``key`` — one file per
    key value, ``key`` the partition column — or, with no key, as at
    most ``n_parts`` flat files. The task count is
    ``min(n_parts, defaultParallelism)`` and always explicit: a keyed
    ``repartition(key)`` with no count is AQE-coalesced to one task on
    small inputs, which then writes every partition's file in sequence
    (measured: 4.5 s vs 1.4 s for a 256-file write at sf0.1). Hash
    partitioning still lands each key value wholly in one task, so
    fewer tasks than key values keeps one file per value; more tasks
    would only add empty ones."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    tasks = max(1, min(n_parts, parallelism))
    if key is None:
        df.repartition(tasks).write.mode(mode).parquet(path)
    else:
        (df.repartition(tasks, key)
         .write.mode(mode).partitionBy(key).parquet(path))


def _parquet_files(path: str) -> list[str]:
    """Every ``.parquet`` file under ``path``, recursively: partitioned
    and streaming-sink layouts nest their files in subdirectories."""
    return [os.path.join(root, f)
            for root, _dirs, files in os.walk(local_path(path))
            for f in files if f.endswith(".parquet")]


def compact_parquet(spark: SparkSession, src_dir: str, dst_dir: str,
                    target_bytes: int = COMPACT_TARGET_BYTES) -> int:
    """Rewrite a many-small-files parquet directory into about
    ``bytes / target_bytes`` files; returns the number of files written.
    Streaming sinks and per-executor writers leave thousands of tiny
    files, and every later scan pays one task and one open per file.

    ``coalesce``, not ``repartition``: a layout-only rewrite must not pay
    a shuffle. It can only merge the read splits, so a source with fewer
    splits than the size calls for yields fewer files — hence the count
    is read back from disk. Refuses a directory with no parquet files."""
    files = _parquet_files(src_dir)
    if not files:
        raise ValueError(
            f"compact_parquet: no .parquet files under {src_dir}")
    size = sum(os.path.getsize(f) for f in files)
    n = max(1, -(-size // target_bytes))
    (spark.read.parquet(src_dir).coalesce(n)
     .write.mode("overwrite").parquet(dst_dir))
    return len(_parquet_files(dst_dir))


def write_single_file(table, path: str) -> str:
    """Replace ``path`` with a one-file generation written driver-side:
    ``part-00000.parquet`` holding the pyarrow ``table``, then the
    ``_SUCCESS`` commit record; returns the part file's path. For
    bounded artifacts (a codebook, a rollup micro-batch's partials)
    where a Spark job would cost more than the write. The old directory
    is removed whole, so no part or checksum file of an earlier Spark
    write survives."""
    import pyarrow.parquet as pq

    p = local_path(path)
    if os.path.isdir(p):
        shutil.rmtree(p)
    os.makedirs(p)
    part = os.path.join(p, "part-00000.parquet")
    pq.write_table(table, part)
    with open(os.path.join(p, _COMMIT), "w"):
        pass
    return part


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def vacuum_superseded(required: list[str], superseded: list[str]) -> dict:
    """Delete ``superseded`` directories once every ``required``
    generation verifies committed. Returns
    ``{"deleted": [...], "skipped": [...], "bytes_reclaimed": n}``.
    Raises :class:`IncompleteGenerationError` (deleting NOTHING) when
    any required directory lacks its ``_SUCCESS`` commit record."""
    missing = [p for p in required if not committed(p)]
    if missing:
        raise IncompleteGenerationError(
            f"fold incomplete, refusing to vacuum: no {_COMMIT} in "
            f"{missing}")
    deleted, skipped, reclaimed = [], [], 0
    req = {os.path.abspath(local_path(p)) for p in required}
    for p in superseded:
        lp = local_path(p)
        if os.path.abspath(lp) in req:    # never eat a live generation
            skipped.append(p)
            continue
        if not os.path.isdir(lp):         # idempotent re-run
            skipped.append(p)
            continue
        reclaimed += _tree_bytes(lp)
        shutil.rmtree(lp)
        deleted.append(p)
    return {"deleted": deleted, "skipped": skipped,
            "bytes_reclaimed": reclaimed}


def vacuum_checked(required: list[str], superseded: list[str],
                   checkpoint: str) -> dict:
    """:func:`vacuum_superseded` for a lifecycle that must prove its
    reclaim: RAISES unless bytes were reclaimed, every superseded
    directory is gone and the streaming ``checkpoint`` survived — so a
    vacuum that reclaims nothing (or eats the checkpoint) fails the
    query instead of passing silently."""
    stats = vacuum_superseded(required, superseded)
    if stats["bytes_reclaimed"] <= 0:
        raise RuntimeError("vacuum reclaimed nothing — the lifecycle "
                           f"left no superseded bytes: {stats}")
    if any(os.path.isdir(local_path(p)) for p in superseded):
        raise RuntimeError("vacuum left a superseded generation alive")
    if not os.path.isdir(local_path(checkpoint)):
        raise RuntimeError("vacuum ate the streaming checkpoint — "
                           "retention contract violated")
    return stats
