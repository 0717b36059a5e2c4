"""Process-scoped scratch storage for operators that must touch disk.

A handful of operators exist precisely to prove a STORAGE property —
bucketed joins (`pipeline.q_bucketed_join`), partition pruning
(`pipeline.q_partitioned_interval`), format round-trips (`wire`), and
file-backed streams (`streaming.core`) — so they genuinely have to
write files and, for the bucketed join, register metastore tables.
Before this module each call site used a bare ``tempfile.mkdtemp`` and
per-call ``saveAsTable`` names and never cleaned up, so repeated
sweep/bench runs accumulated catalog entries and disk (ADVICE r2).

Two invariants fix that without breaking laziness (results are unmaterialized
DataFrames, so cleanup must NOT run when the builder returns):

* every scratch dir lives under one deterministic per-process root,
  ``$TMPDIR/fsbd_scratch/pid<NN>-<tag>/``, removed wholesale at
  interpreter exit — and stale roots from crashed processes are purged
  opportunistically at first use (their pid no longer exists);
* every temp table name is recorded and dropped at interpreter exit via
  the same atexit hook, if a live SparkSession is still around.

The same root scopes the one process-wide memo, :func:`memo`: "build
this once per process and corpus". Every stored artifact (an index,
a verify payload, a trained codebook or merge table) and every
streaming run's scratch directories are looked up under one key in
one table, so no module keeps a dict of its own. Entries come in two
classes:

* **artifacts** — the corpus-side state a long-running gate reads
  every batch and pays for once (the index and payload builders). They
  live until the process exits.
* **per-run** entries (``per_run=True``) — a drain's sink and
  checkpoint directories and whatever a lifecycle derives from them
  (folded generations, vacuumed stores, reservoir states).
  :func:`forget_runs` drops them, so the next call re-drains its full
  feed into fresh directories: a second availableNow run over the same
  checkpoint adds zero batches, which is right for idempotence but
  times nothing and leaves the candidate sensors silent. Artifacts
  survive it.

A ``make`` that raises stores nothing, so the next call builds again.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

_ROOT = os.path.join(tempfile.gettempdir(), "fsbd_scratch")
_proc_root: str | None = None
_tables: list[str] = []
_memo: dict = {}
_per_run: set = set()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _purge_stale() -> None:
    """Remove scratch roots left by processes that no longer exist."""
    try:
        entries = os.listdir(_ROOT)
    except OSError:
        return
    for name in entries:
        if not name.startswith("pid"):
            continue
        try:
            pid = int(name[3:].split("-", 1)[0])
        except ValueError:
            continue
        if not _pid_alive(pid):
            shutil.rmtree(os.path.join(_ROOT, name), ignore_errors=True)


def _cleanup() -> None:
    if _tables:
        try:
            from pyspark.sql import SparkSession
            spark = SparkSession.getActiveSession()
            if spark is not None:
                for t in _tables:
                    try:
                        spark.sql(f"DROP TABLE IF EXISTS {t}")
                    except Exception:
                        pass
        except Exception:
            pass
    if _proc_root is not None:
        shutil.rmtree(_proc_root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh directory under this process's scratch root.

    Unique per call (safe for concurrent invocations in one process),
    removed — with everything else this process created — at exit.
    """
    global _proc_root
    if _proc_root is None:
        os.makedirs(_ROOT, exist_ok=True)
        _purge_stale()
        _proc_root = os.path.join(
            _ROOT, f"pid{os.getpid()}-{uuid.uuid4().hex[:6]}")
        os.makedirs(_proc_root, exist_ok=True)
        atexit.register(_cleanup)
    return tempfile.mkdtemp(prefix=prefix, dir=_proc_root)


def register_temp_table(name: str) -> str:
    """Record a metastore table for DROP at interpreter exit."""
    if _proc_root is None:  # ensure the atexit hook is installed
        scratch_dir("reg_")
    _tables.append(name)
    return name


def memo(key, make, *, per_run: bool = False):
    """The value stored under ``key``, built by ``make()`` on first use.
    ``per_run`` marks it for :func:`forget_runs`. Unlocked, so ``make``
    may itself call :func:`memo` (a compaction builds on its ingest
    drain); builders are called from the driver thread, never from
    inside a micro-batch body."""
    if key not in _memo:
        _memo[key] = make()
        if per_run:
            _per_run.add(key)
    return _memo[key]


def forget_runs() -> None:
    """Forget every per-run entry; artifacts stay."""
    for key in _per_run:
        _memo.pop(key, None)
    _per_run.clear()
