"""Measurement plumbing shared by the workloads: percentiles, span
tracing, process-tree memory, session lifecycle, streaming progress and
Spark event-log parsing.

Nothing here imports the program at module load; the session helpers
import it lazily so ``run.py`` can refuse to run in a directory that
does not hold it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


# --- statistics --------------------------------------------------------------

def pctl(values, q: float) -> float:
    """Percentile ``q`` (0-100) with linear interpolation; NaN if empty."""
    if len(values) == 0:
        return float("nan")
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def weighted_pctl(values, weights, q: float) -> float:
    """Percentile of a sample where ``values[i]`` occurs ``weights[i]`` times."""
    v = np.asarray(values, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    if v.size == 0 or w.sum() <= 0:
        return float("nan")
    order = np.argsort(v)
    v, w = v[order], w[order]
    cum = np.cumsum(w)
    return float(v[np.searchsorted(cum, q / 100.0 * cum[-1], side="left")])


# --- tracing -----------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent, request id.

    ``enabled=False`` makes every call a no-op, so the untraced run pays
    only a context-manager enter/exit per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_request = 0

    def new_request(self) -> int:
        with self._lock:
            self._next_request += 1
            return self._next_request

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if request is None:
            request = self.spans[parent]["request"] if parent is not None else 0
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request": request}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the union of
        its children's intervals, summed by the span name's first part."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --- process-tree memory -----------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Memory of ``root`` and all its descendants: summed proportional set
    size, so pages that forked Python workers share with their parent
    count once."""
    kids, total, todo = _children_map(), 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``interval`` s."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# --- session lifecycle -------------------------------------------------------

def write_conf_dir(conf_dir: str, event_dir: str | None = None) -> None:
    """The benchmark's own Spark conf dir for ``SPARK_CONF_DIR``: empty
    defaults, or with ``event_dir`` the event log on (uncompressed JSON
    lines)."""
    os.makedirs(conf_dir, exist_ok=True)
    lines = []
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        lines += ["spark.eventLog.enabled true", f"spark.eventLog.dir file://{event_dir}",
                  "spark.eventLog.compress false"]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")


def start_session(conf_dir: str, cpus: int | None = None):
    """Launch a fresh JVM and build the program's session.
    Returns ``(spark, seconds)``."""
    os.environ["SPARK_CONF_DIR"] = conf_dir
    from full_stack_big_data_spark.engine.session import get_spark
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus)
    elapsed = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit, so the
    next ``start_session`` pays a full launch again."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def canary(spark) -> float:
    """A fixed small job: ambient-noise reference for the host."""
    t = time.perf_counter()
    spark.range(0, 3_000_000, 1, 4).selectExpr("sum(id * id % 7) AS s").collect()
    return time.perf_counter() - t


# --- streaming progress ------------------------------------------------------

class ProgressLog:
    """``StreamingQueryProgress`` records of one query, keyed by batch id.
    Call ``poll`` often enough that the query's bounded recent-progress
    buffer never drops a batch."""

    def __init__(self, query):
        self.query = query
        self.batches: dict[int, dict] = {}

    def poll(self) -> None:
        for p in self.query.recentProgress:
            d = json.loads(p.json)
            self.batches[d["batchId"]] = d

    def with_data(self) -> list[dict]:
        return [self.batches[b] for b in sorted(self.batches)
                if self.batches[b].get("numInputRows", 0) > 0]

    def duration_s(self, key: str) -> float:
        return sum(p.get("durationMs", {}).get(key, 0) for p in self.batches.values()) / 1000


def progress_end_epoch(p: dict) -> float:
    """Epoch seconds at which a micro-batch finished: its trigger start
    plus its trigger execution time."""
    import datetime as dt
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000


# --- Spark event log ---------------------------------------------------------

def event_log_metrics(event_dir: str, app_id: str, window: tuple[float, float],
                      cores: int) -> dict[str, float]:
    """Task-level totals from the event log of ``app_id`` for tasks that
    launched inside ``window`` (epoch seconds)."""
    files = []
    for path in glob.glob(os.path.join(event_dir, f"*{app_id}*")):
        # rolling event logs are a directory of event files per application
        files += sorted(glob.glob(os.path.join(path, "events_*"))) if os.path.isdir(path) else [path]
    tasks = gc = run = shuffle_w = spill = 0.0
    per_stage: dict[tuple[int, int], list[float]] = {}
    lo, hi = window[0] * 1000, window[1] * 1000
    for path in files:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if not lo <= info.get("Launch Time", 0) <= hi:
                    continue
                tasks += 1
                run += m.get("Executor Run Time", 0) / 1000
                gc += m.get("JVM GC Time", 0) / 1000
                shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                key = (ev.get("Stage ID", -1), ev.get("Stage Attempt ID", 0))
                per_stage.setdefault(key, []).append(
                    (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000)
    skews = [max(d) / max(np.median(d), 1e-3) for d in per_stage.values() if len(d) >= 2]
    wall = max(window[1] - window[0], 1e-9)
    return {
        "spark.tasks": tasks,
        "spark.task_s": run,
        "spark.gc_s": gc,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.task_skew": float(np.median(skews)) if skews else 1.0,
        "spark.core_busy_ratio": run / (cores * wall),
    }
