"""Phase B of speed_serve: open-loop JSON ingest with interval reads beside it.

A generator thread appends one small JSON-wire ``events`` file to the
topic every ``file_interval_s`` seconds, on a schedule that does not slow
when the system slows; each event's ``ts`` is its creation time. A query
with Spark's default trigger runs ``from_json_bytes`` →
``rollup.write_batch_partials`` through ``foreachBatch``. One closed-loop
client thread runs ``rollup.serve_hourly`` over a seeded ``[t1, t2]``
hour range that includes now, each request starting when the previous
answer returns -- the reference's ``get /home/time/<t1>/<t2>`` call.

Freshness of an event is the time from its creation to the end of the
first answer that includes it. The micro-batches consume whole files in
creation order, so an answer with ``V`` live events visible includes
exactly the first ``V`` events created.
"""

from __future__ import annotations

import os
import threading
import time
from decimal import Decimal

import numpy as np

import gen
from harness import ProgressLog, pctl, progress_end_epoch, weighted_pctl

REQUEST_TIMEOUT_S = 5.0   # a serving answer slower than this counts as failed


def event_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType, TimestampType)
    return StructType([
        StructField("event_id", LongType()), StructField("ts", TimestampType()),
        StructField("user_id", LongType()), StructField("event_type", StringType()),
        StructField("value", DoubleType()), StructField("props", StringType()),
    ])


def serve(spark, store: str, t1: int, t2: int) -> list[tuple[int, str, int, Decimal]]:
    """One interval request: (hour epoch s, event_type, n_events, sum_value)."""
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.streaming.rollup import serve_hourly
    df = serve_hourly(spark, store)
    if t1 is not None:
        df = df.where((F.col("hour") >= F.timestamp_seconds(F.lit(t1)))
                      & (F.col("hour") <= F.timestamp_seconds(F.lit(t2))))
    rows = df.select(F.unix_seconds("hour").alias("h"), "event_type",
                     "n_events", "sum_value").collect()
    return [(int(r.h), r.event_type, int(r.n_events), r.sum_value) for r in rows]


class ServeLive:
    """Live content is generated during the run; its digest covers the
    seeded content (ids, users, types, values) and is reported by
    ``check``."""

    def __init__(self, props: dict, work: str, seed: int):
        self.props, self.work, self.seed = props, work, seed
        self._deployed = 0

    # -- one live deployment: topic, store, checkpoint, query ---------------
    def _deploy(self, spark, tag: str, stream: gen.EventStream, backfill: int, tracer):
        from full_stack_big_data_spark.sources.kafka import file_wire_reader
        from full_stack_big_data_spark.sources.serde import from_json_bytes
        from full_stack_big_data_spark.streaming.rollup import write_batch_partials

        self._deployed += 1
        base = os.path.join(self.work, f"{tag}{self._deployed}")
        d = {"topic": os.path.join(base, "topic"), "stage": os.path.join(base, "stage"),
             "store": os.path.join(base, "rollup"), "ckpt": os.path.join(base, "ckpt"),
             "write_s": [], "batch_ids": [], "files": 0}
        os.makedirs(d["topic"])
        os.makedirs(d["stage"])
        self.hour0 = int(time.time()) // 3600 * 3600
        hours = stream.rng.integers(1, 73, size=backfill)
        secs = stream.rng.integers(0, 3600, size=backfill)
        ts = (self.hour0 - hours * 3600 + secs).astype(np.int64) * 1_000_000
        self.backfill_hours = {}
        for h in (ts // 3_600_000_000 * 3600).tolist():
            self.backfill_hours[h] = self.backfill_hours.get(h, 0) + 1
        self._append(d, stream.batch(backfill, ts))

        def body(batch_df, batch_id):
            t = time.perf_counter()
            with tracer.span("streaming.rollup.write_batch_partials", tracer.new_request()):
                write_batch_partials(batch_df, batch_id, d["store"])
            d["write_s"].append(time.perf_counter() - t)
            d["batch_ids"].append(batch_id)

        events = from_json_bytes(file_wire_reader(spark, d["topic"]), event_schema())
        d["query"] = (events.writeStream.foreachBatch(body)
                      .option("checkpointLocation", d["ckpt"]).start())
        d["query"].processAllAvailable()
        return d

    def _append(self, d: dict, values: list[bytes]) -> None:
        """Write outside the topic, then rename in: the source never sees
        a half-written file."""
        name = f"part-{d['files']:06d}.parquet"
        stage = os.path.join(d["stage"], name)
        gen.write_wire_file(stage, values)
        os.rename(stage, os.path.join(d["topic"], name))
        d["files"] += 1

    def warm(self, spark) -> None:
        """A tiny deployment: backfill, then three live files, each drained
        and served once."""
        from harness import Tracer
        stream = gen.EventStream(0, self.props)
        d = self._deploy(spark, "warm", stream, 200, Tracer(False))
        for _ in range(3):
            now = int(time.time() * 1e6)
            self._append(d, stream.batch(20, np.full(20, now)))
            d["query"].processAllAvailable()
            serve(spark, d["store"], self.hour0 - 72 * 3600, self.hour0 + 3600)
        d["query"].stop()

    def measure(self, spark, seconds: float, tracer) -> dict:
        p = self.props
        stream = gen.EventStream(self.seed, p)
        d = self._deploy(spark, "live", stream, p["backfill_events"], tracer)
        client_rng = np.random.default_rng(self.seed + 1)
        n_per_file = int(round(p["event_rate"] * p["file_interval_s"]))
        epoch0 = time.time() - time.perf_counter()
        files: list[tuple[float, float, int]] = []     # (due epoch, written epoch, n)
        answers: list[dict] = []
        stop_gen, stop_client = threading.Event(), threading.Event()
        errors: list[str] = []
        start = time.perf_counter() + 0.05

        def generator():
            k = 0
            while not stop_gen.is_set():
                due = start + k * p["file_interval_s"]
                delay = due - time.perf_counter()
                if delay > 0 and stop_gen.wait(delay):
                    break
                due_epoch = epoch0 + due
                values = stream.batch(n_per_file, np.full(n_per_file, int(due_epoch * 1e6)))
                self._append(d, values)
                files.append((due_epoch, epoch0 + time.perf_counter(), n_per_file))
                k += 1

        def client():
            while not stop_client.is_set():
                t1 = self.hour0 - int(client_rng.integers(0, 73)) * 3600
                t2 = self.hour0 + int(client_rng.integers(1, 73)) * 3600
                bf = sum(n for h, n in self.backfill_hours.items() if t1 <= h <= t2)
                s = time.perf_counter()
                try:
                    with tracer.span("streaming.rollup.serve_hourly", tracer.new_request()):
                        rows = serve(spark, d["store"], t1, t2)
                    ok, visible = True, sum(r[2] for r in rows) - bf
                except Exception as exc:        # a failed request is counted, not fatal
                    ok, visible = False, -1
                    errors.append(repr(exc)[:200])
                e = time.perf_counter()
                answers.append({"start": s, "end": e, "end_epoch": epoch0 + e,
                                "ok": ok and e - s <= REQUEST_TIMEOUT_S,
                                "visible": visible, "during_ingest": not stop_gen.is_set()})

        log = ProgressLog(d["query"])
        threads = [threading.Thread(target=generator), threading.Thread(target=client)]
        for t in threads:
            t.start()
        t_end = start + seconds
        while time.perf_counter() < t_end:
            time.sleep(min(0.5, max(0.0, t_end - time.perf_counter())))
            log.poll()
        stop_gen.set()
        threads[0].join(timeout=30)
        window_s = time.perf_counter() - start
        log.poll()
        live_total = sum(f[2] for f in files)
        processed_at_end = sum(b.get("numInputRows", 0) for b in log.batches.values())
        backlog_files = max(0.0, (live_total + p["backfill_events"] - processed_at_end) / max(n_per_file, 1))
        # keep answering until every live event has been seen, or give up
        deadline = time.perf_counter() + p["drain_timeout_s"]
        while time.perf_counter() < deadline:
            if answers and max(a["visible"] for a in answers) >= live_total:
                break
            time.sleep(0.05)
        stop_client.set()
        threads[1].join(timeout=60)
        d["query"].processAllAvailable()
        log.poll()
        d["query"].stop()
        return {"deploy": d, "stream": stream, "files": files, "answers": answers,
                "log": log, "window_s": window_s, "live_total": live_total,
                "window_epoch": (epoch0 + start, epoch0 + start + window_s),
                "backlog_files": backlog_files, "serve_errors": errors}

    def corrupt(self, res: dict) -> None:
        """Drop the first live micro-batch's partials from the store."""
        import shutil
        shutil.rmtree(os.path.join(res["deploy"]["store"], "batch_id=1"))

    def check(self, spark, res: dict, tracer) -> tuple[list[str], dict]:
        """The final full answer equals the ledger's exact totals."""
        from full_stack_big_data_spark.sources.serde import from_json_bytes
        errors, extra = [], {}
        got = {(h, et): (n, s) for h, et, n, s in serve(spark, res["deploy"]["store"], None, None)}
        want = {k: (v[0], v[1]) for k, v in res["stream"].ledger.items()}
        if got != want:
            diff = sorted(set(got) ^ set(want))[:3] or [
                k for k in want if got.get(k) != want[k]][:3]
            errors.append(f"served rollup differs from ledger at {diff}")
        if tracer.enabled:      # a per-layer figure only: the traced run pays for it
            t = time.perf_counter()
            with tracer.span("sources.serde.json_decode_pass", tracer.new_request()):
                raw = spark.read.schema("value binary").parquet(res["deploy"]["topic"])
                from_json_bytes(raw, event_schema()).write.format("noop").mode("overwrite").save()
            extra["sources.serde.json_decode_s"] = time.perf_counter() - t
        extra["live events digest"] = res["stream"].digest.hexdigest()[:16]
        return errors, extra

    def metrics(self, res: dict):
        files, answers = res["files"], res["answers"]
        # creation epoch of every live event, in creation order, by file
        ends = np.cumsum([f[2] for f in files])
        frontier, fresh_v, fresh_w, groups = 0, [], [], 0
        for a in sorted(answers, key=lambda a: a["end"]):
            v = min(a["visible"], res["live_total"]) if a["ok"] else -1
            if v <= frontier:
                continue
            first = int(np.searchsorted(ends, frontier, side="right"))
            last = int(np.searchsorted(ends, v - 1, side="right"))
            for fi in range(first, last + 1):
                lo = max(frontier, ends[fi] - files[fi][2])
                hi = min(v, ends[fi])
                if hi > lo:
                    fresh_v.append(a["end_epoch"] - files[fi][0])
                    fresh_w.append(int(hi - lo))
            frontier, groups = v, groups + 1
        unseen = res["live_total"] - frontier
        during = [a for a in answers if a["during_ingest"]]
        lat = [a["end"] - a["start"] for a in during if a["ok"]]
        log = res["log"]
        lo, hi = res["window_epoch"]
        data = [b for b in log.with_data() if lo <= progress_end_epoch(b) <= hi]
        d = res["deploy"]
        e2e = {
            "fresh_p50_s": (weighted_pctl(fresh_v, fresh_w, 50), "s", int(sum(fresh_w))),
            "fresh_p90_s": (weighted_pctl(fresh_v, fresh_w, 90), "s", int(sum(fresh_w))),
            "serve_p50_s": (pctl(lat, 50), "s", len(lat)),
            "serve_p90_s": (pctl(lat, 90), "s", len(lat)),
        }
        seen = {}
        for b in d["batch_ids"]:
            seen[b] = seen.get(b, 0) + 1

        def total(key: str) -> float:
            return sum(b["durationMs"].get(key, 0) for b in data) / 1000

        q = "streaming.rollup"
        layer = {
            "sources.kafka.list_s": total("latestOffset"),
            "sources.kafka.backlog_files": res["backlog_files"],
            f"{q}.batches": len(data),
            f"{q}.batch_rows_p50": pctl([b["numInputRows"] for b in data], 50),
            f"{q}.add_batch_s": total("addBatch"),
            f"{q}.planning_s": total("queryPlanning"),
            f"{q}.wal_commit_s": total("walCommit"),
            f"{q}.trigger_p50_s": pctl([b["durationMs"]["triggerExecution"] / 1000 for b in data], 50),
            f"{q}.idle_s": max(0.0, res["window_s"] - total("triggerExecution")),
            "streaming.rollup.write_s": sum(d["write_s"]),
            "streaming.rollup.replayed_batches": sum(c - 1 for c in seen.values()),
            "streaming.rollup.store_dirs": len([n for n in os.listdir(d["store"]) if n.startswith("batch_id=")]),
            "streaming.rollup.serve_s": pctl(lat, 50),
            "bench.gen_lag_s": max((f[1] - f[0] for f in files), default=0.0),
            "bench.fresh_groups": groups,
        }
        if res["serve_errors"]:
            layer["first serving error"] = res["serve_errors"][0]
        failed = sum(1 for a in answers if not a["ok"]) + unseen
        attempted = len(answers) + res["live_total"]
        return e2e, layer, attempted, failed
