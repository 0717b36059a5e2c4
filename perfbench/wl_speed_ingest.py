"""Phase A of speed_serve: closed drain of a standing Avro backlog.

Pipeline under test: ``file_wire_reader(max_files_per_trigger)`` →
``decode_tweet_avro`` (PERMISSIVE, null rows dropped) →
``streaming_word_counts`` via ``start_update_query``, drained with
``processAllAvailable``. A standing backlog shrinks at exactly the
highest rate the query sustains at that batch bound, so the drain rate
is the sustainable-throughput figure at that batch bound. Each round
drains the same backlog through a fresh query, checkpoint and memory
sink; the median round is reported.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from harness import ProgressLog, pctl


def build_query(spark, topic: str, checkpoint: str, sink: str, max_files: int):
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.sources.kafka import file_wire_reader
    from full_stack_big_data_spark.sources.serde import decode_tweet_avro
    from full_stack_big_data_spark.streaming.wordcount_stream import start_update_query

    raw = file_wire_reader(spark, topic, max_files_per_trigger=max_files)
    tweets = raw.select(decode_tweet_avro(F.col("value")).alias("t"))
    texts = tweets.where(F.col("t.username").isNotNull()).select("t.text")
    return start_update_query(texts, sink, checkpoint)


def sink_counts(spark, sink: str) -> dict[str, int]:
    """Final count per word: update-mode rows of one word only grow."""
    from pyspark.sql import functions as F
    rows = spark.table(sink).groupBy("word").agg(F.max("cnt").alias("cnt")).collect()
    return {r.word: int(r.cnt) for r in rows}


class SpeedIngest:
    def __init__(self, props: dict, work: str, seed: int):
        self.props, self.work, self.seed = props, work, seed
        self._round = 0

    def generate(self) -> str:
        self.topic = os.path.join(self.work, "topic")
        self.ledger = gen.tweet_backlog(self.topic, self.seed, self.props)
        self.warm_topic = os.path.join(self.work, "warm_topic")
        gen.tweet_backlog(self.warm_topic, 0, self.props)
        return self.ledger["digest"]

    def warm(self, spark) -> None:
        """One drain of a fixed backlog shaped like the measured one, so
        the JIT has compiled the per-row paths before timing starts."""
        self.warm_sink = self._drain(spark, self.warm_topic,
                                     self.props["max_files_per_trigger"])["sink"]

    def corrupt(self, res: dict) -> None:
        """Point the last round at the warm-up's result table."""
        res["rounds"][-1]["sink"] = self.warm_sink

    def _drain(self, spark, topic: str, max_files: int) -> dict:
        self._round += 1
        sink = f"wc_round{self._round}"
        t0 = time.perf_counter()
        q = build_query(spark, topic, os.path.join(self.work, "ckpt", sink), sink, max_files)
        q.processAllAvailable()
        drain_s = time.perf_counter() - t0
        log = ProgressLog(q)
        log.poll()
        q.stop()
        return {"sink": sink, "drain_s": drain_s, "log": log}

    def measure(self, spark, seconds: float, tracer) -> dict:
        """``seconds / nominal_round_s`` rounds, at least two: a fixed
        amount of work, whatever the program's speed."""
        done = []
        for _ in range(max(2, round(seconds / self.props["nominal_round_s"]))):
            with tracer.span("streaming.wordcount_stream.drain", tracer.new_request()):
                done.append(self._drain(spark, self.topic, self.props["max_files_per_trigger"]))
        return {"rounds": done}

    def check(self, spark, res: dict, tracer) -> tuple[list[str], dict]:
        """Counts equal the ledger in every round; the topic's undecodable
        rows equal the planted corrupt payloads."""
        from pyspark.sql import functions as F
        from full_stack_big_data_spark.sources.serde import decode_tweet_avro
        errors, extra = [], {}
        for r in res["rounds"]:
            rows = sum(p["numInputRows"] for p in r["log"].with_data())
            if rows != self.ledger["rows"]:
                errors.append(f"{r['sink']}: read {rows} rows, topic holds {self.ledger['rows']}")
            got = sink_counts(spark, r["sink"])
            if got != self.ledger["words"]:
                bad = sorted(set(got.items()) ^ set(self.ledger["words"].items()))[:3]
                errors.append(f"{r['sink']}: word counts differ from ledger, e.g. {bad}")
        t = time.perf_counter()
        with tracer.span("sources.serde.decode_pass", tracer.new_request()):
            raw = spark.read.schema("value binary").parquet(self.topic)
            bad_rows = (raw.select(decode_tweet_avro(F.col("value")).alias("t"))
                        .where(F.col("t.username").isNull()).count())
        extra["sources.serde.decode_s"] = time.perf_counter() - t
        if bad_rows != self.ledger["corrupt"]:
            errors.append(f"dropped {bad_rows} rows, planted {self.ledger['corrupt']} corrupt")
        extra["sources.serde.decode_ok_ratio"] = 1 - bad_rows / self.ledger["rows"]
        return errors, extra

    def metrics(self, res: dict):
        rounds = res["rounds"]
        n = len(rounds)
        prog = [p for r in rounds for p in r["log"].with_data()]
        state = [p["stateOperators"][0] for p in rounds[-1]["log"].with_data()
                 if p.get("stateOperators")]

        def per_round(key: str) -> float:
            return sum(r["log"].duration_s(key) for r in rounds) / n

        e2e = {"ingest_eps": (float(np.median([self.ledger["rows"] / r["drain_s"] for r in rounds])),
                              "1/s", n)}
        q = "streaming.wordcount_stream"
        layer = {
            "drain seconds per round": " ".join(f"{r['drain_s']:.3f}" for r in rounds),
            "sources.kafka.topic_bytes": self.ledger["topic_bytes"],
            f"{q}.batches": len(prog) / n,
            f"{q}.batch_rows_p50": pctl([p["numInputRows"] for p in prog], 50),
            f"{q}.add_batch_s": per_round("addBatch"),
            f"{q}.planning_s": per_round("queryPlanning"),
            f"{q}.wal_commit_s": per_round("walCommit"),
            f"{q}.trigger_p50_s": pctl([p["durationMs"]["triggerExecution"] / 1000 for p in prog], 50),
            f"{q}.state_rows": state[-1]["numRowsTotal"] if state else 0,
            f"{q}.state_updated_rows": sum(s["numRowsUpdated"] for s in state),
            f"{q}.state_commit_s": sum(s.get("commitTimeMs", 0) for s in state) / 1000,
            f"{q}.state_mem_bytes": max((s.get("memoryUsedBytes", 0) for s in state), default=0),
        }
        return e2e, layer, n * self.ledger["rows"], 0
