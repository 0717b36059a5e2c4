"""Streaming task-retry determinism (the streaming twin of
tests/test_task_retry.py, round 8).

Batch retry-exactness is proven; streaming adds a harder contract: a
task that dies MID-MICRO-BATCH must not double-apply or lose state
store updates when the scheduler replays it — the state store commits
per (batch, partition) version, and the replayed attempt must land on
exactly the same committed state. This drains the keyed running-stats
operator over a 4-file staged stream (one micro-batch per file) on
``local[4, 2]`` with an injected attempt-0 failure in every
micro-batch's first task, and asserts the drained result is
bit-identical to the clean run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json
import shutil
import sys
import tempfile

from pyspark.sql import SparkSession, functions as F

sys.path.insert(0, "@@HERE@@")
from full_stack_big_data_spark.engine.session import tune_session
from full_stack_big_data_spark.streaming.core import run_to_completion
from full_stack_big_data_spark.streaming.stateful import running_user_stats

spark = (SparkSession.builder.master("local[4, 2]")   # maxFailures = 2
         .appName("stream-retry-determinism")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
tune_session(spark)
spark.sparkContext.setLogLevel("ERROR")

ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
staged = tempfile.mkdtemp(prefix="fsbd_stream_retry_")


def flaky(df):
    '''Kill attempt 0 of each micro-batch's partition-0 task BEFORE the
    stateful shuffle, so the replay re-reads the file and re-feeds the
    state store update for that batch.'''
    from pyspark import TaskContext

    def shim(batches):
        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            raise RuntimeError("injected attempt-0 failure")
        yield from batches

    return df.mapInPandas(shim, df.schema)


def drain(inject):
    src = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1).parquet(staged))
    if inject:
        src = flaky(src)
    sink = run_to_completion(running_user_stats(src), output_mode="update")
    # update mode re-emits keys per batch; running stats are monotone,
    # so the drained table folds to per-key extremes (the registered
    # stream_stateful_user_stats epilogue)
    final = (sink.groupBy("user_id")
             .agg(F.max("n_events").alias("n_events"),
                  F.max("n_clicks").alias("n_clicks"),
                  F.min("mn_us").alias("mn_us"),
                  F.max("mx_us").alias("mx_us")))
    rows = final.collect()
    cols = sorted(final.columns)
    return sorted("|".join(repr(r[c]) for c in cols) for r in rows)


try:
    ev.repartition(4).write.mode("overwrite").parquet(staged)
    clean = drain(inject=False)
    injected = drain(inject=True)
finally:
    shutil.rmtree(staged, ignore_errors=True)
print(json.dumps({"ok": clean == injected, "rows": len(clean)}))
spark.stop()
"""


def test_streaming_retry_is_state_exact():
    p = subprocess.run(
        [sys.executable, "-c", CHILD.replace("@@HERE@@", HERE)],
        capture_output=True, text=True, timeout=600, cwd=HERE)
    line = next((ln for ln in reversed(p.stdout.splitlines())
                 if ln.startswith("{")), None)
    assert line, f"child produced no verdict\n{p.stderr[-3000:]}"
    verdict = json.loads(line)
    assert "injected attempt-0 failure" in p.stderr, \
        "no task failure was injected — the flaky stage never ran attempt 0"
    assert verdict["rows"] > 0
    assert verdict["ok"], f"streaming retry changed drained state: {verdict}"
