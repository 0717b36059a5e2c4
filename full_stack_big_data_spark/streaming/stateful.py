"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's only stateful operator is the word-count bolt's
bolt-local running map (``integration/StormSpec.scala:53-62``); its state
lives in one task's heap and dies with it. The principled Spark version
of "keep arbitrary per-key state across micro-batches" is
``applyInPandasWithState``: state is keyed in the state store
(checkpointed, exactly-once across restarts), the update function sees
Arrow-batched pandas frames per key, and a timeout can evict idle keys —
which is what bounds state at 100 TB/day (the reference has no eviction
story at all).

The operator here keeps per-user running stats (event count, click
count, first/last event-time as raw micros) — the streaming analog of a
``GROUP BY user_id`` profile table that updates per batch. Timestamps
stay int64 micros inside the state (integer min/max — no float or tz
semantics anywhere, and micros is exactly DuckDB's epoch_us precision);
formatting to the oracle's string form happens once on the drained batch
output via ``timestamp_micros`` under the UTC session.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType, StructField, StructType,
)

from ..operators.registry import register
from .core import corpus_stream, run_to_completion

_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("n_clicks", LongType()),
    StructField("mn_us", LongType()),
    StructField("mx_us", LongType()),
])
_STATE = StructType([
    StructField("n", LongType()),
    StructField("c", LongType()),
    StructField("mn", LongType()),
    StructField("mx", LongType()),
])


def _update_user_stats(key, pdfs, state: GroupState):
    (user_id,) = key
    n, c, mn, mx = state.get if state.exists else (0, 0, None, None)
    for pdf in pdfs:
        n += len(pdf)
        c += int((pdf["event_type"] == "click").sum())
        ts = pdf["ts_us"]
        lo, hi = int(ts.min()), int(ts.max())
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
    state.update((n, c, mn, mx))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n],
                        "n_clicks": [c], "mn_us": [mn], "mx_us": [mx]})


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running stats; one updated row per key per micro-batch
    (update mode — the same emission contract as the reference's word
    counter, per batch instead of per record)."""
    # ``ts`` arrives either as TIMESTAMP (naive-micros parquet under the
    # inferTimestampNTZ=false conf) or as raw nanos BIGINT (legacy
    # TIMESTAMP(NANOS) files under nanosAsLong) — normalize both to
    # integer epoch-micros before state ever sees a value.
    ts_us = (F.expr("ts div 1000") if dict(events.dtypes).get("ts") == "bigint"
             else F.unix_micros(F.col("ts")))
    src = events.select("user_id", "event_type", ts_us.alias("ts_us"))
    return src.groupBy("user_id").applyInPandasWithState(
        _update_user_stats, _OUT, _STATE,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "stream_stateful_user_stats",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM events GROUP BY user_id
""",
    description="custom stateful op (applyInPandasWithState): per-user running stats",
    tags=("streaming", "stateful"),
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = running_user_stats(corpus_stream(spark, sf_dir, "events"))
    sink = run_to_completion(out, output_mode="update")
    # Update mode emits one row per key per batch; running stats are
    # monotone, so the final state is the per-key extreme of each column
    # (single-batch drains reduce to identity).
    final = (sink.groupBy("user_id")
             .agg(F.max("n_events").alias("n_events"),
                  F.max("n_clicks").alias("n_clicks"),
                  F.min("mn_us").alias("mn_us"),
                  F.max("mx_us").alias("mx_us")))
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return final.select(
        "user_id", "n_events", "n_clicks",
        F.date_format(F.expr("timestamp_micros(mn_us)"), fmt).alias("first_ts"),
        F.date_format(F.expr("timestamp_micros(mx_us)"), fmt).alias("last_ts"),
    )
