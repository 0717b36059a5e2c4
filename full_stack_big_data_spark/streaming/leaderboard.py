"""Second custom stateful operator: a per-event-type running top-k user
leaderboard (``applyInPandasWithState``).

``streaming/stateful.py`` keeps one flat stat row per key; this operator
keeps a GROWING collection per key — user→count for every user the
event_type has seen — which is the state shape of real leaderboards,
frequency caps, and per-entity counters. State is two parallel arrays
(user_ids, counts) in the state store; per batch only the touched
entries change and each key re-emits its current top-3 (count desc,
user_id asc — a total order, so emissions are deterministic), tagged
with the key's monotone event total so the drained sink can select the
final leaderboard exactly.

Spark 4's ``transformWithStateInPandas`` is the better home for this
(per-entry ``MapState`` rows instead of rewriting the whole array pair —
O(batch) state writes when a key holds millions of users) and was
implemented first, but its driver worker imports ``google.protobuf``,
which this environment lacks (same class of gap as the spark-avro jar:
``SURVEY.md §2.1``). The emission contract and results here are
API-independent; swapping the state backend is a local change.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..operators.registry import register
from .core import corpus_stream, run_to_completion

TOP_K = 3

_OUT = StructType([
    StructField("event_type", StringType()),
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("rank", IntegerType()),
    StructField("seen", LongType()),
])
_STATE = StructType([
    StructField("user_ids", ArrayType(LongType())),
    StructField("counts", ArrayType(LongType())),
    StructField("seen", LongType()),
])


def _update_leaderboard(key, pdfs, state: GroupState):
    (event_type,) = key
    users, counts, seen = (state.get if state.exists else ([], [], 0))
    tally = dict(zip(users, counts))
    for pdf in pdfs:
        seen += len(pdf)
        for u, c in pdf.groupby("user_id").size().items():
            tally[int(u)] = tally.get(int(u), 0) + int(c)
    state.update((list(tally.keys()), list(tally.values()), seen))

    top = sorted(tally.items(), key=lambda t: (-t[1], t[0]))[:TOP_K]
    yield pd.DataFrame({
        "event_type": [event_type] * len(top),
        "user_id": [t[0] for t in top],
        "n_events": [t[1] for t in top],
        "rank": list(range(1, len(top) + 1)),
        "seen": [seen] * len(top),
    })


def running_top_users(events: DataFrame) -> DataFrame:
    return (events.select("event_type", "user_id")
            .groupBy("event_type")
            .applyInPandasWithState(
                _update_leaderboard, _OUT, _STATE,
                outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout))


@register(
    "stream_top_users",
    oracle=f"""
SELECT event_type, user_id, n_events, rank FROM (
  SELECT event_type, user_id, COUNT(*) AS n_events,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY COUNT(*) DESC, user_id) AS INT) AS rank
  FROM events GROUP BY event_type, user_id)
WHERE rank <= {TOP_K}
""",
    description=f"stateful streaming leaderboard: running top-{TOP_K} users per event type",
    tags=("streaming", "stateful", "leaderboard"),
)
def stream_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = running_top_users(corpus_stream(spark, sf_dir, "events"))
    sink = run_to_completion(out, output_mode="update")
    # Each batch re-emits a key's full top-k tagged with the monotone
    # per-key total; the final leaderboard is the rows at each key's max.
    from pyspark.sql import Window
    w = Window.partitionBy("event_type")
    return (sink.withColumn("mx", F.max("seen").over(w))
            .where(F.col("seen") == F.col("mx"))
            .select("event_type", "user_id", "n_events", "rank"))
