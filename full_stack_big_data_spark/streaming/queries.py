"""Registry entries for streaming operators.

Each query runs a REAL Structured Streaming job — file-streaming source,
stateful aggregation, memory sink — drained with trigger(availableNow),
then returns the sink table. Because Available-Now replays exactly the
data a batch query would read, every streaming operator gets a plain-SQL
DuckDB oracle: the strongest correctness statement Structured Streaming's
unified model supports (same program text, bounded or unbounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.registry import register
from ..operators.textanalysis import _vocab_oracle
from ..operators.wordcount import _WC_SQL
from .core import corpus_stream, drain, run_to_completion
from .identity import identity_pipe_json
from .windows import session_counts, sliding_counts, tumbling_counts
from .wordcount_stream import streaming_word_counts


@register(
    "stream_wordcount",
    oracle=_WC_SQL,
    description="streaming word count (speed layer, Q2/A1) drained via availableNow",
    tags=("streaming", "wordcount"),
)
def stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    wc = streaming_word_counts(corpus_stream(spark, sf_dir, "documents"))
    return run_to_completion(wc, output_mode="complete")


@register(
    "stream_window_tumbling",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS events
FROM events GROUP BY 1, 2
""",
    description="1-hour tumbling event-time windows with watermark",
    tags=("streaming", "window"),
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = tumbling_counts(corpus_stream(spark, sf_dir, "events"))
    return run_to_completion(agg, output_mode="complete")


@register(
    "stream_window_sliding",
    oracle="""
WITH b AS (
  SELECT time_bucket(INTERVAL 30 MINUTES, ts) AS b30, event_type FROM events
), w AS (
  SELECT event_type, unnest([b30, b30 - INTERVAL 30 MINUTES]) AS ws FROM b
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS events
FROM w GROUP BY 1, 2
""",
    description="1-hour sliding windows (30-min slide) with watermark",
    tags=("streaming", "window"),
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = sliding_counts(corpus_stream(spark, sf_dir, "events"))
    return run_to_completion(agg, output_mode="complete")


@register(
    "stream_session_window",
    oracle="""
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTES THEN 1
              ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTES, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
""",
    description="session windows (30-min gap) per user — custom stateful op as built-in",
    tags=("streaming", "window", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = session_counts(corpus_stream(spark, sf_dir, "events"))
    return run_to_completion(agg, output_mode="complete")


@register(
    "stream_identity_json",
    oracle="""
SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
FROM events
""",
    description="streaming identity pipe: rows→JSON bytes→rows (reference §3.2/§3.3)",
    tags=("streaming", "serde", "identity"),
)
def stream_identity_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    src = corpus_stream(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value"))
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    pipe = identity_pipe_json(src, ["event_id", "user_id", "event_type", "value"], schema)
    return run_to_completion(pipe, output_mode="append")


@register(
    "stream_wire_roundtrip",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(('0x' || substring(md5(text), 1, 15))::BIGINT % 1000000007) AS BIGINT)
         AS text_checksum
FROM documents
GROUP BY lang
""",
    description="Kafka-shaped wire pipeline: stream-encode documents to a binary "
                "topic, stream-consume + decode, aggregate — full produce/consume "
                "lifecycle brokerless",
    tags=("streaming", "source", "wire"),
)
def stream_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's identity pipeline (``KafkaStormSpec.scala:186-260``:
    produce Avro tweets → topology → consume and compare) as one
    Structured Streaming round-trip over the file-wire Kafka analogs
    (``sources/kafka.py``): a streaming producer encodes documents to
    Kafka-shaped binary ``value`` rows and drains into a directory
    "topic" through a checkpointed sink; a flow-controlled streaming
    consumer reads the topic back, decodes, and the lang-level
    count/chars/checksum aggregate must hash-match DuckDB reading the
    ORIGINAL table — content-complete and uncorrupted through two real
    StreamingQuery lifecycles. With a broker + connector jar the two
    wire builders swap for ``kafka_reader``/``write_to_kafka`` unchanged.
    """
    from pyspark.sql import functions as F

    from ..engine.scratch import scratch_dir
    from ..functions.hashing import hex64
    from ..sources.kafka import file_wire_reader, write_to_file_wire
    from ..sources.serde import from_json_bytes, to_json_bytes

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    src = corpus_stream(spark, sf_dir, "documents").select(*cols)
    topic = scratch_dir("fsbd_wire_topic_")
    # producer: stream the table → binary wire rows → checkpointed topic
    q = (write_to_file_wire(to_json_bytes(src, cols), topic,
                            scratch_dir("fsbd_wire_ckp_"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # consumer: flow-controlled stream over the topic → decode → sink
    back = from_json_bytes(file_wire_reader(spark, topic), src.schema)
    sink = run_to_completion(back, output_mode="append")
    return (sink.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum(hex64(F.col("text")) % 1000000007).alias("text_checksum")))


@register(
    "stream_serving_interval",
    oracle="""
SELECT event_type,
       COUNT(*) AS events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type
""",
    description="lambda serving path: stream-maintained hourly store answers "
                "the reference's interval query (README get /home/time analog)",
    tags=("streaming", "serving", "events"),
)
def stream_serving_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's serving layer (``README.md:45-69``: HTTP
    ``get /home/time/<t1>/<t2>`` answered from a precomputed store) as an
    analytics-engine path: the event stream incrementally maintains the
    idempotent batch-keyed hourly store (``streaming/rollup.py`` — the
    exactly-once foreachBatch layout), and the interval query is answered
    FROM the store, never from raw events. The oracle computes the same
    interval directly over raw events, so the driver hash proves the full
    lambda loop — stream ingest → serving store → interval answer —
    equals the batch recompute exactly (counts and DECIMAL partial sums
    re-aggregate losslessly; the hour-aligned interval maps 1:1 onto
    store buckets). The HTTP transport itself is out of scope; this is
    the query it would serve.
    """
    from pyspark.sql import functions as F

    from ..engine.scratch import scratch_dir
    from .rollup import maintain_hourly_rollup, serve_hourly

    src = corpus_stream(spark, sf_dir, "events")
    store = scratch_dir("fsbd_serving_store_")
    maintain_hourly_rollup(src, store, scratch_dir("fsbd_serving_ckp_"))
    hourly = serve_hourly(spark, store)
    t1, t2 = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    return (
        hourly.where((F.col("hour") >= F.lit(t1).cast("timestamp"))
                     & (F.col("hour") < F.lit(t2).cast("timestamp")))
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("events"),
             F.round(F.sum("sum_value"), 4).cast("double").alias("total_value"))
    )


@register(
    "stream_serving_compacted",
    oracle="""
SELECT event_type,
       COUNT(*) AS events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type
""",
    description="serving-store lifecycle close-out: stream-maintained "
                "batch-keyed partials compacted into one generation, "
                "interval served FROM the compacted store == batch recompute",
    tags=("streaming", "serving", "events"),
)
def stream_serving_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``stream_serving_interval`` proves maintain → serve; this entry
    closes the store's LIFECYCLE: maintain (stream, batch-keyed
    idempotent partials) → COMPACT (``rollup.compact_rollup`` — fold
    the per-micro-batch directories into one generation; at 100 TB/day
    the store's scale limit is small-file count, not data volume) →
    serve the same interval FROM THE COMPACTED GENERATION. The oracle
    recomputes from raw events, so the driver hash proves compaction
    lost nothing: counts and DECIMAL partial sums re-aggregate exactly,
    whatever the directory layout."""
    from pyspark.sql import functions as F

    from ..engine.scratch import scratch_dir
    from .rollup import compact_rollup, maintain_hourly_rollup, serve_hourly

    src = corpus_stream(spark, sf_dir, "events")
    store = scratch_dir("fsbd_serving_store_")
    maintain_hourly_rollup(src, store, scratch_dir("fsbd_serving_ckp_"))
    gen1 = scratch_dir("fsbd_serving_gen1_")
    compact_rollup(spark, store, gen1)
    hourly = serve_hourly(spark, gen1)
    t1, t2 = "2024-01-10 00:00:00", "2024-01-20 00:00:00"
    return (
        hourly.where((F.col("hour") >= F.lit(t1).cast("timestamp"))
                     & (F.col("hour") < F.lit(t2).cast("timestamp")))
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("events"),
             F.round(F.sum("sum_value"), 4).cast("double").alias("total_value"))
    )


@register(
    "stream_lambda_merged_wordcount",
    oracle=_WC_SQL,
    description="lambda merged view: batch word-count view + speed-layer "
                "streaming deltas served as ONE table == full recompute",
    tags=("streaming", "wordcount", "serving"),
)
def stream_lambda_merged_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lambda architecture's actual serving answer: the batch layer
    covers the historical corpus (here: ``doc_id % 5 != 4``), the speed
    layer streams the not-yet-batch-processed slice (``doc_id % 5 = 4``,
    a REAL Structured Streaming job drained availableNow), and the
    serving view is their per-word sum. The oracle recomputes the word
    count over the WHOLE corpus in one pass, so the driver hash proves
    merged-view == recompute — the reference's "stores the result for
    querying" contract (README.md:5-7) with the two layers sharing one
    operator (``word_counts``), which is what dissolves the double-build
    problem the reference maintains Storm AND Spark for. Counts merge by
    SUM, so the view is exact regardless of how the corpus splits
    between layers.
    """
    from pyspark.sql import functions as F

    from ..engine.catalog import Catalog
    from ..operators.wordcount import word_counts

    speed_src = corpus_stream(spark, sf_dir, "documents").where("doc_id % 5 = 4")
    speed = run_to_completion(streaming_word_counts(speed_src),
                              output_mode="complete")
    batch = word_counts(Catalog(spark, sf_dir).documents
                        .where("doc_id % 5 != 4"))
    return (batch.unionByName(speed)
            .groupBy("word").agg(F.sum("cnt").alias("cnt")))


@register(
    "stream_vocab_merge",
    oracle=_vocab_oracle(),
    description="incrementally maintained vocabulary: streaming token-count "
                "partials merged to the exact batch top-V table",
    tags=("streaming", "text", "vocab"),
)
def stream_vocab_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vocabulary table maintained INCREMENTALLY from a document
    stream: each micro-batch writes its own (token, cnt) partial as its
    epoch (``engine.generations.append_epoch`` — a replayed batch
    rewrites itself), and
    the served vocabulary re-aggregates the partials and ranks them
    with the SAME code as the batch build
    (``textanalysis.vocab_from_counts``). The oracle is the batch
    vocabulary oracle verbatim, so the driver hash proves ingest →
    partial store → merge → rank equals the one-shot batch build
    exactly — integer counts re-aggregate losslessly under SUM in any
    batch split. This is how a 100 TB corpus keeps its tokenizer
    stats current without re-scanning history: new shards append
    partials, ranking reads vocabulary-sized tables only.
    """
    from pyspark.sql import functions as F

    from ..engine.generations import append_epoch, read_epochs
    from ..engine.scratch import scratch_dir
    from ..functions.text import tokens
    from ..operators.textanalysis import vocab_from_counts

    src = corpus_stream(spark, sf_dir, "documents")
    store = scratch_dir("fsbd_vocab_store_")

    def write_partials(df: DataFrame, bid: int) -> None:
        append_epoch(df.select(F.explode(tokens("text")).alias("token"))
                     .groupBy("token").agg(F.count("*").alias("cnt")),
                     bid, store)

    drain(src, write_partials, scratch_dir("fsbd_vocab_ckp_"))
    merged = (read_epochs(spark, store, "token string, cnt long")
              .groupBy("token").agg(F.sum("cnt").alias("cnt")))
    return vocab_from_counts(merged)

