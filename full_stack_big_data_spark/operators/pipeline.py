"""Pipeline operators: sessionization, heavy hitters, quantization,
dedup application, bucketed co-located joins.

The reference stops at word counting and interval counts
(``/root/reference/README.md:31-55``); a production training-data
pipeline also needs the corpus-shaping steps around those queries. Each
operator here is the Spark-first formulation of one such step, with the
same differential-oracle discipline as the rest of the engine:

- ``q_sessionize`` — gap-based session assignment over the events table
  (the classic clickstream/telemetry primitive).
- ``q_heavy_hitters`` — EXACT corpus-frequency heavy hitters via a
  bounded-memory map-side candidate pass + exact recount: the two-pass
  pattern that keeps the big shuffle proportional to the answer, not the
  vocabulary.
- ``emb_quantize`` — int8 symmetric quantization of the embedding
  column (what you'd do before shipping vectors to an ANN index).
- ``dedup_apply`` — turns ``dedup_clusters``' decisions into the
  surviving corpus (the actual output of a dedup pipeline).
- ``q_bucketed_join`` — co-located fact join from bucketed storage:
  both sides pre-bucketed on the join key, so the join itself needs no
  exchange at all.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..engine.catalog import Catalog
from ..functions.hashing import hex64, hex64_sql, lcg_stream
from ..functions.text import tokens, tokens_sql
from .dedup import dedup_clusters
from .registry import REGISTRY, register
from .textanalysis import _stopword_hits_spark, _stopword_hits_sql

# ---------------------------------------------------------------------------
# Sessionization.
# ---------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


@register(
    "q_sessionize",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS DISTINCT FROM NULL
               AND epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= {SESSION_GAP_US}
              THEN 0 ELSE 1 END AS new_s
  FROM events
), labeled AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM seq
)
SELECT user_id, session_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
FROM labeled
GROUP BY user_id, session_id
""",
    description=f"gap-based sessionization ({SESSION_GAP_US // 60_000_000} min) over events",
    tags=("events", "sessionize", "window"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign events to sessions: a new session starts when a user's gap
    to their previous event exceeds 30 minutes.

    Scale posture: ONE hash shuffle of events on ``user_id`` computes
    both windows (lag and running sum share the partitioning and sort);
    the per-session groupBy is a second, already-partially-aggregated
    exchange of session-level rows. No self-join formulation — the
    naive "events × events within gap" is quadratic per user.
    """
    e = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_s = F.when(gap.isNotNull() & (gap <= SESSION_GAP_US), 0).otherwise(1)
    labeled = e.select(
        "user_id", "ts", "value",
        F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
         .alias("session_id"),
    )
    return (
        labeled.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
             .cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters, two-pass.
# ---------------------------------------------------------------------------

HH_PER_MILLE = 5        # report tokens with ≥ 0.5% of all token occurrences
HH_MG_COUNTERS = 8192   # bounded map-side state per partition


def _mg_candidates(toks: DataFrame) -> DataFrame:
    """Map-side Misra-Gries/space-saving candidate pass: each partition
    keeps at most ``HH_MG_COUNTERS`` weighted counters and emits their
    keys. Bounded memory, ZERO shuffle — the one thing partial
    aggregation cannot do (its map output is the whole per-partition
    vocabulary; this is ≤ K rows per partition).

    No-false-negative bound: a counter survives pruning whenever its
    true in-partition count exceeds N_p / K (N_p = partition size). A
    globally heavy token (≥ N·s) has, by pigeonhole, ≥ N·s/P occurrences
    in some partition, so it survives there whenever K > P·(N_p/N)/s —
    with balanced partitions that is K > P·(1/P)/s = 1/s = 200 at the
    default support; K = 8192 leaves ~40× headroom for skewed layouts.
    The exact recount below then makes the final answer exact.
    """
    def mg(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["tok"].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
            if len(counts) > HH_MG_COUNTERS:
                # subtract the (size-K)-th smallest value from everyone,
                # drop the non-positive: ≤ K survive, undercount bounded.
                cut = sorted(counts.values())[len(counts) - HH_MG_COUNTERS - 1]
                counts = {t: c - cut for t, c in counts.items() if c > cut}
        if counts:
            yield pd.DataFrame({"tok": list(counts.keys())})

    return toks.mapInPandas(mg, "tok string").distinct()


@register(
    "q_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT unnest({tokens_sql('text')}) AS tok FROM documents
), tot AS (
  SELECT COUNT(*) AS n_total FROM toks
), cnts AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
)
SELECT tok, cnt, n_total,
       ROUND(cnt * 1000.0 / n_total, 6) AS per_mille
FROM cnts CROSS JOIN tot
WHERE cnt * 1000 >= n_total * {HH_PER_MILLE}
""",
    description=f"exact heavy hitters ≥ {HH_PER_MILLE}‰ of token mass, two-pass MG + recount",
    tags=("text", "heavy-hitters", "custom"),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens holding ≥ 5‰ of all token occurrences — EXACT, in two
    passes whose shuffles are both tiny:

    1. candidate pass (:func:`_mg_candidates`): bounded-memory map-side
       counters, emits ≤ K tokens per partition, no shuffle of the
       vocabulary;
    2. exact pass: broadcast-semi-join the candidate set back onto the
       token stream (map-side filter), then recount ONLY candidates —
       the groupBy shuffle carries candidate tokens, not the corpus
       vocabulary.

    A single ``groupBy(tok)`` is exact too, but its shuffle is the whole
    vocabulary; at 100 TB that is the difference between shuffling the
    answer and shuffling a term dictionary.
    """
    d = Catalog(spark, sf_dir).documents
    toks = d.select(F.explode(tokens("text")).alias("tok"))
    cand = _mg_candidates(toks)
    total = d.agg(F.sum(F.size(tokens("text"))).alias("n_total"))
    return (
        toks.join(F.broadcast(cand), "tok", "left_semi")
        .groupBy("tok").agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") * 1000 >= F.col("n_total") * HH_PER_MILLE)
        .select("tok", "cnt", "n_total",
                F.round(F.col("cnt") * 1000.0 / F.col("n_total"), 6).alias("per_mille"))
    )


# ---------------------------------------------------------------------------
# Embedding quantization.
# ---------------------------------------------------------------------------

@register(
    "emb_quantize",
    oracle="""
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mxabs
  FROM embeddings
), s AS (
  SELECT vec_id, embedding,
         CASE WHEN mxabs > 0 THEN 127.0 / mxabs ELSE 0.0 END AS scale
  FROM m
), q AS (
  SELECT vec_id, scale,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qv
  FROM s
)
SELECT vec_id,
       ROUND(scale, 6) AS scale_r,
       CAST(COALESCE(list_aggregate(qv, 'sum'), 0) AS BIGINT) AS q_sum,
       md5(array_to_string(qv, ',')) AS q_md5
FROM q
""",
    description="int8 symmetric quantization of embeddings (scale + checksums oracle-checked)",
    tags=("embeddings", "quantize", "map-only"),
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization: scale = 127/max|x|, q = ⌊x·scale+½⌋.

    Map-only Catalyst array math — no shuffle, no Python. Rounding is
    the explicit ``floor(x+0.5)`` so both engines agree bit-for-bit
    (library round() differs on halves between engines). Each derived
    value (mxabs, scale) is projected into its own attribute column
    before use inside a transform lambda: lambda bodies re-evaluate
    non-attribute expressions per ELEMENT, which would turn the per-row
    max into O(dim²) work (same CollapseProject discipline as the
    dedup shingle path).
    """
    e = Catalog(spark, sf_dir).embeddings
    m = e.select(
        "vec_id", "embedding",
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
         .alias("mxabs"),
    )
    s = m.select(
        "vec_id", "embedding",
        F.when(F.col("mxabs") > 0, F.lit(127.0) / F.col("mxabs"))
         .otherwise(F.lit(0.0)).alias("scale"),
    )
    q = s.select(
        "vec_id", "scale",
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * F.col("scale") + F.lit(0.5))
                               .cast("bigint")).alias("qv"),
    )
    return q.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.md5(F.concat_ws(",", F.transform("qv", lambda x: x.cast("string"))))
         .alias("q_md5"),
    )


# ---------------------------------------------------------------------------
# Dedup application: the surviving corpus.
# ---------------------------------------------------------------------------

@register(
    "dedup_apply",
    oracle="""
WITH cl AS ({clusters}),
drops AS (
  SELECT doc_id FROM cl WHERE is_canonical = 0
), surv AS (
  SELECT d.doc_id, d.n_chars FROM documents d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
)
SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_input,
       CAST(COUNT(*) AS BIGINT) AS n_survivors,
       CAST((SELECT COUNT(*) FROM documents) - COUNT(*) AS BIGINT) AS n_dropped,
       CAST(SUM(doc_id % 1000003) AS BIGINT) AS survivor_id_sum,
       CAST(SUM(n_chars) AS BIGINT) AS survivor_chars
FROM surv
""".format(clusters=REGISTRY["dedup_clusters"].oracle),
    description="apply cluster dedup: drop non-canonical members, emit surviving-corpus stats",
    tags=("dedup", "custom"),
)
def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of the dedup pipeline: anti-join the corpus
    against non-canonical cluster members and summarize the survivors
    (counts + order-independent checksums, so the whole decision set is
    oracle-hashed in one row).

    Scale posture: the drop list is pairs-derived and tiny relative to
    the corpus — the anti-join broadcasts it; the corpus is scanned
    once, never shuffled.
    """
    d = Catalog(spark, sf_dir).documents
    drops = (dedup_clusters(spark, sf_dir)
             .where(F.col("is_canonical") == 0).select("doc_id"))
    surv = d.join(F.broadcast(drops), "doc_id", "left_anti")
    stats = surv.agg(
        F.count("*").alias("n_survivors"),
        # id % 1000003 before summing: a raw id sum overflows int64
        # under ANSI at ~1e12-row scale (the q_market_basket lesson);
        # the modular sum still pins membership order-independently.
        F.sum(F.col("doc_id") % 1000003).alias("survivor_id_sum"),
        F.sum("n_chars").alias("survivor_chars"),
    )
    n_input = d.agg(F.count("*").alias("n_input"))
    return (
        stats.crossJoin(F.broadcast(n_input))
        .select(
            "n_input", "n_survivors",
            (F.col("n_input") - F.col("n_survivors")).alias("n_dropped"),
            "survivor_id_sum", "survivor_chars",
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join.
# ---------------------------------------------------------------------------

BUCKETS = 8


@register(
    "q_bucketed_join",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    description=f"fact-fact join from storage bucketed {BUCKETS} ways on the join key — no join exchange",
    tags=("join", "bucketing", "storage"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact join: both sides are first written bucketed (and
    sorted) on the join key, then joined straight from storage — the
    sort-merge join consumes bucketed scans with NO exchange on either
    side (pinned in tests/test_plans.py).

    This is the storage-layout answer to the brief's "co-locate joins
    via bucketing": at 100 TB a fact-fact shuffle is the single biggest
    line item in the query, and bucketing both tables on the join key at
    write time deletes it from EVERY subsequent join. Values are
    oracle-identical to the plain join, proving layout never leaks into
    results. Table names are uniqued per call so the lazily-evaluated
    result can never read another invocation's overwrite.
    """
    from ..engine.scratch import register_temp_table, scratch_dir
    cat = Catalog(spark, sf_dir)
    base = scratch_dir("fsbd_bucketed_")
    tag = uuid.uuid4().hex[:8]
    sides = {
        "orders": (cat.orders.select("o_orderkey", "o_orderpriority"), "o_orderkey"),
        "lineitem": (cat.lineitem.select("l_orderkey", "l_extendedprice"), "l_orderkey"),
    }
    names = {}
    for t, (df, key) in sides.items():
        names[t] = register_temp_table(f"fsbd_bucketed_{t}_{tag}")
        (df.write.format("parquet")
           .bucketBy(BUCKETS, key).sortBy(key)
           .option("path", os.path.join(base, t))
           .mode("overwrite").saveAsTable(names[t]))
    o = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    return (
        o.hint("merge").join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Partition-pruned interval query over day-partitioned storage.
# ---------------------------------------------------------------------------

@register(
    "q_partitioned_interval",
    oracle="""
SELECT event_type,
       COUNT(*) AS events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type
""",
    description="interval query answered from day-partitioned storage with partition pruning",
    tags=("events", "interval", "storage", "pruning"),
)
def q_partitioned_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's interval query (README.md:45-55) the way it must
    run at 100 TB: events live hive-partitioned by day
    (``sources/sinks.py``), the interval carries a redundant predicate on
    the partition column, and the days outside the interval never reach
    the scanner (PartitionFilters — pinned in tests/test_plans.py). The
    ``ts`` predicate still applies row-exactly inside the boundary days;
    values are oracle-identical to scanning the unpartitioned table, so
    layout never leaks into results.
    """
    from ..engine.scratch import scratch_dir
    from ..sources.sinks import read_partitioned, write_partitioned_by_day
    ev = Catalog(spark, sf_dir).events
    path = scratch_dir("fsbd_events_day_")
    write_partitioned_by_day(ev, path)
    lo, hi = "2024-01-05", "2024-01-15"
    back = read_partitioned(spark, path)
    return (
        back
        .where((F.col("event_date") >= lo) & (F.col("event_date") < hi))
        .where((F.col("ts") >= F.lit(f"{lo} 00:00:00").cast("timestamp"))
               & (F.col("ts") < F.lit(f"{hi} 00:00:00").cast("timestamp")))
        .groupBy("event_type")
        .agg(F.count("*").alias("events"),
             F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
              .cast("double").alias("total_value"))
    )


# ---------------------------------------------------------------------------
# Document chunking (fixed token windows with overlap).
# ---------------------------------------------------------------------------

CHUNK_W = 32   # window length in tokens
CHUNK_S = 24   # stride (8-token overlap between consecutive chunks)

# Chunk COUNT, not last start: nch = 1 + ceil(max(n-W, 0) / S). The
# naive "starts = range(1, n-W+1, S)" formulation silently drops up to
# S-1 trailing tokens whenever (n-W) isn't stride-aligned; counting
# chunks and deriving start = k*S + 1 guarantees the last (possibly
# short) chunk reaches the end of every document.
_NCH_SQL = (f"(1 + CASE WHEN len(toks) > {CHUNK_W} "
            f"THEN (len(toks) - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S} "
            f"ELSE 0 END)")


@register(
    "doc_chunk_windows",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, unnest(range(0, {_NCH_SQL})) AS k FROM t
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, k * {CHUNK_S} + 1, k * {CHUNK_S} + {CHUNK_W})) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(list_slice(toks, k * {CHUNK_S} + 1, k * {CHUNK_S} + {CHUNK_W}), ' ')) AS chunk_md5
FROM s
""",
    description=f"fixed {CHUNK_W}-token chunk windows, stride {CHUNK_S}, full tail coverage (context-window prep)",
    tags=("pipeline", "chunking", "map-only"),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed-length token windows with overlap
    — the step that turns variable-length documents into model-sized
    training contexts.

    Pure map-side: the chunk indices are a per-row ``sequence``, exploded
    and sliced against the token-array attribute, so the operator is a
    single scan with zero shuffle at any corpus size and output rows ∝
    input tokens / stride. Chunk count is ``1 + ceil(max(n−W,0)/S)`` so
    the final (possibly short) chunk always covers the document tail —
    no token is ever silently dropped (pinned in tests/test_pipeline.py).
    The chunk md5 pins content, not just shape, in the oracle; a doc
    shorter than one window yields exactly one (short) chunk.
    """
    d = Catalog(spark, sf_dir).documents
    t = d.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    nch = F.lit(1) + F.when(
        n > CHUNK_W,
        ((n - CHUNK_W + CHUNK_S - 1) / CHUNK_S).cast("bigint")).otherwise(0)
    s = t.select(
        "doc_id", "toks",
        F.explode(F.sequence(F.lit(0), nch - 1)).alias("k"),
    )
    chunk = F.slice(F.col("toks"), F.col("k") * CHUNK_S + 1, CHUNK_W)
    return s.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (GPT-style concatenate-and-cut, parallel by bucket).
# ---------------------------------------------------------------------------

PACK_T = 128   # training sequence length in tokens
PACK_B = 8     # independent packing streams (scales with the cluster)

# The packing definition in SQL — ONE constant shared by every oracle
# that reasons about the pack (pack_sequences, q_training_shard_manifest),
# so the hashing/bucket rule can never silently diverge between them.
_PACK_CTES = f"""t AS (
  SELECT doc_id, len({tokens_sql('text')}) AS n_tokens,
         {hex64_sql("'pack|' || CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
), o AS (
  SELECT doc_id, n_tokens, h % {PACK_B} AS bucket,
         SUM(n_tokens) OVER (PARTITION BY h % {PACK_B} ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_off
  FROM t
)"""


@register(
    "pack_sequences",
    oracle=f"""
WITH {_PACK_CTES}
SELECT doc_id, bucket,
       CAST(start_off // {PACK_T} AS BIGINT) AS seq_id,
       CAST(start_off % {PACK_T} AS BIGINT) AS offset_in_seq,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(CASE WHEN start_off % {PACK_T} + n_tokens > {PACK_T} THEN 1 ELSE 0 END AS INT)
         AS spans_boundary
FROM o
""",
    description=f"deterministic sequence packing into {PACK_T}-token streams, {PACK_B}-way parallel",
    tags=("pipeline", "packing", "window"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document its position in a packed training stream:
    documents are concatenated in a deterministic hash order and cut
    into fixed {T}-token sequences (the standard concatenate-and-cut
    packing), so every doc gets (sequence id, offset) and a flag for
    spanning a cut boundary.

    A single global concatenation order would serialize the prefix-sum
    into one partition — the classic window-function scale trap.
    Instead the corpus is split into ``PACK_B`` independent packing
    streams by content hash (layout-independent, like every sampling
    operator), and the running offset is a per-bucket window prefix-sum:
    each bucket packs in parallel, and B scales with the cluster while
    per-bucket packing quality is unchanged (waste stays < one doc per
    {T}-token sequence on average).
    """
    d = Catalog(spark, sf_dir).documents
    t = d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        hex64(F.concat(F.lit("pack|"), F.col("doc_id").cast("string"))).alias("h"),
    ).withColumn("bucket", F.col("h") % PACK_B)
    w = (Window.partitionBy("bucket").orderBy("h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    o = t.withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return o.select(
        "doc_id", "bucket",
        F.floor(F.col("start_off") / PACK_T).cast("bigint").alias("seq_id"),
        (F.col("start_off") % PACK_T).cast("bigint").alias("offset_in_seq"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.when(F.col("start_off") % PACK_T + F.col("n_tokens") > PACK_T, 1)
         .otherwise(0).cast("int").alias("spans_boundary"),
    )


# ---------------------------------------------------------------------------
# Global corpus shuffle (training-order randomization).
# ---------------------------------------------------------------------------

SHUFFLE_SEED = 42
SHUFFLE_RANGES = 32


@register(
    "corpus_shuffle",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':shuffle:{SHUFFLE_SEED}'), 1, 15))::BIGINT
           AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS pos
FROM h
""",
    description=f"deterministic global training-order shuffle (seed {SHUFFLE_SEED}): "
                "range-partitioned sort + offset join, no single-partition pass",
    tags=("pipeline", "sampling", "shuffle"),
)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every training run needs the corpus in a reproducible pseudorandom
    order. The order is a sort on a seeded content hash; the hard part
    at 100 TB is the global POSITION: ``row_number() OVER (ORDER BY …)``
    is a single-partition window — the canonical scale trap (same trap
    ``pack_sequences`` dodges bucket-wise). Here the enumeration is
    global yet one-exchange:

    1. the range bucket comes straight off the key — md5 keys are
       uniform in [0, 2⁶⁰), so ``key div (2⁶⁰/B)`` is balanced range
       partitioning with NO sampling pass (and no nondeterminism);
    2. per-BUCKET ``row_number`` (window keyed by bucket — Catalyst
       plans exactly one hash exchange of the corpus);
    3. per-bucket row counts (map-side partial agg; the exchange carries
       B rows) are prefix-summed and broadcast back, so
       pos = bucket offset + local rank.

    Result is byte-identical to the oracle's global ROW_NUMBER — bucket
    id is monotone in the key, so bucket-concatenation IS the global
    order — while the corpus moves through one exchange and the offset
    table scales with bucket count, not rows.
    """
    d = Catalog(spark, sf_dir).documents.select("doc_id")
    key = hex64(F.concat(F.col("doc_id").cast("string"),
                         F.lit(f":shuffle:{SHUFFLE_SEED}")))
    width = (1 << 60) // SHUFFLE_RANGES  # exact: 2^60 / 32
    ranged = (d.withColumn("shuffle_key", key)
              .withColumn("blk", F.expr(f"shuffle_key div {width}")))
    local = F.row_number().over(
        Window.partitionBy("blk").orderBy("shuffle_key", "doc_id"))
    counts = ranged.groupBy("blk").agg(F.count("*").alias("n"))
    offsets = counts.select(
        "blk",
        (F.sum("n").over(Window.orderBy("blk")
                         .rowsBetween(Window.unboundedPreceding, -1))
         ).alias("off")).fillna(0, ["off"])
    return (ranged.withColumn("rn", local)
            .join(F.broadcast(offsets), "blk")
            .select("doc_id", "shuffle_key",
                    (F.col("off") + F.col("rn")).alias("pos")))


# ---------------------------------------------------------------------------
# End-to-end corpus curation (the composed pipeline).
# ---------------------------------------------------------------------------

CURATE_SAMPLE_PCT = 80
CURATE_MIN_TOKENS = 20   # quality floor shared with stream_pipeline_curate
#                          (streaming/joins.py imports THIS constant, so the
#                          batch and streaming gates cannot drift)


@register(
    "pipeline_curate",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, text, lang,
         len({tokens_sql('text')}) AS n_tokens,
         {_stopword_hits_sql('en')} AS en_hits
  FROM documents
), quality AS (
  SELECT * FROM scored WHERE n_tokens >= {CURATE_MIN_TOKENS} AND en_hits > 0
), canonical AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY sha256(text)) AS canon
    FROM quality)
  WHERE doc_id = canon
), sampled AS (
  SELECT * FROM canonical
  WHERE {hex64_sql("'curate|' || CAST(doc_id AS VARCHAR)")} % 100 < {CURATE_SAMPLE_PCT}
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM({hex64_sql("CAST(doc_id AS VARCHAR)")} % 1000000007) AS BIGINT)
         AS id_checksum
FROM sampled
GROUP BY lang
""",
    description=f"composed curation pipeline: quality gate → exact dedup → "
                f"{CURATE_SAMPLE_PCT}% hash sample → per-lang stats",
    tags=("pipeline", "text", "dedup", "sampling"),
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation pipeline a training-data run actually executes,
    composed from the engine's proven stages and oracle-checked END TO
    END (stage-level oracles can't catch inter-stage contract bugs —
    this one does):

    1. quality gate — ``text_quality``'s keep rule (≥ 20 tokens, English
       stopword evidence), map-only;
    2. exact dedup — keep the min-doc_id canonical per sha256(text)
       (``dedup_exact``'s rule) via one content-hash window shuffle;
    3. deterministic sample — ``sample_deterministic``'s hash-membership
       predicate at {PCT}%, map-only, layout-independent;
    4. per-lang corpus stats with an id-checksum so the oracle pins the
       exact surviving row SET, not just counts.

    Scale: one shuffle for the dedup window + the final tiny per-lang
    agg; the gate and sample never shuffle.
    """
    from ..functions.text import tokens

    d = Catalog(spark, sf_dir).documents
    scored = d.select(
        "doc_id", "text", "lang",
        F.size(tokens("text")).alias("n_tokens"),
        _stopword_hits_spark("en").alias("en_hits"))
    quality = scored.where((F.col("n_tokens") >= CURATE_MIN_TOKENS)
                           & (F.col("en_hits") > 0))
    canon = F.min("doc_id").over(Window.partitionBy(F.sha2(F.col("text"), 256)))
    canonical = quality.withColumn("canon", canon).where(F.col("doc_id") == F.col("canon"))
    sampled = canonical.where(
        hex64(F.concat(F.lit("curate|"), F.col("doc_id").cast("string")))
        % 100 < CURATE_SAMPLE_PCT)
    return (sampled.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum(hex64(F.col("doc_id").cast("string")) % 1000000007)
                  .alias("id_checksum")))


# ---------------------------------------------------------------------------
# Training-shard export: the pipeline's hand-off artifact.
# ---------------------------------------------------------------------------

SEQS_PER_SHARD = 16  # sequences per shard file (SEQS_PER_SHARD·PACK_T tokens)


@register(
    "q_training_shard_manifest",
    oracle=f"""
WITH {_PACK_CTES}, p AS (
  SELECT doc_id, bucket, start_off // {PACK_T} AS seq_id, n_tokens FROM o
)
SELECT CAST(seq_id // {SEQS_PER_SHARD} * {PACK_B} + bucket AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT seq_id) AS n_seqs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM({hex64_sql("'manifest|' || CAST(doc_id AS VARCHAR)")} % 1000000007)
            AS BIGINT) AS doc_checksum
FROM p
GROUP BY shard_id
""",
    description=f"training-shard export: pack → write partitioned shards → "
                f"read back → per-shard manifest ({SEQS_PER_SHARD} seqs/shard), "
                "round-trip content-proved",
    tags=("pipeline", "packing", "storage"),
)
def q_training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's final hand-off: packed sequences exported as
    size-targeted shards plus the manifest a training loader consumes
    (shard → docs, sequences, tokens, content checksum).

    The pack assignment (``pack_sequences``) maps each doc to
    (bucket, seq_id); shards group ``SEQS_PER_SHARD`` consecutive
    sequences per packing stream, so ``shard_id`` is pure arithmetic on
    the assignment — no extra shuffle beyond the pack window. The
    assignment is WRITTEN to a bucket-partitioned parquet export (the
    shard layout on disk, one directory per packing stream) and the
    manifest aggregates the READ-BACK copy, so the driver hash proves
    the exported artifact — not an in-memory intermediate — carries the
    full corpus: the oracle recomputes every manifest row from raw
    documents. At 100 TB the export is the only full-corpus write and
    the manifest shuffle carries shard-count rows, not documents.
    """
    from ..engine.scratch import scratch_dir

    pack = REGISTRY["pack_sequences"].builder(spark, sf_dir)
    export = pack.select(
        "doc_id", "bucket", "seq_id", "n_tokens",
        # shard_id interleaves bucket into the LOW digits (id = group·B
        # + bucket): unbounded seq groups never collide across buckets,
        # unlike a bucket·10⁶ prefix that a long stream would overflow.
        (F.floor(F.col("seq_id") / SEQS_PER_SHARD) * PACK_B + F.col("bucket"))
        .cast("bigint").alias("shard_id"))
    out = scratch_dir("fsbd_shards_")
    export.write.mode("overwrite").partitionBy("bucket").parquet(out)
    back = spark.read.parquet(out)
    return (back.groupBy("shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("seq_id").alias("n_seqs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 F.sum(hex64(F.concat(F.lit("manifest|"),
                                      F.col("doc_id").cast("string")))
                       % 1000000007).alias("doc_checksum")))


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction.
# ---------------------------------------------------------------------------

RP_OUT = 16            # projected dimensionality
RP_DIM = 64            # input embedding dimensionality
_RP_SEED = 4242        # distinct from the SRP seed — uncorrelated matrices
_RP_SCALE = 4000.0     # 1000 (quantization) x sqrt(RP_OUT)=4 (JL normalizer)


def _rp_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix, shape (RP_OUT, RP_DIM), from
    the parity of the shared LCG stream (``hashing.lcg_stream``). A
    Rademacher (±1) matrix satisfies the Johnson–Lindenstrauss
    guarantee like a gaussian one (Achlioptas 2001), and — as with the
    SRP hyperplanes — integer entries buy a bit-exact cross-engine
    oracle: with embeddings quantized to ``floor(x·1000)`` every dot
    product is integer arithmetic ≪ 2⁵³."""
    signs = [1 if s % 2 else -1 for s in lcg_stream(_RP_SEED, RP_OUT * RP_DIM)]
    return [signs[i:i + RP_DIM] for i in range(0, len(signs), RP_DIM)]


def _rp_oracle() -> str:
    rows = ",\n".join(
        f"  ({j}, [{', '.join(str(s) for s in row)}]::DOUBLE[])"
        for j, row in enumerate(_rp_signs()))
    return f"""
WITH signs(j, s) AS (VALUES
{rows}
), eq AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS v
  FROM embeddings
), proj AS (
  SELECT e.vec_id, g.j,
         CAST(list_dot_product(e.v::DOUBLE[], g.s) AS BIGINT) AS y
  FROM eq e CROSS JOIN signs g
)
SELECT vec_id,
       md5(string_agg(CAST(y AS VARCHAR), ',' ORDER BY j)) AS proj_md5,
       CAST(SUM(y * y) AS BIGINT) AS proj_norm,
       CAST(MAX(CASE WHEN j = 0 THEN y END) AS DOUBLE) / {_RP_SCALE} AS p0,
       CAST(MAX(CASE WHEN j = 1 THEN y END) AS DOUBLE) / {_RP_SCALE} AS p1
FROM proj GROUP BY vec_id
"""


@register(
    "emb_random_projection",
    oracle=_rp_oracle(),
    description=f"JL random projection {RP_DIM}->{RP_OUT} dims (Rademacher matrix), map-only, checksummed",
    tags=("embeddings", "projection", "map-only"),
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project 64-dim embeddings to 16 dims with a ±1 Rademacher matrix
    (y_j = Σ_d s_jd·x_d / √d′) — the cheap-and-cheerful dimensionality
    reduction applied before clustering / coarse ANN / dedup blocking
    on a 100 TB embedding corpus (distance distortion bounded by JL).

    Entirely Catalyst-side map work: the embedding is quantized to an
    integer array ONCE (its own projected attribute, so lambda bodies
    don't re-evaluate it per element), then each output dim is one
    ``zip_with``·``aggregate`` fold against a literal sign array —
    whole-stage-codegen'd, zero exchanges, zero Python. The projection
    is emitted as the per-vector integer vector checksum (md5 + squared
    norm + two sample dims), the same array-output discipline as
    ``emb_quantize``.
    """
    e = Catalog(spark, sf_dir).embeddings
    eq = e.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * 1000).cast("bigint"))
         .alias("eq"),
    )
    ycols = []
    for j, row in enumerate(_rp_signs()):
        sarr = F.array(*[F.lit(s).cast("bigint") for s in row])
        ycols.append(
            F.aggregate(F.zip_with(F.col("eq"), sarr, lambda a, b: a * b),
                        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
             .alias(f"y{j}"))
    proj = eq.select("vec_id", *ycols)
    norm = None
    for j in range(RP_OUT):
        term = F.col(f"y{j}") * F.col(f"y{j}")
        norm = term if norm is None else norm + term
    return proj.select(
        "vec_id",
        F.md5(F.concat_ws(",", *[F.col(f"y{j}").cast("string")
                                 for j in range(RP_OUT)])).alias("proj_md5"),
        norm.cast("bigint").alias("proj_norm"),
        (F.col("y0") / F.lit(_RP_SCALE)).alias("p0"),
        (F.col("y1") / F.lit(_RP_SCALE)).alias("p1"),
    )


# ---------------------------------------------------------------------------
# Tokenizer application (vocabulary -> materialized id sequences).
# ---------------------------------------------------------------------------

TOKENIZE_PREFIX = 10   # id-sequence sample kept per doc
OOV_ID = -1


def _tokenize_oracle() -> str:
    from .textanalysis import _vocab_oracle
    return f"""
WITH vocab AS (
  {_vocab_oracle()}
), toks AS (
  SELECT doc_id, {tokens_sql('text')} AS t FROM documents
), tok AS (
  SELECT doc_id, t[CAST(i AS INT)] AS token, CAST(i - 1 AS BIGINT) AS pos
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
), j AS (
  SELECT t.doc_id, t.pos, COALESCE(v.token_id, {OOV_ID}) AS tid
  FROM tok t LEFT JOIN vocab v USING (token)
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN tid < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(SUM((pos + 1) * tid) AS BIGINT) AS id_checksum,
       md5(array_to_string((list(tid ORDER BY pos))[1:{TOKENIZE_PREFIX}], ','))
         AS prefix_md5
FROM j GROUP BY doc_id
"""


@register(
    "tokenize_corpus",
    oracle=_tokenize_oracle(),
    description="tokenizer application: map every token to its vocab id "
                f"(OOV={OOV_ID}), per-doc counts + position-weighted checksum",
    tags=("text", "vocab", "pipeline"),
)
def tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the built vocabulary (``vocab_build``) to the corpus — the
    materialization step that turns text into the id sequences a
    training run consumes. Out-of-vocabulary tokens map to OOV_ID; the
    result is summarized per document (counts, OOV counts, a
    position-weighted integer checksum that pins ORDER, and an md5 of
    the first TOKENIZE_PREFIX ids) so the driver hash covers sequence
    content without shipping full sequences through the compare — and
    stays scalar-typed for the driver's canonicalizer (r4 verdict).

    Scale: the vocabulary is vocabulary-sized → the id lookup is a
    BROADCAST left join onto the exploded token stream (map-side, no
    pre-shuffle); the one real exchange is the per-doc reassembly
    groupBy, which any sequence materialization pays. The checksum is
    Σ(pos+1)·id — exact integers, order-independent as a SUM while
    encoding order in the weights, so engines agree bit-for-bit.
    """
    from .textanalysis import vocab_build
    d = Catalog(spark, sf_dir).documents
    vocab = vocab_build(spark, sf_dir).select("token", "token_id")
    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
    j = (tok.join(F.broadcast(vocab), "token", "left")
         .select("doc_id", "pos",
                 F.coalesce("token_id", F.lit(OOV_ID)).alias("tid")))
    # Collect ONLY prefix positions (collect_list drops nulls), so the
    # agg buffer and shuffle carry <= TOKENIZE_PREFIX structs per doc —
    # not the full sequence — for a byte-identical result.
    prefix = F.transform(
        F.array_sort(F.collect_list(
            F.when(F.col("pos") < TOKENIZE_PREFIX, F.struct("pos", "tid")))),
        lambda x: x.tid)
    return (j.groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("tid") < 0, 1).otherwise(0)).alias("n_oov"),
                 F.sum((F.col("pos") + 1) * F.col("tid")).cast("bigint")
                  .alias("id_checksum"),
                 F.md5(F.concat_ws(",", F.transform(
                     prefix, lambda x: x.cast("string")))).alias("prefix_md5")))
