"""Wire-format round-trip queries (the reference's identity pipelines).

The reference's two integration oracles are identity pipes — Avro bytes
in, same tweets out (``integration/KafkaStormSpec.scala:257-260``,
``KafkaSparkStreamingSpec.scala:243-247``). These queries reproduce that
as batch operators over the testdata: construct tweets deterministically
from documents, encode to the reference's exact Avro binary wire format,
decode back, and return the decoded rows. The DuckDB oracle is the
identity construction — any serde asymmetry breaks the hash match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.catalog import Catalog
from ..sources.serde import (
    TWEET_SCHEMA, decode_tweet_avro, encode_tweet_avro, from_json_bytes,
    to_json_bytes,
)
from .registry import register

_TWEETS_ORACLE = """
SELECT 'user_' || (doc_id % 50) AS username,
       text,
       n_chars * 1000 AS timestamp
FROM documents
"""


def _tweets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tweet fixture derived from documents (analog of the
    reference's 3-tweet fixture, KafkaSpec.scala:35-47, at table scale)."""
    d = Catalog(spark, sf_dir).documents
    return d.select(
        F.concat(F.lit("user_"), (F.col("doc_id") % 50)).alias("username"),
        F.col("text"),
        (F.col("n_chars") * 1000).alias("timestamp"),
    )


@register(
    "avro_roundtrip",
    oracle=_TWEETS_ORACLE,
    description="Avro-binary encode→decode identity pipe (reference §3.2/§3.3 oracle)",
    tags=("serde", "avro"),
)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tweets(spark, sf_dir)
    encoded = t.select(
        encode_tweet_avro("username", "text", "timestamp").alias("value"))
    decoded = encoded.select(decode_tweet_avro(F.col("value"), "PERMISSIVE").alias("pojo"))
    # reference T1 semantics: drop records that failed to decode
    return (decoded.where(F.col("pojo.username").isNotNull())
            .select("pojo.username", "pojo.text", "pojo.timestamp"))


@register(
    "json_roundtrip",
    oracle=_TWEETS_ORACLE,
    description="JSON encode→decode identity pipe (Catalyst-only serde path)",
    tags=("serde", "json"),
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _tweets(spark, sf_dir)
    return from_json_bytes(to_json_bytes(t, ["username", "text", "timestamp"]),
                           TWEET_SCHEMA)


@register(
    "json_deadletter",
    oracle="""
SELECT CASE WHEN doc_id % 10 = 0 THEN 'dead' ELSE 'ok' END AS channel,
       COUNT(*) AS n
FROM documents
GROUP BY channel
""",
    description="dead-letter channel: corrupt payloads routed, not dropped (SURVEY §7 risk 3)",
    tags=("serde", "json", "deadletter"),
)
def json_deadletter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third error mode beyond the reference's drop (T1) and throw (T2):
    decode failures become rows on a dead-letter channel carrying the
    raw payload, so bad data is quarantined and auditable instead of
    silently vanishing — the posture a 100 TB ingest actually needs.
    Corruption is injected deterministically (every 10th doc's JSON is
    truncated) so the channel split has an exact oracle.
    """
    # Build payloads keyed by doc_id, truncating every 10th to invalid JSON.
    src = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.to_json(F.struct(
            F.concat(F.lit("user_"), (F.col("doc_id") % 50)).alias("username"),
            F.col("text"),
            (F.col("n_chars") * 1000).alias("timestamp"),
        )).alias("payload"))
    corrupted = src.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.substring("payload", 1, 5))
        .otherwise(F.col("payload")).alias("payload"))
    decoded = corrupted.select(
        "doc_id", "payload",
        F.from_json("payload", TWEET_SCHEMA).alias("pojo"))
    routed = decoded.select(
        F.when(F.col("pojo").isNull() | F.col("pojo.username").isNull(), "dead")
        .otherwise("ok").alias("channel"))
    return routed.groupBy("channel").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Columnar/text file-format round-trips: the engine reads and writes more
# than parquet. Each query writes the documents table out in the format
# under test, reads it back, and aggregates — the oracle aggregates the
# original table directly, so any serde asymmetry (type widening, quote/
# escape handling, null round-trip) breaks the hash match.
# ---------------------------------------------------------------------------

_FMT_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(('0x' || substring(md5(text), 1, 15))::BIGINT % 1000000007) AS BIGINT)
         AS text_checksum
FROM documents
GROUP BY lang
"""


def _format_roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    from ..engine.scratch import scratch_dir
    from ..functions.hashing import hex64
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", "lang", "source", "n_chars")
    path = scratch_dir(f"fsbd_{fmt}_rt_")
    writer = d.write.mode("overwrite")
    reader = spark.read
    if fmt == "csv":
        # quote/escape must survive arbitrary text payloads.
        writer = writer.option("header", True).option("escape", '"')
        reader = reader.option("header", True).option("escape", '"')
    getattr(writer, fmt)(path)
    back = getattr(reader.schema(d.schema), fmt)(path)
    return (back.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum(hex64(F.col("text")) % 1000000007).alias("text_checksum")))


@register(
    "q_csv_roundtrip",
    oracle=_FMT_ORACLE,
    description="CSV write→read identity (header, quoting/escaping) over documents",
    tags=("source", "format", "csv"),
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "csv")


@register(
    "q_orc_roundtrip",
    oracle=_FMT_ORACLE,
    description="ORC write→read identity over documents",
    tags=("source", "format", "orc"),
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "orc")


# ---------------------------------------------------------------------------
# Small-files compaction.
# ---------------------------------------------------------------------------


@register(
    "q_compact_roundtrip",
    oracle=_FMT_ORACLE,
    description="small-files compaction: shatter documents into 64 files, "
                "compact shuffle-free to target size, prove content identity",
    tags=("source", "format", "storage"),
)
def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shatter the documents table into 64 small files, compact them with
    :func:`compact_parquet`, and aggregate the compacted copy — the
    lang-level count/chars/checksum must hash-match DuckDB reading the
    ORIGINAL table, proving the rewrite is content-exact. The file-count
    reduction itself is pinned in ``tests/test_sinks.py``."""
    from ..engine.generations import compact_parquet
    from ..engine.scratch import scratch_dir
    from ..functions.hashing import hex64
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", "lang", "source", "n_chars")
    shattered, compacted = scratch_dir("fsbd_shard_"), scratch_dir("fsbd_compact_")
    d.repartition(64).write.mode("overwrite").parquet(shattered)
    compact_parquet(spark, shattered, compacted)
    back = spark.read.parquet(compacted)
    return (back.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum(hex64(F.col("text")) % 1000000007).alias("text_checksum")))


# ---------------------------------------------------------------------------
# Z-order clustered layout (multi-dimensional data clustering for pruning).
# ---------------------------------------------------------------------------

ZORDER_BITS = 8     # per-dimension grid resolution (256 cells)
ZORDER_FILES = 64   # output files; each covers a 1/64 morton range


def _morton2(a, b):
    """Interleave the low ZORDER_BITS of two non-negative int columns
    (a -> even bits, b -> odd bits). Pure Catalyst bit ops."""
    z = F.lit(0)
    for i in range(ZORDER_BITS):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


def zorder_write(ev: DataFrame, out_dir: str):
    """Write events z-order clustered on (user_id, hour-of-ts); returns
    the collected stats row (umin, umax, hmin, hmax, tmin).

    A range partition on ONE column gives perfect pruning on that column
    and none on any other; interleaving the bits of both dimensions'
    grid cells (morton code) makes every contiguous z-range — hence
    every output file — cover a NARROW rectangle in (user, time) space,
    so row-group min/max stats prune scans filtered on EITHER dimension
    or both. This is the layout trick behind Delta/Iceberg OPTIMIZE
    ZORDER, built from stock Spark: scale dims to a 2^bits grid against
    min/max stats, interleave bits, repartitionByRange +
    sortWithinPartitions on the morton code, drop the helper column at
    write. The stats are one tiny driver-side row collected at write
    time — layout planning, the same class as ``compact_parquet``'s file
    sizing — so the rewrite itself is one stats scan + ONE data exchange,
    and callers reuse the returned row instead of re-scanning.

    Integer DIV end-to-end for the cell indices: double division rounds
    above 2^53, which a 100 TB id space can reach. ``DIV`` truncates
    toward zero — identical to floor division for the non-negative
    post-epoch offsets here; a corpus with pre-1970 timestamps would
    shift ``hmin`` first (the offset ``_hrs - hmin`` is what's gridded,
    so any consistent convention works).
    """
    stats = ev.agg(
        F.min("user_id").alias("umin"), F.max("user_id").alias("umax"),
        F.min(F.expr("unix_timestamp(ts) DIV 3600")).alias("hmin"),
        F.max(F.expr("unix_timestamp(ts) DIV 3600")).alias("hmax"),
        F.min("ts").alias("tmin")).first()
    grid = 1 << ZORDER_BITS
    scaled = (ev
              .withColumn("_hrs", F.expr("unix_timestamp(ts) DIV 3600"))
              .withColumn("_ub", F.expr(
                  f"CAST(((user_id - {stats.umin}) * {grid}) "
                  f"DIV {stats.umax - stats.umin + 1} AS INT)"))
              .withColumn("_hb", F.expr(
                  f"CAST(((_hrs - {stats.hmin}) * {grid}) "
                  f"DIV {stats.hmax - stats.hmin + 1} AS INT)"))
              .withColumn("_z", _morton2(F.col("_ub"), F.col("_hb"))))
    (scaled.repartitionByRange(ZORDER_FILES, "_z")
     .sortWithinPartitions("_z")
     .select("event_id", "ts", "user_id", "event_type", "value")
     .write.mode("overwrite").parquet(out_dir))
    return stats


@register(
    "layout_zorder",
    oracle="""
WITH s AS (
  SELECT MIN(user_id) AS umin, MAX(user_id) AS umax, MIN(ts) AS tmin FROM events
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
FROM events, s
WHERE user_id <= umin + (umax - umin) // 4
  AND ts < tmin + INTERVAL 6 HOUR
GROUP BY event_type
""",
    description="z-order clustered rewrite of events; 2-D-filtered read-back "
                "must equal the unclustered scan (layout never changes results)",
    tags=("storage", "layout", "zorder"),
)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite events z-ordered on (user_id, hour), then answer a
    two-dimensional slice (first quarter of the user range AND first six
    hours) FROM THE CLUSTERED COPY. The oracle runs the same slice on
    the original table: the hash match proves the layout rewrite is
    content-exact, and the per-file min/max narrowness that makes the
    clustered copy prunable is pinned in tests/test_sinks.py.
    """
    from ..engine.scratch import scratch_dir
    ev = Catalog(spark, sf_dir).events
    out = scratch_dir("fsbd_zorder_")
    stats = zorder_write(ev, out)   # reuse the write-time stats row
    back = spark.read.parquet(out)
    u_cut = stats.umin + (stats.umax - stats.umin) // 4
    return (back
            .where((F.col("user_id") <= F.lit(u_cut))
                   & (F.col("ts") < F.timestamp_add("HOUR", F.lit(6),
                                                    F.lit(stats.tmin))))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
                  .cast("double").alias("sum_value")))


# ---------------------------------------------------------------------------
# Parquet schema evolution (mergeSchema read over mixed-schema files).
# ---------------------------------------------------------------------------

@register(
    "q_schema_evolution",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS quality_sum
FROM documents
GROUP BY lang
""",
    description="parquet schema evolution: v1 files without + v2 files "
                "with a new column, one mergeSchema read",
    tags=("source", "format", "schema"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution, the storage property every long-lived dataset
    hits: files written before a column existed must stay readable
    after it is added. Half the corpus (even doc_ids) is written with
    the v1 schema, half (odd) with v2 adding a ``quality`` column; ONE
    ``mergeSchema`` read returns the union schema with nulls for v1
    rows, and the aggregate pins exactly which rows carry the new
    column — so silent column loss, misalignment, or default-filling
    all break the hash.

    Scale: mergeSchema's cost is footer sampling at planning time;
    the data path stays a plain columnar scan with pushdown. On a
    production lake the same contract is enforced once in the table
    format's metadata instead of per-read (the Delta/Iceberg seam);
    the read semantics pinned here are identical.
    """
    from ..engine.scratch import scratch_dir

    d = Catalog(spark, sf_dir).documents
    path = scratch_dir("fsbd_schema_evo_")
    v1 = (d.where(F.col("doc_id") % 2 == 0)
          .select("doc_id", "text", "lang"))
    v2 = (d.where(F.col("doc_id") % 2 == 1)
          .select("doc_id", "text", "lang",
                  F.col("n_chars").cast("double").alias("quality")))
    v1.write.mode("append").parquet(path)
    v2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", True).parquet(path)
    return (back.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.count("quality").cast("bigint").alias("n_v2"),
                 F.coalesce(F.sum(F.col("quality").cast("bigint")), F.lit(0))
                  .cast("bigint").alias("quality_sum")))


# ---------------------------------------------------------------------------
# Dynamic partition overwrite (incremental partition-level correction).
# ---------------------------------------------------------------------------

@register(
    "q_partition_overwrite_dynamic",
    oracle="""
WITH ev AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_id
  FROM events
), d0 AS (SELECT MIN(day) AS d0 FROM ev)
SELECT day,
       COUNT(*) AS n_events,
       CAST(SUM(event_id) AS BIGINT) AS id_sum
FROM ev CROSS JOIN d0
WHERE day <> d0 OR event_id % 2 = 0
GROUP BY day
""",
    description="dynamic partition overwrite: rewrite ONE day's "
                "partition, every other day provably untouched",
    tags=("source", "storage", "partitioned"),
)
def q_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-level correction pattern every dated lake table
    lives by: land a corrected copy of one day WITHOUT rewriting (or
    losing) the others. The events table is written partitioned by day;
    a correction batch containing only the earliest day (keeping even
    event_ids) is applied with ``partitionOverwriteMode=dynamic`` —
    only partitions PRESENT in the batch are replaced. The read-back
    per-day aggregate pins both effects at once: day₀ holds exactly the
    corrected rows, and every other day still holds its full id_sum —
    static-overwrite semantics (wiping absent partitions) or an
    append-instead-of-replace both break the hash.

    Scale: the initial write shuffles once on the partition column;
    the correction touches one partition's files; the read back prunes
    by partition. This composes with ``compact_parquet`` (same files,
    layout pass) and is the idempotent-backfill primitive: re-running
    the correction batch converges to the same state.
    """
    from ..engine.scratch import scratch_dir

    ev = (Catalog(spark, sf_dir).events
          .select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_id"))
    path = scratch_dir("fsbd_dyn_overwrite_")
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    d0 = ev.agg(F.min("day").alias("day"))
    corr = (ev.join(F.broadcast(d0), "day")
            .where(F.col("event_id") % 2 == 0))
    (corr.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("day").parquet(path))
    back = spark.read.parquet(path)
    return (back.withColumn("day", F.col("day").cast("string"))
            .groupBy("day")
            .agg(F.count("*").alias("n_events"),
                 F.sum("event_id").cast("bigint").alias("id_sum")))
