"""Serde semantics — the reference's unit-spec layer re-expressed
(AvroSchemeSpec round-trip/throw, AvroDecoderBoltSpec drop-on-corrupt)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from full_stack_big_data_spark.sources.serde import (
    TWEET_SCHEMA, decode_tweet_avro, encode_tweet_avro, from_json_bytes,
    to_json_bytes, tweet_from_avro_bytes, tweet_to_avro_bytes,
)

# the reference's canonical 3-tweet fixture (KafkaSpec.scala:35-47,
# deterministic variant per FIXTURES.md A1)
FIXTURE = [
    ("ANY_USER_1", "ANY_TEXT_1", 1411993272),
    ("ANY_USER_2", "ANY_TEXT_2", 0),
    ("ANY_USER_3", "ANY_TEXT_3", 1234),
]
CORRUPT = bytes([1, 2, 3, 4])  # AvroDecoderBoltSpec.scala:78


def test_avro_bytes_roundtrip_local():
    for u, t, ts in FIXTURE:
        assert tweet_from_avro_bytes(tweet_to_avro_bytes(u, t, ts)) == (u, t, ts)


def test_avro_bytes_rejects_corrupt():
    with pytest.raises(ValueError):
        tweet_from_avro_bytes(CORRUPT)


def test_permissive_drops_corrupt_records(spark):
    """T1 (AvroDecoderBolt) semantics: bad payloads are dropped, good
    ones flow through."""
    good = [(tweet_to_avro_bytes(u, t, ts),) for u, t, ts in FIXTURE]
    df = spark.createDataFrame(good + [(CORRUPT,)], "value binary")
    out = (df.select(decode_tweet_avro(F.col("value"), "PERMISSIVE").alias("pojo"))
           .where(F.col("pojo.username").isNotNull())
           .select("pojo.*"))
    assert sorted(tuple(r) for r in out.collect()) == sorted(FIXTURE)


def test_permissive_keeps_int64_timestamps_beside_a_corrupt_row(spark):
    """A corrupt payload in the same Arrow batch as valid rows must not
    cost the valid timestamps their low bits: a column of ints and None
    inferred by pandas is float64, exact only up to 2**53."""
    stamps = [2 ** 53 + 1, 2 ** 63 - 1, -(2 ** 63)]
    rows = [(tweet_to_avro_bytes("u", "t", ts),) for ts in stamps] + [(CORRUPT,)]
    df = spark.createDataFrame(rows, "value binary").coalesce(1)
    out = (df.select(decode_tweet_avro(F.col("value"), "PERMISSIVE").alias("p"))
           .select("p.timestamp").collect())
    assert [r.timestamp for r in out] == stamps + [None]


def test_failfast_raises_on_corrupt(spark):
    """T2 (AvroScheme) semantics: decoding failure aborts the query."""
    df = spark.createDataFrame([(CORRUPT,)], "value binary")
    with pytest.raises(Exception, match="Could not decode input bytes"):
        df.select(decode_tweet_avro(F.col("value"), "FAILFAST").alias("p")).collect()


def test_json_roundtrip_identity(spark):
    df = spark.createDataFrame(FIXTURE, TWEET_SCHEMA)
    out = from_json_bytes(to_json_bytes(df, ["username", "text", "timestamp"]),
                          TWEET_SCHEMA)
    assert sorted(tuple(r) for r in out.collect()) == sorted(FIXTURE)


def test_avro_spark_roundtrip_matches_fixture(spark):
    df = spark.createDataFrame(FIXTURE, TWEET_SCHEMA)
    enc = df.select(encode_tweet_avro("username", "text", "timestamp").alias("value"))
    dec = (enc.select(decode_tweet_avro(F.col("value")).alias("pojo"))
           .select("pojo.*"))
    assert sorted(tuple(r) for r in dec.collect()) == sorted(FIXTURE)


def test_decoder_matches_reference_on_fuzz(spark):
    """The Spark-side decoder must agree with the spec-reference codec
    on EVERY payload — valid records, truncations, bit flips, junk, and
    the crafted 10-byte varint whose 70 payload bits overflow int64
    without the 64-bit mask (Java Avro semantics; pre-fix, that payload
    crashed the whole Arrow batch under PERMISSIVE instead of nulling
    one row)."""
    import random

    from full_stack_big_data_spark.sources import serde

    rng = random.Random(7)
    payloads = []
    base_rows = [
        ("alice", "hello world", 0), ("", "", -1),
        ("日本語", "emoji \U0001F600", 2 ** 63 - 1), ("u", "t", -(2 ** 63)),
        ("x" * 300, "y" * 1000, 123),
    ]
    for u, t, ts in base_rows:
        payloads.append(serde.tweet_to_avro_bytes(u, t, ts))
    for p in list(payloads):
        payloads.append(p[:rng.randrange(1, len(p))])
        q = bytearray(p)
        q[rng.randrange(len(q))] ^= 0x80
        payloads.append(bytes(q))
    payloads += [b"", b"\xff" * 12, b"\x80" * 11,
                 bytes(rng.randrange(256) for _ in range(20)),
                 b"\x00\x00" + b"\xff" * 9 + b"\x7f"]

    def py_ref(p):
        try:
            return serde.tweet_from_avro_bytes(p)
        except Exception:
            return (None, None, None)

    want = [py_ref(p) for p in payloads]
    df = spark.createDataFrame([(p,) for p in payloads], "value binary")
    got = [(r.username, r.text, r.timestamp)
           for r in (df.select(decode_tweet_avro(F.col("value")).alias("p"))
                     .select("p.*").collect())]
    assert got == want
