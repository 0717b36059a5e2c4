"""Catalog reads: the fingerprint-checked schema memo and split estimate.

``Catalog.load`` reads with the schema Spark inferred the first time it
saw the same files (``engine.catalog`` docstring). These tests pin that a
repeat load runs no Spark job, that a changed table (rewritten, or a
directory that gains a file) is inferred again, that a path with no
local fingerprint keeps the plain inferring read, and that the split
estimate reads the parsed ``maxPartitionBytes`` whatever its unit.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from full_stack_big_data_spark.engine.catalog import SPREAD_MIN_BYTES, Catalog


def _docs(n: int, **extra) -> pa.Table:
    cols = {"doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array([f"doc {i} text" for i in range(n)])}
    cols.update(extra)
    return pa.table(cols)


def _jobs(spark, group: str, fn):
    """(fn(), ids of the Spark jobs it ran) — an empty job group means
    the call launched no job."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    return out, list(jobs)


def test_repeat_load_of_unchanged_table_runs_no_job(spark, tmp_path):
    pq.write_table(_docs(5), tmp_path / "documents.parquet")
    first = Catalog(spark, str(tmp_path)).documents
    again, jobs = _jobs(spark, "catalog-repeat-load",
                        lambda: Catalog(spark, str(tmp_path)).documents)
    assert jobs == []
    assert again.schema == first.schema
    assert sorted(r.doc_id for r in again.collect()) == list(range(5))


def test_rewritten_table_shows_its_new_column(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    pq.write_table(_docs(5), path)
    assert Catalog(spark, str(tmp_path)).documents.columns == ["doc_id", "text"]
    pq.write_table(_docs(5, lang=pa.array(["en"] * 5)), path)
    df = Catalog(spark, str(tmp_path)).documents
    assert df.columns == ["doc_id", "text", "lang"]
    assert {r.lang for r in df.collect()} == {"en"}


def test_directory_table_that_gains_a_file_is_inferred_again(spark, tmp_path):
    table = tmp_path / "documents.parquet"
    table.mkdir()
    pq.write_table(_docs(3), table / "part-0.parquet")
    conf = "spark.sql.parquet.mergeSchema"
    before = spark.conf.get(conf, None)
    spark.conf.set(conf, "true")
    try:
        assert Catalog(spark, str(tmp_path)).documents.columns == ["doc_id", "text"]
        pq.write_table(_docs(3, lang=pa.array(["de"] * 3)),
                       table / "part-1.parquet")
        df, jobs = _jobs(spark, "catalog-gained-file",
                         lambda: Catalog(spark, str(tmp_path)).documents)
    finally:
        if before is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, before)
    assert jobs != []
    assert df.columns == ["doc_id", "text", "lang"]
    assert df.count() == 6


def test_path_without_local_fingerprint_keeps_the_inferring_read(spark, tmp_path):
    pq.write_table(_docs(4), tmp_path / "documents.parquet")
    uri = "file://" + str(tmp_path)
    assert Catalog._files(uri + "/documents.parquet") is None
    Catalog(spark, uri).documents
    df, jobs = _jobs(spark, "catalog-uri-load",
                     lambda: Catalog(spark, uri).documents)
    assert jobs != []   # every load infers the schema again
    assert df.count() == 4


def test_split_estimate_reads_suffixed_max_partition_bytes(spark, tmp_path):
    rng = random.Random(7)
    n = 3000
    text = ["".join(rng.choice("abcdefghij ") for _ in range(120))
            for _ in range(n)]
    pq.write_table(_docs(n).set_column(1, "text", pa.array(text)),
                   tmp_path / "documents.parquet", compression="none")
    size = os.path.getsize(tmp_path / "documents.parquet")
    conf = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "64m")
        cat = Catalog(spark, str(tmp_path))
        assert cat._size("documents") >= SPREAD_MIN_BYTES
        assert cat.documents.count() == n
        assert cat._est_splits("documents") == 1
        spark.conf.set(conf, "1k")
        assert cat._est_splits("documents") == size // 1024
    finally:
        spark.conf.set(conf, before)
