"""Partitioned-layout sink: the interval query must prune partitions."""

from __future__ import annotations

from pyspark.sql import functions as F

from full_stack_big_data_spark.engine.catalog import Catalog
from full_stack_big_data_spark.plans.checks import plan_string
from full_stack_big_data_spark.sources.sinks import (
    read_partitioned, write_partitioned_by_day,
)
from conftest import SF_SMOKE


def test_interval_query_prunes_partitions(spark, tmp_path):
    ev = Catalog(spark, SF_SMOKE).events
    out = str(tmp_path / "events_by_day")
    write_partitioned_by_day(ev, out)

    back = read_partitioned(spark, out)
    one_day = back.where(F.col("event_date") == "2024-01-02")
    plan = plan_string(one_day)
    assert "PartitionFilters" in plan

    # Round-trip integrity: per-day counts match the unpartitioned table.
    src_counts = {r[0]: r[1] for r in ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd")).count().collect()}
    back_counts = {str(r[0]): r[1] for r in back.groupBy("event_date").count().collect()}
    assert src_counts == back_counts

    # Pruned scan reads strictly fewer files than the full layout when
    # filtering to one existing day.
    some_day = sorted(src_counts)[1]
    n_one = read_partitioned(spark, out).where(
        F.col("event_date") == some_day).count()
    assert n_one == src_counts[some_day]


def test_compaction_preserves_content_and_reduces_files(spark, tmp_path):
    """engine/generations.py::compact_parquet — the small-files fix:
    32 tiny files compact into 1 target-sized file, byte-identical
    content, no shuffle (coalesce keeps it a layout-only rewrite)."""
    import os
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.engine.generations import compact_parquet

    ev = Catalog(spark, SF_SMOKE).events
    small = str(tmp_path / "small")
    ev.repartition(32).write.parquet(small)  # simulate per-batch dribble
    n_small = sum(1 for f in os.listdir(small) if f.endswith(".parquet"))
    assert n_small == 32

    out = str(tmp_path / "compacted")
    n_out = compact_parquet(spark, small, out)
    assert n_out == 1  # sf0.001 events ≪ 64 MiB target

    a = spark.read.parquet(small)
    b = spark.read.parquet(out)
    assert b.count() == a.count()
    assert sorted(r.event_id for r in b.collect()) == \
           sorted(r.event_id for r in a.collect())


def test_merged_schema_reads_evolved_table(spark, tmp_path):
    """sources/sinks.py::read_merged_schema — files written before a
    column existed surface NULL for it; later files keep their values."""
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.sources.sinks import read_merged_schema

    path = str(tmp_path / "evolved")
    old = spark.range(3).select(F.col("id").alias("k"))
    new = spark.range(3, 6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    old.write.parquet(path)
    new.write.mode("append").parquet(path)  # schema evolved between writes

    df = read_merged_schema(spark, path)
    assert set(df.columns) == {"k", "v"}
    rows = {r.k: r.v for r in df.collect()}
    assert rows == {0: None, 1: None, 2: None, 3: 30, 4: 40, 5: 50}


def test_compact_reduces_file_count_without_shuffle(spark, tmp_path):
    """64 shattered files compact into ceil(bytes/target) outputs with
    identical content; coalesce keeps the rewrite shuffle-free."""
    import os
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.engine.generations import compact_parquet
    from conftest import SF_SMOKE

    d = Catalog(spark, SF_SMOKE).documents.select("doc_id", "text")
    src, dst = str(tmp_path / "shard"), str(tmp_path / "compact")
    d.repartition(64).write.parquet(src)
    n_in = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_in == 64
    compact_parquet(spark, src, dst, target_bytes=1 << 20)
    n_out = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert n_out < n_in
    before = sorted(r.doc_id for r in spark.read.parquet(src).collect())
    after = sorted(r.doc_id for r in spark.read.parquet(dst).collect())
    assert before == after


def test_compact_parquet_sizes_nested_layouts(spark, tmp_path):
    """compact_parquet must size partitioned (subdirectory) layouts by a
    recursive walk — a top-level-only listing reads 0 bytes and would
    silently collapse any partitioned dataset to coalesce(1) — and must
    refuse a directory with no parquet files outright."""
    import os

    import pytest

    from full_stack_big_data_spark.engine.generations import compact_parquet

    src = str(tmp_path / "partitioned")
    (spark.range(0, 50_000)
     .selectExpr("id", "id % 4 AS p", "repeat(uuid(), 8) AS payload")
     .repartition(8)
     .write.partitionBy("p").mode("overwrite").parquet(src))
    nested_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(src) for f in fs if f.endswith(".parquet"))
    assert nested_bytes > 0
    # target sized to force >1 output file iff the recursive sum is used
    target = nested_bytes // 3
    out = str(tmp_path / "compacted")
    nfiles = compact_parquet(spark, src, out, target_bytes=target)
    assert nfiles == -(-nested_bytes // target), (nfiles, nested_bytes, target)
    assert spark.read.parquet(out).count() == 50_000

    # One source file larger than target: coalesce cannot split it, so
    # the count returned is the count on disk, not ceil(bytes/target).
    single = str(tmp_path / "single")
    spark.read.parquet(src).coalesce(1).write.parquet(single)
    single_bytes = sum(os.path.getsize(os.path.join(single, f))
                       for f in os.listdir(single) if f.endswith(".parquet"))
    out1 = str(tmp_path / "compacted_single")
    n1 = compact_parquet(spark, single, out1, target_bytes=target)
    on_disk = sum(f.endswith(".parquet") for f in os.listdir(out1))
    assert n1 == on_disk < -(-single_bytes // target), (n1, on_disk)

    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no .parquet files"):
        compact_parquet(spark, empty, str(tmp_path / "never"))


def test_catalog_sizes_nested_layouts(spark, tmp_path):
    """Catalog._size/_est_splits must see files inside partitioned
    (subdirectory) table layouts — a top-level-only listing reads 0
    bytes and silently disables the layout-adaptive spread."""
    from full_stack_big_data_spark.engine.catalog import Catalog

    sf = str(tmp_path)
    (spark.range(0, 1000).selectExpr("id", "id % 3 AS p")
     .write.partitionBy("p").parquet(f"{sf}/lineitem.parquet"))
    cat = Catalog(spark, sf)
    assert cat._size("lineitem") > 0
    assert cat._est_splits("lineitem") >= 3  # one file per partition dir


def test_zorder_files_are_narrow_in_both_dims(spark, tmp_path):
    """operators/wire.py::zorder_write — the layout property the morton
    interleave buys: every output file covers a narrow rectangle in
    (user_id, hour) space, so min/max stats prune 2-D slices. A 1-D
    range layout would make one dimension perfectly narrow and leave the
    other at full width; z-order bounds BOTH."""
    import glob

    import pyarrow.parquet as pq

    from full_stack_big_data_spark.operators.wire import zorder_write

    ev = Catalog(spark, SF_SMOKE).events
    out = str(tmp_path / "events_z")
    zorder_write(ev, out)

    gu_min, gu_max, gh_min, gh_max = ev.select(
        F.min("user_id"), F.max("user_id"),
        F.min(F.floor(F.unix_timestamp("ts") / 3600)),
        F.max(F.floor(F.unix_timestamp("ts") / 3600))).first()
    u_span = gu_max - gu_min + 1
    h_span = gh_max - gh_min + 1

    u_frac, h_frac, files = [], [], sorted(glob.glob(f"{out}/*.parquet"))
    assert len(files) > 8, "z-write should emit many range files"
    for f in files:
        t = pq.read_table(f, columns=["user_id", "ts"])
        u = t.column("user_id").to_pylist()
        hs = [v.timestamp() // 3600 for v in t.column("ts").to_pylist()]
        u_frac.append((max(u) - min(u) + 1) / u_span)
        h_frac.append((max(hs) - min(hs) + 1) / h_span)

    avg_u, avg_h = sum(u_frac) / len(u_frac), sum(h_frac) / len(h_frac)
    # Each morton range of 1/64 of z-space spans <= ~1/4 of each dim;
    # assert well under full width on BOTH dims simultaneously.
    assert avg_u < 0.55 and avg_h < 0.55, (avg_u, avg_h)

    # File-level pruning estimate for the registered 2-D slice: files
    # whose stats rectangle misses the predicate would be skipped.
    u_cut = gu_min + (gu_max - gu_min) // 4
    h_cut = gh_min + 6
    overlapping = sum(
        1 for f in files
        if (lambda t: min(t.column("user_id").to_pylist()) <= u_cut
            and min(v.timestamp() // 3600 for v in t.column("ts").to_pylist()) < h_cut)
        (pq.read_table(f, columns=["user_id", "ts"])))
    assert overlapping < len(files), "2-D slice should not touch every file"
