"""Salted aggregation / join must be result-identical to the plain plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from full_stack_big_data_spark.engine.catalog import Catalog
from full_stack_big_data_spark.functions.candidates import candidate_pairs
from full_stack_big_data_spark.functions.skew import salted_agg, salted_join
from full_stack_big_data_spark.functions.text import tokens
from conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_agg_equals_plain_groupby(spark):
    toks = (Catalog(spark, SF_SMOKE).documents
            .select(F.explode(tokens("text")).alias("word")))
    plain = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    salted = salted_agg(toks, ["word"], {"cnt": ("count", "*")}, salt=16)
    assert _rows(plain) == _rows(salted)


def test_salted_agg_sum_min_max(spark):
    ev = Catalog(spark, SF_SMOKE).events.select("event_type", "user_id")
    plain = ev.groupBy("event_type").agg(
        F.sum("user_id").alias("s"), F.min("user_id").alias("mn"),
        F.max("user_id").alias("mx"))
    salted = salted_agg(ev, ["event_type"],
                        {"s": ("sum", "user_id"), "mn": ("min", "user_id"),
                         "mx": ("max", "user_id")}, salt=8)
    assert _rows(plain) == _rows(salted)


def test_salted_join_rejects_outer(spark):
    """Replicating the small side x salt emits unmatched small-side rows
    salt times under right/full outer — must be refused, not silently
    wrong."""
    import pytest
    cat = Catalog(spark, SF_SMOKE)
    li = cat.lineitem.select("l_orderkey")
    o = cat.orders.select(F.col("o_orderkey").alias("l_orderkey"))
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(li, o, ["l_orderkey"], how=how)


def test_salted_join_equals_plain_join(spark):
    cat = Catalog(spark, SF_SMOKE)
    li = cat.lineitem.select("l_orderkey", "l_quantity")
    o = cat.orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    plain = li.join(o, ["l_orderkey"]).select("l_orderkey", "l_quantity", "o_orderpriority")
    salted = salted_join(li, o, ["l_orderkey"], salt=8).select(
        "l_orderkey", "l_quantity", "o_orderpriority")
    assert _rows(plain) == _rows(salted)


def test_aqe_splits_hot_lsh_bucket(spark):
    """Hot-bucket skew in the LSH candidate join: a corpus with one
    massive near-duplicate cluster lands thousands of docs in the SAME
    (band, bucket) key of ``_band_rows``'s self-join — the real
    pathology a stop-word-like shingle family creates at scale. AQE must
    split that hot partition at runtime (both sides are skewed on the
    same key; OptimizeSkewedJoin cross-splits them), and the candidate
    pair set must be exactly the cluster's pair count either way."""
    from full_stack_big_data_spark.operators.dedup import _band_rows
    from full_stack_big_data_spark.plans.checks import plan_string

    confs = {
        # Band rows are tiny (doc_id, band, md5) tuples and a constant-
        # key partition compresses hard — 4k/1k is the local-scale analog
        # of the default 256M/64M ratio.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # Skew is detected relative to the MEDIAN partition: with the
        # test session's 8 shuffle partitions every partition catches
        # one of the 8 hot band-keys and none looks skewed. 32 spreads
        # the hot keys over a quarter of the partitions.
        "spark.sql.shuffle.partitions": "32",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        n_hot, n_bg = 600, 200
        # One duplicate cluster: identical shingle sets → identical
        # signatures → identical bucket in EVERY band. Background docs
        # get disjoint per-doc shingles (no collisions). Multi-mapper
        # input: skew splitting works at map-output granularity.
        hot_shingles = F.array(*[F.lit(f"the quick fox {i}") for i in range(8)])
        bg_shingles = F.array(*[
            F.concat(F.lit(f"bg {i} "), F.col("id").cast("string"))
            for i in range(8)])
        docs = (spark.range(0, n_hot + n_bg).repartition(16)
                .select(F.col("id").alias("doc_id"),
                        F.when(F.col("id") < n_hot, hot_shingles)
                        .otherwise(bg_shingles).alias("s")))
        bands = _band_rows(docs)
        cand = candidate_pairs(bands, bands, ["band", "bucket"], "doc_id",
                               ("doc_a", "doc_b"), "minhash_lsh", order="<")
        # collect() (not count()) so the adaptive plan finalizes on THIS
        # DataFrame's QueryExecution — count() plans a separate agg.
        n_pairs = len(cand.collect())
        assert n_pairs == n_hot * (n_hot - 1) // 2, n_pairs
        plan = plan_string(cand, "simple")
        assert "isFinalPlan=true" in plan, plan[:2000]
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's skew-join handling must fire in this engine's session
    config: a join where one key holds most of the rows gets its hot
    partition split at runtime (skew=true on the SortMergeJoin in the
    final adaptive plan). This is the runtime half of the skew story —
    functions/skew.py salting is the planned half."""
    from conftest import SF_T2
    from full_stack_big_data_spark.plans.checks import plan_string
    confs = {
        # Local-scale thresholds: partition sizes are COMPRESSED shuffle
        # bytes, and a constant-key partition compresses hard — the hot
        # side must be grown well past the threshold (explode ×20 below)
        # for the stats to cross it.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        # Multi-mapper input (skew splitting works at map-output
        # granularity — a single-mapper shuffle cannot be split), with
        # ~80% of rows exploded onto key 0: one ~1M-row hot partition.
        li = (Catalog(spark, SF_T2).lineitem
              .select("l_orderkey", "l_quantity", "l_extendedprice")
              .repartition(16)
              .withColumn("dup", F.explode(F.sequence(F.lit(1), F.lit(20)))))
        skewed = li.withColumn(
            "k", F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
                  .otherwise(F.col("l_orderkey")))
        dim = spark.range(0, 200_000).select(F.col("id").alias("k"),
                                             (F.col("id") % 7).alias("grp"))
        j = skewed.join(dim, "k").groupBy("grp").agg(F.count("*").alias("n"))
        # Execute through the DataFrame's own query execution so the
        # adaptive plan finalizes on THIS object (a write would execute
        # a separate QueryExecution and leave this one unplanned).
        assert len(j.collect()) > 0
        plan = plan_string(j, "simple")
        assert "isFinalPlan=true" in plan, plan[:2000]
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skew_bench_fixture_plan_splits_hot_key(spark, tmp_path):
    """The scripts/skew_bench.py fixture at pytest scale: a fact with
    half its rows on ONE hot user_id, shuffle-joined to a distinct-key
    dim (broadcast disabled, as a genuinely large dim would force), must
    get its hot partition split by AQE (skew=true in the final plan).
    The BENCHNOTES wall-time pin (AQE within 1.5x of manual salting)
    rests on this plan property, asserted here timing-free."""
    import importlib
    import os
    import sys

    from full_stack_big_data_spark.plans.checks import plan_string

    root = os.path.join(os.path.dirname(__file__), "..")
    sys.path.insert(0, root)
    try:
        sb = importlib.import_module("scripts.skew_bench")
    finally:
        sys.path.remove(root)

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        out = str(tmp_path / "fixture")
        sb.build_fixture(spark, out, n_rows=400_000, hot_frac=0.5)
        fact = spark.read.parquet(os.path.join(out, "fact.parquet"))
        dim = spark.read.parquet(os.path.join(out, "dim.parquet"))
        j = (fact.join(dim, ["user_id"])
             .select((F.col("v") * F.col("w")).alias("x"))
             .agg(F.sum("x").alias("s")))
        assert len(j.collect()) == 1
        plan = plan_string(j, "simple")
        assert "isFinalPlan=true" in plan, plan[:2000]
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_grouped_topk_equals_plain_window(spark):
    """The two implementations behind grouped_topk must match exactly —
    groups, members, ranks — on grouped data with ties in the first
    order column (the doc_id tiebreak must carry through both phases).
    On Spark >= 3.5 grouped_topk emits the plain window (native
    WindowGroupLimit); this pin is what licenses the portable two-phase
    fallback to substitute for it on older runtimes."""
    from full_stack_big_data_spark.functions.skew import (
        grouped_topk, grouped_topk_twophase)

    df = (Catalog(spark, SF_SMOKE).documents
          .select("lang", "doc_id", (F.col("n_chars") % 7).alias("score")))
    order = [F.desc("score"), F.asc("doc_id")]
    native = grouped_topk(df, ["lang"], order, 5, F.col("doc_id"))
    two_phase = grouped_topk_twophase(df, ["lang"], order, 5, F.col("doc_id"))
    assert _rows(native.select("lang", "doc_id", "rank")) == \
        _rows(two_phase.select("lang", "doc_id", "rank"))


def test_grouped_topk_native_path_has_partial_window_group_limit(spark):
    """The scale property grouped_topk's native path rests on: the
    rank-limit filter must compile to a PARTIAL (map-side, before the
    exchange) WindowGroupLimit, so a hot group ships <= k rows per map
    partition into the shuffle instead of all its rows into one sort
    task. If a Spark upgrade ever drops the rewrite, this fails and the
    dispatch flag must flip to the two-phase fallback."""
    from full_stack_big_data_spark.functions.skew import (
        _RANK_LIMIT_NATIVE, grouped_topk)
    from full_stack_big_data_spark.plans.checks import plan_string

    assert _RANK_LIMIT_NATIVE, "pyspark >= 3.5 expected in this env"
    df = (Catalog(spark, SF_SMOKE).documents
          .select("lang", "doc_id", (F.col("n_chars") % 7).alias("score")))
    q = grouped_topk(df, ["lang"], [F.desc("score"), F.asc("doc_id")],
                     5, F.col("doc_id"))
    plan = plan_string(q)
    assert plan.count("WindowGroupLimit") >= 2, plan[:3000]  # partial + final
    # formatted mode puts the limit mode on the node's Arguments line
    partial = [ln for ln in plan.splitlines()
               if "row_number()" in ln and ln.rstrip().endswith("Partial")]
    assert partial, plan[:3000]
