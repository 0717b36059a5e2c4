"""Candidate-volume observability (functions/observability.py).

The sensor must (a) report the raw post-bucket-join collision count,
(b) be an exact identity when disabled — registered results and plans
untouched, and (c) expose the fixture-vs-scaled geometry difference the
wall clock hides (the whole point, r7 verdict item 4)."""

from __future__ import annotations

import operator
from collections import defaultdict

from full_stack_big_data_spark.functions import observability as obs
from full_stack_big_data_spark.operators.registry import load_all

SF = "/root/testdata/sf0.001"


def _run(spark, name):
    df = load_all()[name].builder(spark, SF)
    df.write.format("noop").mode("overwrite").save()
    return df


def test_disabled_is_identity(spark):
    obs.disable()
    reg = load_all()
    plan = reg["dedup_simhash"].builder(spark, SF)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "CollectMetrics" not in plan
    assert obs.candidate_counts() == {}


def test_counts_cover_all_three_banded_paths(spark):
    obs.enable()
    try:
        _run(spark, "dedup_simhash")
        _run(spark, "dedup_minhash_lsh")
        _run(spark, "embedding_neardup_banded")
        counts = obs.candidate_counts()
    finally:
        obs.disable()
    assert set(counts) == {"simhash_bits32_band4", "minhash_lsh",
                           "srp_t16_b4"}
    # Raw collisions >= verified pairs, and all stages actually fired.
    assert all(v >= 0 for v in counts.values())
    # The simhash fixture at the sf0.001 corpus: collisions must at
    # least cover the verified pair set (distinct+verify only shrinks).
    verified = _run(spark, "dedup_simhash").count()
    assert counts["simhash_bits32_band4"] >= verified


def test_disable_drops_previous_window_counts(spark):
    """candidate_counts() after disable() must not serve stale counts
    from the previous enable window, regardless of test ordering
    (r8 ADVICE: _active survived disable())."""
    obs.enable()
    try:
        _run(spark, "dedup_simhash")
        assert obs.candidate_counts()  # sensor did fire in-window
    finally:
        obs.disable()
    assert obs.candidate_counts() == {}


def test_enabled_does_not_change_results(spark):
    reg = load_all()
    base = sorted(map(tuple, reg["dedup_simhash"].builder(spark, SF).collect()))
    obs.enable()
    try:
        seen = sorted(map(tuple, reg["dedup_simhash"].builder(spark, SF).collect()))
    finally:
        obs.disable()
    assert base == seen


def test_fixture_vs_scaled_candidate_ratio(spark):
    """The geometry story in one number: at the SAME corpus the scaled
    band layout (4096 buckets/band, 5 bands) must produce far fewer
    raw collisions than the fixture (16 buckets/band, 8 bands). At
    sf0.001's ~600 docs the fixture's N/16 occupancy already collides
    quadratically; the scaled point's N/4096 occupancy collides only on
    near-identical signatures."""
    obs.enable()
    try:
        _run(spark, "dedup_simhash")
        _run(spark, "dedup_simhash_scaled")
        counts = obs.candidate_counts()
    finally:
        obs.disable()
    fixture = counts["simhash_bits32_band4"]
    scaled = counts["simhash_bits60_band12"]
    assert scaled < fixture, counts


def _pair_counts(a, b, pred):
    """(raw, distinct) (id_a, id_b) pairs over the (id, key) rows ``a``
    and ``b`` that share a key and pass ``pred`` (None: every pair) —
    a brute-force count over the collected bucket rows."""
    by_key = defaultdict(list)
    for j, key in b:
        by_key[key].append(j)
    pairs = [(i, j) for i, key in a for j in by_key[key]
             if pred is None or pred(i, j)]
    return len(pairs), len(set(pairs))


def test_new_sensors_count_raw_collisions(spark):
    """The four candidate joins that ran unwatched before the shared
    join (ANN probe, incremental ANN, kNN graph, fuzzy decontamination)
    each report exactly one sensor, and its value is the RAW collision
    count: the key-sharing pairs a brute-force count over the bucket
    rows finds, at least the distinct candidate pairs."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.decontam import EVAL_MOD
    from full_stack_big_data_spark.operators.dedup import (_band_rows,
                                                           _shingle_sets)
    from full_stack_big_data_spark.operators.similarity import (
        ANN_INCR_MOD, ANN_INCR_REM, N_QUERIES, srp_bucket_rows)

    srp = [(r.vec_id, (r.table_id, r.bucket)) for r in
           srp_bucket_rows(Catalog(spark, SF).embeddings).collect()]
    bands = [(r.doc_id, (r.band, r.bucket)) for r in
             _band_rows(_shingle_sets(spark, SF)).collect()]
    new = [x for x in srp if x[0] % ANN_INCR_MOD == ANN_INCR_REM]
    old = [x for x in srp if x[0] % ANN_INCR_MOD != ANN_INCR_REM]
    cases = {
        "ann_srp_lsh": ("srp_ann_t16_b4",
                        [x for x in srp if x[0] < N_QUERIES], srp,
                        operator.ne),
        "ann_incremental": ("srp_incr_t16_b4", new, old, None),
        "emb_knn_graph": ("knn_t16_b4", srp, srp, operator.ne),
        "decontam_fuzzy": ("decontam_fuzzy_minhash",
                           [x for x in bands if x[0] % EVAL_MOD == 0],
                           [x for x in bands if x[0] % EVAL_MOD != 0],
                           None),
    }
    for name, (sensor, a, b, pred) in cases.items():
        obs.enable()
        try:
            _run(spark, name)
            counts = obs.candidate_counts()
        finally:
            obs.disable()
        raw, distinct = _pair_counts(a, b, pred)
        assert set(counts) == {sensor}, (name, counts)
        assert counts[sensor] == raw >= distinct > 0, \
            (name, counts, raw, distinct)
