"""Semantic tests for dedup operators (beyond oracle parity)."""

from __future__ import annotations

from full_stack_big_data_spark.operators.dedup import (
    dedup_exact, dedup_minhash_lsh, dedup_ngram_jaccard, dedup_simhash,
)
from conftest import SF_SMOKE


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_exact_dedup_covers_all_docs(spark):
    out = dedup_exact(spark, SF_SMOKE)
    total = out.agg({"n_copies": "sum"}).collect()[0][0]
    assert total == 500  # every doc lands in exactly one hash group


def test_minhash_recall_against_exact_jaccard(spark):
    """LSH candidates must recover (nearly) all true near-dup pairs.

    With 8 bands × 2 rows, P(miss) at j=0.8 is (1-0.64)^8 ≈ 3e-4 per pair;
    the planted pairs sit at j≈0.95+ where the miss rate is ~1e-11, so we
    pin full recall."""
    truth = _pairs(dedup_ngram_jaccard(spark, SF_SMOKE))
    found = _pairs(dedup_minhash_lsh(spark, SF_SMOKE))
    assert truth, "testdata should contain planted near-dup pairs"
    assert found == truth


def test_simhash_finds_planted_pairs(spark):
    """Near-identical docs must land within the hamming threshold."""
    truth = _pairs(dedup_ngram_jaccard(spark, SF_SMOKE))
    found = _pairs(dedup_simhash(spark, SF_SMOKE))
    # simhash is a different similarity proxy; require high overlap, not
    # equality (it may add a few borderline pairs or drop j≈0.8 ones).
    assert len(found & truth) / len(truth) >= 0.9


def test_editdistance_prefix_filter_prunes_quadratic(spark):
    """The Ed-Join prefix filter's reason to exist: candidate pairs must
    be a small fraction of the all-pairs space (losslessness is already
    proven by the brute-force oracle; this pins the SCALE claim). The
    candidate stage is replayed here exactly as `dedup_editdistance`
    builds it, stopping before the levenshtein verify."""
    from pyspark.sql import Window, functions as F
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.dedup import (
        EDIT_MAXD, EDIT_MINLEN, EDIT_PREFIX, EDIT_Q, EDIT_TITLE,
    )

    d = Catalog(spark, SF_SMOKE).documents
    t = (d.select("doc_id", F.substring("text", 1, EDIT_TITLE).alias("title"))
         .where(F.length("title") >= EDIT_MINLEN))
    n = t.count()
    grams = t.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(1, length(title) - {EDIT_Q - 1}), "
            f"i -> struct(i AS pos, substring(title, i, {EDIT_Q}) AS g))"))
        .alias("pg")
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    freq = grams.groupBy("g").agg(F.count("*").alias("freq"))
    ranked = (grams.join(F.broadcast(freq), "g")
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("doc_id").orderBy("freq", "g", "pos"))))
    prefix = ranked.where(F.col("rn") <= EDIT_PREFIX).select("doc_id", "pos", "g")
    cand = (prefix.alias("p").join(
        grams.alias("x"),
        (F.col("p.g") == F.col("x.g"))
        & (F.col("p.doc_id") != F.col("x.doc_id"))
        & (F.abs(F.col("p.pos") - F.col("x.pos")) <= EDIT_MAXD))
        .select(F.least("p.doc_id", "x.doc_id").alias("a"),
                F.greatest("p.doc_id", "x.doc_id").alias("b"))
        .distinct().count())
    all_pairs = n * (n - 1) // 2
    assert cand < 0.05 * all_pairs, (cand, all_pairs)


def test_band_layout_knob_recall_at_half(spark):
    """The decontam_fuzzy docstring prices the band-layout trade: the
    shared 16-hash signatures re-banded 16×1 should recover essentially
    every jaccard >= 0.5 pair that 8×2 banding can miss (theory: 90.0%
    vs 99.998% candidate probability at j = 0.5). Verified against the
    exact jaccard pair set; 16×1 must find every true pair on this
    corpus AND strictly dominate the default layout's candidate set."""
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.operators.dedup import (
        _band_rows, _shingle_sets,
    )

    sh = _shingle_sets(spark, SF_SMOKE).persist()
    sa = sh.select(F.col("doc_id").alias("a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("b"), F.col("s").alias("sb"))
    i = F.size(F.array_intersect("sa", "sb"))
    pairs = (sa.crossJoin(sb).where(F.col("a") < F.col("b"))
             .select("a", "b", i.alias("i"),
                     F.size("sa").alias("na"), F.size("sb").alias("nb"))
             .where(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")) >= 0.5))
    truth = {(r.a, r.b) for r in pairs.collect()}
    assert truth  # the corpus plants near-dup pairs; vacuous pass guard

    def candidates(bands):
        rows = _band_rows(sh, bands=bands)
        x, y = rows.alias("x"), rows.alias("y")
        return {(r.a, r.b) for r in
                x.join(y, (F.col("x.band") == F.col("y.band"))
                       & (F.col("x.bucket") == F.col("y.bucket"))
                       & (F.col("x.doc_id") < F.col("y.doc_id")))
                .select(F.col("x.doc_id").alias("a"),
                        F.col("y.doc_id").alias("b"))
                .distinct().collect()}

    c16 = candidates(16)
    c8 = candidates(8)
    assert truth <= c16, f"16x1 missed true pairs: {sorted(truth - c16)[:5]}"
    assert c8 <= c16  # any 8x2 collision implies both its 1-row halves collide


def test_min_label_components_frees_superseded_checkpoints(spark):
    """r6 ADVICE: per-round localCheckpoint blocks live OUTSIDE the
    CacheManager, so clearCache() can't reclaim them — the label loop
    must free each superseded round itself. Build a path graph (worst
    case: diameter = N, many rounds) and assert that after convergence
    at most two checkpointed RDDs still hold blocks (the final labels;
    everything superseded — per-round labels and the edge list — must
    be gone), not one per round."""
    from full_stack_big_data_spark.operators.dedup import (
        min_label_components)

    sc = spark.sparkContext._jsc.sc()

    def live_rdd_blocks():
        return [i for i in sc.getRDDStorageInfo() if i.numCachedPartitions() > 0]

    spark.catalog.clearCache()
    before = len(live_rdd_blocks())

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a int, doc_b int")
    out = min_label_components(pairs)
    rows = out.collect()
    # one component, min label 0, 13 nodes — a 12-round propagation
    assert len(rows) == 13 and {r.cluster_id for r in rows} == {0}

    live = live_rdd_blocks()
    assert len(live) - before <= 2, (
        f"superseded localCheckpoint blocks leaked: "
        f"{[(i.name(), i.numCachedPartitions()) for i in live]}")


def test_query_boundary_releases_persisted_intermediates(spark):
    """Builders persist intermediates their lazy results read
    (``dedup_incremental``'s new-side shingle sets and screened pairs,
    ``dedup_minhash_lsh``'s shingle table and band rows) and leave
    them cached past the collect. The query boundary frees them:
    after ``release_scoped_cache`` no RDD is persisted that was not
    persisted before either builder ran (ids, not a count: an earlier
    test's leftover may be cleaned up meanwhile)."""
    from full_stack_big_data_spark.engine.session import release_scoped_cache
    from full_stack_big_data_spark.operators.registry import load_all

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    reg = load_all()
    before = persisted()
    for name in ("dedup_incremental", "dedup_minhash_lsh"):
        assert reg[name].builder(spark, SF_SMOKE).collect()
    assert persisted() - before, "nothing persisted — test vacuous"
    release_scoped_cache(spark)
    assert persisted() <= before
