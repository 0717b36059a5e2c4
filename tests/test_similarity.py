"""Semantic tests for similarity search (beyond oracle parity)."""

from __future__ import annotations

from full_stack_big_data_spark.operators.similarity import (
    TOP_K, ann_brute_topk, ann_srp_lsh, embedding_neardup,
)
from conftest import SF_SMOKE


def test_brute_topk_shape(spark):
    rows = ann_brute_topk(spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        assert len(rs) == TOP_K
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, TOP_K + 1))
        cosines = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_srp_lsh_recall_vs_bruteforce(spark):
    """SRP-LSH (16 tables × 4 bits) on this data: theory for cos≈0.45
    neighbors gives ≈0.94 per-pair collision across 16 tables; pin a 0.8
    floor so a regression in bucketing shows up."""
    truth = {(r.query_id, r.neighbor_id)
             for r in ann_brute_topk(spark, SF_SMOKE).collect()}
    approx = {(r.query_id, r.neighbor_id)
              for r in ann_srp_lsh(spark, SF_SMOKE).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"SRP-LSH recall collapsed: {recall:.2f}"


def test_neardup_pairs_ordered_and_thresholded(spark):
    rows = embedding_neardup(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.vec_a < r.vec_b for r in rows)
    assert all(r.cosine >= 0.40 for r in rows)


def test_neardup_blockpair_matches_broadcast(spark):
    """The block-pair fallback (the past-broadcast-ceiling plan) must be
    bit-identical to the broadcast path: same pairs, same rounded
    cosines. Tiny block_rows forces a real multi-block pair join — with
    ~50 vectors and block_rows=16 every kind of block pair (diagonal and
    off-diagonal) is exercised."""
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.similarity import (
        _neardup_blockpair, _neardup_broadcast,
    )
    src = Catalog(spark, SF_SMOKE).embeddings.select("vec_id", "embedding")
    want = {(r.vec_a, r.vec_b): r.cosine
            for r in _neardup_broadcast(spark, src).collect()}
    got = {(r.vec_a, r.vec_b): r.cosine
           for r in _neardup_blockpair(spark, src, block_rows=16).collect()}
    assert want and got == want


def test_ivf_partial_scan_exactness_and_recall(spark):
    """IVF returns the exact top-k *within the probed cells* (scores match
    the brute-force scores for the same pairs), and recall stays at or
    above the scan-fraction floor — on this near-random corpus recall ≈
    probes/cells is the ceiling for any coarse quantizer (see module doc).
    """
    from full_stack_big_data_spark.operators.similarity import (
        IVF_CELLS, IVF_PROBES, ann_ivf,
    )
    truth = {(r.query_id, r.neighbor_id): r.cosine
             for r in ann_brute_topk(spark, SF_SMOKE).collect()}
    ivf = ann_ivf(spark, SF_SMOKE).collect()
    assert len({r.query_id for r in ivf}) == 5
    for r in ivf:  # any pair IVF shares with truth must score identically
        if (r.query_id, r.neighbor_id) in truth:
            assert r.cosine == truth[(r.query_id, r.neighbor_id)]
    recall = len(truth.keys() & {(r.query_id, r.neighbor_id) for r in ivf}) / len(truth)
    floor = IVF_PROBES / IVF_CELLS * 0.6  # generous variance margin
    assert recall >= floor, f"IVF recall {recall:.2f} below floor {floor:.2f}"


def test_neardup_banded_recall_and_exactness(spark):
    """The banded (100 TB) near-dup path: every reported pair must carry
    the exact cosine the quadratic path computes (no false scores), and
    recall vs the exact pair set stays above the SRP collision floor."""
    from full_stack_big_data_spark.operators.similarity import (
        embedding_neardup_banded,
    )
    exact = {(r.vec_a, r.vec_b): r.cosine
             for r in embedding_neardup(spark, SF_SMOKE).collect()}
    banded = {(r.vec_a, r.vec_b): r.cosine
              for r in embedding_neardup_banded(spark, SF_SMOKE).collect()}
    assert banded, "banded path found no pairs at smoke scale"
    for pair, cos in banded.items():
        assert pair in exact and exact[pair] == cos, pair
    recall = len(banded) / len(exact)
    # pairs at the 0.40 threshold sit near cos≈0.45 → ≥0.8 expected (see
    # the SRP tuning note); a collapse here means bucketing broke.
    assert recall >= 0.6, f"banded near-dup recall collapsed: {recall:.2f}"


def test_pq_codebook_training_seam_improves_recall():
    """The documented PQ seam: the registered codebooks are untrained
    literals (oracle-exact); a deployment trains them per subspace with
    Lloyd iterations. This pins that the seam WORKS — a few k-means
    steps over the corpus, run with the exact integer cost the operator
    uses, must cut reconstruction error (Lloyd's guaranteed quantity;
    measured 5.9M → 2.8M here) without degrading ADC recall. Recall
    itself stays low on THIS corpus (0.24 → 0.28): near-random 64-dim
    data at 4 bits per 8-dim subspace has little order to preserve —
    the corpus ceiling documented on the IVF/SRP families, not a seam
    defect. Numpy replay of the registered pipeline; the formulas are
    the operator's own."""
    import numpy as np
    import pyarrow.parquet as pq

    from full_stack_big_data_spark.operators.similarity import (
        PQ_CELLS, PQ_SUBDIM, PQ_SUBSPACES, _pq_codebooks,
    )
    from conftest import SF_SMOKE

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pydict()
    ids = np.array(t["vec_id"])
    emb = np.stack([np.array(v) for v in t["embedding"]]).astype(np.float64)
    eq = np.floor(emb * 100).astype(np.int64)
    sub = eq.reshape(len(eq), PQ_SUBSPACES, PQ_SUBDIM)

    def adc_recall(cb):
        n2 = (cb * cb).sum(axis=2)
        cost = n2[None, :, :] - 2 * np.einsum("nsd,scd->nsc", sub, cb)
        codes = cost.argmin(axis=2)
        hits = 0
        for q in range(5):
            qv = sub[ids == q][0]
            lut = (n2 - 2 * np.einsum("sd,scd->sc", qv, cb)
                   + (qv * qv).sum(axis=1)[:, None])
            adc = lut[np.arange(PQ_SUBSPACES)[None, :], codes].sum(axis=1)
            mask = ids != q
            aset = {int(v) for _, v in sorted(zip(adc[mask], ids[mask]))[:10]}
            d2 = ((eq[mask] - eq[ids == q]) ** 2).sum(axis=1)
            eset = {int(v) for _, v in sorted(zip(d2, ids[mask]))[:10]}
            hits += len(aset & eset)
        return hits / 50

    untrained = _pq_codebooks()
    base = adc_recall(untrained)

    # 5 Lloyd iterations per subspace from the untrained init —
    # deterministic (no randomness anywhere).
    cb = untrained.astype(np.float64)
    for _ in range(5):
        n2 = (cb * cb).sum(axis=2)
        cost = n2[None, :, :] - 2 * np.einsum("nsd,scd->nsc", sub, cb)
        assign = cost.argmin(axis=2)                      # (n, S)
        for s in range(PQ_SUBSPACES):
            for c in range(PQ_CELLS):
                members = sub[assign[:, s] == c, s, :]
                if len(members):
                    cb[s, c] = members.mean(axis=0)
    trained = np.floor(cb).astype(np.int64)               # back to integers

    def total_err(cbi):
        n2 = (cbi * cbi).sum(axis=2)
        cost = n2[None, :, :] - 2 * np.einsum("nsd,scd->nsc", sub, cbi)
        return (cost.min(axis=2) + (sub * sub).sum(axis=2)).sum()

    improved = adc_recall(trained)
    assert improved >= base, (base, improved)
    err_u, err_t = total_err(untrained), total_err(trained)
    assert err_t < 0.6 * err_u, (err_u, err_t)


def test_pq_train_step_matches_lloyd_replay(spark):
    """The registered ``emb_pq_train`` IS the training machinery the
    seam test above replays: its md5-pinned centroids must equal the
    numpy replay's first Lloyd step (same integer costs, same first-min
    tie-break, same floor(s/n + 0.5) rounding) cell for cell — so the
    shipped artifact and the measured recall improvement come from one
    algorithm, not two look-alikes."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from full_stack_big_data_spark.operators.similarity import (
        PQ_CELLS, PQ_SUBDIM, PQ_SUBSPACES, _pq_codebooks, emb_pq_train,
    )

    t = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pydict()
    emb = np.stack([np.array(v) for v in t["embedding"]]).astype(np.float64)
    sub = (np.floor(emb * 100).astype(np.int64)
           .reshape(len(emb), PQ_SUBSPACES, PQ_SUBDIM))
    cb = _pq_codebooks()
    n2 = (cb * cb).sum(axis=2)
    assign = (n2[None, :, :]
              - 2 * np.einsum("nsd,scd->nsc", sub, cb)).argmin(axis=2)

    want = {}
    for s in range(PQ_SUBSPACES):
        for c in range(PQ_CELLS):
            members = sub[assign[:, s] == c, s, :]
            if len(members):
                cent = np.floor(members.sum(axis=0) / len(members)
                                + 0.5).astype(np.int64)
                want[(s, c)] = (len(members), hashlib.md5(
                    ",".join(str(int(x)) for x in cent).encode()).hexdigest())

    got = {(r.sub, r.cell): (r.n_members, r.centroid_md5)
           for r in emb_pq_train(spark, SF_SMOKE).collect()}
    assert got == want

    # The ONE-step quality claim `ann_pq_adc_trained` ships on: a single
    # Lloyd step already cuts integer reconstruction error by >20% and
    # does not shrink the per-(sub,cell) assignment's objective anywhere
    # (Lloyd's monotonicity, checked globally).
    cb1 = cb.copy()
    for s in range(PQ_SUBSPACES):
        for c in range(PQ_CELLS):
            members = sub[assign[:, s] == c, s, :]
            if len(members):
                cb1[s, c] = np.floor(members.sum(axis=0) / len(members) + 0.5)

    def total_err(cbi):
        n2i = (cbi * cbi).sum(axis=2)
        cost = n2i[None, :, :] - 2 * np.einsum("nsd,scd->nsc", sub, cbi)
        return (cost.min(axis=2) + (sub * sub).sum(axis=2)).sum()

    e0, e1 = total_err(cb), total_err(cb1)
    assert e1 < 0.8 * e0, (e0, e1)


def test_pca_deflation_orthogonality(spark):
    """The deflated second direction must be (numerically) orthogonal
    to the first: deflation is exact in integers (x''·v = 0
    identically); only the ±100 rescale truncation perturbs it.
    Measured |cos| ≈ 0.001 at sf0.001/sf0.01; pin a 0.05 ceiling so a
    deflation regression (wrong sign, missing n2 scale, stale v)
    surfaces as a loud failure."""
    import math

    from full_stack_big_data_spark.operators.similarity import (
        emb_pca_power_iter, emb_pca_second_component,
    )

    v1 = {r.dim: r.component_q
          for r in emb_pca_power_iter(spark, SF_SMOKE).collect()}
    v2 = {r.dim: r.component_q
          for r in emb_pca_second_component(spark, SF_SMOKE).collect()}
    dot = sum(v1[i] * v2[i] for i in v1)
    cos = (dot
           / math.sqrt(sum(x * x for x in v1.values()))
           / math.sqrt(sum(x * x for x in v2.values())))
    assert abs(cos) <= 0.05, f"deflation broke orthogonality: cos={cos}"


def test_ivf_sizing_rule_tracks_corpus():
    """The C ~ N/occupancy rule (r6 verdict item 2): floors at 16,
    power-of-two, hits the registered 256-cell operating point at the
    sf1.0 corpus, and keeps occupancy within 2x of target across four
    decades — the property that keeps the probe scan flat."""
    from full_stack_big_data_spark.operators.similarity import (
        IVF_CELLS_WIDE, ivf_cells_for_corpus)

    assert ivf_cells_for_corpus(0) == 16
    assert ivf_cells_for_corpus(500) == 16          # smoke corpus: floor
    assert ivf_cells_for_corpus(20_000) == IVF_CELLS_WIDE == 256
    for n in (10_000, 100_000, 1_000_000, 10_000_000):
        c = ivf_cells_for_corpus(n)
        assert c & (c - 1) == 0                     # power of two
        assert 32 <= n / c <= 128, (n, c)           # occupancy in [64/2, 64*2]


def test_ivf_append_compaction_file_counts_and_equivalence(spark):
    """The persisted-index maintenance story (r8 verdict item 4):
    appending a dump must leave at least one cell with multiple files,
    compaction must fold every cell back to EXACTLY one file, and the
    appended-then-compacted index must serve the same answer as a
    from-scratch rebuild over the full corpus."""
    import os
    from collections import Counter

    from pyspark.sql import functions as F

    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.engine.scratch import scratch_dir
    from full_stack_big_data_spark.operators.similarity import (
        IVF_APPEND_MOD, _ivf_assigned, ivf_index_build, ivf_index_compact,
        ivf_index_serve)

    sf = "/root/testdata/sf0.001"
    e = Catalog(spark, sf).embeddings
    path = scratch_dir("fsbd_test_ivf_append_")
    _ivf_assigned(e.where(F.col("vec_id") % IVF_APPEND_MOD != 0)) \
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    _ivf_assigned(e.where(F.col("vec_id") % IVF_APPEND_MOD == 0)) \
        .write.mode("append").partitionBy("cell").parquet(path)

    def files_per_cell(root):
        c = Counter()
        for dp, _dirs, files in os.walk(root):
            cell = os.path.basename(dp)
            if cell.startswith("cell="):
                c[cell] += sum(1 for f in files if f.endswith(".parquet"))
        return c

    appended = files_per_cell(path)
    assert max(appended.values()) >= 2, "append never hit an existing cell"

    gen2 = scratch_dir("fsbd_test_ivf_append_gen2_")
    ivf_index_compact(spark, path, gen2)
    compacted = files_per_cell(gen2)
    assert set(compacted) == set(appended)
    assert all(v == 1 for v in compacted.values()), compacted

    def canon(df):
        return sorted(map(tuple, df.collect()))

    rebuilt = ivf_index_serve(spark, sf, ivf_index_build(spark, sf))
    assert canon(ivf_index_serve(spark, sf, gen2)) == canon(rebuilt)
    # pre-compaction serve agrees too (compaction is layout-only)
    assert canon(ivf_index_serve(spark, sf, path)) == canon(rebuilt)


def test_ivfpq_append_compacts_to_one_file_per_cell_and_carries_codebook(spark):
    """The IVFADC append lifecycle's storage pins: the dump append
    drops extra files into existing cell partitions; compaction folds
    every cell back to ONE parquet file; the stored codebook artifact
    (_codebook, underscore-invisible to scans of the generation root)
    survives into the new generation; and serve is layout-invariant —
    pre-compaction, post-compaction, and a from-scratch rebuild with
    the same stored codebook all answer identically."""
    import os
    from collections import Counter

    from pyspark.sql import functions as F

    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.engine.scratch import scratch_dir
    from full_stack_big_data_spark.operators.similarity import (
        IVF_APPEND_MOD, _ivfpq_rows, _pq_trained_codebooks,
        _read_pq_codebook, _write_pq_codebook, ivf_index_compact,
        ivfpq_index_serve)

    sf = SF_SMOKE
    e = Catalog(spark, sf).embeddings
    base = e.where(F.col("vec_id") % IVF_APPEND_MOD != 0)
    cb = _pq_trained_codebooks(base)
    path = scratch_dir("fsbd_test_ivfpq_append_")
    (_ivfpq_rows(base, cb)
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    _write_pq_codebook(cb, path + "/_codebook")
    cb2 = _read_pq_codebook(spark, path + "/_codebook")
    assert (cb2 == cb).all(), "codebook artifact round-trip diverged"
    (_ivfpq_rows(e.where(F.col("vec_id") % IVF_APPEND_MOD == 0), cb2)
     .write.mode("append").partitionBy("cell").parquet(path))

    def files_per_cell(root):
        c = Counter()
        for dp, _dirs, files in os.walk(root):
            cell = os.path.basename(dp)
            if cell.startswith("cell="):
                c[cell] += sum(1 for f in files if f.endswith(".parquet"))
        return c

    appended = files_per_cell(path)
    assert max(appended.values()) >= 2, "append never hit an existing cell"

    gen2 = scratch_dir("fsbd_test_ivfpq_append_gen2_")
    ivf_index_compact(spark, path, gen2)
    _write_pq_codebook(cb2, gen2 + "/_codebook")
    compacted = files_per_cell(gen2)
    assert set(compacted) == set(appended)
    assert all(v == 1 for v in compacted.values()), compacted

    def canon(df):
        return sorted(map(tuple, df.collect()))

    # from-scratch rebuild with the SAME stored codebook
    rb = scratch_dir("fsbd_test_ivfpq_rebuild_")
    (_ivfpq_rows(e, cb2)
     .write.mode("overwrite").partitionBy("cell").parquet(rb))
    _write_pq_codebook(cb2, rb + "/_codebook")
    rebuilt = canon(ivfpq_index_serve(spark, sf, rb))
    assert canon(ivfpq_index_serve(spark, sf, gen2)) == rebuilt
    assert canon(ivfpq_index_serve(spark, sf, path)) == rebuilt


def test_semdedup_clusters_stay_within_cells_and_subset_exact(spark):
    """SemDeDup's defining property: candidates exist ONLY within an
    IVF cell, so every cluster lives in exactly one cell — and each
    non-canonical member genuinely has a within-cell near-dup partner
    (its pairs are a subset of the exact all-pairs set)."""
    from pyspark.sql import functions as F

    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.similarity import (
        SEMDEDUP_COS, _ivf_assigned, embedding_neardup, embedding_semdedup)

    out = embedding_semdedup(spark, SF_SMOKE)
    rows = out.collect()
    assert rows, "semdedup empty at sf0.001 — vacuous"
    cells = _ivf_assigned(Catalog(spark, SF_SMOKE).embeddings) \
        .select("vec_id", "cell")
    mixed = (out.join(cells, "vec_id")
             .groupBy("cluster_id")
             .agg(F.countDistinct("cell").alias("nc"))
             .where(F.col("nc") > 1).count())
    assert mixed == 0, "a semdedup cluster crossed a cell boundary"
    # within-cell pairs are a SUBSET of the exact near-dup pair set:
    # every clustered (non-singleton) member appears in some exact pair
    exact = embedding_neardup(spark, SF_SMOKE).collect()
    exact_ids = ({r.vec_a for r in exact if r.cosine >= SEMDEDUP_COS}
                 | {r.vec_b for r in exact if r.cosine >= SEMDEDUP_COS})
    member_ids = {r.vec_id for r in rows}
    assert member_ids <= exact_ids


def test_semdedup_multiprobe_strictly_recovers_boundary_pairs(spark):
    """r10 verdict item 4 quantified: the multiprobe (r=2 cells)
    candidate rule must be MONOTONE over the r=1 formulation (every
    within-cell pair survives — more probed cells only add
    candidates), stay a subset of the exact all-pairs near-dup set
    (the verify is the last word), and strictly recover boundary
    pairs the r=1 rule misses (measured 2→7 of 66 exact pairs at
    sf0.001; 45→127 of 920 at sf0.1 — recall 0.049→0.138)."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.similarity import (
        SEMDEDUP_COS, embedding_neardup, semdedup_pairs_multiprobe)

    from full_stack_big_data_spark.operators.similarity import \
        SEMDEDUP_PROBES

    e = Catalog(spark, SF_SMOKE).embeddings
    r1 = {(r.vec_a, r.vec_b)
          for r in semdedup_pairs_multiprobe(e, probes=1).collect()}
    r2 = {(r.vec_a, r.vec_b)
          for r in semdedup_pairs_multiprobe(e, probes=2).collect()}
    r3 = {(r.vec_a, r.vec_b)
          for r in semdedup_pairs_multiprobe(e, probes=3).collect()}
    exact = {(r.vec_a, r.vec_b)
             for r in embedding_neardup(spark, SF_SMOKE).collect()
             if r.cosine >= SEMDEDUP_COS}
    assert r1, "r=1 pair set empty at sf0.001 — vacuous"
    assert r1 <= r2 <= r3, "multiprobe dropped a within-cell pair"
    assert r3 <= exact, "a multiprobe pair failed the exact verify"
    assert len(r2) > len(r1), "multiprobe recovered nothing — vacuous"
    assert len(r3) > len(r2), "r=3 recovered nothing over r=2 — vacuous"
    # the REGISTERED operating point is the measured recall-curve knee
    # (scripts/semdedup_recall_curve.py; BENCHNOTES r13)
    assert SEMDEDUP_PROBES == 3


def test_quantized_screen_no_false_drops(spark, tmp_path):
    """The embedding verify's tier-1 bound (r12 verdict item 2,
    similarity.quantized_vec_cols): the packed-int16 screen must keep
    every exact-passing pair — two-tier hits ≡ one-tier exact hits —
    under adversarial geometry: near-zero vectors, one-hots, huge
    dynamic range, and mixtures engineered to land cosines densely
    AROUND the 0.40 threshold where a loose bound flips decisions."""
    import math
    import random

    from pyspark.sql import functions as F
    from full_stack_big_data_spark.engine.pointfetch import (VerifyStore,
                                                             write_payload)
    from full_stack_big_data_spark.functions.vectors import cosine_sim
    from full_stack_big_data_spark.operators.similarity import (
        NEARDUP_COS, cosine_verify, quantized_vec_cols)

    rng = random.Random(13)
    d = 64

    def rand_unit():
        v = [rng.gauss(0, 1) for _ in range(d)]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    old_rows = []
    for i in range(30):
        u = rand_unit()
        scale = 10.0 ** rng.uniform(-6, 4)      # huge dynamic range
        old_rows.append((i, [x * scale for x in u]))
    old_rows += [(100, [0.0] * d),              # zero vector
                 (101, [1.0] + [0.0] * (d - 1)),          # one-hot
                 (102, [1e-30] * d)]            # denormal-ish tiny
    new_rows = []
    nid = 1000
    for i in range(30):                         # near-threshold mixes
        u = old_rows[i][1]
        un = math.sqrt(sum(x * x for x in u))
        uhat = [x / un for x in u]
        w = rand_unit()
        proj = sum(a * b for a, b in zip(w, uhat))
        w = [a - proj * b for a, b in zip(w, uhat)]
        wn = math.sqrt(sum(x * x for x in w))
        w = [x / wn for x in w]
        for c in (0.390, 0.399, 0.4000001, 0.401, 0.410):
            s = math.sqrt(1 - c * c)
            new_rows.append((nid, [c * a + s * b
                                   for a, b in zip(uhat, w)]))
            nid += 1
    new_rows += [(nid, [0.0] * d), (nid + 1, [-1.0] + [0.0] * (d - 1))]

    old = spark.createDataFrame(old_rows, "vec_id long, embedding array<float>")
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<float>")
    pay = str(tmp_path / "float_pay")
    qpay = str(tmp_path / "quant_pay")
    write_payload(old, "vec_id", pay)
    write_payload(quantized_vec_cols(old), "vec_id", qpay)

    cand = (new.select("vec_id")
            .crossJoin(old.select(F.col("vec_id").alias("old_id"))))
    exact = {r.vec_id
             for r in (new.select("vec_id", F.col("embedding").alias("qv"))
                       .crossJoin(old.select(
                           F.col("embedding").alias("old_emb")))
                       .where(cosine_sim(F.col("old_emb"), F.col("qv"))
                              >= NEARDUP_COS)
                       .select("vec_id").collect())}
    scope = []
    try:
        two = {r.vec_id
               for r in cosine_verify(spark, cand, new,
                                      VerifyStore(None, qpay, pay),
                                      scope).collect()}
        survivors = scope[0].count()
    finally:
        for df in scope:
            df.unpersist()
    assert exact, "exact hit set empty — test vacuous"
    assert two == exact, (
        f"two-tier decision diverged: only-exact={exact - two}, "
        f"only-two-tier={two - exact}")
    # the screen must actually screen (int16 is tight: the non-hit
    # near-threshold pairs and the random-geometry bulk drop early)
    assert survivors < cand.count(), "screen kept everything — vacuous"


def test_ivfpq_composition_laws(spark):
    """The composed IVFADC entry's two invariants (r13, re-pinned r14
    after the trained-codebook swap): IVF changes WHICH pairs are
    scored, never their score — (1) every returned neighbor lies in a
    probed cell of its query; (2) each returned (query, neighbor) ADC
    distance equals the full-scan ann_pq_adc_trained distance for the
    same pair (both serve the one-Lloyd-step codebooks now). Plus the
    non-vacuity floor: the pruned index must still recover a nonzero
    share of the full-scan top-k (recall here is the corpus's
    documented near-random-embedding ceiling, ~the 24/256 scan
    fraction — the probes knob, not a bug)."""
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.operators.similarity import (
        IVF_PROBES_WIDE, N_QUERIES, ivf_cells_scaled)

    reg = load_all()
    ivfpq = {(r.query_id, r.neighbor_id): r.adc_x
             for r in reg["ann_ivfpq_adc"].builder(spark, SF_SMOKE).collect()}
    full = {(r.query_id, r.neighbor_id): r.adc_x
            for r in reg["ann_pq_adc_trained"].builder(spark, SF_SMOKE)
            .collect()}
    e = Catalog(spark, SF_SMOKE).embeddings
    probed = {r.vec_id: set(r.cells)
              for r in ivf_cells_scaled(
                  e.where(F.col("vec_id") < N_QUERIES),
                  probes=IVF_PROBES_WIDE).collect()}
    cellof = {r.vec_id: r.cells[0] for r in ivf_cells_scaled(e).collect()}

    assert ivfpq, "ivfpq result empty — vacuous"
    outside = [(q, n) for (q, n) in ivfpq if cellof[n] not in probed[q]]
    assert not outside, outside[:5]
    overlap = [k for k in ivfpq if k in full]
    assert overlap, "no overlap with the full-scan top-k — vacuous"
    mism = [k for k in overlap if ivfpq[k] != full[k]]
    assert not mism, mism[:5]


def test_arrow_cosine_bit_identical_to_hof_form(spark):
    """The Arrow cosine_sim kernel must be BIT-identical to the
    Catalyst zip_with+aggregate form — same left-to-right IEEE double
    sequence, same NaN→NULL masking. A dense cross of the smoke corpus
    catches re-association (BLAS/pairwise summation) drift on the
    zero-copy matrix path; the degenerate rows (zero norm, null row,
    ragged lengths, null element) catch drift on the per-row fallback."""
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.functions.vectors import (
        cosine_sim, cosine_sim_exprs)

    e = Catalog(spark, SF_SMOKE).embeddings
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("x"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("y"))
    pairs = a.where("ia % 5 = 0").crossJoin(b.where("ib % 7 = 0"))
    bad = (pairs.select(cosine_sim(F.col("x"), F.col("y")).alias("new"),
                        cosine_sim_exprs(F.col("x"), F.col("y")).alias("old"))
           .where("(new IS NULL) <> (old IS NULL) OR new <> old").count())
    assert bad == 0, f"{bad} pairs diverge from the Catalyst HOF form"

    degenerate = spark.createDataFrame(
        [(1, [0.0] * 4, [1.0, 2.0, 3.0, 4.0]),   # zero norm -> NULL
         (2, None, [1.0, 2.0, 3.0, 4.0]),        # null row -> NULL
         (3, [1.0, 2.0], [1.0, 2.0, 3.0, 4.0]),  # ragged -> NULL
         (4, [1.0, None, 3.0, -4.0], [4.0, 3.0, 2.0, 1.0]),  # null elem
         (5, [1.0, -2.0, 3.0, -4.0], [4.0, 3.0, 2.0, 1.0])],
        "id int, x array<float>, y array<float>")
    rows = degenerate.select(
        "id", cosine_sim(F.col("x"), F.col("y")).alias("new"),
        cosine_sim_exprs(F.col("x"), F.col("y")).alias("old")).collect()
    for r in rows:
        assert (r.new is None) == (r.old is None) and \
            (r.new is None or r.new == r.old), r


def test_zerocopy_cosine_bit_identical_to_hof_form(spark):
    """The zero-copy matrix path of cosine_sim: ``_list_matrix`` must
    reshape a fixed-dim ``ListArray``'s values buffer into exactly the
    rows' widened values — also for a sliced array, whose offsets do not
    start at 0 — and must refuse every degenerate shape so the kernel
    takes the per-row fallback. Small Arrow batches then put many batch
    boundaries inside one partition, and the kernel must stay
    BIT-identical to the Catalyst HOF form across all of them."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.functions.vectors import (
        _list_matrix, cosine_sim, cosine_sim_exprs)

    e = Catalog(spark, SF_SMOKE).embeddings
    vecs = [r.embedding for r in
            e.orderBy("vec_id").select("embedding").limit(40).collect()]
    arr = pa.array(vecs, type=pa.list_(pa.float32()))
    for view in (arr, arr.slice(13, 20)):
        m = _list_matrix(view)
        want = np.array(view.to_pylist(), dtype=np.float32) \
            .astype(np.float64)
        assert m is not None and m.dtype == np.float64
        assert m.shape == want.shape and np.array_equal(m, want)

    f32 = pa.list_(pa.float32())
    for bad in (pa.array([[1.0, 2.0], None], type=f32),       # null row
                pa.array([[1.0, None], [3.0, 4.0]], type=f32),  # null elem
                pa.array([[1.0, 2.0], [3.0]], type=f32),       # ragged
                pa.array([], type=f32),                        # empty
                pa.array([1.0, 2.0], type=pa.float64())):      # not a list
        assert _list_matrix(bad) is None, bad

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        a = e.select(F.col("vec_id").alias("ia"),
                     F.col("embedding").alias("x"))
        b = e.select(F.col("vec_id").alias("ib"),
                     F.col("embedding").alias("y"))
        pairs = a.where("ia % 11 = 0").crossJoin(b.where("ib % 13 = 0"))
        bad = (pairs.select(
                   cosine_sim(F.col("x"), F.col("y")).alias("new"),
                   cosine_sim_exprs(F.col("x"), F.col("y")).alias("old"))
               .where("(new IS NULL) <> (old IS NULL) OR new <> old")
               .count())
        assert pairs.count() > 7, "one Arrow batch — boundaries untested"
    finally:
        spark.conf.set(key, old)
    assert bad == 0, f"{bad} pairs diverge from the Catalyst HOF form"


def test_list_matrix_checks_nulls_only_inside_the_slice():
    """A sliced ListArray shares its parent's whole values buffer; a
    null element outside the slice must not send the slice to the
    row-wise fallback, and one inside it still must."""
    import numpy as np
    import pyarrow as pa
    from full_stack_big_data_spark.functions.vectors import _list_matrix

    arr = pa.array([[1.0, None], [3.0, 4.0], [5.0, 6.0], [7.0, 8.0]],
                   type=pa.list_(pa.float32()))
    m = _list_matrix(arr.slice(1, 3))
    assert m is not None and m.dtype == np.float64
    assert np.array_equal(m, [[3.0, 4.0], [5.0, 6.0], [7.0, 8.0]])
    assert _list_matrix(arr.slice(0, 2)) is None


def test_srp_bucket_rows_single_udf_eval(spark):
    """r14 change 11 pin: the bucket UDF lives INSIDE the generator, so
    InferFiltersFromGenerate cannot infer a size()>0 filter that
    duplicates the ArrowEvalPython below itself (the guide §4.4 shape
    the before-plan showed: two SRP matmul evaluations per scan
    branch). Exactly ONE ArrowEvalPython node, zero size()-filters."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.similarity import \
        srp_bucket_rows

    df = srp_bucket_rows(Catalog(spark, SF_SMOKE).embeddings)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    tree = plan.split("\n\n")[0]  # operator tree, not the detail blocks
    n_arrow = tree.count("ArrowEvalPython")
    assert n_arrow == 1, f"expected 1 ArrowEvalPython, got {n_arrow}:\n{tree}"
    assert "size(" not in plan, "inferred size() filter reappeared"


def test_embedding_store_geometries_share_the_payload_tiers(spark):
    """Every SRP geometry of the corpus base indexes the same vectors,
    so the 16×4 and 16×9 stores differ only in their index: both read
    one screen tier and one exact tier, written once per corpus, and
    those tiers hold exactly the ids each index holds."""
    from full_stack_big_data_spark.operators.similarity import \
        embedding_store

    s4 = embedding_store(spark, SF_SMOKE, 4)
    s9 = embedding_store(spark, SF_SMOKE, 9)
    assert s4.index != s9.index
    assert (s4.screen, s4.exact) == (s9.screen, s9.exact)

    def ids(path):
        return {r.vec_id for r in
                spark.read.parquet(path).select("vec_id").distinct().collect()}

    tier_ids = ids(s9.exact)
    assert tier_ids and ids(s9.screen) == tier_ids
    assert ids(s4.index) == ids(s9.index) == tier_ids
