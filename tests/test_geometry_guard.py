"""Fixture-geometry guard (r7 verdict item 3).

Three rounds in a row the same hazard class recurred: a bucket-geometry
constant pinned for the sf0.01 oracle fixtures (SRP bits r6, IVF cells
r7, SimHash band width r7) silently went quadratic at corpus scale
because bucket SPACE was fixed while N grew. Each fix was manual. This
test makes the lesson structural:

1. every registry entry whose tags mark it as bucket-geometry-bearing
   (``lsh`` / ``ivf`` / ``simhash``) must be ADJUDICATED below — either
   a fixture operating point paired with a registered, oracle-gated
   ``*_scaled`` sibling, a scaled sibling itself, a same-knob reuse of
   a graduation pinned elsewhere, or a documented unbounded-bucket-space
   design (MinHash band signatures hash into an effectively unbounded
   space, so occupancy tracks true duplicates, not N). Registering a
   NEW banded operator without adjudicating it here fails the test.
2. every scaled operating point's geometry must DERIVE from the
   N/occupancy sizing rule (``ivf_cells_for_corpus``-style), not be
   another magic number: occupancy at the sf1.0 probe corpus must land
   inside the rule's band.
"""

from __future__ import annotations

import math

from full_stack_big_data_spark.operators import dedup, similarity
from full_stack_big_data_spark.operators.registry import load_all

# The sf1.0 probe corpus (scripts/make_sf1.py): 20 k embeddings / 20 k
# documents — the N every scaled operating point was sized for.
SF1_N = 20_000

# Bucket-geometry tag set: any registry entry carrying one of these is
# in the hazard class and must appear in exactly one bucket below.
GEOMETRY_TAGS = {"lsh", "ivf", "simhash", "phash"}

# Fixture operating point → its corpus-scaled, oracle-gated sibling.
FIXTURE_TO_SCALED = {
    "dedup_simhash": "dedup_simhash_scaled",
    "ann_ivf": "ann_ivf_scaled",
    "embedding_neardup_banded": "embedding_neardup_banded_scaled",
    # r12 (r11 verdict item 1): the embedding gate lifecycle graduates —
    # the fixture gates become explicit sensor contrasts with registered
    # oracle-gated scaled siblings, and the compact entry folds the
    # scaled drain.
    "stream_embedding_admit": "stream_embedding_admit_scaled",
    "stream_embedding_ingest": "stream_embedding_ingest_scaled",
    "emb_knn_graph": "emb_knn_graph_scaled",
    "multimodal_phash_neardup": "multimodal_phash_neardup_scaled",
}

# Scaled operating points (including storage/serving variants that run
# AT the scaled geometry).
SCALED = {
    "dedup_simhash_scaled",
    "ann_ivf_scaled",
    "ann_ivf_index_persist",        # persists/serves the scaled IVF index
    "ann_ivf_index_append",         # appends/compacts at the same geometry
    "embedding_neardup_banded_scaled",
    "emb_knn_graph_scaled",
    "multimodal_phash_neardup_scaled",
    "multimodal_phash_clusters",     # components over the scaled pairs
    "multimodal_phash_apply",        # anti-join application of the same
    "multimodal_phash_incremental",  # bipartite join at the scaled banding
    "multimodal_phash_index_persist",  # same join served from the stored index
    "multimodal_phash_index_append",   # append+compact, self-join at the
                                       # scaled banding from the result
    "stream_phash_admit",            # per-batch bipartite join at the
                                     # scaled banding vs the stored index
    "stream_phash_ingest",           # same per-batch join; survivors grow
                                     # the index via epoch partitions
    "pipeline_curate_images",        # composes the scaled clusters stage
    "embedding_semdedup",            # candidates bounded by IVF cell
                                     # occupancy at the N/64-sized scaled
                                     # codebook (IVF_CELLS_WIDE)
    "embedding_semdedup_apply",      # anti-join application of the same
    "embedding_semdedup_multiprobe", # same N/64-sized codebook, r=2
                                     # probes: candidates stay occupancy-
                                     # bounded (≤ probes² × the r=1
                                     # volume; sensor + CAND_CEIL row)
    "stream_embedding_admit_scaled",  # the admit gate AT SRP_BITS_WIDE —
                                      # per-batch bipartite join vs the
                                      # scaled-geometry stored index;
                                      # recall contract pinned in
                                      # test_streaming.py::test_embedding
                                      # _admit_gate_recall_contract
    "stream_embedding_ingest_scaled", # same join + epoch append; the
                                      # drain embedding_index_compact
                                      # folds
    "embedding_index_compact",        # fold + checksum of the SCALED
                                      # ingest's grown index — runs AT
                                      # the graduated geometry end-to-end
    "ann_ivfpq_adc",                  # composed IVFADC runs AT the
                                      # graduated coarse geometry
                                      # (IVF_CELLS_WIDE, the N/64 rule —
                                      # ann_ivf_scaled's knob); the PQ
                                      # half has no bucket geometry
                                      # (fixed S×C codebook, candidates
                                      # come from the IVF side only)
    "ann_ivfpq_index_persist",        # r14: the same composed geometry
                                      # persisted — cell-partitioned
                                      # codes store + DPP serve at
                                      # IVF_CELLS_WIDE
    "ann_ivfpq_index_append",         # append+compact at the same
                                      # geometry (codebook a generation
                                      # constant, coarse cells N/64)
    "stream_ivf_ingest",              # per-batch assignment with the
                                      # SAME N/64 sign codebook (an
                                      # index constant); no candidate
                                      # join at all — growth only
    "ivf_index_vacuum",               # the retention lifecycle over
                                      # the same cell-partitioned
                                      # store; serve = ann_ivf_scaled's
                                      # DPP plan at IVF_CELLS_WIDE
    "stream_ivfpq_ingest",            # the codes store's streaming
                                      # ingest at the same composed
                                      # geometry (coarse N/64; PQ has
                                      # no bucket space)
}

# Entries that reuse a knob whose graduation is already pinned by a
# scaled sibling elsewhere — re-registering the same geometry would
# duplicate the oracle without new coverage.
SAME_KNOB = {
    "ann_srp_lsh": "embedding_neardup_banded_scaled",       # SRP_BITS knob
    "ann_incremental": "embedding_neardup_banded_scaled",   # SRP_BITS knob
    "ann_index_persist": "embedding_neardup_banded_scaled", # SRP_BITS knob
}

# Banding into an UNBOUNDED bucket space: MinHash band signatures are
# hashes of r minhash values — the bucket id domain is the hash range,
# so per-bucket occupancy tracks true-duplicate density, not N/buckets.
# No fixed geometry to outgrow (measured flat in the sf1.0 probes).
UNBOUNDED_BUCKET_SPACE = {
    "dedup_minhash_lsh",
    "dedup_incremental",
    "decontam_fuzzy",   # bipartite join over the same _band_rows md5 buckets
    "multimodal_frame_neardup",  # frame-hash sets through the same
                                 # _band_rows md5 buckets — occupancy
                                 # tracks true duplicates, not N
    "stream_text_admit",         # per-batch bipartite join over the same
                                 # _band_rows md5 buckets (the persisted
                                 # dedup_incremental index)
    "text_index_compact",        # fold + checksum of the grown text
                                 # index — no banded join of its own,
                                 # same unbounded md5 buckets
    "stream_text_ingest",        # the text admit gate's banding + an
                                 # epoch append — same persisted index,
                                 # same unbounded md5 buckets
    "stream_pipeline_curate",    # composes stream_text_admit's banding
                                 # (same persisted index, same md5
                                 # buckets) behind the quality/decontam
                                 # stages — no new geometry
    "text_index_vacuum",         # the retention lifecycle: both its
                                 # drains are the text gate's banding
                                 # over the same unbounded md5 buckets
                                 # (private generations, same geometry)
                                 # — no new knob, occupancy tracks true
                                 # duplicates as for the whole family
}


def test_every_geometry_tagged_entry_is_adjudicated():
    reg = load_all()
    tagged = {n for n, spec in reg.items()
              if GEOMETRY_TAGS & set(spec.tags)}
    adjudicated = (set(FIXTURE_TO_SCALED) | SCALED | set(SAME_KNOB)
                   | UNBOUNDED_BUCKET_SPACE)
    unadjudicated = tagged - adjudicated
    assert not unadjudicated, (
        f"new bucket-geometry operator(s) {sorted(unadjudicated)} — "
        f"either register an oracle-gated *_scaled sibling sized by the "
        f"N/occupancy rule and add the pair to FIXTURE_TO_SCALED, or "
        f"adjudicate the entry into SAME_KNOB / UNBOUNDED_BUCKET_SPACE "
        f"with the reviewed reason (tests/test_geometry_guard.py)")
    # No stale adjudications for queries that no longer exist either.
    ghosts = adjudicated - set(reg) - set(SAME_KNOB.values())
    assert not ghosts, f"adjudicated but unregistered: {sorted(ghosts)}"


def test_fixtures_have_registered_oracle_gated_scaled_siblings():
    reg = load_all()
    for fixture, scaled in FIXTURE_TO_SCALED.items():
        assert fixture in reg, fixture
        assert scaled in reg, (fixture, scaled)
        assert reg[scaled].oracle is not None, (
            f"{scaled} must be oracle-gated — a scaled sibling without "
            f"a DuckDB twin is a rows-only claim")
    for name, covered_by in SAME_KNOB.items():
        assert covered_by in reg and reg[covered_by].oracle is not None, name


def test_ivf_cells_derive_from_the_sizing_rule():
    assert similarity.IVF_CELLS_WIDE == similarity.ivf_cells_for_corpus(SF1_N)
    # The rule itself: occupancy stays within 2x of target across scales.
    for n in (SF1_N, 10 * SF1_N, 100 * SF1_N):
        cells = similarity.ivf_cells_for_corpus(n)
        occ = n / cells
        assert occ <= 2 * similarity.IVF_OCCUPANCY, (n, cells, occ)


def test_srp_bits_derive_from_the_occupancy_band():
    # 2^bits ~= N/64: per-bucket occupancy at the probe corpus must sit
    # inside the rule's band (within 2x either side of the target 64,
    # log2 rounding can land on either neighbor power of two).
    occ = SF1_N / (2 ** similarity.SRP_BITS_WIDE)
    assert 16 <= occ <= 128, occ
    # And the fixture really is the hazard the sibling graduates from:
    fixture_occ = SF1_N / (2 ** similarity.SRP_BITS)
    assert fixture_occ > 128, "fixture no longer a hazard — update guard"


def test_simhash_scaled_geometry_derives_from_the_rules():
    # Band COUNT: the pigeonhole minimum for hamming <= HAMMING_MAX
    # (any fewer bands loses pairs; any more multiplies candidates).
    assert dedup.SIMHASH_BANDS_SCALED == dedup.HAMMING_MAX + 1
    # Band WIDTH: bucket space per band sized to the corpus.
    occ = SF1_N / (2 ** dedup.SIMHASH_BAND_BITS_SCALED)
    assert occ <= 64, occ
    # Signature width is exactly bands x band_bits (disjoint bands).
    assert (dedup.SIMHASH_BITS_SCALED
            == dedup.SIMHASH_BANDS_SCALED * dedup.SIMHASH_BAND_BITS_SCALED)
    # The fixture point stays quadratic by construction — documented,
    # not silently fixed (its _scaled sibling is the deployment point):
    # 4-bit nibble bands give 16 buckets/band, occupancy N/16.
    assert SF1_N / 16 > 128, "fixture no longer a hazard — update guard"


def test_phash_scaled_geometry_derives_from_the_rules():
    from full_stack_big_data_spark.operators import multimodal as mm

    # Band COUNT at the scaled point: pigeonhole minimum for the ball.
    assert (mm.PHASH_BITS // mm.PHASH_BAND_BITS_SCALED
            == mm.PHASH_HAMMING_MAX + 1)
    assert mm.PHASH_BITS % mm.PHASH_BAND_BITS_SCALED == 0
    # Band WIDTH: bucket space per band sized to the corpus.
    occ = SF1_N / (2 ** mm.PHASH_BAND_BITS_SCALED)
    assert occ <= 64, occ
    # The fixture point stays a documented hazard (6-bit bands → 64
    # buckets/band, occupancy N/64):
    assert SF1_N / (2 ** mm.PHASH_BAND_BITS) > 128, (
        "fixture no longer a hazard — update guard")


def test_minhash_bucket_space_is_genuinely_unbounded():
    # The UNBOUNDED_BUCKET_SPACE adjudication rests on band signatures
    # hashing into the full md5 space — if the banding ever switches to
    # a modular/masked bucket id, per-bucket occupancy becomes N/space
    # and dedup_minhash_lsh must move to FIXTURE_TO_SCALED.
    import inspect

    # the bucket ids are computed by _band_rows's Arrow kernel
    src = inspect.getsource(dedup._minhash_buckets)
    assert "md5" in src, (
        "minhash bucket ids no longer full-width hashes — re-adjudicate "
        "dedup_minhash_lsh in tests/test_geometry_guard.py")
    assert "%" not in src.split("md5")[-1].split("alias")[0], (
        "bucket id reduced modulo a fixed space — re-adjudicate")
