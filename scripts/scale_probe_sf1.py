"""sf0.1 -> sf1.0 scale probe for the heavy query families (r5 verdict
item 1): one real decade of data instead of a synthetic replicate,
turning the SURVEY §9 constructive 100 TB argument into a measured curve.

For each query: wall time at sf0.1 and at sf1.0 (best of N full
executions through the noop sink), result row counts at both scales,
the time ratio vs the family's predicted scaling exponent (all probed
families are designed linear, so predicted ratio = 10x; a measured
ratio well under 10x means fixed per-job overhead still dominates —
fine; a ratio ABOVE ~1.2 * 10x flags superlinear work), and a plan
check that the sf1.0 physical plan contains no cartesian product and
no new single-partition exchange (the "plan flip" failure mode).

Usage: python scripts/scale_probe_sf1.py [query ...]
Needs /root/repo/.localdata/sf1.0 (python scripts/make_sf1.py first).
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from full_stack_big_data_spark.engine.session import (get_spark,
                                                      release_scoped_cache)
from full_stack_big_data_spark.operators.registry import load_all

SF01 = "/root/testdata/sf0.1"
SF10 = os.path.join(HERE, ".localdata", "sf1.0")

# (query, cost model, one-line scaling argument). Cost models:
#   "linear" — cost ∝ input rows: predicted ratio = 10x;
#   "output" — cost ∝ result size (pair/edge-producing operators whose
#     work is candidates ≈ true pairs): predicted ratio =
#     max(10, measured output growth). The embeddings fixture NEEDS
#     this honesty: at NEARDUP_COS=0.40 a 64-dim space genuinely
#     densifies when 10x points land in it (~100x true pairs even
#     after per-copy sign-flip decorrelation — cross-copy cosine
#     concentrates at 0 with std ~ 1/sqrt(64), and 1.8e8 cross pairs
#     sample that tail). Those pairs are REAL near-dups of the scaled
#     corpus; the engine claim under test is cost ∝ true pairs, never
#     corpus².
PROBES = [
    ("q1_pricing_summary", "linear", "single scan + partial agg"),
    ("q5_local_supplier_volume", "linear", "broadcast dims + 1 fact shuffle"),
    ("dedup_minhash_lsh", "output", "banded candidates grow with true pairs"),
    ("dedup_editdistance", "output", "prefix-filter candidates"),
    ("ann_ivf", "linear", "bucketed probe, cells fixed"),
    ("ann_pq_adc", "linear", "fixed query set x 10x codes"),
    ("embedding_dedup_clusters", "output", "component loop ∝ pair list"),
    ("pack_sequences", "linear", "bucket-parallel prefix sum"),
    ("q_pagerank", "linear", "fixed iterations over 10x edges"),
    ("q_triangle_count", "linear", "degree-oriented wedges, degree dist fixed"),
    # batch 2 (round 6): one probe per remaining heavy family
    ("text_tfidf_top_terms", "linear", "token-keyed shuffle, vocab-bounded"),
    ("bpe_pair_counts", "linear", "adjacent-pair map + one count shuffle"),
    ("corpus_shuffle", "linear", "one-exchange global permutation"),
    ("q_cdc_merge", "linear", "latest-wins groupBy+max_by, one exchange"),
    ("text_bm25_topk", "linear", "map-only scoring + broadcast stats"),
    ("decontam_fuzzy", "output", "broadcast eval grams; matches grow with hits"),
    ("q_heavy_hitters", "linear", "exact two-pass: count shuffle + filter"),
    ("q_sessionize", "linear", "one user shuffle + window gaps"),
    ("q_ohlc_bars", "linear", "event-time bucket agg"),
    ("dedup_ngram_jaccard", "output", "exact-verify join ∝ true pairs"),
    ("q18_large_volume", "linear", "double fact join, dims broadcast"),
    ("sample_weighted", "linear", "content-hash membership, map-only"),
    # batch 3 (round 7): the scaled IVF operating point (r6 verdict
    # item 2 — last fixture-pinned index constant)
    ("ann_ivf_scaled", "linear",
     "C ≈ N/64 sign codebook: occupancy, and so probe scan, flat"),
    ("ann_ivf_index_persist", "linear",
     "partitioned index write is map-side; serve is DPP-pruned to probes/C"),
    ("multimodal_decode_dispatch", "linear",
     "two map-only Arrow passes, zero exchanges"),
    ("dedup_simhash_scaled", "output",
     "12-bit bands: occupancy N/4096, candidates ∝ near-pairs"),
    # batch 4 (round 8): the iterative BPE trainer, and the simhash
    # FIXTURE operating point — probed not to pass but to make its
    # documented quadratic VISIBLE in the candidates column (r7 verdict
    # item 4: wall time on a 32-core box absorbed the blowup; the
    # candidate count cannot hide it).
    ("bpe_train_merges", "linear",
     "k merges over the Heaps-law word table; corpus touched once"),
    ("dedup_simhash", "fixture",
     "4-bit nibble bands: occupancy N/16 — Θ(N²/16) by construction"),
    ("bpe_merges_persist", "linear",
     "stored merges + one fold pass: corpus scan + vocab-bounded agg"),
    ("sample_temperature", "linear",
     "two lang-sized aggs + one lang-keyed window exchange"),
    # batch 5 (round 9): the multimodal perceptual-hash near-dup at its
    # deployment banding point, and the persisted-BPE serve path (the
    # trainer has its decade row; the fold APPLY needed one too).
    ("multimodal_phash_neardup_scaled", "output",
     "12-bit bands over the 60-bit dHash: occupancy N/4096, "
     "candidates ∝ near-pairs; hashing is two map-only Arrow passes"),
    ("bpe_tokenize_serve", "linear",
     "stored merge table broadcast + one fold pass over the corpus"),
    ("multimodal_frame_neardup", "output",
     "frame-hash sets through the md5-bucket LSH: candidates grow with "
     "true frame-set near-dups"),
    ("multimodal_phash_incremental", "output",
     "bipartite banded join: new-dump band rows vs corpus band rows"),
    # the phash FIXTURE banding point, probed (like dedup_simhash) to
    # make its documented geometry failure VISIBLE in the candidates
    # column: 6-bit bands = 64 buckets/band, occupancy-only floor at
    # 50k docs ~ 10 x (50k/64)/2 ~ 3,900 cand/N >> the 512 ceiling.
    ("multimodal_phash_neardup", "fixture",
     "6-bit bands: occupancy N/64 — Θ(N²/64) by construction"),
    # batch 6 (round 10): the image family's cluster/apply path (r9
    # verdict item 3 — 806× more pairs at sf1.0 than the bench gate, so
    # the component loop and the drop-list anti-join need decade rows),
    # the bipartite index-serve paths with explicit ceilings (item 7),
    # and the two new r10 operators.
    ("multimodal_phash_clusters", "output",
     "min-label components over the scaled-banding pair list: rounds = "
     "component diameter, each round shuffles edges, never the corpus"),
    ("multimodal_phash_apply", "output",
     "pairs-derived drop list broadcast anti-joined against one corpus scan"),
    ("multimodal_phash_index_persist", "output",
     "bipartite banded join: new-dump band rows vs the STORED corpus index"),
    ("multimodal_phash_index_append", "output",
     "append renders the dump only (scan-level pred); compaction is one "
     "index-sized exchange; serve is the scaled-banding self-join"),
    ("embedding_semdedup", "output",
     "within-cell pair join: candidates bounded by IVF cell occupancy "
     "(N/64 sizing rule), component loop ∝ true near-pairs"),
    ("dedup_incremental", "output",
     "bipartite minhash bucket join: new-batch band rows vs corpus band "
     "rows in an unbounded md5 bucket space"),
    ("pipeline_curate_images", "output",
     "gate is two map-only Arrow passes; cluster stage shuffles band rows "
     "+ bounded pairs; sample map-only; stats one small agg exchange"),
    ("embedding_semdedup_apply", "output",
     "broadcast anti-join of the within-cell drop list over one corpus "
     "scan (composes embedding_semdedup)"),
    # batch 7 (round 11): the ingest gates probed with FRESH output/
    # checkpoint dirs (r10 verdict item 2 — the memoized availableNow
    # shape re-drains zero batches on rep 2, hiding both wall time and
    # the candidate sensors), plus the new multiprobe SemDeDup point.
    ("embedding_semdedup_multiprobe", "output",
     "r=3 probed cells (the r13 measured recall-curve knee): raw "
     "collisions ≤ probes² × the r=1 within-cell volume; verify ∝ "
     "candidates, component loop ∝ true pairs"),
    ("stream_text_admit", "output",
     "fresh-dirs drain: bipartite minhash bucket join vs the stored "
     "band index (unbounded md5 buckets), jaccard verify point-fetch "
     "∝ candidates"),
    ("stream_embedding_admit_scaled", "output",
     "fresh-dirs drain of the REGISTERED scaled gate (16×9 bits, r11 "
     "verdict item 1 — the deployment knob is now a driver-checked "
     "entry, not a probe override); exact-cosine verify point-fetch "
     "∝ candidates"),
    ("stream_phash_admit", "output",
     "fresh-dirs drain: per-batch BMP render+dHash (two Arrow passes) "
     "+ bipartite banded-hamming join vs the stored signature index"),
    ("stream_pipeline_curate", "output",
     "fresh-dirs drain: quality gate (map-only) → broadcast gram check "
     "→ banded near-dup admit over ONE shared batch scan"),
    ("stream_text_ingest", "output",
     "fresh-dirs drain: the text admit join + an epoch-keyed append of "
     "survivors' band rows — same unbounded md5 buckets"),
    ("stream_embedding_ingest_scaled", "output",
     "fresh-dirs drain of the REGISTERED scaled ingest (16×9 bits); "
     "admit join + epoch-keyed append of survivors' SRP rows"),
    ("text_index_compact", "linear",
     "fresh-dirs lifecycle (r11 ADVICE: the compact caches are now "
     "enrolled in the gate-cache registry, so every rep re-runs ingest "
     "drain + fold + payload rebuild instead of timing the memoized "
     "gen2 read): one index-sized exchange (repartition on band) + one "
     "payload rebuild pass"),
    ("embedding_index_compact", "linear",
     "fresh-dirs lifecycle over the SCALED ingest drain (r11 verdict "
     "item 1): one index-sized exchange (repartition on table_id) + "
     "one payload rebuild pass"),
    # r12: the streaming reservoir — map-side key projection +
    # per-batch top-k + k-row snapshot merge; state and snapshot I/O
    # are O(k) regardless of stream length (the reservoir property).
    ("stream_reservoir_sample", "linear",
     "fresh-dirs drain: per-batch TakeOrdered top-k + k-row versioned "
     "snapshot merge; state O(k), scan is the only corpus-sized term"),
    ("stream_reservoir_weighted", "linear",
     "same fold, exponential-race key (A-Res, weight = n_chars)"),
    # r13: the registered vacuum lifecycle — base build + ingest drain
    # + fold + reclaim + post-vacuum serve drain, all linear passes;
    # vacuum itself is driver-side directory ops on superseded paths.
    ("text_index_vacuum", "linear",
     "full retention lifecycle per rep (private dirs re-created by the "
     "enrolled caches): base index/payload build (linear) + ingest "
     "drain + one fold exchange + payload rebuild + driver-side "
     "reclaim + post-vacuum admit drain (unbounded md5 buckets)"),
    # r13: the composed IVFADC — index is two map-only Arrow
    # projections; per-query work is probes × occupancy candidates ×
    # 8 LUT lookups, occupancy held by the N/64 sizing rule.
    ("ann_ivfpq_adc", "linear",
     "coarse cells prune the scan to probes/cells; ADC sum is the one "
     "exchange, ∝ candidates = probes × occupancy per query"),
    # r14: the persisted IVFADC generation (build = map-only encode +
    # cell-partitioned write, training memoized per process like the
    # BPE artifacts; serve = DPP-pruned probes/C scan + map-side ADC
    # fold), its append lifecycle (adds one base-training scan + one
    # index-sized compaction exchange per rep), the JPEG codec (two
    # map-only Arrow passes, DCT+Huffman per image, zero exchanges),
    # and the IVF store's streaming lifecycle (fresh-dirs drains).
    ("ann_ivfpq_index_persist", "linear",
     "map-only encode streamed to a partitioned write; serve reads "
     "probes/C of the 4-byte-code generation under DPP"),
    ("ann_ivfpq_index_append", "linear",
     "base training scan + map-side assignment writes + one "
     "index-sized compaction exchange; serve DPP-pruned"),
    ("multimodal_decode_jpeg", "linear",
     "two map-only Arrow passes (render + entropy decode), zero "
     "exchanges; per-image cost fixed by the w≤16×h≤9 geometry"),
    ("stream_ivf_ingest", "linear",
     "fresh-dirs drain: per-batch Arrow assignment + epoch partition "
     "write; zero streaming state, no candidate join at all"),
    ("ivf_index_vacuum", "linear",
     "fresh-dirs lifecycle: base build + drain + one cell-keyed fold "
     "exchange + driver-side reclaim + DPP-pruned serve"),
]

# Candidate-volume ceilings for the banded families (r7 verdict item 4):
# query -> (corpus table, documented cand/N ceiling, violation expected).
# The ceiling is the design bound the geometry buys: bands x occupancy/2
# with occupancy held ≈ constant by the N/occupancy sizing rule (SRP's
# 16 tables x occ 64 -> 512; simhash's 5 bands x occ ~5 and minhash's
# true-dup-driven buckets sit far below 64). The FIXTURE simhash row is
# EXPECTED to blow through it — that's the sensor working.
CAND_CEIL = {
    "dedup_simhash": ("documents", 64.0, True),
    "dedup_simhash_scaled": ("documents", 64.0, False),
    "dedup_minhash_lsh": ("documents", 64.0, False),
    "embedding_dedup_clusters": ("embeddings", 1024.0, False),
    # phash scaled point: output-aware ceiling, the embeddings
    # precedent (embedding_dedup_clusters, 1024). The sf1.0 corpus is
    # 10 suffix-digit copies of every document — near-IDENTICAL as
    # IMAGES (the digit swap barely moves sampled intensities), so
    # 199,649 of the 256,151 verified pairs are same-base copy pairs,
    # REAL near-dups of this corpus. Measured decomposition of the
    # 218.6 cand/N (contiguous bands): ~30 uniform-occupancy floor
    # (5 bands x 12.2/2; median band-bucket occupancy == uniform),
    # ~20 true-pair band hits, remainder content-pattern hot values
    # (token-repetitive text -> monotone/alternating gradient rows;
    # interleaved banding measured 2x WORSE, see
    # dedup.banded_hamming_pairs). 512 leaves headroom over the
    # content term while sitting 7x under the fixture geometry's
    # occupancy-only floor (10 bands x (50k/64)/2 ~ 3,900).
    "multimodal_phash_neardup_scaled": ("documents", 512.0, False),
    # frame-set minhash: unbounded md5 bucket space (the text
    # minhash adjudication) — occupancy tracks true duplicates.
    "multimodal_frame_neardup": ("documents", 64.0, False),
    # bipartite phash: same content-dense corpus as the scaled
    # self-join, roughly half the band rows on the probe side.
    "multimodal_phash_incremental": ("documents", 512.0, False),
    # the fixture banding point is EXPECTED to blow through the
    # family ceiling — the sensor catching the hazard class.
    "multimodal_phash_neardup": ("documents", 512.0, True),
    # r10 (r9 verdict item 7): explicit ceilings for every bipartite /
    # composed banded path, so a regression has a contract to violate.
    # The cluster/apply/persist/append entries all run the scaled 5×12
    # banding over the same content-dense corpus — same 512 output-
    # aware ceiling as the scaled self-join (apply + clusters compose
    # it; persist is bipartite ≈ half the band rows; append's self-join
    # reads the identical signature set from disk).
    "multimodal_phash_clusters": ("documents", 512.0, False),
    "multimodal_phash_apply": ("documents", 512.0, False),
    "multimodal_phash_index_persist": ("documents", 512.0, False),
    "multimodal_phash_index_append": ("documents", 512.0, False),
    # within-cell SemDeDup: uniform-occupancy floor is occ/2 ≈ 39 at
    # N=20k over 256 cells; 256 leaves ~6× headroom for sign-codebook
    # cell skew while sitting far under any quadratic regime (which
    # would read ≥ N/2 = 10k).
    "embedding_semdedup": ("embeddings", 256.0, False),
    # bipartite text minhash: unbounded md5 bucket space, occupancy
    # tracks true duplicates (the family's adjudication) — same 64
    # ceiling as the self-join minhash.
    "dedup_incremental": ("documents", 64.0, False),
    "pipeline_curate_images": ("documents", 512.0, False),
    "embedding_semdedup_apply": ("embeddings", 256.0, False),
    # r11 (r10 verdict items 2+4): the gate sensors get ceilings AND
    # probe rows (a ceiling without a PROBES row never runs).
    # Multiprobe: raw collisions ≤ probes² × the r=1 volume → 9 × 256
    # at the r13 measured operating point SEMDEDUP_PROBES = 3 (the
    # recall-curve knee, scripts/semdedup_recall_curve.py).
    "embedding_semdedup_multiprobe": ("embeddings", 2304.0, False),
    # text gate + composed curation: the bipartite minhash adjudication
    # (unbounded md5 buckets, occupancy tracks true duplicates) — the
    # dedup_incremental ceiling.
    "stream_text_admit": ("documents", 64.0, False),
    "stream_pipeline_curate": ("documents", 64.0, False),
    # embedding gate at the N/64 sizing rule — now the registered
    # scaled entries themselves (r11 verdict item 1): the banded-
    # embedding family ceiling.
    "stream_embedding_admit_scaled": ("embeddings", 1024.0, False),
    # phash gate runs the scaled 12-bit banding → the family's 512.
    "stream_phash_admit": ("documents", 512.0, False),
    # the ingest twins run their admit gate's join + an append.
    "stream_text_ingest": ("documents", 64.0, False),
    "stream_embedding_ingest_scaled": ("embeddings", 1024.0, False),
}


def _clusters_scaled_bits(spark, sf):
    """embedding_dedup_clusters at the DEPLOYMENT operating point.

    The registered entry pins SRP at the fixture defaults (16 tables x
    4 bits) so its DuckDB oracle stays hash-exact — and at 10x vectors
    that fixed bucket width is the documented pathology: bucket
    occupancy grows 10x, the quadratic-in-occupancy bucket self-join
    grows 100x (measured 35.9x wall at sf1.0 — the probe run that
    motivated this override; BENCHNOTES round 6). A deployment instead
    applies srp_bucket_rows' sizing rule 2^bits ~= N/64, which keeps
    per-bucket work constant so candidates stay linear in N. This
    builder IS that deployment: same operator composition, bits derived
    from the corpus count (sf0.1: 2k -> 5 bits; sf1.0: 20k -> 9 bits).
    """
    import math

    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.dedup import min_label_components
    from full_stack_big_data_spark.operators.similarity import \
        banded_neardup_pairs

    emb = Catalog(spark, sf).embeddings
    n = emb.count()
    bits = max(4, math.ceil(math.log2(max(n, 128) / 64)))
    pairs = banded_neardup_pairs(emb, bits=bits).select("vec_a", "vec_b")
    return min_label_components(pairs, a="vec_a", b="vec_b", id_col="vec_id")


# Probe-side deployment-knob overrides: registered entries whose oracle
# pins a fixture-sized constant get re-probed at the documented
# corpus-scaled setting (the claim under test is the ENGINE's scaling
# at the knob a deployment would actually run).
def _bpe_serve_only(spark, sf):
    """bpe_merges_persist's SERVE path, measured without train-time
    ambiguity (r8 verdict item 6): the merge-table artifact memoizes
    per (process, sf_dir), so rep 1 pays the one-time train+write and
    best-of-reps reports the pure stored-merges fold apply — the
    number a deployment tokenizing forever actually sees."""
    from full_stack_big_data_spark.operators import textanalysis as ta

    ta._bpe_artifact_dir(spark, sf)
    return ta.bpe_merges_persist(spark, sf)


def _fresh_gate(name):
    """Ingest-gate probe wrapper (r10 verdict item 2): reset the
    memoized output/checkpoint dirs before every invocation so each
    rep re-drains the full feed — rep timing measures the gate, and
    the candidate sensors (which only fire inside a running
    micro-batch) actually observe. The index/payload artifacts stay
    memoized: a production gate reads persisted corpus-side state
    every batch and pays its build once."""
    def run(spark, sf):
        from full_stack_big_data_spark.operators.registry import \
            load_all as _la
        from full_stack_big_data_spark.engine import scratch
        scratch.forget_runs()
        return _la()[name].builder(spark, sf)
    return run


BUILDER_OVERRIDES = {
    "embedding_dedup_clusters": _clusters_scaled_bits,
    "bpe_tokenize_serve": _bpe_serve_only,
    "stream_text_admit": _fresh_gate("stream_text_admit"),
    "stream_phash_admit": _fresh_gate("stream_phash_admit"),
    # r12 (r11 verdict item 7): make_sf1 now preserves stopword
    # surface forms, so the composed curate gate probes at its
    # REGISTERED en_hits rule — the _curate_en_free override is gone.
    "stream_pipeline_curate": _fresh_gate("stream_pipeline_curate"),
    # r12: the scaled embedding gates are REGISTERED entries now (r11
    # verdict item 1) — the probe runs the shipped builders fresh-dirs
    # instead of hand-assembled scaled-bits copies.
    "stream_embedding_admit_scaled": _fresh_gate(
        "stream_embedding_admit_scaled"),
    "stream_text_ingest": _fresh_gate("stream_text_ingest"),
    "stream_embedding_ingest_scaled": _fresh_gate(
        "stream_embedding_ingest_scaled"),
    # r11 ADVICE: the compact entries memoize their fold — probe them
    # fresh-dirs so reps ≥ 2 re-run the whole lifecycle (ingest drain +
    # fold + payload rebuild), not the gen2 read.
    "text_index_compact": _fresh_gate("text_index_compact"),
    "embedding_index_compact": _fresh_gate("embedding_index_compact"),
    "stream_reservoir_sample": _fresh_gate("stream_reservoir_sample"),
    "stream_reservoir_weighted": _fresh_gate("stream_reservoir_weighted"),
    # r13: the vacuum lifecycle memoizes its gen2 + serve dirs — probe
    # fresh-dirs so every rep re-runs build + drain + fold + reclaim +
    # serve, not a memoized gen2 read.
    "text_index_vacuum": _fresh_gate("text_index_vacuum"),
    # r14: the IVF store's streaming entries memoize drains/gen2 via
    # the registered caches — probe them fresh-dirs like their text/
    # SRP siblings (the corpus-side base generation stays memoized,
    # production steady state).
    "stream_ivf_ingest": _fresh_gate("stream_ivf_ingest"),
    "ivf_index_vacuum": _fresh_gate("ivf_index_vacuum"),
    "stream_ivfpq_ingest": _fresh_gate("stream_ivfpq_ingest"),
}

# NOTE: ann_ivfpq_adc enrolls in PROBES with the "linear" model — at
# the fixed N/64-rule geometry its candidate volume is probes ×
# occupancy per query, and occupancy is held ≈ constant by the sizing
# rule, so the decade's only corpus-sized terms are the index pass's
# two Arrow projections.


def _timed(spark, builder, sf, reps):
    best, rows = float("inf"), None
    for _ in range(reps):
        release_scoped_cache(spark)
        t0 = time.perf_counter()
        df = builder(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    release_scoped_cache(spark)
    rows = builder(spark, sf).count()
    release_scoped_cache(spark)
    return best, rows


def _plan_flags(spark, builder, sf):
    try:
        df = builder(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        # Iterative builders (pagerank, component loops) can nest the
        # final lineage deep enough that the JVM's recursive
        # generateTreeString overflows its stack — a PRINTER limit, not
        # a plan property; the executed run above already proved the
        # plan works. Skip the static flags for those.
        return "?", -1
    finally:
        release_scoped_cache(spark)
    return ("CARTESIAN" if "CartesianProduct" in plan else "",
            plan.count("SinglePartition"))


def main() -> int:
    names = sys.argv[1:] or [p[0] for p in PROBES]
    meta = {p[0]: p[1:] for p in PROBES}
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    if not os.path.isdir(SF10):
        print(f"missing {SF10}: run scripts/make_sf1.py first")
        return 2
    spark = get_spark(app_name="fsbd-sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    bad = []
    print(f"| query | sf0.1 s | sf1.0 s | ratio | pred | rows 0.1->1.0 | 1P delta | cand/N @sf1.0 | verdict |")
    print(f"|---|---|---|---|---|---|---|---|---|")
    for name in names:
        model = meta.get(name, ("linear", ""))[0]
        # Override names need not exist in the registry (bpe_tokenize_serve
        # is probe-only) — dict.get's default arg evaluates eagerly.
        b = (BUILDER_OVERRIDES[name] if name in BUILDER_OVERRIDES
             else reg[name].builder)
        t1, r1 = _timed(spark, b, SF01, reps)
        t10, r10 = _timed(spark, b, SF10, reps)
        cart1, sp1 = _plan_flags(spark, b, SF01)
        cart10, sp10 = _plan_flags(spark, b, SF10)
        cand_str, cand_bad = _candidates(spark, b, name)
        pred = 10.0
        if model == "output" and r1:
            pred = max(10.0, r10 / r1)
        ratio = t10 / t1 if t1 > 0 else float("inf")
        wall_ok = (model == "fixture"   # documented quadratic: no wall gate
                   or ratio <= pred * 1.2)
        ok = wall_ok and cart10 != "CARTESIAN" and not cand_bad
        if not ok:
            bad.append(name)
        verdict = ("FIXTURE (documented)" if model == "fixture" and ok
                   else "OK" if ok else "SUPERLINEAR/FLIP")
        sp_delta = "n/a" if min(sp1, sp10) < 0 else str(sp10 - sp1)
        print(f"| {name} | {t1:.2f} | {t10:.2f} | {ratio:.1f}x | {pred:.0f}x "
              f"| {r1}->{r10} | {sp_delta}"
              f"{' ' + cart10 if cart10 == 'CARTESIAN' else ''} "
              f"| {cand_str} | {verdict} |", flush=True)
    print(f"\nPROBE FAILS: {bad or 'none'} / {len(names)}")
    spark.stop()
    return 1 if bad else 0


def _candidates(spark, builder, name: str) -> tuple[str, bool]:
    """Run the query once at sf1.0 with the candidate sensor on and
    grade total raw bucket collisions per corpus row against the
    family's documented ceiling. Returns (table cell, is_failure):
    a ceiling breach on a deployment row fails; the fixture row is
    REQUIRED to breach — a fixture that suddenly passed would mean the
    corpus or geometry drifted and the guard is stale."""
    info = CAND_CEIL.get(name)
    if info is None:
        return "", False
    table, ceil, expect_violation = info
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.functions import observability as obs

    obs.enable()
    try:
        builder(spark, SF10).write.format("noop").mode("overwrite").save()
        total = sum(obs.candidate_counts().values())
    finally:
        obs.disable()
        release_scoped_cache(spark)
    n = getattr(Catalog(spark, SF10), table).count()
    ratio = total / max(n, 1)
    breached = ratio > ceil
    status = ("BLOWUP (expected)" if breached and expect_violation
              else "BLOWUP" if breached
              else "over-ceiling EXPECTED but passed" if expect_violation
              else "ok")
    return f"{ratio:.1f} (≤{ceil:.0f}: {status})", breached != expect_violation


if __name__ == "__main__":
    sys.exit(main())
