#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes fully through the noop sink (real scan → compute →
exchange work, no driver collect, no sink I/O) — the number is engine
time, not materialization time.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from full_stack_big_data_spark.engine.session import (get_spark,
                                                      release_scoped_cache)
from full_stack_big_data_spark.operators.registry import load_all

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume",
    "q_window_running",
    "wordcount_batch",
    "text_quality",
    "dedup_minhash_lsh",
    "dedup_exact",
    "ann_brute_topk",
    "embedding_neardup",
    "multimodal_features",
    "json_roundtrip",
    # r6 refresh (r5 verdict item 6): the set above was frozen at r1
    # vintage and missed every post-r3 heavy family — these six track
    # the heaviest newer operators round-over-round.
    "ann_pq_adc_trained",   # inline train + re-encode + ADC serve
    "ann_pq_persist",       # same answer served from stored artifacts
    "q_sketch_bloom",       # build + broadcast-probe membership sketch
    "dedup_editdistance",   # Ed-Join prefix-filter candidate join
    "q_delete_propagation", # right-to-be-forgotten cascade
    "q_pagerank",           # iterative: fixed-point integer ranks
    # r7: the two new scale-relevant entries — the corpus-scaled IVF
    # operating point and the container-sniffing mixed-media decode
    "ann_ivf_scaled",
    "multimodal_decode_dispatch",
    # r8 (r7 verdict item 2): the registry's two heaviest plans were
    # only builder-probed, never driver-benched — regressions there
    # were invisible to BENCH_r{N}. dedup_simhash is the documented
    # fixture operating point (Θ(N²/16) candidate join by construction,
    # operators/dedup.py); its _scaled sibling is the deployment point.
    "dedup_simhash",
    "dedup_simhash_scaled",
    "ann_ivf_index_persist",
    # r9: the multimodal perceptual-hash near-dup pair (fixture +
    # deployment banding points, mirroring the simhash pair above).
    "multimodal_phash_neardup",
    "multimodal_phash_neardup_scaled",
    # r10 (r9 verdict item 3): the image family's cluster path — the
    # heavier of clusters/apply at sf0.1 (2.63 s vs 2.21 s, probe
    # batch 6) — so the component-loop + banded-join composition is
    # driver-benched round-over-round, not just builder-probed.
    "multimodal_phash_clusters",
    # r14 (r13 verdict item 7): the composed IVFADC family tracked from
    # birth — the inline composition (trained codebooks + map-side ADC
    # fold) and its persisted-generation twin (build/serve split like
    # ann_ivf_index_persist, so the write-dominated build can't mask a
    # serve regression).
    "ann_ivfpq_adc",
    "ann_ivfpq_index_persist",
    # r14 close: the four entries the round's registry-wide warm
    # re-triage caught ABOVE every bench headline row (10-15 s warm
    # minima) and then fixed — the KMV sketch pair (shingle chain
    # re-inlined 3x by InferFiltersFromGenerate; change 9) and the
    # SRP collision-scoring pair (interpreted HOF cosine over millions
    # of candidate pairs + duplicated bucket-UDF eval; changes 10-11).
    # Tracked from birth per the r13 item-7 rule so a regression in
    # either pathology class is visible round-over-round.
    "q_sketch_kmv",
    "q_sketch_kmv_merge",
    "emb_knn_graph",
    "ann_incremental",
]

# r13 (r12 verdict item 4): streaming representatives — the per-batch
# operators a 100 TB ingest actually runs (text gate, self-growing
# embedding index at deployment geometry, bounded-state reservoir) now
# have round-over-round wall-time tracking, not just probe rows. Each
# rep runs FRESH sink/checkpoint dirs (scratch.forget_runs) so the timing
# is a real drain, never a memoized availableNow no-op; the shared
# corpus-side index/payload artifacts stay memoized (paid once, like
# production). Recorded in the same queries map; the labeled
# like-for-like subtotal (subtotal_prev_round) keeps totals comparable.
STREAMING_HEADLINE = [
    "stream_text_admit",
    "stream_embedding_ingest_scaled",
    "stream_reservoir_sample",
    # r14: the IVFADC codes-store ingest tracked from birth (the r13
    # item-7 rule applied to this round's own heavy family); the base
    # generation's build+train stays memoized across reps — production
    # steady state — so the number prices the drain + serve.
    "stream_ivfpq_ingest",
]

# Fixed sub-second canary timed once per pass: band_spread = max/min of
# its per-pass times, so the artifact self-reports ambient host noise
# (r12 verdict item 6 — every round since r10 needed manual band
# re-attribution of the headline number).
CANARY = "q2_filter_project"


def _prev_round_queries() -> tuple[list[str], int | None]:
    """(query keys, round) of the newest committed BENCH_r{N}.json that
    is NOT this round's own artifact — the previous round's headline
    set. Summing THIS run's times over that set gives a like-for-like
    round-over-round subtotal in the artifact itself (r8 verdict
    item 3), so a grown headline list no longer makes totals
    incomparable.

    "Own artifact" is identified by ROUND NUMBER, not by set equality
    (r11 verdict item 6: the old skip-any-equal-set rule silently
    reached past r10 to r9 whenever the headline was stable between
    rounds — correct arithmetic, wrong label). The current round is
    VERDICT.md's round + 1 (the driver rewrites VERDICT.md before each
    build round); only a within-round re-run after the driver lands
    BENCH_r{current} ever hits the exclusion, and a stable headline
    now compares against LAST round, correctly labeled. When
    VERDICT.md is absent or unparseable (hand-saved artifact trees),
    the pre-r12 heuristic applies unchanged: skip equal-set artifacts,
    and when none differs fall back to the newest (subtotal == total
    IS the like-for-like number there). The source round rides in the
    emitted JSON as ``prev_round_source``."""
    import re as _re

    here = os.path.dirname(os.path.abspath(__file__))
    cur_round = None
    try:
        with open(os.path.join(here, "VERDICT.md")) as f:
            m = _re.search(r"Round\s+(\d+)", f.read(2048))
        if m:
            cur_round = int(m.group(1)) + 1
    except OSError:
        pass
    rounds = []
    for fname in os.listdir(here):
        m = _re.match(r"BENCH_r(\d+)\.json$", fname)
        if m:
            rounds.append((int(m.group(1)), fname))
    newest: tuple[list[str], int | None] = ([], None)
    for rnd, fname in sorted(rounds, reverse=True):
        try:
            with open(os.path.join(here, fname)) as f:
                rec = json.load(f)
            # The driver wraps bench's JSON line under "parsed"; accept
            # the raw line too so a hand-saved artifact works.
            prev = list(rec.get("parsed", rec).get("queries", {}))
        except (OSError, ValueError, AttributeError):
            continue
        if not prev or rnd == cur_round:
            continue
        if cur_round is not None:
            return prev, rnd          # newest non-own, label-faithful
        if newest[1] is None:
            newest = (prev, rnd)
        if set(prev) != set(HEADLINE):
            return prev, rnd
    return newest


def main() -> None:
    reg = load_all()
    spark = get_spark(app_name="fsbd-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once with the cheapest query so per-query times
    # measure the plan, not first-run JIT.
    reg["q2_filter_project"].builder(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    # Warm the Arrow/pandas-UDF path too (executor-side Python workers and
    # Arrow serde spin up on first use — startup cost, not plan cost).
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()

    # Best-of-N per query: a single timing on a shared box folds scheduler
    # noise and page-cache state into the number (round 1 recorded 69 s
    # under contention for a 28 s-idle suite). The min over a few runs is
    # the standard estimator for "what the plan costs"; N via env.
    # reps default 2→3 after r4: the driver's single sweep landed mid-
    # contention and read 2-3× on two untouched plans; a third rep gives
    # the min one more chance to land in a quiet scheduler window.
    #
    # INTERLEAVED schedule since r13 (r12 verdict item 6): reps of one
    # query back-to-back all land in the same thermal/contention window,
    # so a cooling host inflated whole artifacts (r12 read 1.31× hot vs
    # 0.99× idle over identical plans). Running the FULL list per pass
    # and taking per-query minima across passes decorrelates the band
    # from any one query — each query gets three shots spread minutes
    # apart instead of three within the same second.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    all_queries = HEADLINE + STREAMING_HEADLINE
    times: dict[str, float] = {n: float("inf") for n in all_queries}
    components: dict[str, dict[str, float]] = {}
    canary_times: list[float] = []

    def run_noop(name: str) -> float:
        t0 = time.perf_counter()
        reg[name].builder(spark, SF_DIR) \
            .write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for _pass in range(reps):
        canary_times.append(run_noop(CANARY))
        for name in all_queries:
            # Each pass re-persists any operator-level caches; release
            # between queries so a timing is the cold plan cost, not a
            # read of the previous pass's cache.
            release_scoped_cache(spark)
            if name in STREAMING_HEADLINE:
                # fresh sink/checkpoint dirs per rep — a re-drain, not
                # a memoized availableNow no-op (shared index/payload
                # artifacts stay, the production steady state)
                from full_stack_big_data_spark.engine.scratch import \
                    forget_runs
                forget_runs()
            if name in ("ann_ivf_index_persist", "ann_ivfpq_index_persist"):
                # Timed in the two lifecycle halves (r8 verdict item 3):
                # the write-dominated index build would otherwise mask a
                # serve-path regression inside one number. The sum is
                # still recorded under the query name, so round-over-
                # round totals stay comparable.
                from full_stack_big_data_spark.operators.similarity import (
                    ivf_index_build, ivf_index_serve, ivfpq_index_build,
                    ivfpq_index_serve)
                build_fn, serve_fn = {
                    "ann_ivf_index_persist": (ivf_index_build,
                                              ivf_index_serve),
                    "ann_ivfpq_index_persist": (ivfpq_index_build,
                                                ivfpq_index_serve),
                }[name]

                t0 = time.perf_counter()
                path = build_fn(spark, SF_DIR)
                build_s = time.perf_counter() - t0
                t0 = time.perf_counter()
                serve_fn(spark, SF_DIR, path) \
                    .write.format("noop").mode("overwrite").save()
                serve_s = time.perf_counter() - t0
                if build_s + serve_s < times[name]:
                    times[name] = build_s + serve_s
                    components[name] = {"build_s": round(build_s, 3),
                                        "serve_s": round(serve_s, 3)}
                continue
            times[name] = min(times[name], run_noop(name))
    times = {n: round(t, 3) for n, t in times.items()}

    total = round(sum(times.values()), 3)
    batch_total = round(sum(times[n] for n in HEADLINE), 3)
    prev_all, prev_src = _prev_round_queries()
    prev_set = [n for n in prev_all if n in times]
    # Queries the previous round benched but this run didn't are
    # RECORDED, not silently dropped (r9 ADVICE): a query leaving
    # HEADLINE shrinks the like-for-like set, and the artifact should
    # say so instead of letting the subtotal quietly cover less.
    prev_missing = [n for n in prev_all if n not in times]
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "components": components,
        # batch-only subtotal + the streaming additions listed, so the
        # grown r13 headline stays attributable at a glance
        "batch_subtotal": batch_total,
        "streaming_queries": STREAMING_HEADLINE,
        # ambient-noise self-report: max/min of the fixed sub-second
        # canary across interleaved passes (1.0 = quiet host; the
        # known band reaches ~3). Per-pass raw times included.
        "band_spread": round(max(canary_times) / max(min(canary_times),
                                                     1e-9), 3),
        "canary_secs": [round(t, 3) for t in canary_times],
        "bench_schedule": "interleaved",
        "subtotal_prev_round": round(sum(times[n] for n in prev_set), 3)
        if prev_set else None,
        # Per-query table of the previous round's set under THIS run's
        # timings (r9 verdict item 8) — per-query attribution without
        # BENCHNOTES archaeology.
        "queries_prev_round": {n: times[n] for n in prev_set} or None,
        "prev_round_missing": prev_missing or None,
        # Which BENCH_r{N}.json the comparison set came from (r10
        # ADVICE) — null only when no artifact exists at all.
        "prev_round_source": prev_src,
        "sf": sf,
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
