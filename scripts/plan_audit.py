"""Registry-wide physical-plan audit → PLANAUDIT.md.

The per-operator plan pins (tests/test_plans.py) guard the shapes we
rely on; this audit is the wide net: it walks EVERY registered batch
query, renders the formatted physical plan, and tabulates the
properties that decide 100 TB behavior —

- exchange count (each one is a full shuffle of its input),
- ``SinglePartition`` exchanges (the all-to-one funnel), split into
  bounded (fed by a partial aggregate — moves O(partitions) rows, the
  scalar-aggregate shape) vs UNBOUNDED (anything else feeding it — the
  global-sort-the-corpus shape, which needs a reviewed justification),
- join strategies chosen (broadcast / shuffled-hash / sort-merge /
  nested-loop),
- CartesianProduct presence (always a bug in this corpus).

Whole-stage codegen is NOT auditable here: under AQE the static plan is
``AdaptiveSparkPlan isFinalPlan=false`` and codegen stages only
materialize at execution, so the audit stays silent rather than noisy.

Streaming-tagged queries are skipped (their plans only exist inside a
running query). Queries that WRITE during build (roundtrips, serving
stores) execute their side effects — the audit runs them like any
sweep. Output is a markdown table sorted by exchange count, with a
flags column for anything needing a justification; the committed
PLANAUDIT.md is the reviewed snapshot.

Usage: python scripts/plan_audit.py [out.md]
"""

from __future__ import annotations

import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from full_stack_big_data_spark.engine.session import get_spark
from full_stack_big_data_spark.operators.registry import load_all
from full_stack_big_data_spark.plans.checks import plan_string

SF = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")

# Hand-maintained measured sections (shuffle_audit.py /
# stream_state_probe.py output + reviewed prose): carried verbatim
# across regens by main(), and excluded from check_only()'s coverage
# parse — a measured-table row is evidence, not an audit row.
CARRIED_SECTION_MARKERS = ("## Measured shuffle volume",
                           "## Streaming state at scale")

# Bounded-input SinglePartition exchanges that are fine by construction:
# the audit flags them; this allowlist carries the reviewed justification.
SINGLE_PARTITION_OK = {
    # global top-k: the funnel input is k·buckets rows, not the corpus
    "q_sort_limit", "sample_weighted",
    # global running sum over DAYS: the funnel input is the day-
    # cardinality aggregate (a Project over it, so the partial-agg
    # feeder heuristic can't see it) — bounded by the calendar
    # (~10⁴ rows at any corpus size), and a prefix sum over time is
    # inherently sequential
    "q_cumulative_users",
    # two-phase skyline: the global-phase window's input is the union
    # of per-bucket frontiers (≤ buckets · frontier size, not the
    # distinct-pair table — the local phase is a filter, so the
    # feeder heuristic can't see the bound); adversarially
    # anti-correlated data widens the frontier itself, documented in
    # the operator as needing a third phase
    "q_skyline_2d",
}


# Feeders that bound a SinglePartition exchange's input by construction:
# a partial aggregate emits ≤1 row per upstream partition, so the
# all-to-one funnel moves O(partitions) rows, not the corpus.
_BOUNDED_FEEDERS = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def _unbounded_single_partitions(plan: str) -> tuple[int, int]:
    """(total SinglePartition exchanges, those NOT fed by a partial
    aggregate). Node ids whose detail block carries ``Arguments:
    SinglePartition`` are located in the tree section and their first
    child (the next tree line) is inspected — the only static signal
    for whether the funnel's input is bounded."""
    # stay inside one detail block: never cross the next "(N) Node" header
    sp_ids = set(re.findall(
        r"\((\d+)\) Exchange\n(?:(?!\(\d+\) )[^\n]*\n)*?Arguments: SinglePartition",
        plan))
    tree = [ln for ln in plan.splitlines()
            if re.search(r"\(\d+\)\s*$", ln)]  # tree lines end with "(N)"
    unbounded = 0
    for i, ln in enumerate(tree):
        m = re.search(r"Exchange \((\d+)\)\s*$", ln)
        if not m or m.group(1) not in sp_ids:
            continue
        child = tree[i + 1] if i + 1 < len(tree) else ""
        if not any(f in child for f in _BOUNDED_FEEDERS):
            unbounded += 1
    return len(sp_ids), unbounded


def audit_one(plan: str) -> dict:
    def nodes(name: str) -> int:
        return len(re.findall(rf"\(\d+\) {name}\b", plan))

    sp_total, sp_unbounded = _unbounded_single_partitions(plan)
    return {
        "exchanges": nodes("Exchange"),
        "single_part": sp_total,
        "sp_unbounded": sp_unbounded,
        "bhj": nodes("BroadcastHashJoin"),
        "smj": nodes("SortMergeJoin"),
        "shj": nodes("ShuffledHashJoin"),
        "bnlj": nodes("BroadcastNestedLoopJoin"),
        "cartesian": nodes("CartesianProduct"),
        "take_ordered": nodes("TakeOrderedAndProject"),
    }


# Reviewed state-boundedness adjudication for every streaming entry:
# why the state store does NOT grow with the corpus on an unbounded
# stream. The audit prints the MEASURED final state rows/bytes next to
# each; a streaming entry missing from this dict is flagged for review.
STREAM_STATE_BOUNDS = {
    "stream_cdc_upsert": "no store state: foreachBatch compacts into a "
                         "versioned dir, idempotent per batch-id",
    "stream_wordcount": "agg state ∝ vocabulary, not stream length",
    "stream_window_tumbling": "state ∝ open windows × types; watermark evicts",
    "stream_window_sliding": "state ∝ open windows × types; watermark evicts",
    "stream_session_window": "state ∝ OPEN sessions; watermark closes + evicts",
    "stream_identity_json": "stateless map (observe metrics only)",
    "stream_wire_roundtrip": "stateless wire codec; offsets in checkpoint",
    "stream_serving_interval": "stateless filter-serve per micro-batch",
    "stream_serving_compacted": "no store state: batch-keyed partials + "
                                "one-generation compaction (bounds FILE "
                                "count, not rows)",
    "stream_lambda_merged_wordcount": "agg state ∝ vocabulary (speed layer)",
    "stream_vocab_merge": "no store state: foreachBatch writes batch-keyed "
                          "partials; merge reads vocabulary-sized tables",
    "stream_stateful_user_stats": "keyed state ∝ distinct users; timeout "
                                  "eviction is the production knob",
    "stream_static_enrich": "join side broadcast (zero state); agg ∝ segments",
    "stream_stream_join": "both sides watermarked + time-bounded condition: "
                          "state ∝ rows per watermark horizon",
    "stream_dedup": "state ∝ distinct keys — UNBOUNDED on an infinite "
                    "stream BY DESIGN (the didactic contrast; "
                    "stream_dedup_watermarked is the production variant)",
    "stream_dedup_watermarked": "key state evicted past watermark horizon: "
                                "state ∝ keys per horizon (eviction proven "
                                "in tests/test_streaming_state.py)",
    "stream_approx_distinct": "HLL registers per group: O(2^p) per type, "
                              "corpus-size-free",
    "stream_top_users": "keyed state ∝ distinct users (bounded leaderboard "
                        "per key)",
    "stream_decontam": "zero store state: per-batch broadcast membership "
                       "check against the persisted eval-gram index + "
                       "batch-local doc dedup; nothing remembered across "
                       "batches (admission is per-doc)",
    "stream_phash_admit": "zero store state: per-batch render+hash and "
                          "bipartite banded join against the persisted "
                          "signature index; admission is per-doc, nothing "
                          "remembered across batches (idempotent epoch-"
                          "keyed sink)",
    "stream_phash_ingest": "zero store state: the admit gate's per-batch "
                           "join vs the immutable base generation; "
                           "survivors grow the index via epoch-keyed "
                           "partitions (idempotent dynamic overwrite) — "
                           "growth lives on disk, not in the state store",
    "stream_embedding_admit": "zero store state: per-batch SRP bucketing "
                              "+ bipartite bucket join vs the persisted "
                              "SRP index, exact-cosine verify; per-doc "
                              "admission, idempotent epoch-keyed sink",
    "stream_text_ingest": "zero store state: the text admit gate's "
                          "per-batch join vs the immutable base index; "
                          "survivors' band rows grow the index via "
                          "epoch-keyed partitions (idempotent dynamic "
                          "overwrite) — growth on disk, not in the store",
    "stream_embedding_ingest": "zero store state: the embedding admit "
                               "gate's per-batch bucket join vs the "
                               "immutable base index; survivors' SRP "
                               "rows appended as epoch-keyed partitions",
    "stream_pipeline_curate": "zero store state: quality gate + broadcast "
                              "gram check + banded near-dup admit all "
                              "decided per-doc inside one foreachBatch "
                              "against persisted artifacts; nothing "
                              "remembered across batches (idempotent "
                              "epoch-keyed sink)",
    "stream_text_admit": "zero store state: per-batch MinHash banding + "
                         "bipartite bucket join vs the persisted band "
                         "index, exact-jaccard verify on point-fetched "
                         "candidate docs; per-doc admission, idempotent "
                         "epoch-keyed sink",
    "stream_embedding_admit_scaled": "zero store state: the admit gate's "
                                     "chain at the N/64 SRP geometry — "
                                     "same per-doc admission vs the "
                                     "(scaled) persisted index, "
                                     "idempotent epoch-keyed sink",
    "stream_embedding_ingest_scaled": "zero store state: the scaled admit "
                                      "join vs the immutable scaled base "
                                      "index; survivors' SRP rows appended "
                                      "as epoch-keyed partitions — growth "
                                      "on disk, not in the store",
    "stream_reservoir_sample": "no store state: foreachBatch folds each "
                               "batch's top-k into a versioned k-row "
                               "snapshot (max-k semilattice merge) — "
                               "O(k) state regardless of stream length, "
                               "the defining reservoir property",
    "stream_reservoir_weighted": "no store state: the same versioned "
                                 "k-row semilattice fold with the "
                                 "exponential-race key — O(k) state",
    "text_index_vacuum": "zero store state in BOTH drains (ingest + "
                         "post-vacuum serve are the stateless per-doc "
                         "text gate); the lifecycle's only state is "
                         "ON DISK — private base/epoch/payload "
                         "generations folded to gen2, then RECLAIMED "
                         "(engine.generations), checkpoint kept",
    "stream_ivf_ingest": "zero store state: each batch is one map-only "
                         "Arrow assignment (no join at all — an index "
                         "ingests everything; dedup is the admit "
                         "gates' job) appended as an epoch-keyed "
                         "partition under dynamic overwrite — growth "
                         "on disk, not in the store",
    "ivf_index_vacuum": "zero store state: the drain is the stateless "
                        "map-only IVF assignment sink; the lifecycle's "
                        "only state is ON DISK — private base + epoch "
                        "generations folded to a one-file-per-cell "
                        "gen2, then RECLAIMED (engine.generations), "
                        "checkpoint kept",
    "stream_ivfpq_ingest": "zero store state: each batch is one "
                           "map-only Arrow pass (coarse assignment + "
                           "PQ encode with the stored codebook) "
                           "appended as an epoch-keyed partition "
                           "under dynamic overwrite — growth on "
                           "disk, not in the store",
}


def audit_streaming(spark, reg) -> tuple[list[str], list[str]]:
    """Run every streaming registry entry under a progress listener and
    tabulate per-state-operator rows/bytes/evictions. Returns (section
    lines, flagged names)."""
    from full_stack_big_data_spark.engine.session import release_scoped_cache
    from full_stack_big_data_spark.streaming.audit import (ProgressCollector,
                                                           summarize)

    col = ProgressCollector()
    spark.streams.addListener(col)
    lines = [
        "",
        "## Streaming state audit",
        "",
        f"Every `stream_*` registry entry executed (availableNow drain at",
        f"`{SF}`) under a StreamingQueryProgress listener. `state rows` is",
        "the store's row count at drain end per stateful operator;",
        "`evicted`/`wm-dropped` sum across micro-batches. The bound column",
        "is the reviewed argument for why state stays corpus-size-free on",
        "an unbounded stream (the numbers here verify the SHAPE — stateless",
        "entries must show no state operator at all).",
        "",
        "| query | queries×batches | input rows | state operator | "
        "state rows | evicted | wm-dropped | peak KiB | bound |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    flagged = []
    # The ingest gates memoize their output/checkpoint dirs per process
    # and the batch section above already drained them (the compact
    # entries call the ingest builders internally), so without a reset
    # the listener here would observe ZERO micro-batches and stamp the
    # bound over a vacuous row (r11 review finding — the same
    # memoized-drain vacuity scale_probe's _fresh_gate fixes).
    from full_stack_big_data_spark.engine.scratch import forget_runs
    try:
        for name, spec in reg.items():
            if "streaming" not in spec.tags:
                continue
            col.reset()
            forget_runs()
            release_scoped_cache(spark)
            bound = STREAM_STATE_BOUNDS.get(name)
            try:
                spec.builder(spark, SF).collect()
                complete = col.drain()
                s = summarize(col.progress)
            except Exception as e:  # noqa: BLE001 — audit reports, not dies
                lines.append(f"| {name} | — | — | RUN ERROR: {e} | | | | | |")
                flagged.append(name)
                continue
            if not complete:
                # drain() timed out with started ⊄ terminated (or no
                # start event at all): the feed is partial and any state
                # numbers would be wrong — flag, don't tabulate.
                lines.append(f"| {name} | — | — | INCOMPLETE PROGRESS "
                             f"FEED (drain timeout) | | | | | |")
                flagged.append(name)
                continue
            if bound is None:
                bound = "NO REVIEWED BOUND — add to STREAM_STATE_BOUNDS"
                flagged.append(name)
            qb = f"{s['n_queries']}×{s['n_batches']}"
            if not s["state_operators"]:
                lines.append(f"| {name} | {qb} | {s['input_rows']} | "
                             f"(stateless) | 0 | 0 | 0 | 0 | {bound} |")
                continue
            for i, op in enumerate(s["state_operators"]):
                lines.append(
                    f"| {name} | {qb} | {s['input_rows']} | "
                    f"{op['operator'] or 'op' + str(i)} | "
                    f"{op['final_state_rows']} | {op['rows_removed']} | "
                    f"{op['dropped_by_watermark']} | "
                    f"{op['peak_state_bytes'] // 1024} | {bound} |")
    finally:
        spark.streams.removeListener(col)
    return lines, flagged


def check_only() -> None:
    """Fast staleness check (no Spark session, no plans): diff the live
    registry's names against the committed PLANAUDIT.md rows. Exits 1
    with the regen command when they diverge — cheap enough to run
    before every commit (scripts/roundcheck.sh), so a new registry
    entry can't land without its audit row (r6 verdict item 1)."""
    reg = load_all()
    path = os.path.join(HERE, "PLANAUDIT.md")
    with open(path) as f:
        text = f.read()
    # Parse ONLY the generated audit tables: cut the file at the first
    # hand-maintained carried section (r7 ADVICE — a measured-table row
    # must not count as audit coverage, and new measured tables must not
    # require growing a header-word exclusion set).
    idx = min((text.index(m) for m in CARRIED_SECTION_MARKERS if m in text),
              default=len(text))
    audited = set(re.findall(r"^\| (\w+) \|", text[:idx], flags=re.M)) - {"query"}
    live = set(reg)
    missing = sorted(live - audited)
    stale = sorted(audited - live)
    if missing or stale:
        print(f"PLANAUDIT.md is stale — missing rows: {missing}; "
              f"rows for unknown queries: {stale}\n"
              f"fix: python scripts/plan_audit.py")
        sys.exit(1)
    print(f"PLANAUDIT.md covers all {len(live)} registry entries — fresh")


def main() -> None:
    if "--check" in sys.argv:
        check_only()
        return
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "PLANAUDIT.md")
    spark = get_spark(app_name="plan-audit")
    reg = load_all()
    rows = []
    for name, spec in reg.items():
        if "streaming" in spec.tags:
            continue
        try:
            plan = plan_string(spec.builder(spark, SF))
        except Exception as e:  # noqa: BLE001 — audit must report, not die
            rows.append((name, None, f"PLAN ERROR: {e}"))
            continue
        rows.append((name, audit_one(plan), ""))

    lines = [
        "# PLANAUDIT — registry-wide physical-plan snapshot",
        "",
        f"Scale: `{SF}` (plan SHAPES are scale-relevant; sizes are not —",
        "AQE may re-plan exchanges at runtime, counts here are the static",
        "plan). Generated by `scripts/plan_audit.py`; regenerate after any",
        "operator change. Flags: `1P` = SinglePartition exchanges (all-to-one;",
        "partial-agg-fed ones are bounded scalar funnels, anything marked",
        "`unbounded` needs a reviewed allowlist entry), `CART` = cartesian",
        "product (always a defect), `NLJ` = nested-loop join (only sane",
        "broadcast + tiny).",
        "",
        "| query | exch | BHJ | SMJ | SHJ | TakeOrd | flags |",
        "|---|---|---|---|---|---|---|",
    ]
    flagged = []
    for name, a, err in sorted(rows, key=lambda r: -(r[1] or {}).get("exchanges", 99)):
        if a is None:
            lines.append(f"| {name} | — | — | — | — | — | {err} |")
            flagged.append(name)
            continue
        flags = []
        if a["cartesian"]:
            flags.append("CART")
        if a["single_part"]:
            # bounded funnels (partial-agg-fed) are informational; an
            # UNBOUNDED one needs the allowlist's reviewed justification
            suffix = (f" ({a['sp_unbounded']} unbounded)"
                      if a["sp_unbounded"] else "")
            ok = " (allowlisted)" if name in SINGLE_PARTITION_OK else ""
            flags.append(f"1P×{a['single_part']}{suffix}{ok}")
        if a["bnlj"]:
            flags.append(f"NLJ×{a['bnlj']}")
        if a["cartesian"] or (a["sp_unbounded"]
                              and name not in SINGLE_PARTITION_OK):
            flagged.append(name)
        lines.append(
            f"| {name} | {a['exchanges']} | {a['bhj']} | {a['smj']} | "
            f"{a['shj']} | {a['take_ordered']} | {', '.join(flags)} |")

    lines += ["", f"Queries audited: {len(rows)}; needing review: "
              f"{sorted(flagged) if flagged else 'none'}"]

    s_lines, s_flagged = audit_streaming(spark, reg)
    n_stream = sum(1 for spec in reg.values() if "streaming" in spec.tags)
    lines += s_lines
    lines += ["", f"Streaming queries audited: {n_stream}; needing review: "
              f"{sorted(s_flagged) if s_flagged else 'none'}"]
    flagged += s_flagged
    # Hand-maintained measured sections (shuffle_audit.py and
    # stream_state_probe.py output + reviewed prose) — carry them
    # across regens, in their committed order.
    if os.path.exists(out_path):
        with open(out_path) as f:
            old = f.read()
        idx = min((old.index(m) for m in CARRIED_SECTION_MARKERS
                   if m in old), default=None)
        if idx is not None:
            lines += ["", old[idx:].rstrip()]
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}; {len(rows)} batch + {n_stream} streaming; "
          f"review: {flagged or 'none'}")
    spark.stop()


if __name__ == "__main__":
    main()
