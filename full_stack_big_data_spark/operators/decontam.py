"""Training-corpus hygiene: decontamination, repetition filters, mixture
reweighting.

Three pipeline stages every large-scale pretraining corpus goes through
before a token is ever trained on (none exist in the reference — it stops
at word counts, ``src/main/scala/com/miguno/kafkastorm/storm/WordCountTopology.scala``
— but they are the first things a user of a 100 TB text engine asks for):

- **Test-set decontamination** (``decontam_overlap``): flag training
  documents that share word n-grams with a held-out eval set, the
  standard guard against benchmark leakage. The eval set here is a
  deterministic fixture (``doc_id % 13 == 0``), standing in for the
  external benchmark suite.
- **Repetition filtering** (``text_repetition``): Gopher-style
  within-document repetition metrics (distinct-token ratio, top-bigram
  mass, duplicated-trigram fraction) — the cheap heuristics that drop
  degenerate boilerplate before any model-based scoring.
- **Mixture flattening** (``sample_mixture_flatten``): temperature-style
  domain reweighting — downsample over-represented languages toward
  sqrt-proportional counts with deterministic hash membership, the same
  layout-independent discipline as ``operators/sampling.py``.

Scale posture: eval n-gram sets are tiny next to the train corpus, so
decontamination is a broadcast membership join plus one partial-aggregated
shuffle on doc_id; repetition metrics are pure map-side Catalyst (zero
shuffle at any corpus size); mixture rates are a two-row-per-language
broadcast. Nothing here touches Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.catalog import Catalog
from ..functions.candidates import candidate_pairs
from ..functions.hashing import hex64, hex64_sql
from ..functions.text import token_ngrams, token_ngrams_sql, tokens, tokens_sql
from .registry import register

DECONTAM_N = 4        # word n-gram size for overlap detection
EVAL_MOD = 13         # doc_id % 13 == 0 → held-out "benchmark" fixture

# Repetition thresholds, set from the corpus quantiles (p5/p95 at sf0.01:
# distinct_ratio 0.31/0.80, top_bigram_frac 0.040/0.167, dup_trigram_frac
# 0/0.022) so both flag values occur non-trivially.
MIN_DISTINCT_RATIO = 0.35
MAX_TOP_BIGRAM_FRAC = 0.12
MAX_DUP_TRIGRAM_FRAC = 0.01

MIX_SCALE = 1_000_000  # hash-membership resolution for mixture rates

_NG_SQL = f"list_distinct({token_ngrams_sql(tokens_sql('text'), DECONTAM_N)})"


@register(
    "decontam_overlap",
    oracle=f"""
WITH g AS (
  SELECT doc_id, unnest({_NG_SQL}) AS g FROM documents
), ev AS (
  SELECT DISTINCT g FROM g WHERE doc_id % {EVAL_MOD} = 0
), sizes AS (
  SELECT doc_id, len({_NG_SQL}) AS n_grams FROM documents
  WHERE doc_id % {EVAL_MOD} <> 0
), tr AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM g JOIN ev USING (g)
  WHERE doc_id % {EVAL_MOD} <> 0
  GROUP BY doc_id
)
SELECT tr.doc_id, n_overlap, n_grams,
       CAST(ROUND(n_overlap * 1.0 / n_grams, 6) AS DOUBLE) AS overlap_frac
FROM tr JOIN sizes USING (doc_id)
""",
    description=f"eval-set decontamination: train docs sharing {DECONTAM_N}-grams with the doc_id%{EVAL_MOD}=0 fixture",
    tags=("decontam", "broadcast-join"),
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag train documents overlapping the eval fixture's n-grams.

    Plan: the eval set's distinct n-grams (tiny — benchmarks are KBs
    against a 100 TB corpus) are broadcast; the train side streams
    map-side through the membership join and partial-aggregates the
    per-doc match count, so the only full shuffle is the final
    doc_id-keyed count — already reduced by the broadcast filter to
    contaminated docs only. The n-gram family reuses the engine-wide
    tokenizer (``functions/text.py``), so decontamination agrees with
    dedup about what an n-gram is.
    """
    d = Catalog(spark, sf_dir).documents
    t = d.select("doc_id", tokens("text").alias("toks"))
    # Per-doc distinct-gram arrays feed three consumers (eval side, train
    # side, sizes); persist so tokenize + n-gram runs once — the same
    # multi-consumer persist discipline as dedup's shingle table.
    gs = t.select(
        "doc_id",
        F.array_distinct(token_ngrams(F.col("toks"), DECONTAM_N)).alias("gs"),
    ).persist()
    grams = gs.select("doc_id", F.explode("gs").alias("g"))
    ev = (grams.where(F.col("doc_id") % EVAL_MOD == 0)
          .select("g").distinct())
    overlap = (
        grams.where(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    sizes = (
        gs.where(F.col("doc_id") % EVAL_MOD != 0)
        .select("doc_id", F.size("gs").cast("bigint").alias("n_grams"))
    )
    return (
        overlap.join(sizes, "doc_id")
        .select("doc_id", "n_overlap", "n_grams",
                F.round(F.col("n_overlap") / F.col("n_grams"), 6)
                 .cast("double").alias("overlap_frac"))
    )


_BG_SQL = "list_transform(range(1, greatest(len(toks) - 1, 0) + 1), i -> array_to_string(list_slice(toks, i, i + 1), ' '))"
_TG_SQL = "list_transform(range(1, greatest(len(toks) - 2, 0) + 1), i -> array_to_string(list_slice(toks, i, i + 2), ' '))"


@register(
    "text_repetition",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents
), b AS (
  SELECT doc_id, toks, {_BG_SQL} AS bg, {_TG_SQL} AS tg FROM t
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         ROUND(len(list_distinct(toks)) * 1.0 / greatest(len(toks), 1), 6) AS distinct_ratio,
         ROUND(COALESCE(list_max(list_transform(list_distinct(bg),
                 g -> len(list_filter(bg, x -> x = g)))), 0) * 2.0 / greatest(len(toks), 1), 6)
           AS top_bigram_frac,
         ROUND(len(list_filter(tg, g -> len(list_filter(tg, x -> x = g)) > 1))
               * 1.0 / greatest(len(tg), 1), 6) AS dup_trigram_frac
  FROM b
)
SELECT doc_id, n_tokens,
       CAST(distinct_ratio AS DOUBLE) AS distinct_ratio,
       CAST(top_bigram_frac AS DOUBLE) AS top_bigram_frac,
       CAST(dup_trigram_frac AS DOUBLE) AS dup_trigram_frac,
       CAST(CASE WHEN distinct_ratio < {MIN_DISTINCT_RATIO}
                   OR top_bigram_frac > {MAX_TOP_BIGRAM_FRAC}
                   OR dup_trigram_frac > {MAX_DUP_TRIGRAM_FRAC}
                 THEN 1 ELSE 0 END AS INT) AS repetitive
FROM m
""",
    description="Gopher-style repetition metrics: distinct-token ratio, top-bigram mass, duplicated trigrams",
    tags=("text", "quality", "map-only"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics, entirely map-side.

    Per-row cost is O(L · distinct-grams) via nested higher-order
    functions — acceptable because pipeline documents are bounded-length
    chunks; in exchange the operator has ZERO shuffle at any corpus
    size, unlike an explode → groupBy(doc, gram) formulation whose
    exploded gram table is ~L× the corpus. Gram arrays are projected to
    attributes first (``CollapseProject`` discipline — lambda bodies
    re-evaluate non-attribute expressions per element).
    """
    d = Catalog(spark, sf_dir).documents
    t = d.select("doc_id", tokens("text").alias("toks"))
    b = t.select(
        "doc_id", "toks",
        token_ngrams(F.col("toks"), 2).alias("bg"),
        token_ngrams(F.col("toks"), 3).alias("tg"),
    )
    n = F.size("toks")
    # greatest(n, 1) in divisors: a token-less doc ('!!!', empty text)
    # must yield zeros, not an ANSI DIVIDE_BY_ZERO that kills the whole
    # job (and a NULL on the DuckDB side) — same guard dup_trigram_frac
    # already had.
    n_div = F.greatest(n, F.lit(1))
    top_bg_count = F.coalesce(
        F.array_max(F.transform(
            F.array_distinct("bg"),
            lambda g: F.size(F.filter("bg", lambda x: x == g)))),
        F.lit(0))
    dup_tg = F.size(F.filter(
        "tg", lambda g: F.size(F.filter("tg", lambda x: x == g)) > 1))
    m = b.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round(F.size(F.array_distinct("toks")) / n_div, 6).alias("distinct_ratio"),
        F.round(top_bg_count * 2.0 / n_div, 6).alias("top_bigram_frac"),
        F.round(dup_tg / F.greatest(F.size("tg"), F.lit(1)), 6).alias("dup_trigram_frac"),
    )
    return m.select(
        "doc_id", "n_tokens",
        F.col("distinct_ratio").cast("double").alias("distinct_ratio"),
        F.col("top_bigram_frac").cast("double").alias("top_bigram_frac"),
        F.col("dup_trigram_frac").cast("double").alias("dup_trigram_frac"),
        F.when((F.col("distinct_ratio") < MIN_DISTINCT_RATIO)
               | (F.col("top_bigram_frac") > MAX_TOP_BIGRAM_FRAC)
               | (F.col("dup_trigram_frac") > MAX_DUP_TRIGRAM_FRAC), 1)
         .otherwise(0).cast("int").alias("repetitive"),
    )


@register(
    "sample_mixture_flatten",
    oracle=f"""
WITH c AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
), r AS (
  SELECT lang,
         CAST(FLOOR(SQRT((SELECT MIN(n) FROM c) * 1.0 / n) * {MIX_SCALE}) AS BIGINT) AS thr
  FROM c
)
SELECT d.lang,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN {hex64_sql("'mix|' || CAST(doc_id AS VARCHAR)")} % {MIX_SCALE} < thr
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       MAX(thr) AS threshold
FROM documents d JOIN r USING (lang)
GROUP BY d.lang
""",
    description="temperature mixture flattening: sqrt-proportional language reweighting with hash membership",
    tags=("sampling", "mixture", "broadcast-join"),
)
def sample_mixture_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample over-represented languages toward sqrt-proportional
    counts (temperature T=2 mixture flattening).

    Acceptance rate per language is ``sqrt(min_count / n_lang)`` — the
    rarest language keeps everything, a 4×-over-represented one keeps
    half — quantized to an integer threshold so membership is the same
    deterministic md5 test as the other sampling operators: stable
    under repartitioning, appends never reassign existing rows. The
    rate table is rows-per-language tiny and explicitly broadcast; the
    only shuffles are the two language-keyed partial aggregates.
    """
    d = Catalog(spark, sf_dir).documents
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    mn = counts.agg(F.min("n").alias("mn"))
    rates = (
        counts.crossJoin(F.broadcast(mn))
        .select("lang",
                F.floor(F.sqrt(F.col("mn") / F.col("n")) * MIX_SCALE)
                 .cast("bigint").alias("thr"))
    )
    member = (hex64(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
              % MIX_SCALE < F.col("thr"))
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(F.count("*").alias("n_total"),
             F.sum(F.when(member, 1).otherwise(0)).cast("bigint").alias("n_kept"),
             F.max("thr").alias("threshold"))
    )


# ---------------------------------------------------------------------------
# Fuzzy decontamination: MinHash-LSH eval-vs-train, below-dedup threshold.
# ---------------------------------------------------------------------------

FUZZY_DECONTAM_THRESHOLD = 0.5  # contamination trips well below dedup's 0.8


def _fuzzy_oracle() -> str:
    from .dedup import _minhash_oracle
    return _minhash_oracle(
        cand_pred=(f"a.doc_id % {EVAL_MOD} = 0 "
                   f"AND b.doc_id % {EVAL_MOD} <> 0"),
        head_cols="doc_a AS eval_doc, doc_b AS train_doc",
        threshold=FUZZY_DECONTAM_THRESHOLD,
    )


@register(
    "decontam_fuzzy",
    oracle=_fuzzy_oracle(),
    description=f"fuzzy decontamination: train docs with jaccard >= {FUZZY_DECONTAM_THRESHOLD} "
                f"against the doc_id%{EVAL_MOD}=0 eval fixture, bipartite LSH",
    tags=("decontam", "lsh"),
)
def decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate (not just exact-n-gram) benchmark leakage.

    ``decontam_overlap`` catches verbatim n-gram reuse; paraphrased or
    lightly-edited eval material needs set-similarity matching — the
    fuzzy pass production decontamination runs alongside the exact one.
    Bipartite MinHash-LSH (shared signature family and band layout with
    the dedup corpus — ``dedup._band_rows``), eval side vs train side,
    with the verify threshold at FUZZY_DECONTAM_THRESHOLD:
    contamination review wants high recall at moderate similarity,
    where dedup's 0.8 wants precision.

    Candidate-recall honesty (r4 advisory): with the shared b=8, r=2
    band layout, a pair at exactly jaccard j becomes an LSH candidate
    with probability 1-(1-j^2)^8 — ~90% at j=0.50, ~97% at j=0.60,
    ~99.9% at j=0.75. Recall right AT the threshold is therefore
    inherently <100%, and the oracle replays the same LSH so parity
    cannot surface those misses; the contract this operator pins is
    "the LSH-candidate pipeline, verified exactly", not exhaustive
    pair enumeration. A deployment that needs >99% recall at j=0.5
    re-bands the same 16-hash signatures as b=16/r=1 (monotone in j,
    candidate P = 1-(1-j)^16 ≈ 99.998% at 0.5) at the cost of ~16×
    more candidate collisions — literally ``_band_rows(sh, bands=16)``;
    ``tests/test_dedup.py::test_band_layout_knob_recall_at_half``
    verifies that layout finds every exact jaccard >= 0.5 pair on this
    corpus. The fixture keeps 8×2 so the driver row shares the dedup
    family's banding.

    Scale: the eval side is benchmark-sized (KBs against 100 TB), so its
    band rows are tiny; candidate generation joins them against the
    train index — cost ∝ true collisions, the ``dedup_incremental``
    posture with the roles reversed. The oracle replays the full LSH
    pipeline (signatures, bands, candidate join, exact verify), so the
    hash match pins candidate semantics, not just the final filter.
    """
    from .dedup import _band_rows, _shingle_sets, jaccard_pairs

    sh = _shingle_sets(spark, sf_dir).persist()
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    cand = candidate_pairs(_band_rows(sh.where(is_eval)),
                           _band_rows(sh.where(~is_eval)), ["band", "bucket"],
                           "doc_id", ("doc_a", "doc_b"),
                           "decontam_fuzzy_minhash")
    return (jaccard_pairs(cand, sh, FUZZY_DECONTAM_THRESHOLD)
            .select(F.col("doc_a").alias("eval_doc"),
                    F.col("doc_b").alias("train_doc"), "jaccard"))
