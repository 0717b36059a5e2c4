"""Text-analysis operators for the LLM-data-pipeline surface.

The reference's only text processing is pre-tokenized word counting
(``integration/StormSpec.scala:65-67``); a real training-data pipeline
needs per-document statistics at corpus scale. Everything here is pure
Catalyst expressions over the shared tokenizer — one narrow scan of the
documents table, no shuffle at all (per-row results), no Python in the
hot path. At 100 TB these are embarrassingly parallel map-only plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..engine.catalog import Catalog
from ..engine.scratch import memo, scratch_dir
from ..functions.text import (
    STOPWORDS_BY_LANG, char_ngrams, char_ngrams_sql, token_ngrams,
    token_ngrams_sql, tokens, tokens_sql,
)
from .registry import register

# BPE-ish pre-tokenization regex: letter runs, digit runs, or single
# non-space symbols — a cheap proxy for subword token counting.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       len({tokens_sql('text')}) AS n_tokens,
       len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS n_bpe_tokens,
       ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / greatest(len({tokens_sql('text')}), 1), 6) AS avg_token_len
FROM documents
""",
    description="per-document token counts (whitespace + BPE-ish regex)",
    tags=("text", "map-only"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    tok = tokens("text")
    return d.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.regexp_count(F.lower("text"), F.lit(_BPE_RE)).alias("n_bpe_tokens"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.greatest(F.size(tok), F.lit(1)), 6,
        ).alias("avg_token_len"),
    )


def _stopword_hits_spark(lang: str):
    pat = "\\b(" + "|".join(STOPWORDS_BY_LANG[lang]) + ")\\b"
    return F.regexp_count(F.lower("text"), F.lit(pat))


def _stopword_hits_sql(lang: str) -> str:
    pat = "\\b(" + "|".join(STOPWORDS_BY_LANG[lang]) + ")\\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


# Quality-feature expression twins, shared by text_quality and
# text_quality_model so the feature definitions cannot drift between
# the heuristic gate and the learned scorer.

def _stop_ratio_spark():
    tok = tokens("text")
    return F.round(_stopword_hits_spark("en").cast("double")
                   / F.greatest(F.size(tok), F.lit(1)), 6)


_STOP_RATIO_SQL = (f"ROUND(CAST({_stopword_hits_sql('en')} AS DOUBLE)"
                   f" / greatest(len({tokens_sql('text')}), 1), 6)")


def _symbol_ratio_spark():
    return F.round(F.regexp_count("text", F.lit("[^a-z0-9 ]")).cast("double")
                   / F.greatest(F.length("text"), F.lit(1)), 6)


_SYM_RATIO_SQL = ("ROUND(CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)"
                  " / greatest(length(text), 1), 6)")


@register(
    "text_quality",
    oracle=f"""
SELECT doc_id, n_chars,
       len({tokens_sql('text')}) AS n_tokens,
       {_SYM_RATIO_SQL} AS symbol_ratio,
       {_STOP_RATIO_SQL} AS stopword_ratio,
       CASE WHEN len({tokens_sql('text')}) >= 20
              AND {_stopword_hits_sql('en')} > 0 THEN 1 ELSE 0 END AS quality_ok
FROM documents
""",
    description="per-document quality signals: length, symbol/stopword ratios, keep flag",
    tags=("text", "map-only"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    tok = tokens("text")
    en_hits = _stopword_hits_spark("en")
    return d.select(
        "doc_id", "n_chars",
        F.size(tok).alias("n_tokens"),
        _symbol_ratio_spark().alias("symbol_ratio"),
        _stop_ratio_spark().alias("stopword_ratio"),
        F.when((F.size(tok) >= 20) & (en_hits > 0), 1).otherwise(0).alias("quality_ok"),
    )


_LANGS = ("en", "de", "fr", "es", "zh")


@register(
    "text_langid",
    oracle=f"""
WITH hits AS (
  SELECT doc_id, lang,
         {', '.join(f"{_stopword_hits_sql(lg)} AS {lg}_hits" for lg in _LANGS)}
  FROM documents
)
SELECT doc_id, lang AS labeled_lang, {', '.join(f'{lg}_hits' for lg in _LANGS)},
       CASE {' '.join(f"WHEN {lg}_hits = greatest({', '.join(f'{m}_hits' for m in _LANGS)}) THEN '{lg}'" for lg in _LANGS)}
       END AS pred_lang
FROM hits
""",
    description="n-gram/stopword language-ID heuristic vs labeled lang",
    tags=("text", "langid", "map-only"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    hit_cols = [_stopword_hits_spark(lg).alias(f"{lg}_hits") for lg in _LANGS]
    scored = d.select("doc_id", F.col("lang").alias("labeled_lang"), *hit_cols)
    best = F.greatest(*[F.col(f"{lg}_hits") for lg in _LANGS])
    # first language (in fixed order) achieving the max — same tie-break as
    # the SQL CASE ladder.
    expr = None
    for lg in _LANGS:
        cond = F.col(f"{lg}_hits") == best
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    return scored.withColumn("pred_lang", expr)


@register(
    "doc_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({tokens_sql('text')})), ' ')) AS content_fp,
       list_aggregate(list_transform({char_ngrams_sql('text', 5)}, g -> md5(g)), 'min') AS winnow_min
FROM documents
""",
    description="document fingerprints: content hash of sorted vocab + min-hash of char 5-grams",
    tags=("text", "fingerprint", "map-only"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    # Lowercase once per row; char_ngrams' transform-lambda would
    # otherwise re-lower the full text per gram (O(len²) per doc).
    lowered = d.select("doc_id", "text", F.lower("text").alias("lc"))
    return lowered.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens("text")))))
         .alias("content_fp"),
        F.array_min(F.transform(char_ngrams(F.col("lc"), 5, pre_lowered=True),
                                F.md5)).alias("winnow_min"),
    )


# ---------------------------------------------------------------------------
# tf-idf: top terms per document.
# ---------------------------------------------------------------------------

TFIDF_TOP = 5


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, tok, tf,
         tf * 1.0 * n_docs / df_t AS raw,
         ROUND(tf * ln(n_docs * 1.0 / df_t), 6) AS tfidf
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
), ranked AS (
  SELECT doc_id, tok, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw DESC, tok) AS BIGINT) AS rank
  FROM scored
)
SELECT doc_id, tok, tfidf, rank FROM ranked WHERE rank <= {TFIDF_TOP}
""",
    description=f"tf-idf: top-{TFIDF_TOP} distinguishing terms per document",
    tags=("text", "tfidf", "agg"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide tf-idf, two shuffles (tf, then document frequency).

    Determinism note: ranking uses the exact rational ``tf·N/df`` —
    integer products < 2⁵³ then one correctly-rounded division, so the
    order is bit-identical in any engine; ``ln`` (last-ulp differences
    between libm implementations) only appears in the *displayed* score,
    rounded to 6 decimals. The doc-frequency table is broadcast back
    onto the tf rows (vocabulary ≪ corpus), so the scoring join adds no
    shuffle of the big side.
    """
    from pyspark.sql import Window
    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df_t"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok").crossJoin(F.broadcast(n))
        .select(
            "doc_id", "tok",
            (F.col("tf") * 1.0 * F.col("n_docs") / F.col("df_t")).alias("raw"),
            F.round(F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df_t")), 6)
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("raw"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TFIDF_TOP)
        .select("doc_id", "tok", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# PII redaction (scrubbing step of a training-data pipeline).
# ---------------------------------------------------------------------------

# Portable across Java regex (Spark) and RE2 (DuckDB): character classes
# and bounded repetition only.
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "555-[0-9]{4}"

# The synthetic corpus contains no PII, so the fixture INJECTS it
# deterministically (same trick as json_deadletter's corruption): every
# doc_id % 3 == 0 gains an email + phone, % 3 == 1 an email only. The
# oracle injects identically, so redaction counts and the md5 of the
# scrubbed text are exact.
_INJECT_SQL = """
CASE WHEN doc_id % 3 = 0
       THEN text || ' contact user' || doc_id || '@mail.example.com call 555-'
                 || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
     WHEN doc_id % 3 = 1
       THEN text || ' mail to user' || doc_id || '@example.org'
     ELSE text END
"""


@register(
    "text_pii_redact",
    oracle=f"""
WITH injected AS (
  SELECT doc_id, {_INJECT_SQL} AS t FROM documents
), redacted AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(t, '{_PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS clean
  FROM injected
)
SELECT doc_id, n_emails, n_phones, md5(clean) AS clean_md5 FROM redacted
""",
    description="PII scrub: email/phone redaction with exact counts (deterministic injection fixture)",
    tags=("text", "pii", "map-only"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails and phone numbers, counting what was removed.

    Map-only Catalyst regex — no shuffle, no Python. Patterns stick to
    character classes + bounded repetition, the regex subset with
    identical semantics in Java regex and RE2 (anything fancier —
    backreferences, lookahead — is non-portable AND non-vectorizable).
    The md5 of the scrubbed text makes the oracle sensitive to every
    byte of the replacement, not just the counts.
    """
    d = Catalog(spark, sf_dir).documents
    injected = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"),
                        F.lit("@mail.example.com call 555-"),
                        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"),
                               4, "0")))
         .when(F.col("doc_id") % 3 == 1,
               F.concat(F.col("text"), F.lit(" mail to user"), F.col("doc_id"),
                        F.lit("@example.org")))
         .otherwise(F.col("text")).alias("t"),
    )
    return injected.select(
        "doc_id",
        F.regexp_count("t", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("t", F.lit(_PHONE_RE)).alias("n_phones"),
        F.md5(F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE, "<PHONE>")).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Column profiling (the data-quality pass before any training run).
# ---------------------------------------------------------------------------

@register(
    "q_profile_documents",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT lang) AS langs,
       COUNT(DISTINCT source) AS sources,
       CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS empty_texts,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(ROUND(AVG(CAST(n_chars AS DECIMAL(18,6))), 4) AS DOUBLE) AS avg_chars,
       CAST(SUM(CASE WHEN len({tokens_sql('text')}) < 3 THEN 1 ELSE 0 END) AS BIGINT) AS short_docs
FROM documents
""",
    description="corpus profile: cardinalities, null/empty rates, length stats in one pass",
    tags=("text", "profile", "agg"),
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus profile (the pre-training data-quality report).
    All measures are partial-aggregatable, so the plan is a single scan
    + one tiny exchange regardless of corpus size; exact distincts here
    are low-cardinality metadata columns (use approx_count_distinct for
    high-cardinality profiling — `q_approx_distinct` shows that path).
    """
    d = Catalog(spark, sf_dir).documents
    tok = tokens("text")
    return d.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("lang").alias("langs"),
        F.countDistinct("source").alias("sources"),
        F.sum(F.when(F.col("text").isNull() | (F.col("text") == ""), 1)
               .otherwise(0)).alias("empty_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg(F.col("n_chars").cast("decimal(18,6)")), 4)
         .cast("double").alias("avg_chars"),
        F.sum(F.when(F.size(tok) < 3, 1).otherwise(0)).alias("short_docs"),
    )


# ---------------------------------------------------------------------------
# Corpus n-gram LM counts.
# ---------------------------------------------------------------------------

NGRAM_ORDERS = (1, 2, 3)
NGRAM_TOP_K = 20


def _ngram_oracle() -> str:
    from ..functions.text import token_ngrams_sql
    per_n = "\n  UNION ALL\n  ".join(
        f"SELECT {n} AS n, unnest({token_ngrams_sql(tokens_sql('text'), n)}) AS gram FROM documents"
        for n in NGRAM_ORDERS)
    return f"""
WITH grams AS (
  {per_n}
), counts AS (
  SELECT n, gram, COUNT(*) AS cnt FROM grams GROUP BY n, gram
), ranked AS (
  SELECT n, gram, cnt,
         ROW_NUMBER() OVER (PARTITION BY n ORDER BY cnt DESC, gram) AS rank
  FROM counts
)
SELECT n, gram, cnt, rank FROM ranked WHERE rank <= {NGRAM_TOP_K}
"""


@register(
    "text_ngram_counts",
    oracle=_ngram_oracle(),
    description=f"corpus n-gram LM counts (n in {NGRAM_ORDERS}): top-{NGRAM_TOP_K} "
                "grams per order, the table behind n-gram quality/perplexity filters",
    tags=("text", "ngram", "agg"),
)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count table an n-gram LM quality filter is built from (the
    classic perplexity-based corpus scoring step): token n-grams for
    n ∈ {1,2,3}, counted corpus-wide, top-K per order.

    Scale: the explode is map-side; ONE shuffle counts all three orders
    together (n is part of the grouping key, so no per-order passes).
    The per-order top-K goes through ``functions/skew.py::grouped_topk``
    — the skew-proof abstraction point: 3 partition values would
    otherwise funnel the whole distinct-gram table through 3 sort tasks
    (measured 24.8× wall at the 64× probe, before the rank-limit shape
    below). On this runtime the helper emits the plain rank-limit
    window, which compiles to a map-side partial WindowGroupLimit — ≤ K
    rows per order per map partition reach the 3 final tasks — and it
    consumes the count table ONCE, no persist, no per-order re-scan; on
    runtimes without the rewrite it falls back to the salted two-phase
    rank with the same result. For the full
    (un-truncated) LM table at 100 TB you keep the counts un-topped and
    write them partitioned by n — same plan minus the top-K; the top-K
    here is what makes a finite driver row.
    """
    from ..functions.skew import grouped_topk

    d = Catalog(spark, sf_dir).documents
    tok = tokens("text")
    per_n = [
        d.select(F.lit(n).alias("n"),
                 F.explode(token_ngrams(tok, n)).alias("gram"))
        for n in NGRAM_ORDERS
    ]
    grams = per_n[0]
    for nxt in per_n[1:]:
        grams = grams.unionByName(nxt)
    counts = grams.groupBy("n", "gram").agg(F.count("*").alias("cnt"))
    return (grouped_topk(counts, ["n"], [F.desc("cnt"), F.asc("gram")],
                         NGRAM_TOP_K, F.xxhash64("gram"))
            .select("n", "gram", "cnt", "rank"))


# ---------------------------------------------------------------------------
# Model-scored quality filtering (the learned-classifier seam).
# ---------------------------------------------------------------------------

# "Trained" logistic weights over the engineered features — literals so
# both engines score identically; a real deployment swaps these for the
# exported coefficients of a fastText/linear quality classifier.
QM_BIAS = -2.0
QM_W_STOP = 6.0     # stopword density ⇒ natural prose
QM_W_SYM = -8.0     # symbol soup ⇒ boilerplate/markup
QM_W_LEN = 0.35     # log-length prior


@register(
    "text_quality_model",
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         {_STOP_RATIO_SQL} AS stop_r,
         {_SYM_RATIO_SQL} AS sym_r,
         len({tokens_sql('text')}) AS n_tokens
  FROM documents
), z AS (
  SELECT doc_id,
         {QM_BIAS} + {QM_W_STOP} * stop_r - {-QM_W_SYM} * sym_r
         + {QM_W_LEN} * ln(1.0 + n_tokens) AS z
  FROM f
)
SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
       CAST(CASE WHEN z >= 0 THEN 1 ELSE 0 END AS INT) AS keep
FROM z
""",
    description="logistic quality classifier over engineered features (literal weights), map-only scoring",
    tags=("text", "quality", "model", "map-only"),
)
def text_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the pattern behind fastText/
    linear quality classifiers in corpus pipelines (score every doc,
    keep above threshold), with the model reduced to literal logistic
    weights over the same engineered features ``text_quality`` exposes.
    The seam a real deployment fills is the WEIGHTS, not the plan: the
    scoring stays a map-only whole-stage-codegen projection (no UDF, no
    shuffle, no model server in the hot path), which is what makes
    classifier filtering affordable at 100 TB.

    Determinism: features are the rounded-6 ratios (engine-identical by
    the ``text_quality`` precedent); the keep decision compares z ≥ 0
    (no sigmoid tie), and the reported sigmoid rounds at 1e-6, far
    above ln/exp's ulp-level engine divergence.
    """
    d = Catalog(spark, sf_dir).documents
    f = d.select(
        "doc_id",
        _stop_ratio_spark().alias("stop_r"),
        _symbol_ratio_spark().alias("sym_r"),
        F.size(tokens("text")).alias("n_tokens"),
    )
    z = (F.lit(QM_BIAS) + QM_W_STOP * F.col("stop_r")
         - (-QM_W_SYM) * F.col("sym_r")
         + QM_W_LEN * F.log(F.lit(1.0) + F.col("n_tokens")))
    zc = f.select("doc_id", z.alias("z"))
    return zc.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6).alias("score"),
        F.when(F.col("z") >= 0, 1).otherwise(0).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Vocabulary construction (the token-id table behind a trained tokenizer).
# ---------------------------------------------------------------------------

VOCAB_SIZE = 30


def _vocab_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT g AS token FROM documents, UNNEST({tokens_sql('text')}) AS u(g)
), counts AS (
  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts
), ranked AS (
  SELECT token, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS token_id,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM counts
)
SELECT token_id, token, CAST(cnt AS BIGINT) AS cnt,
       CAST(ROUND(CAST(cum AS DOUBLE) / (SELECT tot FROM total), 6) AS DOUBLE)
         AS cum_frac
FROM ranked WHERE token_id < {VOCAB_SIZE}
"""


@register(
    "vocab_build",
    oracle=_vocab_oracle(),
    description=f"top-{VOCAB_SIZE} token vocabulary: dense contiguous ids by "
                "(count desc, token) plus cumulative corpus coverage",
    tags=("text", "vocab", "agg"),
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frequency-ranked vocabulary table a tokenizer training run
    starts from: dense token ids 0..V-1 assigned by (count desc, token)
    and the cumulative coverage fraction that picks V in practice
    ("smallest V covering 99.5% of tokens").

    Scale: the token count is ONE shuffle with map-side partial agg;
    the corpus total re-aggregates the (vocabulary-sized, Heaps-law
    small) count table, not the corpus. Top-V is TakeOrderedAndProject
    — per-partition heaps, one V-row merge, never a global sort. The
    id/coverage window runs over exactly V surviving rows, so its
    single-partition sort is bounded by the constant V, not the corpus
    (same bound-justified 1P as q_sort_limit; PLANAUDIT.md).
    """
    d = Catalog(spark, sf_dir).documents
    counts = (d.select(F.explode(tokens("text")).alias("token"))
              .groupBy("token").agg(F.count("*").alias("cnt")))
    return vocab_from_counts(counts)


def vocab_from_counts(counts: DataFrame) -> DataFrame:
    """Rank a (token, cnt) table into the vocabulary result. Shared by
    the batch build and the streaming partial-merge path
    (``streaming/queries.py::stream_vocab_merge``) so the two cannot
    diverge in ranking, id assignment, or coverage arithmetic."""
    total = counts.agg(F.sum("cnt").alias("tot"))
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(VOCAB_SIZE)
    w = Window.orderBy(F.col("cnt").desc(), "token")
    ranked = (top.withColumn("token_id", (F.row_number().over(w) - 1).cast("bigint"))
              .withColumn("cum", F.sum("cnt").over(
                  w.rowsBetween(Window.unboundedPreceding, 0))))
    return (ranked.crossJoin(F.broadcast(total))
            .select("token_id", "token", F.col("cnt").cast("bigint").alias("cnt"),
                    F.round(F.col("cum").cast("double") / F.col("tot"), 6)
                     .alias("cum_frac")))


# ---------------------------------------------------------------------------
# Corpus-level boilerplate detection (C4-style frequent-fragment mining).
# ---------------------------------------------------------------------------

BP_N = 2            # fragment order (token bigrams)
BP_DF_PERMILLE = 65  # doc-frequency threshold, per-mille of corpus


def _boilerplate_oracle() -> str:
    from ..functions.text import token_ngrams_sql
    return f"""
WITH grams AS (
  SELECT DISTINCT doc_id, g AS gram
  FROM documents, UNNEST({token_ngrams_sql(tokens_sql('text'), BP_N)}) AS u(g)
), dfreq AS (
  SELECT gram, COUNT(*) AS doc_freq FROM grams GROUP BY gram
), nd AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT gram, doc_freq,
       CAST(ROUND(CAST(doc_freq AS DOUBLE) / (SELECT n_docs FROM nd), 6) AS DOUBLE)
         AS df_frac
FROM dfreq
WHERE doc_freq * 1000 >= {BP_DF_PERMILLE} * (SELECT n_docs FROM nd)
"""


@register(
    "text_boilerplate_ngrams",
    oracle=_boilerplate_oracle(),
    description=f"boilerplate fragments: token {BP_N}-grams appearing in "
                f">= {BP_DF_PERMILLE}\u2030 of documents (doc-frequency mining)",
    tags=("text", "ngram", "boilerplate", "agg"),
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate mining — the detection half of C4-style
    cleaning: fragments (token n-grams) whose DOCUMENT frequency exceeds
    a corpus-fraction threshold are navigation chrome / license headers /
    templated text, and downstream cleaning strips them.

    Scale: grams are deduped WITHIN each document map-side
    (``array_distinct`` before the explode), so the one shuffle counts
    each (doc, gram) once — doc-frequency, not term-frequency — with
    map-side partial agg. The corpus size joins in as a broadcast scalar
    and the threshold compares integers (doc_freq*1000 >= permille*n_docs):
    no float in the keep decision. Output is bounded by the distinct-
    gram count above the threshold — corpus-fraction thresholds are
    scale-free, so the result stays boilerplate-sized as the corpus
    grows.
    """
    d = Catalog(spark, sf_dir).documents
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(token_ngrams(tokens("text"), BP_N)))
         .alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("doc_freq"))
    nd = d.agg(F.count("*").alias("n_docs"))
    return (dfreq.crossJoin(F.broadcast(nd))
            .where(F.col("doc_freq") * 1000 >= BP_DF_PERMILLE * F.col("n_docs"))
            .select("gram", "doc_freq",
                    F.round(F.col("doc_freq").cast("double") / F.col("n_docs"), 6)
                     .alias("df_frac")))


# ---------------------------------------------------------------------------
# Per-language percentile-threshold filtering (stratified curation).
# ---------------------------------------------------------------------------

QS_PCT = 0.5       # per-language percentile cut (median)


@register(
    "text_quality_stratified",
    oracle=f"""
WITH med AS (
  SELECT lang,
         CAST(ROUND(2 * quantile_cont(n_chars, {QS_PCT}), 0) AS BIGINT) AS thr_x2
  FROM documents GROUP BY lang
)
SELECT d.lang, m.thr_x2, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN 2 * d.n_chars >= m.thr_x2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN 2 * d.n_chars >= m.thr_x2 THEN d.n_chars ELSE 0 END) AS BIGINT)
         AS chars_kept
FROM documents d JOIN med m USING (lang)
GROUP BY d.lang, m.thr_x2
""",
    description="per-language median-threshold filter report: a stratified "
                "quality cut that can't starve low-resource languages",
    tags=("text", "quality", "stratified", "agg"),
)
def text_quality_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quality filtering: cut each LANGUAGE at its own score
    percentile instead of one global threshold — the curation step that
    keeps low-resource languages from being starved by a global cut
    calibrated on the dominant language. Reports per-language kept/total
    so the mixture shift is visible before committing the filter.

    Determinism: the threshold is 2x the interpolated median — integer-
    exact in double for integer scores (midpoints are .5), rounded and
    compared as BIGINT, so Spark `percentile` and DuckDB `quantile_cont`
    agree bit-for-bit and the keep decision never touches a float.

    Scale: exact percentile state is bounded by DISTINCT SCORE VALUES
    (integer scores → histogram-sized, corpus-size-free); the per-lang
    threshold table is broadcast back, so the report is one corpus scan
    + one tiny exchange. For unbounded-cardinality scores swap in
    `percentile_approx` (q_approx_quantiles shows the contract).
    """
    d = Catalog(spark, sf_dir).documents
    med = (d.groupBy("lang")
           .agg(F.round(2 * F.percentile("n_chars", F.lit(QS_PCT)), 0)
                 .cast("bigint").alias("thr_x2")))
    kept = F.when(2 * F.col("n_chars") >= F.col("thr_x2"), 1).otherwise(0)
    return (d.join(F.broadcast(med), "lang")
            .groupBy("lang", "thr_x2")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(kept).alias("n_kept"),
                 F.sum(kept * F.col("n_chars")).alias("chars_kept")))


# ---------------------------------------------------------------------------
# BPE tokenizer training: the pair-count/merge-decision step.
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20


@register(
    "bpe_pair_counts",
    oracle=f"""
WITH wc AS (
  SELECT g AS word, COUNT(*) AS cnt
  FROM documents, UNNEST({tokens_sql('text')}) AS u(g)
  GROUP BY g
), pairs AS (
  SELECT unnest({char_ngrams_sql("word || '_'", 2)}) AS pair, cnt FROM wc
), agg AS (
  SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt FROM pairs GROUP BY pair
), ranked AS (
  SELECT pair, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS BIGINT) AS rank
  FROM agg
)
SELECT rank, pair, cnt FROM ranked WHERE rank <= {BPE_TOP_PAIRS}
""",
    description=f"BPE training step: corpus-weighted adjacent-symbol pair "
                f"counts, top-{BPE_TOP_PAIRS} merge candidates",
    tags=("text", "vocab", "agg"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training step: count adjacent symbol pairs over
    the corpus (char level, ``_`` as the end-of-word marker) and rank
    the merge candidates — rank 1 IS the next BPE merge. A full
    training run iterates this with the chosen merge applied to the
    symbol sequences (the ``emb_kmeans_step``/``q_pagerank`` precedent:
    one deterministic oracle-checkable step is the registry unit; the
    loop is repetition).

    Scale: this is why real BPE trainers (SentencePiece, HF tokenizers)
    are feasible at all — pair counting runs over the DISTINCT-WORD
    table weighted by word frequency, not over the corpus. The corpus
    is touched exactly once (the word count, one shuffle, map-side
    combinable); the pair explode and second shuffle see only the
    Heaps-law vocabulary (≪ corpus, and it only shrinks as merges
    apply). Top-K is TakeOrderedAndProject; the rank window runs over K
    rows (bounded 1P, ``vocab_build`` precedent).
    """
    d = Catalog(spark, sf_dir).documents
    wc = (d.select(F.explode(tokens("text")).alias("word"))
          .groupBy("word").agg(F.count("*").alias("cnt")))
    pairs = wc.select(
        F.explode(char_ngrams(F.concat(F.col("word"), F.lit("_")), 2))
         .alias("pair"),
        "cnt")
    agg = pairs.groupBy("pair").agg(F.sum("cnt").cast("bigint").alias("cnt"))
    top = agg.orderBy(F.col("cnt").desc(), "pair").limit(BPE_TOP_PAIRS)
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    return (top.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .select("rank", "pair", "cnt"))


# ---------------------------------------------------------------------------
# BPE tokenizer training: the full iterative merge loop.
# ---------------------------------------------------------------------------

BPE_MERGES = 8


def _bpe_oracle_prefix(k: int = BPE_MERGES) -> str:
    """Shared DuckDB CTE prefix for the k-merge BPE training loop: per
    step, pair counts over the current symbol sequences → argmax merge
    → greedy apply. Symbol sequences are wrapped as ``;sym|`` runs (the
    token alphabet is [a-z0-9_], so ``;``/``|`` are safe structural
    chars): the merge pattern ``;L|;R|`` → ``;M|`` consumes both whole
    tokens with no shared boundary character, so one ``replace()`` pass
    IS the canonical leftmost non-overlapping greedy merge — the
    space-separated encoding needs fixpoint iteration because adjacent
    matches share a separator. The apply is a LEFT join against the
    (at most 1-row) argmax so a fully-merged vocabulary — no pairs
    left anywhere — carries the word table through unchanged instead
    of annihilating it (matters for ``bpe_tokenize_apply``; the merge
    table itself just stops growing either way)."""
    parts = [f"""WITH wc AS (
  SELECT g AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents, UNNEST({tokens_sql('text')}) AS u(g)
  GROUP BY g
), w0 AS (
  SELECT regexp_replace(word || '_', '(.)', ';\\1|', 'g') AS seq, cnt FROM wc
)"""]
    for i in range(1, k + 1):
        parts.append(f""", p{i} AS (
  SELECT list_extract(l, u.i) AS lhs, list_extract(l, u.i + 1) AS rhs, cnt
  FROM (SELECT string_split(trim(seq, ';|'), '|;') AS l, cnt FROM w{i - 1}) t,
       UNNEST(range(1, len(l))) AS u(i)
), b{i} AS (
  SELECT CAST({i} AS BIGINT) AS step, lhs, rhs, lhs || rhs AS merged,
         CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM p{i} GROUP BY lhs, rhs
  ORDER BY cnt DESC, lhs, rhs LIMIT 1
), w{i} AS (
  SELECT CASE WHEN b.lhs IS NULL THEN w.seq
         ELSE replace(w.seq, ';' || b.lhs || '|;' || b.rhs || '|',
                      ';' || b.merged || '|') END AS seq, w.cnt AS cnt
  FROM w{i - 1} w LEFT JOIN b{i} b ON TRUE
)""")
    return "".join(parts)


def _bpe_train_oracle(k: int = BPE_MERGES) -> str:
    union = " UNION ALL ".join(f"SELECT * FROM b{i}" for i in range(1, k + 1))
    return (_bpe_oracle_prefix(k)
            + f"\nSELECT step, lhs, rhs, merged, cnt FROM ({union})")


def _bpe_symbols(seq: Column) -> Column:
    """Wrapped ``;a|;b|...`` sequence → array of symbols."""
    return F.split(F.btrim(seq, F.lit(";|")), r"\|;")


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct-word table in the wrapped symbol encoding: one
    corpus scan (map-side-combinable count shuffle), then map-only
    wrapping — (seq, cnt), seq = ``;c|`` per character of word + ``_``."""
    d = Catalog(spark, sf_dir).documents
    wc = (d.select(F.explode(tokens("text")).alias("word"))
          .groupBy("word").agg(F.count("*").cast("bigint").alias("cnt")))
    return wc.select(
        F.regexp_replace(F.concat(F.col("word"), F.lit("_")),
                         "(.)", ";$1|").alias("seq"),
        "cnt")


@register(
    "bpe_train_merges",
    oracle=_bpe_train_oracle(),
    description=f"BPE tokenizer training: {BPE_MERGES} iterative merges "
                f"over the distinct-word table, greedy leftmost apply, "
                f"merge table out",
    tags=("text", "vocab", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE training loop ``bpe_pair_counts`` is one step of:
    count corpus-weighted adjacent symbol pairs, merge the argmax pair
    (ties: count desc, then lexicographic) in every word, repeat. The
    returned merge table — (step, lhs, rhs, merged, cnt) with cnt the
    pre-merge pair count — IS the trained tokenizer artifact;
    ``tokenize_corpus``/``vocab_build`` consume a finished vocabulary
    downstream.

    Dataflow-only iteration (zero ``collect``): the argmax merge is a
    1-row DataFrame broadcast-cross-joined back into the word table,
    with the merge applied by ``F.replace`` over the ``;sym|``-wrapped
    sequence encoding (one replace pass == canonical greedy
    leftmost-non-overlapping apply — see ``_bpe_train_oracle``). The
    same unroll-with-``localCheckpoint`` discipline as ``q_pagerank`` /
    ``min_label_components``: each round's word table truncates its
    lineage and frees the superseded round's blocks, so round k's plan
    is O(1), not O(k).

    Scale (why real BPE trainers are feasible at 100 TB): the corpus is
    touched EXACTLY ONCE (the word-count shuffle, map-side combinable);
    all k iterations run over the Heaps-law distinct-word table —
    pair counting shuffles vocabulary-bounded (lhs, rhs) partials, the
    merge apply is map-only, and the broadcast is a single row. At a
    real 30k-merge run the per-iteration driver latency dominates, so a
    deployment batches non-overlapping merges per sweep; the semantics
    pinned here (argmax + greedy apply) are the per-merge unit either
    way."""
    from .dedup import _free_local_checkpoint

    words, merge_steps = _bpe_train(spark, sf_dir)
    out = merge_steps[0]
    for b in merge_steps[1:]:
        out = out.unionAll(b)
    _free_local_checkpoint(words)   # final word table: never read here
    return out


def _bpe_train(spark: SparkSession,
               sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """The k-merge training loop shared by ``bpe_train_merges`` (which
    returns the merge table) and ``bpe_tokenize_apply`` (which consumes
    the final word table). Returns (final words — eagerly checkpointed,
    caller frees it if unused — and the k 1-row merge DataFrames).

    The merge apply is a LEFT 1-row-broadcast join (not a crossJoin) so
    an exhausted vocabulary — no adjacent pairs anywhere — passes the
    word table through unchanged instead of annihilating it against an
    empty argmax (mirrors the oracle's ``LEFT JOIN b{i} ON TRUE``)."""
    from .dedup import _free_local_checkpoint

    words = _bpe_words(spark, sf_dir).localCheckpoint(eager=True)

    merge_steps: list[DataFrame] = []
    for step in range(1, BPE_MERGES + 1):
        syms = _bpe_symbols(F.col("seq"))
        n = F.size(syms)
        # sequence(1, 0) yields DESCENDING [1, 0], never empty — guard
        # single-symbol words (fully merged) out of pair generation.
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
               .otherwise(F.array().cast("array<int>"))
        pairs = (words.select(syms.alias("s"), "cnt",
                              F.explode(idx).alias("i"))
                 .select(F.element_at("s", F.col("i")).alias("lhs"),
                         F.element_at("s", F.col("i") + 1).alias("rhs"),
                         "cnt"))
        best = (pairs.groupBy("lhs", "rhs")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "lhs", "rhs").limit(1)
                .select(F.lit(step).cast("bigint").alias("step"),
                        "lhs", "rhs",
                        F.concat("lhs", "rhs").alias("merged"), "cnt")
                .localCheckpoint(eager=True))   # 1 row, read twice
        merge_steps.append(best)

        pat = F.concat(F.lit(";"), F.col("m_lhs"), F.lit("|;"),
                       F.col("m_rhs"), F.lit("|"))
        rep = F.concat(F.lit(";"), F.col("m_lhs"), F.col("m_rhs"),
                       F.lit("|"))
        prev = words
        words = (words.join(F.broadcast(
                    best.select(F.col("lhs").alias("m_lhs"),
                                F.col("rhs").alias("m_rhs"))),
                    F.lit(True), "left")
                 .select(F.when(F.col("m_lhs").isNull(), F.col("seq"))
                          .otherwise(F.replace(F.col("seq"), pat, rep))
                          .alias("seq"),
                         "cnt")
                 .localCheckpoint(eager=True))
        _free_local_checkpoint(prev)
    return words, merge_steps


@register(
    "bpe_tokenize_apply",
    oracle=_bpe_oracle_prefix() + """
SELECT t.tok AS token, CAST(SUM(cnt) AS BIGINT) AS cnt
FROM (SELECT string_split(trim(seq, ';|'), '|;') AS l, cnt
      FROM w""" + str(BPE_MERGES) + """),
     UNNEST(l) AS t(tok)
GROUP BY t.tok
""",
    description=f"apply the {BPE_MERGES} trained BPE merges: corpus "
                f"token histogram under the trained tokenizer",
    tags=("text", "vocab", "iterative"),
)
def bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer end of the tokenizer story: tokenize the corpus
    with the merges ``bpe_train_merges`` learned and return the token
    histogram — (token, cnt) for every surviving symbol, corpus-
    weighted. This is the table a vocabulary file is cut from and the
    input to token-budget accounting; training is inlined as the
    amortization upper bound (the ``ann_pq_adc_trained`` precedent —
    a deployment serves the stored merge table instead).

    Scale: identical posture to the trainer (one corpus scan, then
    Heaps-law-bounded iterations), plus one vocabulary-bounded count
    shuffle at the end. The histogram is bounded by |alphabet| + k
    merge symbols + partial-merge residues — tens of rows, not corpus-
    sized."""
    from .dedup import _free_local_checkpoint

    words, _steps = _bpe_train(spark, sf_dir)
    # The returned plan depends only on the final checkpointed words
    # table; free the per-step 1-row merge checkpoints (r8 ADVICE —
    # localCheckpoint blocks outlive clearCache otherwise).
    for b in _steps:
        _free_local_checkpoint(b)
    syms = _bpe_symbols(F.col("seq"))
    return (words.select(F.explode(syms).alias("token"), "cnt")
            .groupBy("token")
            .agg(F.sum("cnt").cast("bigint").alias("cnt")))


def _bpe_artifact_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the trained merge table for ``sf_dir`` as parquet,
    ONCE per process; later calls serve from disk. The merge table is a
    deterministic function of the corpus, so reuse cannot change an
    answer — it removes the k training rounds from the serve path (the
    ``_pq_artifact_dir`` economics: merges retrain per corpus dump,
    tokenization runs forever)."""
    from .dedup import _free_local_checkpoint

    def build() -> str:
        path = scratch_dir("fsbd_bpe_merges_")
        words, steps = _bpe_train(spark, sf_dir)
        _free_local_checkpoint(words)
        out = steps[0]
        for b in steps[1:]:
            out = out.unionAll(b)
        out.coalesce(1).write.mode("overwrite").parquet(path)
        for b in steps:
            _free_local_checkpoint(b)
        return path
    return memo(("bpe_artifact_dir", sf_dir), build)


@register(
    "bpe_merges_persist",
    oracle=_bpe_oracle_prefix() + """
SELECT t.tok AS token, CAST(SUM(cnt) AS BIGINT) AS cnt
FROM (SELECT string_split(trim(seq, ';|'), '|;') AS l, cnt
      FROM w""" + str(BPE_MERGES) + """),
     UNNEST(l) AS t(tok)
GROUP BY t.tok
""",
    description="persisted-tokenizer lifecycle: merge table stored as "
                "parquet, tokenization served from disk by ONE fold "
                "pass — same oracle as bpe_tokenize_apply, so the hash "
                "proves persisted == trained-inline",
    tags=("text", "vocab", "storage"),
)
def bpe_merges_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment serve path of the tokenizer: read the STORED
    merge table and tokenize the corpus with a single ``F.aggregate``
    fold over the step-ordered merges — one map-only pass applying all
    k merges per word, no per-merge rounds, no training scan (the
    trainer's k checkpointed rounds exist to DISCOVER the merges; a
    tokenizer that already has them needs exactly one pass). Reuses
    ``bpe_tokenize_apply``'s oracle, so the driver hash is a round-trip
    proof that the persisted artifact serves bit-identical tokens.

    Scale: the merge table is k rows (collected into one 1-row array —
    corpus-size-free, the broadcast-codebook pattern); the word table
    is Heaps-law-bounded; the fold is whole-stage-codegen string work,
    zero Python. Merge ORDER is load-bearing (BPE merges compose) and
    enforced by ``array_sort`` over (step, lhs, rhs) structs, not by
    row order off disk."""
    merges = spark.read.parquet(_bpe_artifact_dir(spark, sf_dir))
    marr = (merges
            .agg(F.array_sort(F.collect_list(
                F.struct("step", "lhs", "rhs"))).alias("ms")))
    apply_all = F.aggregate(
        F.col("ms"), F.col("seq"),
        lambda acc, m: F.replace(
            acc,
            F.concat(F.lit(";"), m["lhs"], F.lit("|;"), m["rhs"], F.lit("|")),
            F.concat(F.lit(";"), m["lhs"], m["rhs"], F.lit("|"))))
    words = _bpe_words(spark, sf_dir)
    return (words.join(F.broadcast(marr), F.lit(True), "left")
            .select(F.explode(_bpe_symbols(apply_all)).alias("token"), "cnt")
            .groupBy("token")
            .agg(F.sum("cnt").cast("bigint").alias("cnt")))


# ---------------------------------------------------------------------------
# N-gram LM document scoring (the perplexity-filter step).
# ---------------------------------------------------------------------------

LM_QUANT = 1000   # per-bigram log-prob quantized to 1e-3


@register(
    "text_lm_score",
    oracle=f"""
WITH bg AS (
  SELECT doc_id, g, string_split(g, ' ')[1] AS w1
  FROM (SELECT doc_id,
               unnest({token_ngrams_sql(tokens_sql('text'), 2)}) AS g
        FROM documents)
), uni AS (
  SELECT g AS w, COUNT(*) AS c1
  FROM documents, UNNEST({tokens_sql('text')}) AS u(g)
  GROUP BY g
), vv AS (
  SELECT COUNT(*) AS v FROM uni
), bgc AS (
  SELECT g, COUNT(*) AS c12 FROM bg GROUP BY g
), scored AS (
  SELECT bg.doc_id,
         CAST(FLOOR({LM_QUANT} * ln((bgc.c12 + 1.0) / (uni.c1 + vv.v)))
              AS BIGINT) AS qlp
  FROM bg JOIN bgc USING (g) JOIN uni ON bg.w1 = uni.w CROSS JOIN vv
), per AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(SUM(qlp) AS BIGINT) AS sum_qlogp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       COALESCE(per.sum_qlogp, 0) AS sum_qlogp,
       CASE WHEN per.n_bigrams > 0
            THEN ROUND(CAST(per.sum_qlogp AS DOUBLE)
                       / ({LM_QUANT} * per.n_bigrams), 6)
       END AS avg_logprob
FROM documents d LEFT JOIN per USING (doc_id)
""",
    description="add-one-smoothed bigram-LM document scoring (quantized "
                "log-probs), the perplexity-filter step",
    tags=("text", "ngram", "agg"),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document under a bigram LM trained on the corpus
    itself — the CCNet/Gopher perplexity-filtering step (there a KenLM
    5-gram; the estimator here is add-one-smoothed
    p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V), same plan shape). Low
    ``avg_logprob`` = improbable token transitions = the documents a
    perplexity threshold drops.

    Determinism: each per-bigram log-prob is quantized to 1e-3
    (``floor(1000·ln p)``) BEFORE summation, so cross-engine agreement
    needs only that both ``ln``s (≤1 ulp apart on identical rational
    inputs — the division is correctly rounded in both) land in the
    same 1e-3 cell; the per-doc sum is then exact integer arithmetic in
    any order (the ``emb_kmeans_step`` convention), and the final
    average divides two exact integers.

    Scale: the LM "training" (unigram+bigram counts) is two map-side
    combinable shuffles; scoring re-joins each bigram occurrence to its
    counts — gram-keyed shuffle joins, the exact shape of the
    ``dedup_span_stats`` mark-join (at 100 TB the LM tables would
    instead be trained once, truncated to a vocabulary, and broadcast —
    the counts-join-back shape here is the self-trained variant). V is
    a 1-row broadcast. The per-doc re-aggregation map-side combines.
    """
    d = Catalog(spark, sf_dir).documents
    # Materialized token column: token_ngrams over the raw tokens()
    # expression re-tokenizes per bigram position (the dedup-module
    # shingle note) — feed it an attribute instead.
    toks = d.select("doc_id", tokens("text").alias("tok"))
    bg = (toks.select("doc_id",
                      F.explode(token_ngrams(F.col("tok"), 2)).alias("g"))
          .withColumn("w1", F.split("g", " ")[0]))
    uni = (toks.select(F.explode("tok").alias("w"))
           .groupBy("w").agg(F.count("*").alias("c1")))
    vv = uni.agg(F.count("*").alias("v"))
    bgc = bg.groupBy("g").agg(F.count("*").alias("c12"))
    qlp = F.floor(LM_QUANT * F.log((F.col("c12") + F.lit(1.0))
                                   / (F.col("c1") + F.col("v")))).cast("bigint")
    scored = (bg.join(bgc, "g")
              .join(uni, bg["w1"] == uni["w"])
              .crossJoin(F.broadcast(vv))
              .select("doc_id", qlp.alias("qlp")))
    per = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("qlp").cast("bigint").alias("sum_qlogp"))
    n_bg = F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint")
    return (d.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id",
                    n_bg.alias("n_bigrams"),
                    F.coalesce(F.col("sum_qlogp"), F.lit(0)).cast("bigint")
                     .alias("sum_qlogp"),
                    F.when(F.col("n_bigrams") > 0,
                           F.round(F.col("sum_qlogp").cast("double")
                                   / (LM_QUANT * F.col("n_bigrams")), 6))
                     .alias("avg_logprob")))


# ---------------------------------------------------------------------------
# Equi-depth feature binning (discretization for downstream models).
# ---------------------------------------------------------------------------

@register(
    "q_feature_binning_equidepth",
    oracle="""
WITH q AS (
  SELECT CAST(ROUND(4 * quantile_cont(n_chars, 0.25), 0) AS BIGINT) AS q1_x4,
         CAST(ROUND(4 * quantile_cont(n_chars, 0.50), 0) AS BIGINT) AS q2_x4,
         CAST(ROUND(4 * quantile_cont(n_chars, 0.75), 0) AS BIGINT) AS q3_x4
  FROM documents
)
SELECT CASE WHEN 4 * d.n_chars < q.q1_x4 THEN 0
            WHEN 4 * d.n_chars < q.q2_x4 THEN 1
            WHEN 4 * d.n_chars < q.q3_x4 THEN 2
            ELSE 3 END AS bin,
       COUNT(*) AS n_docs,
       CAST(MIN(d.n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(d.n_chars) AS BIGINT) AS max_chars
FROM documents d CROSS JOIN q
GROUP BY 1
""",
    description="equi-depth quartile binning of document length: "
                "broadcast exact boundaries, map-side bin assignment",
    tags=("text", "quality", "agg"),
)
def q_feature_binning_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature discretization — equi-depth (quartile) binning of a
    numeric feature, the preprocessing step behind monotone-binned
    quality tiers, stratified samplers, and GBDT-style feature
    bucketing. The naive plan (``ntile`` over a global sort) funnels
    the corpus through one task; the scalable plan computes the k-1
    boundaries once and assigns bins map-side.

    Determinism: quartile interpolation positions are quarters, so 4×
    the interpolated value is integer-exact in double for an integer
    feature; boundaries compare as BIGINT against 4·n_chars and the
    bin decision never touches a float (the ``text_quality_stratified``
    2× trick, at 4× because quartile fractions are k/4).

    Scale: exact-percentile state is bounded by distinct feature
    values (histogram-sized); the 1-row boundary table broadcasts; bin
    assignment is map-side; the report is ONE corpus scan + one 4-group
    aggregate. Unbounded-cardinality features swap in
    ``percentile_approx`` (the ``q_approx_quantiles`` contract).
    """
    d = Catalog(spark, sf_dir).documents
    q = d.agg(*[
        F.round(4 * F.percentile("n_chars", F.lit(p)), 0).cast("bigint")
         .alias(a)
        for p, a in ((0.25, "q1_x4"), (0.50, "q2_x4"), (0.75, "q3_x4"))])
    n4 = 4 * F.col("n_chars")
    bin_ = (F.when(n4 < F.col("q1_x4"), 0)
            .when(n4 < F.col("q2_x4"), 1)
            .when(n4 < F.col("q3_x4"), 2)
            .otherwise(3))
    return (d.crossJoin(F.broadcast(q))
            .groupBy(bin_.alias("bin"))
            .agg(F.count("*").alias("n_docs"),
                 F.min("n_chars").cast("bigint").alias("min_chars"),
                 F.max("n_chars").cast("bigint").alias("max_chars")))
