"""Deduplication operators (exact + near-dup) over the documents table.

The testdata generator plants ~25 near-duplicate pairs (token-3-gram
jaccard ≥ 0.8) in `documents`; these operators find them four ways:

- ``dedup_exact``      — content-hash groupBy (sha256). One shuffle.
- ``dedup_minhash_lsh``— MinHash signatures + banded LSH candidates +
  exact jaccard verify. The 100 TB path: cost is O(docs × shingles) for
  signatures plus a bucket-join whose fan-out is controlled by band
  width, never an all-pairs product.
- ``dedup_simhash``    — 32-bit SimHash + nibble-band blocking. Banding
  into 8 4-bit bands is *lossless* for hamming ≤ 4 (pigeonhole: ≤4
  flipped bits cannot touch all 8 bands), so the banded plan returns
  exactly the brute-force result — the oracle exploits that and checks
  the banded Spark plan against a simple all-pairs SQL.
- ``dedup_ngram_jaccard`` — exact jaccard with AllPairs prefix
  filtering: candidates must share one of their *rarest* shingles
  (lossless for jaccard ≥ t), so hot-shingle fan-out never goes
  quadratic; full-intersection verify on survivors only.

Portability: every hash that reaches results is md5-based (see
``functions.hashing``) so DuckDB reproduces signatures bit-for-bit.
MinHash mins over an affine integer family derived from one md5 per
shingle (exact BIGINT arithmetic mod 2³¹-1 — identical in both
engines; see the constants block below). Spark computes the bucket ids
with one Arrow kernel (``_minhash_buckets``, an ``arrow_udf`` under
:func:`_band_rows`), not Catalyst higher-order functions: the 16
interpreted ``transform`` chains cost a per-shingle lambda call in
every task and ~2,000 py4j round trips to build each plan. The kernel
hashes the same UTF-8 bytes with md5, runs the same family as numpy
int64 (every product < 2⁶², so no overflow and no rounding) and keys
each band with the same ``'|'``-joined decimal text, so its buckets
equal the Catalyst form's bit for bit (pinned in
``tests/test_minhash_kernel.py``) and the DuckDB oracle's.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import ArrayType, StringType

from ..engine.catalog import Catalog
from ..engine.generations import write_generation
from ..engine.pointfetch import VerifyStore, two_tier_verify, write_payload
from ..engine.scratch import memo, scratch_dir
from ..functions.candidates import candidate_pairs
from ..functions.hashing import hex64, hex64_sql, lcg_stream
from ..functions.text import token_ngrams, token_ngrams_sql, tokens, tokens_sql
from .registry import register

SHINGLE_N = 3
N_HASHES = 16          # minhash signature length
BANDS = 8              # → rows-per-band r = 2; P(candidate) = 1-(1-j²)⁸
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 32
HAMMING_MAX = 4        # lossless with 8 nibble bands

_SHINGLES_SQL = (
    f"list_distinct({token_ngrams_sql(tokens_sql('text'), SHINGLE_N)})"
)


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s) — one row per doc, s = distinct token 3-gram shingles.

    The compact per-doc form: signatures explode it, verification
    intersects it map-side. Persisted by callers that consume it more
    than once so tokenization+n-gramming runs a single time.
    """
    d = Catalog(spark, sf_dir).documents
    # Tokenize into a real column first: token_ngrams references its input
    # inside a transform() lambda, and a lambda body re-evaluates non-
    # attribute expressions per ELEMENT. An attribute reference keeps the
    # regex split at once-per-row (CollapseProject leaves multi-referenced
    # non-cheap projections alone).
    # Filter on token count, not size(s) > 0: they're equivalent (n-grams
    # exist iff tokens ≥ n), but a filter on s would be pushed below the
    # projections with the whole shingle expression re-inlined into it.
    toks = (d.select("doc_id", tokens("text").alias("toks"))
            .where(F.size("toks") >= SHINGLE_N))
    sh = F.array_distinct(token_ngrams(F.col("toks"), SHINGLE_N))
    return toks.select("doc_id", sh.alias("s"))


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g) — distinct token 3-gram shingles, one row per shingle.

    The shingle expression lives INSIDE the generator call, not in a
    projected column: Spark 4's InferFiltersFromGenerate only infers
    ``size(e)>0 AND isnotnull(e)`` when the generator input is a bare
    attribute, and on an attribute the inferred filter gets pushed
    through the defining Project with the whole tokenize+ngram chain
    re-inlined — three evaluations per row (filter ×2 + Project).
    A non-attribute input skips the rule entirely, so the chain runs
    once per row inside Generate. Paired order-alternating reps at
    sf0.1 (OPTIMIZATION_r14.md § 9): q_sketch_kmv
    7.36 → 0.90 s (8.2×), q_sketch_kmv_merge 7.38 → 1.23 s (6.0×),
    results identical; the global excludedRules dodge measured the
    same, so the local form ships (no optimizer-conf blast radius,
    works on caller-owned vanilla sessions too).
    """
    d = Catalog(spark, sf_dir).documents
    toks = (d.select("doc_id", tokens("text").alias("toks"))
            .where(F.size("toks") >= SHINGLE_N))
    return toks.select(
        "doc_id",
        F.explode(F.array_distinct(
            token_ngrams(F.col("toks"), SHINGLE_N))).alias("g"))


# ---------------------------------------------------------------------------
# Exact dedup.
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
SELECT sha256(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
    description="exact dedup: sha256 content hash, keep lowest doc_id",
    tags=("dedup", "agg"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return (
        d.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup.
# ---------------------------------------------------------------------------

# Affine MinHash family over one 60-bit md5 value per shingle:
# h_i(g) = (a_i·h + b_i) mod P with P = 2³¹-1 (Mersenne). One md5 per
# shingle instead of N_HASHES of them — the signature stage is 16×
# cheaper in hashing work, and the min() shuffles bigints, not hex
# strings. Constants come from the shared LCG stream (seed 1, a_i and b_i
# interleaved) so both engines embed the same literals; all products stay
# < 2⁶² (no BIGINT overflow anywhere).
MH_P = 2147483647
_mh_stream = lcg_stream(1, 2 * N_HASHES)
_MH_A = [a or 1 for a in _mh_stream[0::2]]
_MH_B = _mh_stream[1::2]


def _minhash_bands_prefix(s_sql: str = _SHINGLES_SQL,
                          src_filter: str | None = None) -> str:
    """Shared oracle prefix: the shingle→minhash→band CTE chain ending
    in ``bands(doc_id, band, bucket)`` — the exact content of the
    persisted band index (:func:`text_store`'s index is its corpus-side
    slice). Reused by :func:`_minhash_oracle` and the grown-index
    oracle of ``streaming.joins.stream_text_ingest``."""
    if src_filter is None:
        src_filter = f"len({tokens_sql('text')}) >= {SHINGLE_N}"
    mh_cols = ",\n         ".join(
        f"min(({_MH_A[i]} * h + {_MH_B[i]}) % {MH_P}) AS mh{i}"
        for i in range(N_HASHES)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(concat_ws('|', mh{2*b}, mh{2*b+1})) AS bucket FROM mh"
        for b in range(BANDS)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, {s_sql} AS s FROM documents
  WHERE {src_filter}
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), mh AS (
  SELECT doc_id,
         {mh_cols}
  FROM (SELECT doc_id, {hex64_sql('g')} % {MH_P} AS h FROM ex)
  GROUP BY doc_id
), bands AS (
{band_rows}
)"""


def _minhash_oracle(cand_pred: str = "a.doc_id < b.doc_id",
                    head_cols: str = "doc_a, doc_b",
                    threshold: float = JACCARD_THRESHOLD,
                    s_sql: str = _SHINGLES_SQL,
                    src_filter: str | None = None) -> str:
    """DuckDB twin of the full MinHash-LSH pipeline. ``s_sql``/
    ``src_filter`` parameterize the per-doc SET definition so other set
    families (the multimodal frame-hash sets) replay the same
    signatures, banding, candidate join, and exact verify over their
    own elements."""
    return _minhash_bands_prefix(s_sql, src_filter) + f""", cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND {cand_pred}
), sizes AS (
  SELECT doc_id, len(s) AS n FROM sh
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN ex ea ON ea.doc_id = c.doc_a
  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.g = ea.g
  GROUP BY c.doc_a, c.doc_b
)
SELECT {head_cols},
       ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= {threshold}
"""


_MH_A_NP = np.array(_MH_A, dtype=np.int64)
_MH_B_NP = np.array(_MH_B, dtype=np.int64)
_EMPTY_BUCKET = hashlib.md5(b"").hexdigest()


def _minhash_buckets(s: pa.Array, bands: int) -> pa.ListArray:
    """The ``bands`` bucket ids of every row of an ``array<string>``
    shingle-set column, as one Arrow batch — the kernel under
    :func:`_band_rows` (see there for why it is one kernel and why it
    is bit-exact). ``s`` is read through its offsets and values
    buffers: the flat shingle vector is hashed once, the 16-hash family
    runs as one (shingles × 16) int64 matrix, and per-row minima come
    from one ``reduceat`` over the non-empty rows' segment starts.
    Null rows, empty rows and null elements follow Catalyst's
    ``array_min``/``concat_ws`` null algebra: null elements are
    skipped, and a row with no non-null shingle gets
    ``md5('')`` in every band."""
    rows = N_HASHES // bands
    n = len(s)
    offs = s.offsets.to_numpy()
    row = np.repeat(np.arange(n), np.diff(offs))
    # a sliced list array shares its parent's whole values buffer
    g = s.values.slice(offs[0], offs[-1] - offs[0])
    keep = g.is_valid().to_numpy(zero_copy_only=False)
    if s.null_count:
        keep &= s.is_valid().to_numpy(zero_copy_only=False)[row]
    row = row[keep]
    digests = b"".join(hashlib.md5(v).digest()[:8] for v in
                       g.filter(pa.array(keep)).cast(pa.binary()).to_pylist())
    # hex64: the first 15 hex digits of md5 = the top 60 bits
    h = (np.frombuffer(digests, dtype=">u8") >> 4).astype(np.int64) % MH_P
    sig = (h[:, None] * _MH_A_NP + _MH_B_NP) % MH_P      # < 2**62: exact
    cnt = np.bincount(row, minlength=n)
    has = cnt > 0
    mins = (np.minimum.reduceat(sig, (np.cumsum(cnt) - cnt)[has], axis=0)
            if len(sig) else sig).tolist()
    out = []
    it = iter(mins)
    for nonempty in has:
        if not nonempty:
            out.extend([_EMPTY_BUCKET] * bands)
            continue
        m = next(it)
        out.extend(hashlib.md5("|".join(map(str, m[b * rows:(b + 1) * rows]))
                               .encode()).hexdigest()
                   for b in range(bands))
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * bands, bands, dtype=np.int32)),
        pa.array(out, type=pa.string()))


def _band_rows(sh: DataFrame, bands: int = BANDS) -> DataFrame:
    """(doc_id, band, bucket) LSH rows from the compact shingle table —
    signatures map-side (one md5 per shingle, affine family over it),
    bands as a ``bands``-row posexplode over the shared 16-hash
    signature. Bucket joins downstream are equi-joins on (band, bucket):
    shuffle bounded by signature size, never all-pairs.

    ``bands`` is the recall/precision LAYOUT KNOB over the same
    signatures: rows-per-band r = N_HASHES/bands, P(candidate at
    jaccard j) = 1-(1-j^r)^bands. The default 8×2 targets dedup's 0.8
    threshold; 16×1 pushes candidate recall at j=0.5 from ~90% to
    ~99.998% for ~16×-hotter buckets (measured in
    ``tests/test_dedup.py::test_band_layout_knob_recall_at_half``) —
    the trade ``decontam_fuzzy``'s docstring prices out.

    One Arrow kernel (``arrow_udf`` over :func:`_minhash_buckets`)
    computes every band's bucket id per row. The Catalyst form it
    replaces — 16 ``transform`` lambdas plus an md5 ``transform`` per
    row — is CodegenFallback: each lambda is interpreted per shingle,
    and building the 16 lambda chains cost ~2,000 py4j round trips per
    plan. The kernel is bit-identical to that form
    (``tests/test_minhash_kernel.py`` pins it): the per-shingle md5
    and the band md5 hash the same UTF-8 bytes; the affine family is
    exact int64 arithmetic in both (h < 2³¹ and a < 2³¹, so every
    product stays below 2⁶²) and min is order-free; the band key is
    the same ``'|'``-joined decimal text ``concat_ws`` builds from
    ``cast(bigint AS string)``.
    """
    if N_HASHES % bands:
        raise ValueError(f"bands={bands} must divide N_HASHES={N_HASHES}")

    @F.arrow_udf(ArrayType(StringType(), containsNull=False))
    def _buckets(s: pa.Array) -> pa.Array:
        return _minhash_buckets(s, bands)

    # the kernel sits inside the generator, not in a projected column:
    # a Generate over a bare attribute gets an inferred size/isnotnull
    # filter pushed below it with the kernel re-inlined (see _shingled)
    return sh.select("doc_id",
                     F.posexplode(_buckets("s")).alias("band", "bucket"))


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    description=f"MinHash({N_HASHES})+LSH({BANDS} bands) near-dup pairs, jaccard≥{JACCARD_THRESHOLD} verified",
    tags=("dedup", "lsh", "bench"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The per-doc shingle-set table feeds three consumers (signatures,
    # candidate verify ×2); persisting it runs tokenize+n-gram once. At
    # cluster scale this is the "shingle table" you'd checkpoint anyway.
    return minhash_lsh_pairs(_shingle_sets(spark, sf_dir).persist(),
                             sensor="minhash_lsh")


def minhash_lsh_pairs(sh: DataFrame, sensor: str,
                      threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """MinHash-LSH near-dup core over ANY (doc_id, s: array<string>)
    set table — shared by the token-shingle path
    (:func:`dedup_minhash_lsh`) and the multimodal frame-hash path
    (``operators.multimodal.multimodal_frame_neardup``): map-side
    16-hash signatures + banded buckets (:func:`_band_rows`), bucket
    equi-join candidates, exact jaccard verify on the compact arrays.
    Callers persist ``sh`` (it feeds signatures + verify ×2)."""
    # Signatures/bands map-side (see _band_rows): zero shuffle — the old
    # explode → groupBy(doc_id) formulation shuffled the entire exploded
    # shingle table (the engine's largest exchange) just to bring each
    # doc's shingles back together. Persisted: both self-join sides read
    # one signature pass instead of running the kernel once each.
    bands = _band_rows(sh).persist()
    cand = candidate_pairs(bands, bands, ["band", "bucket"], "doc_id",
                           ("doc_a", "doc_b"), sensor, order="<")
    return jaccard_pairs(cand, sh, threshold)


def jaccard_pairs(cand: DataFrame, sh: DataFrame,
                  threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard): the candidate pairs ``cand`` (doc_a,
    doc_b) whose exact shingle-set jaccard over ``sh`` (doc_id, s) is
    at least ``threshold``, rounded to 6 places — the one in-memory
    jaccard verify of the batch text builders. Each pair joins the
    compact per-doc arrays and intersects map-side: no shuffle of the
    exploded shingle table, and per-pair cost is bounded by document
    length, not corpus size."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    i = F.size(F.array_intersect("sa", "sb"))
    jac = F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        cand.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", i.alias("i"),
                F.size("sa").alias("na"), F.size("sb").alias("nb"))
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus index.
# ---------------------------------------------------------------------------

INCR_MOD, INCR_REM = 4, 3  # doc_id % 4 == 3 → the "newly arrived" batch


@register(
    "dedup_incremental",
    oracle=_minhash_oracle(
        cand_pred=(f"a.doc_id % {INCR_MOD} <> {INCR_REM} "
                   f"AND b.doc_id % {INCR_MOD} = {INCR_REM}"),
        head_cols="doc_a AS old_doc, doc_b AS new_doc",
    ),
    description="incremental dedup: 75% corpus index vs 25% new batch, "
                "bipartite LSH bucket join against the STORED band "
                "index, two-tier point-fetched verify",
    # "storage" since r13: the entry reads the hive-partitioned band
    # index + payload artifacts (the streaming gate's at-rest state),
    # which a zero-row corpus writes as schema-less empty dirs — the
    # empty-corpus gauntlet's documented exclusion class.
    tags=("dedup", "lsh", "incremental", "storage"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEWLY ARRIVED batch against the existing corpus — the
    production workflow (dumps arrive periodically; you never re-pair
    the whole corpus). The fixture carves the batch out of the documents
    table by ``doc_id % 4 == 3``.

    Since r13 (r12 verdict item 7) the entry runs against the SAME
    at-scale artifacts the streaming gate reads, and through the same
    code: candidates come from the STORED band index of
    :func:`text_store` (the corpus is bucketed once per dump, never
    re-shingled here) joined to the new batch's band rows, and the
    verify is the text family's one two-tier exact verify
    (:func:`jaccard_verify`) — so batch and stream make the same
    near-dup decision by construction. Candidate generation cost ∝
    new-batch size, never corpus²; verify I/O ∝ candidate pk
    directories, never a corpus pass.
    """
    store = text_store(spark, sf_dir)
    sh_new = (_shingle_sets(spark, sf_dir)
              .where(F.col("doc_id") % INCR_MOD == INCR_REM).persist())
    cand = candidate_pairs(spark.read.parquet(store.index),
                           _band_rows(sh_new), ["band", "bucket"], "doc_id",
                           ("old_doc", "doc_id"), "incremental_minhash")
    # the screened pair frame stays cached for the returned lazy frame,
    # as sh_new does
    return (jaccard_verify(spark, cand, sh_new, store, [])
            .select("old_doc", F.col("doc_id").alias("new_doc"),
                    "jaccard"))


def write_text_store(spark: SparkSession, sf_dir: str,
                     bands: DataFrame) -> VerifyStore:
    """Write the text family's verify store for the (doc_id, band,
    bucket) rows ``bands``: the band index, one file per band, and
    both payload tiers over exactly the docs ``bands`` holds — the one
    writer of the corpus base (:func:`text_store`), the compaction
    fold (``streaming.joins.text_index_compact_dirs``) and the vacuum
    lifecycle's private base (``streaming.vacuum``).

    Tier 1 (``screen``) is the docs' distinct int32 shingle hashes
    (:func:`hashed_shingle_cols`): ~0.5× the bytes of the raw-string
    shingle payload it replaced (which measured ~2.7× the corpus text,
    BENCHNOTES r11), widening on natural corpora — see that function's
    width note. Every candidate is screened there. Tier 2 (``exact``)
    is the docs' raw (doc_id, text): the exact verify re-derives a
    survivor's shingle set with the index build's own kernel, so at
    rest this tier is exactly 1× corpus text, and per batch only
    screen survivors (≈ true near-dups) open its row groups."""
    store = VerifyStore(scratch_dir("fsbd_minhash_index_"),
                        scratch_dir("fsbd_minhash_hash_payload_"),
                        scratch_dir("fsbd_doc_text_payload_"))
    write_generation(bands, store.index, "band", BANDS)
    member = bands.select("doc_id").distinct().persist()
    try:
        write_payload(hashed_shingle_cols(
            _shingle_sets(spark, sf_dir).join(member, "doc_id", "left_semi")),
            "doc_id", store.screen)
        write_payload(Catalog(spark, sf_dir).documents.select("doc_id", "text")
                      .join(member, "doc_id", "left_semi"),
                      "doc_id", store.exact)
    finally:
        member.unpersist()
    return store


def text_store(spark: SparkSession, sf_dir: str) -> VerifyStore:
    """The corpus side's text verify store (every doc outside the
    incremental residue), written ONCE per (process, corpus): the
    stored index ``dedup_incremental`` and every streaming text gate
    check new docs against, instead of re-bucketing the corpus."""
    return memo(("text_store", sf_dir), lambda: write_text_store(
        spark, sf_dir, _band_rows(_shingle_sets(spark, sf_dir).where(
            F.col("doc_id") % INCR_MOD != INCR_REM))))


def hashed_shingle_cols(sh: DataFrame) -> DataFrame:
    """(doc_id, hs, n, collide) from a (doc_id, s) shingle-set frame —
    the tier-1 screen representation shared by the store writer
    (:func:`write_text_store`) and :func:`jaccard_verify`'s new side
    (both sides MUST hash identically or the screen's superset argument
    below is void).

    ``hs`` = distinct 31-bit hash of each shingle (xxhash64 folded to
    int32), ``n`` = |s| (the EXACT set size; the screen's jaccard
    denominator uses exact sizes, only the intersection is hashed),
    ``collide`` = a within-set hash collision happened (|hs| < |s|).
    Width choice is MEASURED, not assumed: on the sf0.1 corpus the
    string payload dictionary-encodes to ~8.1 B/shingle-instance
    (27 k distinct shingles over 197 k instances), int64 hashes to
    ~8.3 B (dictionary gains nothing on the wider values), int32 to
    ~4.3 B — so 31 bits halves tier-1 bytes here, and the gap widens
    toward the plain-encoding ratio (~20-60 B strings vs 4 B) on
    natural corpora whose shingle dictionaries overflow the row group
    and fall back to plain. Narrower hashes cost nothing in
    correctness (argument below) — only a slightly busier tier 2.

    Why the screen never drops a true near-dup (the collision-safety
    argument the two-tier design rests on): when neither side has a
    within-set collision, every common shingle contributes a distinct
    common hash, so |hs_a ∩ hs_b| ≥ |s_a ∩ s_b|; with exact sizes in
    the denominator, hash-jaccard = ih/(n_a+n_b-ih) is monotone in ih
    and therefore ≥ exact jaccard — screening at the SAME threshold
    keeps a superset of the exact-passing pairs. A side WITH a
    within-set collision (probability ≈ n²/2³² per doc at 31 bits —
    ~10⁻⁶ for thousand-shingle docs, but not assumed away) bypasses
    the screen entirely via the ``collide`` flag and goes straight to
    the tier-2 exact verify."""
    hs = F.array_distinct(F.transform(
        "s", lambda x: F.pmod(F.xxhash64(x), F.lit(1 << 31)).cast("int")))
    return (sh.select("doc_id", hs.alias("hs"), F.size("s").alias("n"))
            .withColumn("collide", F.size("hs") < F.col("n")))


def jaccard_verify(spark: SparkSession, cand: DataFrame, sh_new: DataFrame,
                   store: VerifyStore, scope: list) -> DataFrame:
    """The text family's one exact verify: the verified (old_doc,
    doc_id, jaccard) pairs among the (old_doc, doc_id) candidates,
    jaccard ≥ ``JACCARD_THRESHOLD`` rounded to 6 places. ``sh_new``
    holds the new side's (doc_id, s) shingle sets; the corpus side is
    read only from the two payload tiers of ``store``
    (:func:`write_text_store`), by pk-pruned point fetch — never a
    documents.parquet pass (``engine.pointfetch.two_tier_verify`` runs
    the fetches; ``scope`` receives the persisted screened pairs).

    Tier 1 fetches candidate old docs' int32 shingle hashes and
    screens pairs on hash-jaccard at the same threshold — drop-free
    (:func:`hashed_shingle_cols`), so the screen changes I/O, never
    the result. Tier 2 fetches only the survivors' raw text,
    re-derives their shingle sets with the index build's own kernel
    and decides on exact jaccard, collision-proof."""

    def screen():
        nh = (hashed_shingle_cols(sh_new)
              .select("doc_id", F.col("hs").alias("hn"),
                      F.col("n").alias("nn"),
                      F.col("collide").alias("coll_n")))
        ih = F.size(F.array_intersect("ho", "hn"))
        keep = (F.col("coll_o") | F.col("coll_n")
                | (F.col("ih") / (F.col("no") + F.col("nn") - F.col("ih"))
                   >= JACCARD_THRESHOLD))
        return lambda pairs, rows: (
            pairs.join(rows.select("old_doc", F.col("hs").alias("ho"),
                                   F.col("n").alias("no"),
                                   F.col("collide").alias("coll_o")),
                       "old_doc")
            .join(nh, "doc_id")
            .select("old_doc", "doc_id", ih.alias("ih"),
                    "no", "nn", "coll_o", "coll_n")
            .where(keep)
            .select("old_doc", "doc_id"))

    def exact():
        # _shingle_sets' two-projection shape: tokenize into a real
        # column first so the regex split stays once-per-row under the
        # transform() lambda
        toks = tokens("text").alias("toks")
        so = F.array_distinct(token_ngrams(F.col("toks"), SHINGLE_N))
        i = F.size(F.array_intersect("so", "s"))
        jac = F.col("i") / (F.col("no") + F.col("nn") - F.col("i"))
        return lambda pairs, rows: (
            pairs.join(rows.select("old_doc", toks)
                       .select("old_doc", so.alias("so")), "old_doc")
            .join(sh_new, "doc_id")
            .select("old_doc", "doc_id", i.alias("i"),
                    F.size("so").alias("no"), F.size("s").alias("nn"))
            .where(jac >= JACCARD_THRESHOLD)
            .select("old_doc", "doc_id", F.round(jac, 6).alias("jaccard")))

    return two_tier_verify(spark, cand, "old_doc", "doc_id", store, screen,
                           exact, scope)


# ---------------------------------------------------------------------------
# SimHash near-dup.
# ---------------------------------------------------------------------------

def _simhash_sig_sql(bits: int = SIMHASH_BITS) -> str:
    """Per-doc ``bits``-wide simhash from shingle hex64 hashes (DuckDB)."""
    h = "('0x' || substring(md5(g), 1, 15))::BIGINT"
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN ({h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
sig AS (
  SELECT doc_id, {sig} AS simhash FROM (
    SELECT doc_id,
         {bit_sums}
    FROM ex GROUP BY doc_id)
)"""


def _simhash_oracle(bits: int = SIMHASH_BITS) -> str:
    # Oracle uses brute-force all-pairs: the banding is lossless for
    # hamming ≤ 4, so the banded Spark plan must match this exactly.
    return f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s FROM documents
  WHERE len({tokens_sql('text')}) >= {SHINGLE_N}
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), {_simhash_sig_sql(bits)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    description=f"SimHash({SIMHASH_BITS}b) near-dup pairs, hamming≤{HAMMING_MAX}, lossless nibble-band blocking",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signature is map-side, like the minhash path: hash each doc's
    # shingle array once (own projection → no re-inlining), then bit j of
    # the signature is set iff Σ(±1) over shingles is > 0, i.e. iff
    # strictly more than half the shingle hashes have bit j set. The old
    # explode → groupBy(doc_id, 32 sums) shuffled the whole exploded
    # shingle table; this shuffles nothing.
    #
    # Blocking: 8 nibble bands; pigeonhole-complete for hamming ≤ 4, so
    # no candidate the brute-force scan would keep is ever lost. The
    # 4-bit band width is a FIXTURE constant (16 buckets/band →
    # occupancy N/16, quadratic in N): `dedup_simhash_scaled` below is
    # the corpus-sized operating point.
    return simhash_pairs(_shingle_sets(spark, sf_dir),
                         bits=SIMHASH_BITS, band_bits=4)


SIMHASH_BANDS_SCALED = HAMMING_MAX + 1   # pigeonhole minimum: 5 bands
SIMHASH_BAND_BITS_SCALED = 12            # 2^12 buckets/band ≈ N/5 at N=20k
SIMHASH_BITS_SCALED = SIMHASH_BANDS_SCALED * SIMHASH_BAND_BITS_SCALED  # 60


@register(
    "dedup_simhash_scaled",
    oracle=_simhash_oracle(bits=SIMHASH_BITS_SCALED),
    description=f"SimHash at the corpus-scaled operating point: "
                f"{SIMHASH_BITS_SCALED}-bit signature, the pigeonhole-"
                f"minimum {SIMHASH_BANDS_SCALED} bands × "
                f"{SIMHASH_BAND_BITS_SCALED} bits (4096 buckets/band), "
                f"hamming≤{HAMMING_MAX}, oracle-hashed",
    tags=("dedup", "simhash"),
)
def dedup_simhash_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_simhash``'s deployment operating point — the same
    graduation the SRP width and IVF cells got after the sf1.0 probes
    (rounds 6-7): the fixture's 4-bit bands give a FIXED 16-bucket
    space per band, so per-band occupancy is N/16 and the band
    self-join is Θ(N²/16) — quadratic no matter the band count. Two
    knobs fix it together: band WIDTH grows with log₂(N) (12 bits →
    4096 buckets, occupancy N/4096), and the band COUNT drops to the
    pigeonhole minimum d+1 = 5 (d bit-flips corrupt at most d of 5
    disjoint bands, so one band always survives intact — lossless),
    which also cuts the explode fan-out from 8 rows/doc to 5. The
    signature widens to 5×12 = 60 bits, the full hex64 hash width.
    Semantics note (the documented trade, as with
    ``embedding_neardup_banded_scaled``): hamming ≤ 4 over 60 bits is
    a FINER near-dup criterion than over 32 — right for dedup at
    corpus scale, where only genuinely close signatures should pair.
    The oracle stays brute-force all-pairs, so the driver hash proves
    the wider banding lossless, not just self-consistent."""
    return simhash_pairs(_shingle_sets(spark, sf_dir),
                         bits=SIMHASH_BITS_SCALED,
                         band_bits=SIMHASH_BAND_BITS_SCALED)


def simhash_pairs(sh: DataFrame, bits: int, band_bits: int) -> DataFrame:
    """Parametric SimHash near-dup core: map-side ``bits``-wide
    signature from the shingle arrays, then the shared banded-hamming
    join (:func:`banded_hamming_pairs`). Lossless for hamming ≤ bands-1."""
    hashed = sh.select(
        "doc_id", F.transform("s", lambda g: hex64(g)).alias("h"))
    ones = [F.size(F.filter("h", lambda x: F.shiftright(x, j).bitwiseAND(1) == 1))
            for j in range(bits)]
    sig_expr = None
    for j in range(bits):
        term = F.when(ones[j] * 2 > F.size("h"), F.lit(1 << j)).otherwise(F.lit(0))
        sig_expr = term if sig_expr is None else sig_expr + term
    sig = hashed.select("doc_id", sig_expr.cast("bigint").alias("simhash"))
    return banded_hamming_pairs(sig, sig, bits=bits, band_bits=band_bits,
                                sig_col="simhash",
                                sensor=f"simhash_bits{bits}_band{band_bits}")


def banded_hamming_pairs(sig_a: DataFrame, sig_b: DataFrame, bits: int,
                         band_bits: int, sig_col: str, sensor: str,
                         hamming_max: int = HAMMING_MAX) -> DataFrame:
    """Banded hamming-ball join over ANY ``bits``-wide integer
    signature column — the blocking core shared by SimHash
    (:func:`simhash_pairs`) and the multimodal perceptual hash
    (``operators.multimodal.multimodal_phash_neardup``): split each
    signature into ``bits // band_bits`` disjoint CONTIGUOUS bands,
    join on (band, band value), verify exact hamming ≤
    ``hamming_max``. Pigeonhole-lossless while hamming_max ≤ bands - 1:
    d bit flips corrupt at most d bands, so one band always collides
    intact (any partition of the bit positions qualifies; contiguity is
    a layout choice, see below).

    Pass one frame twice for the self-join: distinct (doc_a, doc_b,
    hamming), doc_a < doc_b. Pass the existing corpus's and a new
    batch's signatures for the incremental shape: distinct (old_doc,
    new_doc, hamming), at a candidate cost ∝ batch size × bucket
    occupancy, never corpus².

    Band layout note (measured, r9): for signatures whose bits carry
    LOCALITY (the perceptual hash — bit k is a comparison at a fixed
    image position) we also trialed Manku et al.'s permuted/interleaved
    band assignment (band b = bits {b, b+B, …}) against the sf1.0
    probe corpus. Interleaving DOUBLED candidate volume (21.7 M vs
    10.9 M): on token-repetitive synthetic text the correlated bits
    form whole-signature patterns (all-ascending rows, alternating
    gradients), and interleaving distributes those popular patterns
    into EVERY band's value space (hot values 0/4095/0b1010… in all 5
    bands) where contiguous bands confine each correlated run to one
    band. Contiguous kept; the skew is content-driven, not
    geometry-driven, and the candidate sensor watches it.

    Scale: the geometry contract is the caller's — bucket space per
    band is 2^band_bits, so band_bits must grow with log2(N) to hold
    per-bucket occupancy (and with it the quadratic-in-occupancy
    bucket self-join) constant; see tests/test_geometry_guard.py."""
    a = _hamming_band_rows(sig_a, sig_col, bits, band_bits)
    hamming = F.bit_count(F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}")))
    if sig_a is sig_b:
        b, out, order = a, ("doc_a", "doc_b"), "<"
    else:
        b = _hamming_band_rows(sig_b, sig_col, bits, band_bits)
        out, order = ("old_doc", "new_doc"), None
    return (candidate_pairs(a, b, ["band", "nib"], "doc_id", out, sensor,
                            order=order, carry=(hamming.alias("hamming"),))
            .where(F.col("hamming") <= hamming_max))


def _hamming_band_rows(sig: DataFrame, sig_col: str, bits: int,
                       band_bits: int) -> DataFrame:
    """(doc_id, <sig_col>, band, nib) — the signature split into
    disjoint contiguous bands, one row per band, map-side."""
    assert bits % band_bits == 0, (bits, band_bits)
    mask = (1 << band_bits) - 1
    return sig.select(
        "doc_id", sig_col,
        F.explode(F.array(*[
            F.struct(F.lit(bnd).alias("band"),
                     F.shiftright(sig_col, band_bits * bnd)
                     .bitwiseAND(mask).alias("nib"))
            for bnd in range(bits // band_bits)
        ])).alias("bb"),
    ).select("doc_id", sig_col, "bb.band", "bb.nib")


# ---------------------------------------------------------------------------
# Exact n-gram jaccard (non-approximate baseline).
# ---------------------------------------------------------------------------

def _rarest_prefix(sh: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(ex, sizes, pref) over the shingle sets ``sh`` (doc_id, s): the
    exploded (doc_id, g) postings, the (doc_id, n) set sizes and the
    AllPairs prefix (doc_id, g, n) — each doc's ``n - ⌈t·n⌉ + 1``
    rarest shingles for t = 4/5, ordered by (global document
    frequency, shingle). A pair (or a contained doc) at similarity ≥ t
    shares a shingle inside that prefix, so the prefix join is the
    lossless candidate generator of ``dedup_ngram_jaccard`` and
    ``dedup_containment``."""
    ex = sh.select("doc_id", F.explode("s").alias("g"))
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    # ⌈t·n⌉ in exact integer arithmetic (t = 4/5): (4n + 4) div 5.
    prefix_len = (F.col("n") - ((F.lit(4) * F.col("n") + 4) / 5).cast("bigint") + 1)
    freq = ex.groupBy("g").agg(F.count("*").alias("df_g"))
    w = Window.partitionBy("doc_id").orderBy("df_g", "g")
    pref = (
        ex.join(freq, "g")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(F.col("pos") <= prefix_len)
        .select("doc_id", "g", "n")
    )
    return ex, sizes, pref


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s FROM documents
  WHERE len({tokens_sql('text')}) >= {SHINGLE_N}
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(s) AS n FROM sh
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
""",
    description=f"exact token-{SHINGLE_N}-gram jaccard ≥ {JACCARD_THRESHOLD}, prefix-filtered candidate join",
    tags=("dedup", "join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact jaccard join with AllPairs prefix filtering.

    A raw shared-shingle self-join fans out quadratically on hot
    shingles (a shingle in k docs → k² candidate rows), which is what
    kills this plan at corpus scale. Prefix filtering bounds it: order
    each doc's shingles by (global document frequency, shingle) and keep
    only the first ``n - ⌈t·n⌉ + 1`` — for jaccard ≥ t, the globally
    smallest shared shingle of any qualifying pair provably lies in
    BOTH prefixes (pigeonhole + minimality), so joining prefixes loses
    nothing, and prefixes are by construction the *rarest* shingles.
    Verification then counts the full intersection for the surviving
    candidates only — map-side over the persisted per-doc shingle
    arrays, so nothing re-shuffles the exploded table. Same results as
    the brute self-join (the oracle is still the plain all-pairs SQL)
    at a fraction of the shuffle.
    """
    sh = _shingle_sets(spark, sf_dir).persist()
    _, _, pref = _rarest_prefix(sh)
    # Length filter (lossless for jaccard ≥ 4/5): J ≤ min(|A|,|B|)/max,
    # so 4·na ≤ 5·nb ∧ 4·nb ≤ 5·na — prunes size-incompatible pairs
    # before the distinct and the verify join ever see them.
    cand = (
        pref.select(F.col("doc_id").alias("doc_a"), "g", F.col("n").alias("pna"))
        .join(pref.select(F.col("doc_id").alias("doc_b"), "g", F.col("n").alias("pnb")), "g")
        .where((F.col("doc_a") < F.col("doc_b"))
               & (4 * F.col("pna") <= 5 * F.col("pnb"))
               & (4 * F.col("pnb") <= 5 * F.col("pna")))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return jaccard_pairs(cand, sh, JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# Containment (doc-in-doc) detection.
# ---------------------------------------------------------------------------

CONTAIN_T = 0.8        # containment threshold (kept as 4/5 in int filters)


@register(
    "dedup_containment",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s FROM documents
  WHERE len({tokens_sql('text')}) >= {SHINGLE_N}
), ex AS (
  SELECT doc_id, unnest(s) AS g FROM sh
), sizes AS (
  SELECT doc_id, len(s) AS n FROM sh
), inter AS (
  SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT contained_doc, container_doc,
       ROUND(i * 1.0 / sa.n, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = contained_doc
WHERE i * 5 >= sa.n * 4
""",
    description=f"doc-in-doc containment |A∩B|/|A| ≥ {CONTAIN_T}: one-sided prefix filter vs full inverted index",
    tags=("dedup", "containment", "join"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment C(A,B) = |A∩B| / |A| — the doc-in-doc
    relation jaccard structurally misses: a short doc quoted whole
    inside a long one has tiny jaccard (∩ / big ∪) but containment ≈ 1.
    Corpus pipelines run this for boilerplate/quotation pruning and for
    eval-set decontamination where the eval item is a fragment of a
    train doc.

    Plan: prefix filtering applies to the CONTAINED side only — if
    C(A,B) ≥ t, at least one of A's ``|A| - ⌈t·|A|⌉ + 1`` globally
    rarest shingles is in B (pigeonhole; any global order works, rarity
    order minimizes fan-out), so A's prefix joins B's FULL posting list
    (the inverted index — linear state, what a containment index
    persists at scale). The container side cannot be prefix-filtered
    (nothing bounds |B|), which is exactly why this operator exists
    separately from ``dedup_ngram_jaccard``'s two-sided filter. A
    lossless size gate (|B| ≥ ⌈t·|A|⌉, since |A∩B| ≤ |B|) prunes
    size-incompatible pairs pre-verify; verification intersects the
    persisted per-doc arrays map-side, integer-exact (i·5 ≥ n·4).
    """
    sh = _shingle_sets(spark, sf_dir).persist()
    ex, sizes, pref = _rarest_prefix(sh)
    posting = (ex.join(sizes, "doc_id")
               .select(F.col("doc_id").alias("container_doc"), "g",
                       F.col("n").alias("nb")))
    cand = (
        pref.select(F.col("doc_id").alias("contained_doc"), "g",
                    F.col("n").alias("na"))
        .join(posting, "g")
        .where((F.col("contained_doc") != F.col("container_doc"))
               # lossless size gate: |A∩B| ≤ |B|, so C ≥ 4/5 needs 5|B| ≥ 4|A|
               & (5 * F.col("nb") >= 4 * F.col("na")))
        .select("contained_doc", "container_doc")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("contained_doc"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("container_doc"), F.col("s").alias("sb"))
    return (
        cand.join(sa, "contained_doc").join(sb, "container_doc")
        .select("contained_doc", "container_doc",
                F.size(F.array_intersect("sa", "sb")).alias("i"),
                F.size("sa").alias("na"))
        .where(F.col("i") * 5 >= F.col("na") * 4)
        .select("contained_doc", "container_doc",
                F.round(F.col("i") / F.col("na"), 6).alias("containment"))
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster formation (connected components over near-dup pairs).
# ---------------------------------------------------------------------------

def components_oracle(pairs_select: str, id_col: str = "doc_id") -> str:
    """Recursive-CTE connected components over a (doc_a, doc_b) pair
    query — the SQL twin of :func:`min_label_components`, shared by
    every clusters oracle (text MinHash here, embedding SRP in
    ``similarity.py``) so the closure definition cannot diverge."""
    return f"""
WITH RECURSIVE pairs AS (
  {pairs_select}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
), reach(node, lbl) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS {id_col},
       MIN(lbl) AS cluster_id,
       CAST(MIN(lbl) = node AS INTEGER) AS is_canonical
FROM reach
GROUP BY node
"""


def _free_local_checkpoint(df: DataFrame) -> None:
    """Free a SUPERSEDED localCheckpoint's persisted blocks eagerly.

    ``localCheckpoint`` blocks live outside the CacheManager, so
    ``spark.catalog.clearCache()`` (the sweep-boundary release) cannot
    reclaim them — without this, per-round checkpoints of the label
    loop wait on driver GC + ContextCleaner. The analyzed plan of a
    checkpointed DataFrame is a ``LogicalRDD`` wrapping the persisted
    RDD; unpersisting it drops the blocks immediately. DESTRUCTIVE for
    the passed DataFrame (lineage is truncated, the data cannot be
    recomputed) — only call on a round whose data is never read again.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # non-LogicalRDD plan / stopped session: no blocks
        pass


def min_label_components(pairs: DataFrame, a: str = "doc_a",
                         b: str = "doc_b",
                         id_col: str = "doc_id") -> DataFrame:
    """Min-label propagation connected components as a DataFrame loop:
    each round every node takes the min of its own and its neighbors'
    labels; converged when nothing changes. Rounds = component diameter
    (near-dup components are tiny, 2-3 rounds in practice); each round
    shuffles the bounded EDGE list, never a corpus. Members not in any
    pair do not appear (they are their own implicit singletons).

    Per-round ``localCheckpoint`` (not persist) truncates the LINEAGE,
    not just caches it: without truncation the label plan nests one
    level per round, and the driver-side plan bookkeeping every action
    performs grows with it — measured as an explainString heap OOM at
    sf1.0 on a wide-diameter pair set (scripts/scale_probe_sf1.py)
    long before any executor was stressed. Truncation keeps round k's
    plan O(1) regardless of k; a cluster deployment with flaky
    executors would swap in reliable ``checkpoint()`` against a
    checkpoint dir, same shape."""
    edges = (pairs.select(a, b).union(pairs.select(b, a))
             .toDF("src", "dst").localCheckpoint())
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("lbl", F.col("node")).localCheckpoint())
    while True:
        nbr_min = (edges.join(labels.withColumnRenamed("node", "src"), "src")
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.min("lbl").alias("nbr_lbl")))
        # the change flag rides IN the label frame (chg = some neighbor
        # label beat ours), so convergence detection is a scan of the
        # just-materialized blocks instead of a join of two rounds'
        # frames — one fewer join + exchange per round (guide §2.4)
        new_labels = (labels.join(nbr_min, "node", "left")
                      .select("node",
                              F.least("lbl", F.coalesce("nbr_lbl", "lbl"))
                              .alias("lbl"),
                              (F.col("nbr_lbl") < F.col("lbl"))
                              .cast("int").alias("chg"))
                      .localCheckpoint())
        changed = new_labels.where(F.col("chg") == 1).limit(1).count()
        # the superseded round's blocks are never read again (the
        # propagation join above was their last reader) — free them now
        # rather than leaking until driver GC (clearCache can't see
        # localCheckpoint blocks). new_labels keeps the chg column
        # (an int per node) — dropping it would wrap the checkpoint in
        # a Project and _free_local_checkpoint could no longer reach
        # the LogicalRDD to unpersist; every consumer ignores it.
        _free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    # the final labels are materialized, so the edge list has no
    # remaining readers either
    _free_local_checkpoint(edges)
    return labels.select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        (F.col("lbl") == F.col("node")).cast("int").alias("is_canonical"),
    )


@register(
    "dedup_clusters",
    oracle=components_oracle(f"SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh"),
    description="near-dup clusters: min-label connected components over MinHash pairs, canonical keeper per cluster",
    tags=("dedup", "custom", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn pairwise near-dup hits into deletion decisions.

    A dedup pipeline can't drop rows from a PAIR list — transitive
    duplicates (a≈b, b≈c) must collapse into one cluster with one
    canonical survivor. :func:`min_label_components` runs the min-label
    propagation loop; the DuckDB oracle computes the same components
    with a recursive CTE — transitive closure checked, not just pairs.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return min_label_components(pairs)


@register(
    "dedup_keep_best",
    oracle=f"""
WITH comp AS (
  {components_oracle(f"SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh")}
), j AS (
  SELECT c.cluster_id, d.doc_id, d.n_chars
  FROM comp c JOIN documents d USING (doc_id)
), ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM j
)
SELECT cluster_id, doc_id AS best_doc_id,
       CAST(n_chars AS BIGINT) AS best_n_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
""",
    description="quality-canonical dedup: per near-dup cluster keep the "
                "longest member (not the min-id), the keep-best curation policy",
    tags=("dedup", "custom", "iterative"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection by QUALITY: where ``dedup_clusters``
    keeps the min-id member (stable, arbitrary), production curation
    keeps the BEST member of each near-dup cluster — here the longest
    (``n_chars`` as the quality proxy; swap in ``text_quality_model``'s
    score for a learned policy), ties broken by doc_id.

    Scale: the component labels are bounded by the PAIR list (clusters
    only exist where near-dups exist), so the labels->documents join is
    a broadcast of the small side onto one corpus scan, and the argmax
    per cluster is a struct-max aggregate — map-side combinable, no
    window over the corpus.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs).select("doc_id", "cluster_id")
    d = Catalog(spark, sf_dir).documents.select("doc_id", "n_chars")
    j = d.join(F.broadcast(labels), "doc_id")
    best = F.max(F.struct(F.col("n_chars"),
                          (-F.col("doc_id")).alias("neg"))).alias("b")
    return (j.groupBy("cluster_id")
            .agg(best, F.count("*").alias("n_members"))
            .select("cluster_id",
                    (-F.col("b.neg")).cast("bigint").alias("best_doc_id"),
                    F.col("b.n_chars").cast("bigint").alias("best_n_chars"),
                    F.col("n_members").cast("bigint").alias("n_members")))


# ---------------------------------------------------------------------------
# Duplicate-span statistics (the scalable form of exact substring dedup).
# ---------------------------------------------------------------------------

SPAN_N = 4             # span length in tokens; production runs ~50


@register(
    "dedup_span_stats",
    oracle=f"""
WITH sp AS (
  SELECT doc_id, unnest({token_ngrams_sql(tokens_sql('text'), SPAN_N)}) AS g
  FROM documents
), cnt AS (
  SELECT g, COUNT(*) AS c FROM sp GROUP BY g
), per AS (
  SELECT sp.doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN cnt.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
  FROM sp JOIN cnt USING (g)
  GROUP BY sp.doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_spans, 0) AS n_spans,
       COALESCE(per.n_dup_spans, 0) AS n_dup_spans,
       ROUND(CAST(COALESCE(per.n_dup_spans, 0) AS DOUBLE)
             / greatest(COALESCE(per.n_spans, 0), 1), 6) AS dup_span_ratio
FROM documents d LEFT JOIN per USING (doc_id)
""",
    description=f"per-document duplicated token-{SPAN_N}-span statistics "
                "(fixed-window exact substring dedup)",
    tags=("dedup", "text", "agg"),
)
def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-SPAN detection — the fixed-window form of
    exact substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): any token window of length
    ``SPAN_N`` occurring more than once in the corpus (across documents
    OR repeated within one) marks its covering documents. Document-level
    dedup misses this entirely — boilerplate headers, license blocks,
    and quoted passages duplicate text between documents that are
    globally unique. Emits per-document span counts and the duplicated
    fraction, the signal a curation pipeline thresholds on (or feeds to
    a span-removal rewrite). ``SPAN_N`` is 4 against the tiny synthetic
    vocabulary; production uses ~50-token windows.

    Scale: the suffix-array construction in the paper is replaced by the
    MapReduce-friendly fixed-window plan — explode spans map-side, ONE
    shuffle counts them, one gram-keyed shuffle join marks each
    occurrence, per-doc re-aggregation map-side combines. No driver
    state, no quadratic candidate set (counting touches each occurrence
    once, however hot the span). At 100 TB the join key would be
    ``hex64(g)`` instead of the raw string (the md5-portable helpers) to
    cut shuffle width; kept raw here so the oracle stays a plain SQL
    twin. The trailing LEFT JOIN keeps sub-``SPAN_N`` documents in the
    result (ratio 0) — the corpus scan side is the broadcastable
    doc_id projection only when the per-doc agg is large, and Catalyst
    picks that direction itself.
    """
    d = Catalog(spark, sf_dir).documents
    # Tokenize into a real column first (the :func:`_shingle_sets`
    # note): token_ngrams' transform lambda re-evaluates a non-attribute
    # input per POSITION — O(tokens²) per doc on the scan hot path.
    toks = d.select("doc_id", tokens("text").alias("tok"))
    sp = toks.select("doc_id",
                     F.explode(token_ngrams(F.col("tok"), SPAN_N)).alias("g"))
    cnt = sp.groupBy("g").agg(F.count("*").alias("c"))
    per = (sp.join(cnt, "g")
           .groupBy("doc_id")
           .agg(F.count("*").alias("n_spans"),
                F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
                 .cast("bigint").alias("n_dup_spans")))
    n_spans = F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint")
    n_dup = F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint")
    return (d.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id",
                    n_spans.alias("n_spans"),
                    n_dup.alias("n_dup_spans"),
                    F.round(n_dup.cast("double")
                            / F.greatest(n_spans, F.lit(1)), 6)
                     .alias("dup_span_ratio")))


@register(
    "dedup_span_rewrite",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {tokens_sql('text')} AS tok FROM documents
), sp AS (
  SELECT t.doc_id, r.i - 1 AS p0, g[r.i] AS gram
  FROM (SELECT doc_id, {token_ngrams_sql(tokens_sql('text'), SPAN_N)} AS g
        FROM documents) t,
       UNNEST(range(1, len(t.g) + 1)) AS r(i)
), cnt AS (
  SELECT gram, COUNT(*) AS c FROM sp GROUP BY gram
), covered AS (
  SELECT DISTINCT sp.doc_id, sp.p0 + rk.k AS p
  FROM sp JOIN cnt USING (gram), UNNEST(range(0, {SPAN_N})) AS rk(k)
  WHERE cnt.c >= 2
), pos AS (
  SELECT toks.doc_id, r.i - 1 AS p, tok[r.i] AS tokval
  FROM toks, UNNEST(range(1, len(tok) + 1)) AS r(i)
), keptpos AS (
  SELECT pos.doc_id, pos.p, pos.tokval
  FROM pos LEFT JOIN covered ON pos.doc_id = covered.doc_id AND pos.p = covered.p
  WHERE covered.p IS NULL
), kept AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tokval, ' ' ORDER BY p) AS clean
  FROM keptpos GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.tok) AS BIGINT) AS n_tokens,
       CAST(len(t.tok) - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
       md5(COALESCE(k.clean, '')) AS clean_fp
FROM toks t LEFT JOIN kept k USING (doc_id)
""",
    description=f"span-removal rewrite: drop every token covered by a "
                f"corpus-duplicated {SPAN_N}-token span, fingerprint the rest",
    tags=("dedup", "text", "custom"),
)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLICATION step of :func:`dedup_span_stats`: rewrite each
    document with every token covered by a corpus-duplicated span
    removed (what exact substring dedup actually does to training data
    — Lee et al. cut the duplicated bytes, not the whole document).
    Emits per-document kept/removed counts and the md5 fingerprint of
    the cleaned token stream, so the oracle checks the REWRITTEN TEXT
    itself, not just the bookkeeping.

    Scale: spans explode map-side with their position; one shuffle
    counts them; the mark-join is gram-keyed (``dedup_span_stats``'s
    shape); covered positions explode at most SPAN_N× the duplicated
    spans, collapse through a distinct, and re-aggregate into a per-doc
    position set whose size is bounded by DOCUMENT LENGTH — never
    corpus-sized state. The rewrite itself is a map-side lambda filter
    over the token array (position ∉ covered set), no Python anywhere.
    """
    d = Catalog(spark, sf_dir).documents
    tok = tokens("text")
    toks = d.select("doc_id", tok.alias("tok"))
    sp = toks.select(
        "doc_id", F.posexplode(token_ngrams(F.col("tok"), SPAN_N))
        .alias("p0", "gram"))
    cnt = sp.groupBy("gram").agg(F.count("*").alias("c"))
    covered = (sp.join(cnt, "gram").where(F.col("c") >= 2)
               .select("doc_id",
                       F.explode(F.sequence(F.col("p0"),
                                            F.col("p0") + (SPAN_N - 1)))
                       .alias("p"))
               # collect_set deduplicates by itself — no pre-distinct
               # (it would cost a second exchange of the exploded set)
               .groupBy("doc_id").agg(F.collect_set("p").alias("cov")))
    cov = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(F.col("tok"),
                    lambda t, i: ~F.array_contains(cov, i.cast("int")))
    return (toks.join(covered, "doc_id", "left")
            .select("doc_id",
                    F.size("tok").cast("bigint").alias("n_tokens"),
                    (F.size("tok") - F.size(kept)).cast("bigint")
                    .alias("n_removed"),
                    F.md5(F.concat_ws(" ", kept)).alias("clean_fp")))


# ---------------------------------------------------------------------------
# Edit-distance dedup (Ed-Join): character-level fuzzy matching.
# ---------------------------------------------------------------------------

EDIT_Q = 7              # q-gram width (see docstring: tuned by measurement)
EDIT_MAXD = 4           # max edit distance reported
EDIT_TITLE = 48         # chars of the doc head treated as the "title" field
# Pigeonhole prefix: d edits destroy <= q*d positional q-grams, so any
# q*d + 1 of a string's positional grams contain >= 1 survivor.
EDIT_PREFIX = EDIT_Q * EDIT_MAXD + 1
# Below this many positional grams the prefix is the whole string and
# the pigeonhole no longer guarantees a survivor (see docstring).
EDIT_MINLEN = EDIT_PREFIX + EDIT_Q - 1


@register(
    "dedup_editdistance",
    oracle=f"""
WITH t AS (
  SELECT doc_id, substr(text, 1, {EDIT_TITLE}) AS title FROM documents
  WHERE len(substr(text, 1, {EDIT_TITLE})) >= {EDIT_MINLEN}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.title, b.title) AS INT) AS distance
FROM t a JOIN t b
  ON a.doc_id < b.doc_id
 AND abs(len(a.title) - len(b.title)) <= {EDIT_MAXD}
 AND levenshtein(a.title, b.title) <= {EDIT_MAXD}
""",
    description=f"edit-distance dedup: doc-title pairs within levenshtein "
                f"{EDIT_MAXD}, Ed-Join positional-q-gram prefix filter "
                "(oracle = brute-force ground truth, so parity PROVES the "
                "filter lossless)",
    tags=("dedup", "editdistance", "join"),
)
def dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy dedup — the family member token-set
    methods miss: transposed/typo'd titles whose token sets diverge
    (jaccard sees two different words; levenshtein sees 2 edits). The
    classic web-corpus use is title/URL canonicalization.

    Plan (Ed-Join, Xiao et al., VLDB'08 — re-derived over DataFrame
    ops): positional q-grams per title; a global gram-frequency table
    (vocabulary-bounded, broadcast) orders each doc's grams
    rarest-first; the first q·d+1 = {EDIT_PREFIX} positional grams form
    the PROBE prefix. Pigeonhole: d edits destroy at most q·d
    positional grams and shift survivors by at most d positions, so
    every true pair is found by joining one side's prefix against the
    other side's FULL gram list with |Δpos| <= d. Candidates therefore
    scale with rare-gram collisions, not with the quadratic all-pairs
    space; the exact levenshtein verify runs only on survivors, after a
    length pre-filter (|Δlen| <= d is necessary).

    The ORACLE is deliberately the brute-force all-pairs ground truth,
    not a replay of the filter: a hash match proves the prefix filter
    LOSSLESS on this corpus, the same proof pattern as simhash's
    nibble-band oracle (`dedup_simhash` above).

    Scale honesty: titles shorter than {EDIT_MINLEN} chars have fewer
    than q·d+1 positional grams, the pigeonhole degenerates, and both
    engines EXCLUDE them here. A deployment routes that bounded short
    bucket through length-banded blocking (|Δlen| <= d makes adjacent
    length buckets a complete cover) — a second tiny branch, not a
    different algorithm. This corpus's titles are all >= 44 chars.

    Why q = {EDIT_Q}: q trades prefix length (destroyed grams per edit
    = q, so prefix = q·d+1 grows with q) against gram RARITY (longer
    grams collide less). Measured on this corpus — whose ~30-word
    synthetic vocabulary is the adversarial case for content-based
    filtering, every short gram is common — candidate fraction of the
    all-pairs space: q=3 → 20-27%, q=5 → 4.8%, q=7 → 2.3%, flat from
    500 to 5000 docs (tests pin < 5%). On natural text the vocabulary
    grows with the corpus and rare grams stay rare, so the same plan
    prunes harder at scale; on a corpus like this one, q is the knob
    and the measurement above is how to set it.

    Window note: the per-doc rank that picks the prefix partitions by
    doc_id over ~{EDIT_TITLE - EDIT_Q + 1} rows — bounded by the TITLE,
    not the corpus (the `text_ngram_counts` per-order-window lesson
    does not apply).
    """
    d = Catalog(spark, sf_dir).documents
    t = (d.select("doc_id",
                  F.substring("text", 1, EDIT_TITLE).alias("title"))
         .where(F.length("title") >= EDIT_MINLEN))
    grams = t.select(
        "doc_id", "title",
        F.explode(F.expr(
            f"transform(sequence(1, length(title) - {EDIT_Q - 1}), "
            f"i -> struct(i AS pos, substring(title, i, {EDIT_Q}) AS g))"))
        .alias("pg")
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
    freq = grams.groupBy("g").agg(F.count("*").alias("freq"))
    ranked = (grams.join(F.broadcast(freq), "g")
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("doc_id")
                  .orderBy("freq", "g", "pos"))))
    prefix = ranked.where(F.col("rn") <= EDIT_PREFIX).select("doc_id", "pos", "g")
    cand = (
        prefix.alias("p").join(
            grams.select("doc_id", "pos", "g").alias("x"),
            (F.col("p.g") == F.col("x.g"))
            & (F.col("p.doc_id") != F.col("x.doc_id"))
            & (F.abs(F.col("p.pos") - F.col("x.pos")) <= EDIT_MAXD))
        .select(F.least("p.doc_id", "x.doc_id").alias("doc_a"),
                F.greatest("p.doc_id", "x.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = t.select(F.col("doc_id").alias("doc_a"), F.col("title").alias("title_a"))
    tb = t.select(F.col("doc_id").alias("doc_b"), F.col("title").alias("title_b"))
    return (
        cand.join(ta, "doc_a").join(tb, "doc_b")
        .where(F.abs(F.length("title_a") - F.length("title_b")) <= EDIT_MAXD)
        # Bounded levenshtein (guide §1.2 per-task work): the threshold
        # form runs the banded O(len·d) DP and returns -1 past the
        # bound instead of the full O(len²) table — identical distances
        # for every surviving pair (A/B'd result-equal, 1.9× on the
        # full query at sf0.1; only values ≤ EDIT_MAXD are ever kept).
        .withColumn("distance",
                    F.levenshtein("title_a", "title_b", EDIT_MAXD).cast("int"))
        .where(F.col("distance") >= 0)
        .select("doc_a", "doc_b", "distance")
    )
