"""Similarity search over the embeddings table (``array<float>``, dim 64).

33 registered operators in five families, each hash-exact against a
DuckDB oracle — even the approximate paths, because bucketing, cell
assignment and PQ coding are integer arithmetic on embedded literals:

- exact: ``ann_brute_topk`` (the recall baseline), ``embedding_neardup``,
  ``q_embedding_stats``, ``emb_label_outliers``;
- SRP LSH: ``ann_srp_lsh``, the banded near-dup (fixture and
  corpus-scaled) with its clusters/apply, the incremental and persisted
  ANN index, the kNN graph;
- IVF: ``ann_ivf`` (16-cell fixture comparator) with ``emb_kmeans_step``
  and ``emb_cell_representatives``, the 256-cell sign codebook
  (``ann_ivf_scaled``, persisted, appended) and SemDeDup within its
  cells;
- PQ and IVFADC: encode, one Lloyd training step, ADC search (literal,
  trained, persisted) and the composed IVF-PQ index (in-query,
  persisted, appended);
- PCA: integer power iteration, projection, second component.

One home per integer-exact step, shared by builders and serve paths:
literals from ``hashing.lcg_stream`` (here via ``_lcg_matrix``), the
``floor(x·100)`` quantizer ``vectors.quantize`` (Catalyst twin
``_quantized_embedding``), the sign-cell ranking
``vectors.sign_cell_order``, the query probe set ``_probed_queries``,
the ADC table ``_adc_lut``, the Lloyd step ``_pq_train_agg`` +
``_lloyd_centroid``, the codebook store
``_write_pq_codebook``/``_read_pq_codebook``. Oracles replay each step
in SQL on their own. Cosine is computed in double after an elementwise
float→double widen, left-to-right accumulation — bit-compatible with
DuckDB's ``list_cosine_similarity`` on the same values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from ..engine.catalog import Catalog
from ..engine.generations import write_generation
from ..engine.localdf import local_df
from ..engine.pointfetch import VerifyStore, two_tier_verify, write_payload
from ..engine.scratch import memo, scratch_dir
from ..functions.candidates import candidate_pairs
from ..functions.hashing import lcg_stream
from ..functions.skew import grouped_topk
from ..functions.vectors import (cosine_sim, cosine_sim_exprs, quantize,
                                 sign_cell_order)
from .registry import register

N_QUERIES = 5          # vec_id < 5 are the query vectors
TOP_K = 10
NEARDUP_COS = 0.40

# SRP tuning: this corpus's true top-10 neighbors sit at cosine ≈ 0.45
# (θ ≈ 66°), so per-hyperplane agreement is only 1-θ/π ≈ 0.63. Short
# 4-bit tables keep per-table collision at 0.63⁴ ≈ 0.16; 16 tables lift
# recall to 1-(1-0.16)¹⁶ ≈ 0.94 at the cost of examining ≈ tables·N/2ᵇⁱᵗˢ
# candidates per query. On real embedding corpora (near-dups at cos≥0.9)
# the same code runs 8×16-bit tables with tiny candidate sets — the
# constants are the tuning surface, the plan shape doesn't change.
SRP_TABLES = 16
SRP_BITS = 4
SRP_DIM = 64
_SRP_SEED = 42


def neighbor_topk(scored: DataFrame, group: str, k: int) -> DataFrame:
    """(group, neighbor_id, rank, cosine): the exact re-rank every ANN
    builder ends with — the top-``k`` of each ``group``'s scored
    (group, neighbor_id, cos) candidates by (cos desc, neighbor_id
    asc), cosine rounded to 6 places. The SQL twin is
    :func:`_rerank_sql`.

    The cut is the skew-proof ``grouped_topk`` (functions/skew.py): a
    naive full sort partitioned by the group alone would push ~N
    candidates per query through N_QUERIES tasks — the
    low-cardinality-window ceiling; the native rank-limit window's
    partial WindowGroupLimit caps it at k rows per group per map
    partition (two-phase salt fallback on older runtimes)."""
    return (grouped_topk(scored, [group],
                         [F.desc("cos"), F.asc("neighbor_id")],
                         k, F.col("neighbor_id"))
            .select(group, "neighbor_id", "rank",
                    F.round("cos", 6).alias("cosine")))


def _rerank_sql(group: str, k: int) -> str:
    """The oracle tail of :func:`neighbor_topk`: the preceding ``cand``
    CTE's (group, neighbor_id) pairs scored by exact cosine over
    ``embeddings`` and cut to the top-``k`` per group."""
    return f""", scored AS (
  SELECT c.{group}, c.neighbor_id,
         list_cosine_similarity(n.embedding::DOUBLE[], g.embedding::DOUBLE[]) AS cos
  FROM cand c
  JOIN embeddings n ON n.vec_id = c.neighbor_id
  JOIN embeddings g ON g.vec_id = c.{group}
), ranked AS (
  SELECT {group}, neighbor_id, cos,
         ROW_NUMBER() OVER (PARTITION BY {group} ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT {group}, neighbor_id, rank, ROUND(cos, 6) AS cosine
FROM ranked WHERE rank <= {k}
"""


@register(
    "ann_brute_topk",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT q.query_id, e.vec_id AS neighbor_id
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)""" + _rerank_sql("query_id", TOP_K),
    description=f"exact cosine top-{TOP_K} neighbors for {N_QUERIES} query vectors (broadcast + window)",
    tags=("similarity", "ann", "bench"),
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).embeddings
    q = (e.where(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")))
    # Catalyst HOF cosine for THIS consumer (r15, closing the r14 watch
    # item): at N_QUERIES×corpus ≈ 12.5k scored pairs the Python
    # boundary never amortizes — 3-variant paired A/B minima: HOF
    # 0.537s vs Arrow-pandas 0.691s vs zero-copy 0.749s, HOF winning
    # every rep (OPTIMIZATION_r15.md §4; md5-equal).
    # The corpus-scale scorers stay on the Arrow kernel.
    scored = (
        F.broadcast(q).join(e, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cosine_sim_exprs(F.col("embedding"),
                                 F.col("qv")).alias("cos"))
    )
    return neighbor_topk(scored, "query_id", TOP_K)


def _lcg_matrix(seed: int, shape: tuple[int, ...]) -> np.ndarray:
    """``hashing.lcg_stream(seed, ·)`` as an int64 array of ``shape``,
    filled in row-major order; each literal family maps it to its own
    value range."""
    return np.asarray(lcg_stream(seed, int(np.prod(shape))),
                      dtype=np.int64).reshape(shape)


def _srp_hyperplanes(tables: int = SRP_TABLES, bits: int = SRP_BITS) -> np.ndarray:
    """Deterministic INTEGER hyperplanes, shape (tables*bits, DIM).

    Weights come from the shared LCG stream (``hashing.lcg_stream``,
    seed ``_SRP_SEED``) mapped to [-1000, 1000] — the same
    embed-the-literals discipline as the minhash affine family, so the
    DuckDB oracle carries the exact same planes. Integer weights (vs
    gaussian floats) cost nothing for LSH quality — sign-projection
    only needs directions spread over the sphere — and buy exactness:
    with embeddings quantized to integers (floor(x·1000), exact in
    double), the sign test is pure integer arithmetic with |dot| ≤ 64·10⁶ ≪ 2⁵³, so numpy, Catalyst and DuckDB
    agree bit-for-bit regardless of accumulation order.
    """
    return _lcg_matrix(_SRP_SEED, (tables * bits, SRP_DIM)) % 2001 - 1000


def _srp_bucket_udf(tables: int = SRP_TABLES, bits: int = SRP_BITS):
    """The Arrow-batched SRP bucketing UDF itself (one matmul per
    batch; see :func:`srp_bucket_rows` for the operating-point
    contract)."""
    planes = _srp_hyperplanes(tables, bits)  # captured in the UDF closure

    @F.pandas_udf(ArrayType(IntegerType()))
    def _buckets(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64)   # (n, dim)
        eq = np.floor(mat * 1000.0).astype(np.int64)      # exact in double
        bits_m = (eq @ planes.T) > 0                      # integer matmul, exact
        weights = (1 << np.arange(bits))
        out = np.einsum(
            "ntb,b->nt",
            bits_m.reshape(len(mat), tables, bits).astype(np.int64),
            weights,
        )
        return pd.Series(list(out.astype(np.int32)))

    return _buckets


def srp_bucket_rows(df: DataFrame, vec_col: str = "embedding",
                    tables: int = SRP_TABLES,
                    bits: int = SRP_BITS) -> DataFrame:
    """(vec_id, table_id, bucket) — one row per (vector, hash table),
    with the bucket UDF call INSIDE the generator.

    Arrow-batched pandas UDF: each batch becomes one (rows × dim) numpy
    matrix; bucket bits for all tables come from a single matmul against
    the (dim × tables·bits) hyperplane matrix.

    ``tables``/``bits`` are the corpus-size dial (registered queries pin
    the defaults so their oracles stay fixed): expected bucket occupancy
    is N/2^bits per table, and the bucket self-join is quadratic in
    occupancy, so ``bits`` MUST grow with log₂(N) — ~2^bits ≈ N/64 keeps
    per-bucket work constant. Higher bits also shifts recall toward
    higher-cosine pairs (collision prob p^bits per table), which is the
    operating point a 100 TB dedup actually wants (cos ≥ 0.9 dups, not
    0.4 neighbors); the 64× probe (scripts/scale_probe_embeddings.py)
    runs 8×12-bit against the same corpus to demonstrate the scaling.

    Exploding a projected ``buckets`` column lets Spark 4's
    InferFiltersFromGenerate infer ``size(buckets)>0 AND isnotnull`` on
    the generator's bare-attribute input, and filter pushdown then
    duplicates the ArrowEvalPython below that filter — the SRP matmul
    and a Python-worker round trip evaluated TWICE per scan branch
    (guide §4.4's duplicated-UDF shape; plan evidence in
    plans/r14/emb_knn_graph_before.txt operators (3)-(7)). A PythonUDF
    generator input is not an Attribute, so the rule skips entirely —
    one ArrowEvalPython per branch, no inferred filter (the generator
    drops empty/null arrays itself). Same discipline as the r14 KMV
    shingle fix (`_shingled`), which measured 8.2x on the same rule.
    """
    udf = _srp_bucket_udf(tables, bits)
    return df.select("vec_id",
                     F.posexplode(udf(F.col(vec_col)))
                     .alias("table_id", "bucket"))


def _srp_bucket_prefix(tables: int = SRP_TABLES,
                       bits: int = SRP_BITS) -> str:
    """Shared oracle prefix: the SRP plane literals and the
    quantize→sign-test→bucket CTE chain (``planes``/``eq``/``dots``/``b``)
    every SRP-bucketed oracle builds on. ``tables``/``bits`` mirror
    :func:`srp_bucket_rows`' knobs so non-default operating points (the
    scaled entry below) carry their own exact plane literals."""
    w = _srp_hyperplanes(tables, bits)
    rows = ",\n".join(
        f"  ({j // bits}, {j % bits}, "
        f"[{', '.join(str(int(x)) for x in w[j])}]::DOUBLE[])"
        for j in range(tables * bits))
    return f"""
WITH planes(table_id, bit, w) AS (VALUES
{rows}
), eq AS (
  SELECT vec_id, embedding,
         list_transform(embedding::DOUBLE[], x -> FLOOR(x * 1000)) AS v
  FROM embeddings
), dots AS (
  SELECT e.vec_id, p.table_id, p.bit, list_dot_product(e.v, p.w) AS d
  FROM eq e CROSS JOIN planes p
), b AS (
  SELECT vec_id, table_id,
         CAST(SUM(CASE WHEN d > 0 THEN 1 << bit ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY vec_id, table_id
)"""


def _srp_oracle() -> str:
    """DuckDB twin of the full SRP pipeline — quantize, 64 integer sign
    tests per vector, bucket collision join, exact cosine re-rank. The
    integer quantization (see :func:`_srp_hyperplanes`) is what makes a
    hash-exact oracle possible for an LSH operator."""
    return _srp_bucket_prefix() + f""", q AS (
  SELECT vec_id AS query_id, table_id, bucket FROM b WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT DISTINCT q.query_id, b.vec_id AS neighbor_id
  FROM q JOIN b USING (table_id, bucket)
  WHERE b.vec_id <> q.query_id
)""" + _rerank_sql("query_id", TOP_K)


@register(
    "ann_srp_lsh",
    oracle=_srp_oracle(),
    description=f"SRP-LSH ANN: {SRP_TABLES} tables × {SRP_BITS} bits, bucket join + exact verify",
    tags=("similarity", "ann", "lsh"),
)
def ann_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = Catalog(spark, sf_dir).embeddings
    tbl = srp_bucket_rows(src)
    cand = candidate_pairs(
        F.broadcast(tbl.where(F.col("vec_id") < N_QUERIES)), tbl,
        ["table_id", "bucket"], "vec_id", ("query_id", "neighbor_id"),
        f"srp_ann_t{SRP_TABLES}_b{SRP_BITS}", order="!=")
    return neighbor_topk(cosine_pairs(cand, src, "query_id", "neighbor_id"),
                         "query_id", TOP_K)


# IVF tuning: 16 spherical cells from deterministic unit centroids; the
# corpus index stores each vector in its nearest cell, queries probe the
# 6 nearest cells. Probing p of C cells scans ≈ p/C of the corpus — the
# knob that trades recall for scan fraction at 100 TB (real deployments
# train centroids with k-means and raise C so cells fit in one task;
# the plan shape — broadcast centroids, equi-join on cell id — is
# unchanged). NOTE on this corpus: the test embeddings are near-random
# (true top-10 neighbors sit at cosine ≈ 0.45), so recall ≈ scan
# fraction is the theoretical ceiling for ANY coarse quantizer here; on
# real embedding corpora (clustered, near-dups at cos ≥ 0.9) the same
# index concentrates neighbors into the probed cells and recall → 1.
IVF_CELLS = 16
IVF_PROBES = 6
_IVF_SEED = 7


def _ivf_centroids() -> np.ndarray:
    """Deterministic INTEGER centroids, shape (CELLS, DIM), weights in
    [-100, 100] from the same multiplicative LCG as the SRP planes (its
    own seed chain). Integer centroids make cell ASSIGNMENT exactly
    reproducible across engines — see :func:`ivf_cells`."""
    return _lcg_matrix(_IVF_SEED, (IVF_CELLS, SRP_DIM)) % 201 - 100


def ivf_cells(df: DataFrame, vec_col: str = "embedding",
              probes: int = 1) -> DataFrame:
    """Append ``cells: array<int>`` — the ``probes`` nearest centroids by
    cosine, one integer matmul per Arrow batch.

    Nearest-by-cosine = argmax d_c/√n_c (d_c = eq·C_c with eq the
    floor(x·100) integer quantization, n_c = |C_c|²). The ORDERING is
    decided without any float: d_a/√n_a vs d_b/√n_b compares as sign
    first, then d²·n cross-multiplied in int64. Overflow headroom is a
    property of the DATA RANGE: the comparator needs d²·n₂ < 2⁶³, and
    with this corpus's |x| ≤ 0.53 (|eq| ≤ 53, |d| ≤ 64·53·100,
    max n₂ = 64·100²) the products sit ~125× under the limit — but
    embeddings with |x| near 6 would silently wrap in numpy while DuckDB
    raises on BIGINT overflow, so the UDF asserts the actual bound per
    batch and fails loudly instead. Ties broken by cell id. That makes
    the whole IVF pipeline deterministic and hash-exactly checkable,
    like the SRP path.

    Returned as a nondeterministic expression (the §4.4 duplication
    guard), so valid in Project/Filter positions ONLY — the analyzer
    rejects nondeterministic expressions in join conditions, aggregate
    arguments and generator inputs, and unrelated filters cannot push
    below the projection (r14 ADVICE: constraint stated here so a new
    call site fails loudly in review, not at runtime).
    """
    cents = _ivf_centroids()                              # (C, dim) int64
    n2 = (cents * cents).sum(axis=1)                      # (C,) |C_c|²
    n2_max = int(n2.max())

    @F.pandas_udf(ArrayType(IntegerType()))
    def _cells(v: pd.Series) -> pd.Series:
        eq = quantize(np.stack(v.to_numpy()))             # (n, dim) int64
        d = eq @ cents.T                                  # (n, C) int64
        dmax = int(np.abs(d).max(initial=0))
        # Exact comparator precondition (see docstring): d²·n₂ < 2⁶³.
        # A real raise, not assert — python -O would strip an assert and
        # silently let numpy wrap.
        if dmax * dmax * n2_max >= 2**63:
            raise ValueError(
                f"ivf_cells int64 overflow: |d|max={dmax}, n2max={n2_max} — "
                "embedding magnitudes exceed the exact-comparator range")
        sg = np.sign(d)
        d2 = d * d
        # beats[i, a, b]: does cell a strictly outrank cell b for row i?
        xa = d2[:, :, None] * n2[None, None, :]           # d_a² · n_b
        xb = d2[:, None, :] * n2[None, :, None]           # d_b² · n_a
        sa, sb = sg[:, :, None], sg[:, None, :]
        beats = np.where(sa != sb, sa > sb,
                         np.where(sa >= 0, xa > xb, xa < xb))
        wins = beats.sum(axis=2)                          # (n, C)
        # most wins first; stable sort breaks win-ties by ascending cell id
        order = np.argsort(-wins, axis=1, kind="stable")
        top = order[:, :probes]
        return pd.Series(list(top.astype(np.int32)))

    # asNondeterministic (guide §4.4): consumers index `cells[0]` into a
    # join key or explode the probes — the join's inferred
    # isnotnull(cell) constraint and the generator's inferred size()>0
    # filter both push below the Project and duplicate this full-scan
    # matmul (the r14 duplicated-UDF audit measured `_cells` ×4 in
    # ann_ivf, ×2 in the scaled/IVFADC/representatives entries). The
    # assignment is exactly deterministic, so suppressing the optimizer
    # copy changes no result.
    return df.withColumn("cells",
                         _cells.asNondeterministic()(F.col(vec_col)))


def _ivf_assign_prefix() -> str:
    """Shared CTE prefix replaying :func:`ivf_cells`'s integer
    comparator in SQL: ``ranked_cells(vec_id, cell, r)`` ranks every
    cell per vector (sign first, then BIGINT d²·n cross-multiplication
    — exact, no division or sqrt anywhere) and ``corpus(vec_id, cell)``
    is the r=1 assignment. Used by the ANN oracle and the k-means-step
    oracle so the assignment definition cannot diverge."""
    w = _ivf_centroids()
    n2 = (w * w).sum(axis=1)
    rows = ",\n".join(
        f"  ({j}, [{', '.join(str(int(x)) for x in w[j])}]::DOUBLE[], "
        f"{int(n2[j])}::BIGINT)"
        for j in range(IVF_CELLS))
    beats = """(CASE WHEN SIGN(a.d) <> SIGN(b.d) THEN SIGN(a.d) > SIGN(b.d)
                     WHEN a.d >= 0 THEN a.d*a.d*b.n2 > b.d*b.d*a.n2
                     ELSE a.d*a.d*b.n2 < b.d*b.d*a.n2 END)"""
    return f"""
WITH cents(cell, w, n2) AS (VALUES
{rows}
), eq AS (
  SELECT vec_id, embedding,
         list_transform(embedding::DOUBLE[], x -> FLOOR(x * 100)) AS v
  FROM embeddings
), dots AS (
  SELECT e.vec_id, c.cell, CAST(list_dot_product(e.v, c.w) AS BIGINT) AS d, c.n2
  FROM eq e CROSS JOIN cents c
), wins AS (
  SELECT a.vec_id, a.cell,
         SUM(CASE WHEN {beats} THEN 1 ELSE 0 END) AS wn
  FROM dots a JOIN dots b ON a.vec_id = b.vec_id AND a.cell <> b.cell
  GROUP BY a.vec_id, a.cell
), ranked_cells AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY wn DESC, cell) AS r
  FROM wins
), corpus AS (
  SELECT vec_id, cell FROM ranked_cells WHERE r = 1
)"""


def _ivf_oracle() -> str:
    """DuckDB twin of the full IVF ANN pipeline: the shared assignment
    prefix, then probe sets, candidate join and exact cosine re-rank as
    in the brute oracle."""
    return _ivf_assign_prefix() + f""", qcells AS (
  SELECT vec_id AS query_id, cell FROM ranked_cells
  WHERE vec_id < {N_QUERIES} AND r <= {IVF_PROBES}
), cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qcells q JOIN corpus c USING (cell)
  WHERE c.vec_id <> q.query_id
)""" + _rerank_sql("query_id", TOP_K)


@register(
    "ann_ivf",
    oracle=_ivf_oracle(),
    description=f"IVF ANN: {IVF_CELLS} cells, {IVF_PROBES} probes, exact re-rank of probed cells",
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).embeddings
    corpus = (ivf_cells(e, probes=1)
              .select("vec_id", "embedding", F.col("cells")[0].alias("cell")))
    q = (ivf_cells(e.where(F.col("vec_id") < N_QUERIES), probes=IVF_PROBES)
         .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
                 F.explode("cells").alias("cell")))
    return _cell_probe_topk(q, corpus)


def _cell_probe_topk(q: DataFrame, corpus: DataFrame) -> DataFrame:
    """The IVF serve: the broadcast (query_id, qv, cell) probe set
    joined to the (vec_id, embedding, cell) corpus on the cell, each
    probed vector scored by exact cosine against its query, top-TOP_K
    per query (:func:`neighbor_topk`)."""
    cand = (
        F.broadcast(q).join(corpus, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qv", F.col("vec_id").alias("neighbor_id"), "embedding")
    )
    scored = cand.select("query_id", "neighbor_id",
                         cosine_sim(F.col("embedding"), F.col("qv")).alias("cos"))
    return neighbor_topk(scored, "query_id", TOP_K)


# ---------------------------------------------------------------------------
# IVF at the corpus-scaled operating point (r6 verdict item 2).
#
# IVF_CELLS = 16 above is the same fixture-pinned-constant hazard class
# as the SRP bucket width the sf1.0 probe caught going quadratic
# (BENCHNOTES round 6): cell occupancy is N/C, and both the probe scan
# (probes·N/C rows per query) and any per-cell work grow linearly in it
# when C stays fixed. The sizing rule mirrors the SRP one —
# C ≈ N / target-occupancy, rounded to a power of two.
#
# A wide codebook also breaks the 16-cell ASSIGNMENT comparator: ranking
# cells by d_c/√n_c without floats is pairwise O(C²) per vector (the
# beats tensor in ivf_cells) — fine at C=16, hopeless at C=256+. The
# scaled path removes the problem at the source: SIGN centroids (every
# component ±100) have identical norms, so cosine ordering degenerates
# to ordering by the raw integer dot product — one argsort, O(C log C)
# per vector, still bit-exact across numpy/Catalyst/DuckDB (ties by
# cell id). Equal-norm random-sign codebooks are a standard coarse
# quantizer; nothing about the plan shape (broadcast centroids,
# equi-join on cell id, grouped_topk re-rank) changes.
# ---------------------------------------------------------------------------

IVF_OCCUPANCY = 64        # target vectors per cell — the sizing rule's knob
IVF_CELLS_WIDE = 256      # 2^round(log2(N/64)) at N = 20 k (the sf1.0 corpus)
IVF_PROBES_WIDE = 24      # scan fraction 24/256 ≈ 9% (vs 6/16 = 37.5% fixture)
_IVF_SIGN_SEED = 11


def ivf_cells_for_corpus(n: int, occupancy: int = IVF_OCCUPANCY) -> int:
    """The codebook sizing rule: cells ≈ N / target-occupancy, rounded
    to a power of two, floor 16 — the IVF twin of the SRP
    ``2^bits ≈ N/64`` rule. Keeping occupancy constant keeps the probe
    scan per query (probes · occupancy rows) and the per-cell re-rank
    flat as the corpus grows; registered queries pin their operating
    point so the oracle literals stay fixed."""
    import math

    return max(16, 2 ** round(math.log2(max(1.0, n / occupancy))))


def _ivf_sign_centroids() -> np.ndarray:
    """Deterministic EQUAL-NORM centroids, shape (IVF_CELLS_WIDE, DIM),
    every component ±100 from the LCG's parity (own seed chain).
    Identical norms make nearest-by-cosine == argmax of the integer dot
    product — the property the scaled assignment
    (``vectors.sign_cell_order``) and its DuckDB twin rely on."""
    return _lcg_matrix(_IVF_SIGN_SEED, (IVF_CELLS_WIDE, SRP_DIM)) % 2 * 200 - 100


def ivf_cells_scaled(df: DataFrame, vec_col: str = "embedding",
                     probes: int = 1) -> DataFrame:
    """Append ``cells: array<int>`` — the ``probes`` nearest sign
    centroids. One integer matmul + one argsort per Arrow batch
    (``vectors.sign_cell_order``); with equal-norm centroids the
    ordering is the raw int64 dot product (exact: |d| ≤ 64·53·100 ≪ 2⁵³
    on this corpus, checked per batch), ties broken by ascending cell
    id. Same nondeterministic-marking and Project/Filter-only call-site
    constraint as :func:`ivf_cells` (r14 ADVICE)."""
    cents = _ivf_sign_centroids()                         # (C, dim) ±100

    @F.pandas_udf(ArrayType(IntegerType()))
    def _cells(v: pd.Series) -> pd.Series:
        order = sign_cell_order(quantize(np.stack(v.to_numpy())), cents)
        return pd.Series(list(order[:, :probes].astype(np.int32)))

    # asNondeterministic: same §4.4 duplication guard as ivf_cells.
    return df.withColumn("cells",
                         _cells.asNondeterministic()(F.col(vec_col)))


def _query_batch(spark: SparkSession, sf_dir: str) -> list[tuple[int, list]]:
    """The query batch's (vec_id, embedding) rows, driver-side. The
    batch is the SERVING REQUEST — N_QUERIES rows by contract, never
    corpus-sized — so this collect is O(batch) (the same bounded-
    artifact discipline as the S·C codebook collects); the vec_id
    predicate pushes into the parquet scan, so the fetch is a point
    read. Motivation (guide §8 / §5): the probe-set and LUT frames
    built FROM the batch are a few hundred rows, and building them
    through scan → spread-exchange → Arrow UDF → crossJoin → groupBy
    cost ~1.7 s of pure stage overhead per serve at sf0.1 (measured
    r14, BENCHNOTES) — query-side work belongs on the query host, as
    in any IVFADC deployment; corpus-side work stays distributed."""
    e = Catalog(spark, sf_dir).load("embeddings", spread=False)
    rows = (e.where(F.col("vec_id") < N_QUERIES)
            .select("vec_id", "embedding").collect())
    return sorted((int(r.vec_id), list(r.embedding)) for r in rows)


def _probed_queries(spark: SparkSession,
                    sf_dir: str) -> list[tuple[int, list, np.ndarray, list[int]]]:
    """[(query_id, embedding, quantized vector, probed cells)] for the
    query batch: each query's IVF_PROBES_WIDE nearest sign cells, ranked
    driver-side by the ``ivf_cells_scaled`` kernel's own
    ``vectors.sign_cell_order`` over one row."""
    cents = _ivf_sign_centroids()
    out = []
    for qid, emb in _query_batch(spark, sf_dir):
        q = quantize(emb)
        pc = sign_cell_order(q, cents)[:IVF_PROBES_WIDE]
        out.append((qid, emb, q, [int(c) for c in pc]))
    return out


def _ivf_probe_set(spark: SparkSession,
                   sf_dir: str) -> tuple[DataFrame, list[int]]:
    """((query_id, qv array<double>, cell) probe-set frame, sorted
    distinct probed cells) — one row per probed cell of each query,
    built driver-side (see ``_query_batch``); the embedding doubles
    round-trip exactly through collect/createDataFrame. The cell list
    feeds the persisted index's STATIC partition IN-filter (see
    ``ivf_index_serve``)."""
    rows = [(qid, emb, c) for qid, emb, _, pc in _probed_queries(spark, sf_dir)
            for c in pc]
    frame = local_df(spark, rows, "query_id long, qv array<double>, cell int")
    return frame, sorted({r[2] for r in rows})


def _ivf_scaled_assign_prefix() -> str:
    """Shared oracle prefix for the sign-centroid codebook:
    ``ranked_cells(vec_id, cell, r)`` ranks every cell per vector by the
    BIGINT dot product (equal norms — no cross-multiplication needed)
    and ``corpus(vec_id, cell)`` is the r=1 assignment."""
    w = _ivf_sign_centroids()
    rows = ",\n".join(
        f"  ({j}, [{', '.join(str(int(x)) for x in w[j])}]::DOUBLE[])"
        for j in range(IVF_CELLS_WIDE))
    return f"""
WITH cents(cell, w) AS (VALUES
{rows}
), eq AS (
  SELECT vec_id, embedding,
         list_transform(embedding::DOUBLE[], x -> FLOOR(x * 100)) AS v
  FROM embeddings
), dots AS (
  SELECT e.vec_id, c.cell, CAST(list_dot_product(e.v, c.w) AS BIGINT) AS d
  FROM eq e CROSS JOIN cents c
), ranked_cells AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS r
  FROM dots
), corpus AS (
  SELECT vec_id, cell FROM ranked_cells WHERE r = 1
)"""


def _ivf_scaled_oracle() -> str:
    """DuckDB twin of the scaled IVF pipeline — sign-codebook
    assignment, probe sets, candidate join, exact cosine re-rank."""
    return _ivf_scaled_assign_prefix() + f""", qcells AS (
  SELECT vec_id AS query_id, cell FROM ranked_cells
  WHERE vec_id < {N_QUERIES} AND r <= {IVF_PROBES_WIDE}
), cand AS (
  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
  FROM qcells q JOIN corpus c USING (cell)
  WHERE c.vec_id <> q.query_id
)""" + _rerank_sql("query_id", TOP_K)


@register(
    "ann_ivf_scaled",
    oracle=_ivf_scaled_oracle(),
    description=f"IVF ANN at the corpus-scaled operating point "
                f"({IVF_CELLS_WIDE} sign-codebook cells ≈ N/{IVF_OCCUPANCY} "
                f"at sf1.0, {IVF_PROBES_WIDE} probes), oracle-hashed",
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment operating point of ``ann_ivf``, registered so the
    driver hash-checks the PARAMETRIC path (``ivf_cells_for_corpus``'s
    C ≈ N/64 rule at the sf1.0 corpus → 256 cells) and not just the
    16-cell fixture — the same graduation ``embedding_neardup_banded_scaled``
    gave the SRP bucket width after the sf1.0 probe caught the fixed-
    width quadratic (BENCHNOTES round 6). At gate scale the wide
    codebook is nearly one-vector-per-cell — harmless for correctness,
    which is what the gate checks; the sf1.0 probe measures the part
    that matters, a flat probe scan per query as N grows 10×."""
    corpus = _ivf_assigned(Catalog(spark, sf_dir).embeddings)
    # probe set built driver-side from the bounded query batch
    # (see _query_batch)
    return _cell_probe_topk(_ivf_probe_set(spark, sf_dir)[0], corpus)


@register(
    "ann_ivf_index_persist",
    oracle=_ivf_scaled_oracle(),
    description=f"persisted IVF index lifecycle: cell-clustered corpus "
                f"(embedding stored WITH its cell, {IVF_CELLS_WIDE} "
                f"partitions) written to parquet, queries served FROM the "
                f"on-disk index — same oracle as ann_ivf_scaled, so the "
                f"hash proves persisted == in-query",
    tags=("similarity", "ann", "ivf", "storage"),
)
def ann_ivf_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_index_persist``'s pattern applied to the scaled IVF: a
    deployment assigns the corpus to cells once per dump and stores the
    VECTORS cell-clustered — that data locality is the actual point of
    IVF (a probe reads only its cells' files; the SRP index stores ids
    and joins vectors back, IVF stores the vectors in the index). This
    entry runs the full lifecycle: assign with the corpus-scaled sign
    codebook, write parquet partitioned by cell, read back, serve the
    query batch from the on-disk index. Reusing ``ann_ivf_scaled``'s
    oracle makes the driver hash a round-trip proof.

    Scale: the write is one map-side pass (assignment is the Arrow UDF,
    no shuffle before the partitioned write); serving joins the
    broadcast probe set against the index on the PARTITION column, so
    dynamic partition pruning limits the scan to probed cells —
    probes/C of the corpus read from disk, the same fraction the
    in-query variant scans from memory (plan pinned in
    tests/test_plans.py).
    """
    return ivf_index_serve(spark, sf_dir, ivf_index_build(spark, sf_dir))


def _ivf_assigned(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell) — the r=1 scaled-codebook assignment,
    the row layout the persisted index stores (map-side, no shuffle)."""
    return (ivf_cells_scaled(e, probes=1)
            .select("vec_id", "embedding", F.col("cells")[0].alias("cell")))


def ivf_index_build(spark: SparkSession, sf_dir: str) -> str:
    """BUILD side of the persisted IVF lifecycle: assign the corpus to
    cells with the corpus-scaled sign codebook and write it
    cell-partitioned to parquet. Returns the index path. Split from the
    serve side (r8 verdict item 3) so the bench can time each — a serve
    regression must not hide under 5+ s of write.

    The write CLUSTERS by the partition column first (one exchange of
    the index rows) so each cell's rows land in one task → one file
    per cell. Without it every scan task opens a file in every cell it
    touches — M·C files (measured r14: 1,769 files for 2 MB at sf0.1,
    write 2.4× slower; at 10k map tasks × 256 cells that is 2.6M
    files). One shuffle of index-sized rows buying a bounded file
    count is the hash-distribution write mode of the optimization
    guide's file-layout section."""

    e = Catalog(spark, sf_dir).embeddings
    path = scratch_dir("fsbd_ivf_index_")
    write_generation(_ivf_assigned(e), path, "cell", IVF_CELLS_WIDE)
    return path


def ivf_index_serve(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """SERVE side: answer the query batch FROM the on-disk index —
    broadcast probe set joined on the partition column, with the
    probed-cell list pushed as a STATIC IN-filter on the partition
    column: the scan is pruned to probes/C of the index at PLANNING
    time (PartitionFilters carries the IN-list — stronger than the
    former runtime DPP subquery, possible because the driver-built
    probe set makes the cell list a literal; plan-pinned)."""
    q, probed = _ivf_probe_set(spark, sf_dir)
    index = spark.read.parquet(path).where(F.col("cell").isin(probed))
    return _cell_probe_topk(q, index)


IVF_APPEND_MOD = 10   # vec_id % 10 == 0 plays "today's dump" in the append


def ivf_index_compact(spark: SparkSession, path: str, out_path: str) -> None:
    """Per-cell small-file compaction for the partitioned IVF index:
    every append drops one file per touched cell per dump, and a year
    of daily dumps is 365 files/cell (one task + one open each at serve
    time). The fold is a cell-keyed generation write — ONE file per
    cell in the new generation dir, partition layout (and so partition
    pruning at serve) preserved (``engine.generations``)."""
    write_generation(spark.read.parquet(path), out_path, "cell",
                     IVF_CELLS_WIDE)


def _ivf_base_build(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The IVF base generation at ``path``: the corpus minus today's
    dump (vec_id % IVF_APPEND_MOD != 0) assigned with the stored sign
    codebook, one file per cell (see :func:`ivf_index_build`)."""
    base = Catalog(spark, sf_dir).embeddings.where(
        F.col("vec_id") % IVF_APPEND_MOD != 0)
    write_generation(_ivf_assigned(base), path, "cell", IVF_CELLS_WIDE)


@register(
    "ann_ivf_index_append",
    oracle=_ivf_scaled_oracle(),
    description="incremental IVF index maintenance: new dump's vectors "
                "assigned with the stored codebook and APPENDED to the "
                "cell-partitioned index (no rebuild), then per-cell "
                "small-file compaction; serve from the appended index — "
                "same oracle as the from-scratch build, so the hash "
                "proves append+compact == rebuild",
    tags=("similarity", "ann", "ivf", "storage"),
)
def ann_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of index reuse (``ann_incremental`` proved the
    query side): a 100 TB embedding store re-indexes nothing — each
    day's dump is assigned with the SAME stored codebook (the sign
    centroids are a constant of the index, not of the corpus, so old
    assignments stay valid) and appended into the existing cell
    directories; periodic compaction folds the accumulated per-dump
    micro-files back to one file per cell. This entry runs that
    lifecycle: base index from vec_id % 10 != 0 ("yesterday"), append
    the % 10 == 0 dump, compact, serve the query batch from the result.

    Reusing ``ann_ivf_scaled``'s full-corpus oracle makes the driver
    hash the equivalence proof: the appended-then-compacted index must
    answer EXACTLY like a from-scratch rebuild over the union.

    Scale: both writes are map-side (assignment is the Arrow UDF, the
    partitioned write shuffles nothing); the append touches only the
    delta's cells; compaction is one cell-keyed exchange of the index —
    a maintenance job sized by the index, not the corpus history — and
    serve keeps the DPP-pruned probes/C scan. File counts pinned in
    tests/test_similarity.py."""

    dump = Catalog(spark, sf_dir).embeddings.where(
        F.col("vec_id") % IVF_APPEND_MOD == 0)
    path = scratch_dir("fsbd_ivf_append_")
    _ivf_base_build(spark, sf_dir, path)
    write_generation(_ivf_assigned(dump), path, "cell", IVF_CELLS_WIDE,
                     mode="append")
    gen2 = scratch_dir("fsbd_ivf_append_gen2_")
    ivf_index_compact(spark, path, gen2)
    return ivf_index_serve(spark, sf_dir, gen2)


# Broadcast path is used while the corpus parquet fits well under driver/
# executor memory as a dense float64 matrix (bytes on disk ≈ bytes as
# float32; ×2 for the widen). 256 MiB of parquet ≈ 1 M vectors at dim 64
# — far below the ~10 M hard ceiling, so the switch happens long before
# the broadcast path degrades. Past it, the same exact kernel runs as a
# block-pair join with no driver materialization at all.
NEARDUP_BROADCAST_MAX_BYTES = 256 * 1024 * 1024
NEARDUP_BLOCK_ROWS = 65536          # ~32 MiB float64 per block side at dim 64
_NEARDUP_SCHEMA = "vec_a bigint, vec_b bigint, cosine double"


def _neardup_pairs(aid, amat, bid, bmat, thresh, margin):
    """Exact near-dup pairs between two id/matrix sides (BLAS filter +
    strict left-to-right re-score). Returns a pandas DataFrame or None.

    The matmul only *filters* with an ε-margin — BLAS accumulation order
    differs from the oracle's ``aggregate`` in the last ulp; survivors (a
    tiny set) are re-scored with left-to-right accumulation, bit-identical
    to DuckDB, so exactness never depends on BLAS rounding.
    """
    anorm = np.sqrt((amat * amat).sum(axis=1))
    bnorm = np.sqrt((bmat * bmat).sum(axis=1))
    sims = (amat @ bmat.T) / np.outer(anorm, bnorm)
    cand = (sims >= thresh - margin) & (aid[:, None] < bid[None, :])
    ai, bi = np.nonzero(cand)
    if not len(ai):
        return None
    va, vb = amat[ai], bmat[bi]
    dot = np.zeros(len(ai)); na = np.zeros(len(ai)); nb = np.zeros(len(ai))
    for j in range(va.shape[1]):
        dot += va[:, j] * vb[:, j]
        na += va[:, j] * va[:, j]
        nb += vb[:, j] * vb[:, j]
    cos = dot / (np.sqrt(na) * np.sqrt(nb))
    keep = cos >= thresh
    return pd.DataFrame({
        "vec_a": aid[ai[keep]],
        "vec_b": bid[bi[keep]],
        # HALF_UP at 6 decimals (cos > 0 here), matching F.round/DuckDB.
        "cosine": np.floor(cos[keep] * 1e6 + 0.5) / 1e6,
    })


def _neardup_broadcast(spark: SparkSession, src: DataFrame,
                       build: DataFrame | None = None) -> DataFrame:
    """Corpus broadcast as one dense matrix; a single ``mapInPandas`` scan
    computes each Arrow batch's similarities as one BLAS matmul — one
    scan, zero shuffle, zero pair-row explosion. ``build`` (default:
    ``src``) is the frame collected for the broadcast matrix — callers
    pass an exchange-free scan of the same rows."""
    # build side: same materialization a broadcast join does
    pdf_all = (build if build is not None else src).toPandas()
    ids_all = pdf_all["vec_id"].to_numpy(dtype=np.int64)
    if not len(ids_all):  # empty corpus: no pairs (np.stack rejects [])
        return local_df(spark, [], _NEARDUP_SCHEMA)
    mat_all = np.stack(pdf_all["embedding"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast((ids_all, mat_all))
    thresh, margin = NEARDUP_COS, 1e-6

    def scan(batches):
        ids_b, mat_b = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            aid = pdf["vec_id"].to_numpy(dtype=np.int64)
            amat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = _neardup_pairs(aid, amat, ids_b, mat_b, thresh, margin)
            if out is not None:
                yield out

    return src.mapInPandas(scan, _NEARDUP_SCHEMA)


def _neardup_blockpair(spark: SparkSession, src: DataFrame,
                       block_rows: int = NEARDUP_BLOCK_ROWS) -> DataFrame:
    """All-pairs near-dup as a block-pair join — no driver materialization.

    The corpus is range-partitioned on vec_id into contiguous blocks of
    ~``block_rows`` vectors, each packed into one row of (ids, vecs)
    arrays. A tiny driver-built (blk_a ≤ blk_b) pair table equi-joins the
    packed table twice, so every block pair meets exactly once; the same
    BLAS-filter + exact-re-score kernel runs per pair. Range blocking
    makes the ``vec_a < vec_b`` mask uniform: for blk_a < blk_b every
    left id is below every right id, and the diagonal blocks mask
    in-block. Shuffle volume is N·√P-ish (each block replicated once per
    partner), the canonical exact all-pairs posture when nothing fits in
    one task's memory — flops are identical to the broadcast path.
    """
    # Blocks are sized by ROW COUNT, not id span: boundaries come from
    # approxQuantile over vec_id, so sparse/non-contiguous id spaces
    # (snowflake-style) still yield ~block_rows vectors per block and a
    # bounded nblk. Quantile cuts keep blocks contiguous in vec_id, which
    # the blk_a < blk_b ⇒ all-left-ids < all-right-ids mask relies on.
    n = src.count()
    nblk = max(2, -(-n // block_rows))
    cuts = sorted(set(src.approxQuantile(
        "vec_id", [i / nblk for i in range(1, nblk)], 0.001)))
    nblk = len(cuts) + 1
    blk = F.size(F.filter(F.array(*[F.lit(float(c)) for c in cuts]),
                          lambda c: c <= F.col("vec_id").cast("double")))
    packed = (
        src.groupBy(blk.alias("blk"))
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias("pk"))
    )
    pairs = local_df(
        spark, [(i, j) for i in range(nblk) for j in range(i, nblk)],
        "ba int, bb int")
    joined = (
        F.broadcast(pairs)
        .join(packed.select(F.col("blk").alias("ba"), F.col("pk").alias("pa")), "ba")
        .join(packed.select(F.col("blk").alias("bb"), F.col("pk").alias("pb")), "bb")
        .repartition(nblk * (nblk + 1) // 2)  # one block pair per task
    )
    thresh, margin = NEARDUP_COS, 1e-6

    def unpack(cell):
        ids = np.fromiter((r["vec_id"] for r in cell), dtype=np.int64, count=len(cell))
        mat = np.array([r["embedding"] for r in cell], dtype=np.float64)
        return ids, mat

    def scan(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                aid, amat = unpack(row["pa"])
                bid, bmat = unpack(row["pb"])
                out = _neardup_pairs(aid, amat, bid, bmat, thresh, margin)
                if out is not None:
                    yield out

    return joined.mapInPandas(scan, _NEARDUP_SCHEMA)


@register(
    "embedding_neardup",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {NEARDUP_COS}
""",
    description=f"embedding near-dup pairs: exact all-pairs cosine ≥ {NEARDUP_COS}",
    tags=("similarity", "dedup"),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup without materializing pair rows.

    A row-level ``a JOIN b ON vec_a < vec_b`` explodes to N²/2 rows before
    the filter (1.25 B at sf0.1) — quadratic in the *row machinery*, not
    just the arithmetic, and 100× slower than it needs to be. Both real
    paths compute per-pair similarities as dense BLAS matmuls and emit
    only surviving pairs; the corpus' on-disk size picks the plan:

    - small corpus → ``_neardup_broadcast``: matrix broadcast once, one
      scan, zero shuffle;
    - large corpus → ``_neardup_blockpair``: range-blocked pair join, no
      driver materialization, no broadcast ceiling.
    """
    cat = Catalog(spark, sf_dir)
    src = cat.embeddings.select("vec_id", "embedding")
    if cat._size("embeddings") <= NEARDUP_BROADCAST_MAX_BYTES:
        # Build side collects driver-side immediately — read it without
        # the catalog's layout spread, or the collect pays a full
        # corpus exchange for parallelism it never uses.
        build = cat.load("embeddings", spread=False).select("vec_id", "embedding")
        return _neardup_broadcast(spark, src, build)
    return _neardup_blockpair(spark, src)


@register(
    "q_embedding_stats",
    oracle="""
SELECT label, COUNT(*) AS n,
       ROUND(MIN(list_cosine_similarity(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS self_cos,
       MIN(len(embedding)) AS min_dim, MAX(len(embedding)) AS max_dim
FROM embeddings GROUP BY label
""",
    description="per-label embedding sanity stats (count, self-cosine, dim bounds)",
    tags=("similarity", "agg"),
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus hygiene check a real pipeline runs before indexing:
    per-label counts, dimension bounds (catches ragged arrays), and
    self-cosine (1.0 unless a vector is zero/NaN — catches dead
    embeddings). Order-independent aggregates only (min/max/count), so
    the result is partitioning-invariant without decimal tricks."""
    e = Catalog(spark, sf_dir).embeddings
    return (
        e.select("label",
                 cosine_sim(F.col("embedding"), F.col("embedding")).alias("sc"),
                 F.size("embedding").alias("dim"))
        .groupBy("label")
        .agg(F.count("*").alias("n"),
             F.round(F.min("sc"), 6).alias("self_cos"),
             F.min("dim").alias("min_dim"), F.max("dim").alias("max_dim"))
    )


def _neardup_banded_oracle(tables: int = SRP_TABLES,
                           bits: int = SRP_BITS) -> str:
    """DuckDB twin of the banded near-dup: identical SRP buckets (the
    integer sign tests from ``_srp_oracle``), bucket-colliding pairs,
    exact cosine threshold."""
    return _srp_bucket_prefix(tables, bits) + f""", cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, x.vec_id AS vec_b
  FROM b a JOIN b x ON a.table_id = x.table_id AND a.bucket = x.bucket
                   AND a.vec_id < x.vec_id
)
SELECT c.vec_a, c.vec_b,
       ROUND(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6)
         AS cosine
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
      >= {NEARDUP_COS}
"""


@register(
    "embedding_neardup_banded",
    oracle=_neardup_banded_oracle(),
    description=f"banded near-dup (the 100 TB path): SRP bucket collisions "
                f"→ exact cosine ≥ {NEARDUP_COS}, never all-pairs",
    tags=("similarity", "neardup", "lsh"),
)
def embedding_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``embedding_neardup``'s exact paths (broadcast matmul, block-pair
    join) are quadratic by problem statement; THIS is the operator that
    replaces them at corpus scale: candidates are SRP bucket collisions
    (cost ∝ true near-pairs + tunable collision noise, never N²), each
    candidate verified with the exact cosine kernel. Same banding
    posture as ``dedup_minhash_lsh`` on text. Deterministic integer
    bucketing (see :func:`_srp_hyperplanes`) makes even this
    approximate-recall operator hash-exact against its oracle; its
    recall vs the exact pair set is pinned in tests.
    """
    return banded_neardup_pairs(Catalog(spark, sf_dir).embeddings)


SRP_BITS_WIDE = 9   # 2^bits ≈ N/64 at N = 20 k (the sf1.0 probe's rule)


@register(
    "embedding_neardup_banded_scaled",
    oracle=_neardup_banded_oracle(bits=SRP_BITS_WIDE),
    description=f"banded near-dup at the corpus-scaled operating point "
                f"({SRP_TABLES} tables × {SRP_BITS_WIDE} bits): the knob "
                f"the sf1.0 probe runs, oracle-hashed",
    tags=("similarity", "neardup", "lsh"),
)
def embedding_neardup_banded_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment operating point of ``embedding_neardup_banded``,
    registered so the driver hash-checks the PARAMETRIC path and not
    just the fixture default. The sf1.0 scale probe measured the
    default 16×4 bucket width going quadratic at 10× vectors (bucket
    occupancy ∝ N with a fixed 16-bucket space; 609 s vs 44 s —
    BENCHNOTES round 6) and re-ran at ``2^bits ≈ N/64`` (9 bits at
    N = 20 k); THIS entry pins that exact code path —
    ``banded_neardup_pairs(bits=9)`` with its own 16×9 hyperplane
    literals embedded in the DuckDB twin — at the driver gate, so the
    knob the probe's BUILDER_OVERRIDES relies on is itself
    differential-tested. Semantics note (the documented trade): wider
    buckets keep only higher-cosine collisions — per-table collision
    probability is p^bits, p = 1 − θ/π — so at gate scale this finds
    the high-similarity subset of the 16×4 pair set; a deployment
    pairs the bits knob with a tables knob to buy recall back where it
    matters (cos ≥ 0.9 true duplicates keep p^9 ≈ 0.25/table,
    1−0.75¹⁶ ≈ 99% recall at 16 tables)."""
    return banded_neardup_pairs(Catalog(spark, sf_dir).embeddings,
                                bits=SRP_BITS_WIDE)


def banded_neardup_pairs(src: DataFrame, threshold: float = NEARDUP_COS,
                         tables: int = SRP_TABLES,
                         bits: int = SRP_BITS) -> DataFrame:
    """Parametric banded near-dup core (semantics: the registered query
    above). ``tables``/``bits`` scale the bucket space with the corpus —
    2^bits ≈ N/64 keeps per-bucket occupancy, and so the
    quadratic-in-occupancy bucket self-join, constant; the registered
    query pins the 16×4 defaults its oracle embeds (right for the 2 k
    fixture, catastrophic at 128 k — see the 64× probe notes)."""
    # Candidate generation carries IDS ONLY — the bucket join multiplies
    # rows (tables × collisions), and towing two 64-float arrays through
    # that explosion is the memory trap (same discipline as the minhash
    # path: band rows are doc_id+bucket, shingle sets join back later).
    buckets = srp_bucket_rows(src, tables=tables, bits=bits)
    cand = candidate_pairs(buckets, buckets, ["table_id", "bucket"], "vec_id",
                           ("vec_a", "vec_b"), f"srp_t{tables}_b{bits}",
                           order="<")
    return (cosine_pairs(cand, src, "vec_a", "vec_b")
            .where(F.col("cos") >= threshold)
            .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine")))


def cosine_pairs(cand: DataFrame, src: DataFrame, a: str,
                 b: str) -> DataFrame:
    """(a, b, cos): the exact cosine of every candidate pair in
    ``cand`` (a, b), each side's vector joined from ``src`` (vec_id,
    embedding) once — the one pair scorer of the batch near-dup and
    kNN builders. Candidates carry ids only up to here; callers apply
    their own threshold, rounding or top-k to ``cos``."""
    ea = src.select(F.col("vec_id").alias(a), F.col("embedding").alias("emb_a"))
    eb = src.select(F.col("vec_id").alias(b), F.col("embedding").alias("emb_b"))
    cos = cosine_sim(F.col("emb_a"), F.col("emb_b"))
    return cand.join(ea, a).join(eb, b).select(a, b, cos.alias("cos"))


# ---------------------------------------------------------------------------
# Incremental ANN: new batch vs a prebuilt SRP index.
# ---------------------------------------------------------------------------

ANN_INCR_MOD = 10     # vec_id % 10 == 7 → the newly-arrived batch
ANN_INCR_REM = 7
ANN_INCR_K = 5


def _ann_incremental_oracle() -> str:
    return _srp_bucket_prefix() + f""", newb AS (
  SELECT vec_id, table_id, bucket FROM b
  WHERE vec_id % {ANN_INCR_MOD} = {ANN_INCR_REM}
), oldb AS (
  SELECT vec_id, table_id, bucket FROM b
  WHERE vec_id % {ANN_INCR_MOD} <> {ANN_INCR_REM}
), cand AS (
  SELECT DISTINCT n.vec_id AS new_id, o.vec_id AS neighbor_id
  FROM newb n JOIN oldb o USING (table_id, bucket)
)""" + _rerank_sql("new_id", ANN_INCR_K)


@register(
    "ann_incremental",
    oracle=_ann_incremental_oracle(),
    description=f"incremental ANN: 10% new batch queried against the 90% "
                f"prebuilt SRP index, top-{ANN_INCR_K} per new vector",
    tags=("similarity", "ann", "lsh", "incremental"),
)
def ann_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query a NEWLY ARRIVED embedding batch against the existing
    corpus' SRP index — the vector twin of ``dedup_incremental`` and
    the production ANN workflow (embeddings arrive with each crawl
    dump; you never re-bucket the corpus). The fixture carves the batch
    out by ``vec_id % ANN_INCR_MOD == ANN_INCR_REM`` (10, 7).

    The corpus side's (table_id, bucket) rows are exactly what a
    persisted index stores (computed once per dump at scale); each new
    batch computes only ITS OWN buckets and equi-joins the index —
    candidate cost ∝ batch size × per-bucket occupancy, never corpus².
    The verify joins fetch embeddings only for candidate pairs, and the
    per-new-vector top-k uses the skew-proof grouped_topk.
    """
    tbl = srp_bucket_rows(Catalog(spark, sf_dir).embeddings)
    is_new = F.col("vec_id") % ANN_INCR_MOD == ANN_INCR_REM
    return _new_batch_topk(spark, sf_dir, tbl.where(is_new), tbl.where(~is_new))


def _new_batch_topk(spark: SparkSession, sf_dir: str, new: DataFrame,
                    index: DataFrame) -> DataFrame:
    """(new_id, neighbor_id, rank, cosine): the new batch's (vec_id,
    table_id, bucket) rows ``new`` equi-joined to the corpus SRP
    ``index`` (the same layout, in-query or read back from disk), each
    distinct pair scored by exact cosine, top-ANN_INCR_K per new
    vector — the serve side of ``ann_incremental`` and
    ``ann_index_persist``."""
    cand = candidate_pairs(new, index, ["table_id", "bucket"], "vec_id",
                           ("new_id", "neighbor_id"),
                           f"srp_incr_t{SRP_TABLES}_b{SRP_BITS}")
    scored = cosine_pairs(cand, Catalog(spark, sf_dir).embeddings,
                          "new_id", "neighbor_id")
    return neighbor_topk(scored, "new_id", ANN_INCR_K)


@register(
    "ann_index_persist",
    oracle=_ann_incremental_oracle(),
    description="persisted SRP index lifecycle: corpus bucket table written "
                "to parquet partitioned by table_id, new batch served FROM "
                "the on-disk index — same oracle as ann_incremental, so the "
                "hash proves persisted == in-query",
    tags=("similarity", "ann", "lsh", "storage"),
)
def ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MISSING third of the incremental-ANN story: the index as a
    STORED ARTIFACT. ``ann_incremental`` models "prebuilt" by carving
    the corpus in-query; a deployment instead materializes the
    (vec_id, table_id, bucket) table once per crawl dump and serves
    every later batch from disk. This query runs that full lifecycle —
    build corpus buckets, WRITE them to parquet partitioned by
    table_id (each of the 16 SRP tables is one partition directory; a
    billion-vector index additionally range-partitions bucket within
    table), read the index back, and answer the new batch from it.
    Reusing ``ann_incremental``'s oracle makes the driver hash a
    round-trip proof: the persisted index serves bit-identical answers
    to the in-query build.

    Scale: the index write is one pass over the corpus plus one
    exchange of the bucket rows, clustering each table into one file
    (``engine.generations.write_generation``; a map-side keyed write
    costs tasks × tables files, see :func:`ivf_index_build`); serving
    only joins the batch's bucket rows against the on-disk table — with
    a bucket predicate the scan prunes to the touched partitions
    (pinned in ``tests/test_plans.py``).
    """

    tbl = srp_bucket_rows(Catalog(spark, sf_dir).embeddings)
    is_new = F.col("vec_id") % ANN_INCR_MOD == ANN_INCR_REM
    path = scratch_dir("fsbd_ann_index_")
    write_generation(tbl.where(~is_new), path, "table_id", SRP_TABLES)
    return _new_batch_topk(spark, sf_dir, tbl.where(is_new),
                           spark.read.parquet(path))


# ---------------------------------------------------------------------------
# Embedding dedup end-game: clusters + apply (the text path's symmetric
# closers — dedup_clusters/dedup_apply over MinHash pairs, these over
# SRP-banded near-dup pairs).
# ---------------------------------------------------------------------------

def _embedding_clusters_oracle() -> str:
    from .dedup import components_oracle
    return components_oracle(
        f"SELECT vec_a AS doc_a, vec_b AS doc_b FROM ({_neardup_banded_oracle()}) nb",
        id_col="vec_id")


@register(
    "embedding_dedup_clusters",
    oracle=_embedding_clusters_oracle(),
    description="embedding near-dup clusters: min-label connected components "
                "over SRP-banded pairs, canonical keeper per cluster",
    tags=("similarity", "neardup", "dedup", "iterative"),
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the banded near-dup pairs: a ≈ b ≈ c must
    collapse to ONE canonical vector even when (a, c) never collide in
    any SRP band. Reuses the text path's exact components machinery
    (``dedup.min_label_components``) over ``embedding_neardup_banded``'s
    pair set; the recursive-CTE oracle replays the same closure, so the
    hash proves cluster membership AND canonical choice, not just
    pairs. Scale: the component loop shuffles the pair list (∝ true
    near-dups), never the embedding table."""
    from .dedup import min_label_components

    pairs = embedding_neardup_banded(spark, sf_dir).select("vec_a", "vec_b")
    return min_label_components(pairs, a="vec_a", b="vec_b", id_col="vec_id")


@register(
    "embedding_dedup_apply",
    oracle=f"""
WITH cl AS ({_embedding_clusters_oracle()}),
drops AS (
  SELECT vec_id FROM cl WHERE is_canonical = 0
), surv AS (
  SELECT e.vec_id FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
)
SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_input,
       CAST(COUNT(*) AS BIGINT) AS n_survivors,
       CAST((SELECT COUNT(*) FROM embeddings) - COUNT(*) AS BIGINT) AS n_dropped,
       CAST(SUM(vec_id % 1000003) AS BIGINT) AS survivor_id_sum
FROM surv
""",
    description="apply embedding dedup: drop non-canonical vectors, emit "
                "surviving-corpus stats",
    tags=("similarity", "neardup", "dedup"),
)
def embedding_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding pipeline's deletion decision applied: anti-join the
    vector corpus against non-canonical cluster members and summarize
    the survivors in one order-independent row (counts + id checksum).
    The drop list is pairs-derived and tiny — the anti-join broadcasts
    it; the embedding table is scanned once, never shuffled."""
    e = Catalog(spark, sf_dir).embeddings
    drops = (embedding_dedup_clusters(spark, sf_dir)
             .where(F.col("is_canonical") == 0).select("vec_id"))
    surv = e.join(F.broadcast(drops), "vec_id", "left_anti")
    stats = surv.agg(
        F.count("*").cast("bigint").alias("n_survivors"),
        # modular sum: raw id sums overflow int64 under ANSI at scale
        F.sum(F.col("vec_id") % 1000003).cast("bigint")
         .alias("survivor_id_sum"),
    )
    # lazy 1-row broadcast, not a driver-side count() (dedup_apply's shape)
    n_input = e.agg(F.count("*").cast("bigint").alias("n_input"))
    return (
        stats.crossJoin(F.broadcast(n_input))
        .select("n_input", "n_survivors",
                (F.col("n_input") - F.col("n_survivors")).cast("bigint")
                .alias("n_dropped"),
                "survivor_id_sum")
    )


# --- Quantized tier-1 of the embedding verify payload (r12 verdict
# item 2): int16 per-vector-scaled quantization, two values packed per
# int32 word, screened with a PROVABLE cosine upper bound. -----------

QUANT_LEVELS = 32767          # int16 full scale: q_i ∈ [-32767, 32767]
# Inflation of the quantization error radius, absorbing double-
# rounding of the screen arithmetic itself (the exact bound is s/2 per
# component; double noise is ~1e-15 relative, 1e-6 is overkill-safe
# and costs a vanishing number of extra tier-2 fetches).
_QUANT_R_SLACK = 1e-6


def quantized_vec_cols(e: DataFrame,
                       vec_col: str = "embedding") -> DataFrame:
    """(vec_id, w32, s) from a (vec_id, embedding) frame — the tier-1
    screen representation of the vector verify payload.

    ``s`` = float32(max|v_i| / 32767) (per-vector scale — stored AND
    quantized-against as float32, see the cast note below), ``w32`` =
    the int16 codes q_i = round(v_i / s) packed two per int32 word
    (lo = q_{2i}, hi = q_{2i+1}) — 128 B/vec at dim 64 vs the float
    tier's 256 B. Parquet has no 2-byte physical type (INT_16 rides
    INT32 pages), so the packing is what actually halves the bytes;
    pack and unpack are two-instruction integer expressions, fully
    codegen'd, no Python.

    Why the screen never drops a true near-dup (the bound the two-tier
    design rests on — the vector twin of ``hashed_shingle_cols``'s
    superset argument): with ũ = s·q the per-component error is
    |v_i − s·q_i| ≤ s/2 (round-to-nearest), so the error vector obeys
    |e| = |ũ − v| ≤ r := (s/2)·√d·(1+1e-6). For any query x,
    Cauchy–Schwarz gives x·v ≤ x·ũ + |x|·r and |v| ≥ |ũ| − r, hence
    whenever |ũ| > r:

        cos(x, v) = x·v / (|x||v|) ≤ (x·ũ + |x|r) / (|x|(|ũ| − r)),

    (the exact-passing case has x·v ≥ θ|x||v| > 0, so dividing by the
    smaller positive denominator only raises the bound). Screening
    with ``x·ũ + |x|r ≥ θ·|x|(|ũ| − r)`` therefore keeps a SUPERSET of
    the pairs exact cosine ≥ θ keeps, for any θ > 0. The θ > 0
    restriction is load-bearing: with a NEGATIVE exact cosine the same
    algebra flips (smaller denominator pushes a negative bound further
    down) — property-swept in tests/test_codec_properties.py, where
    hypothesis falsifies the unrestricted form and confirms the
    positive-threshold form. Degenerate rows (|ũ| ≤ r, i.e. near-zero
    vectors) bypass the screen straight to the exact tier — mirroring
    the text screen's ``collide`` flag."""
    vd = e.select("vec_id",
                  F.transform(vec_col, lambda x: x.cast("double"))
                  .alias("v"))
    # Project s into a real column before the quantizing transform():
    # a non-attribute expression in a lambda body re-evaluates per
    # ELEMENT (the _shingle_sets note). The cast to FLOAT happens HERE,
    # before the round — the screen reconstructs ũ = s_f·q from the
    # STORED (float32) scale, so the |v_i − s_f·q_i| ≤ s_f/2 bound only
    # holds if q was rounded against s_f itself. Quantizing against the
    # double s and storing float(s) leaks up to s·32767·2⁻²⁴ extra
    # error per component — enough to exceed the claimed radius (r13
    # ADVICE, worst measured error/bound 1.003) and silently drop an
    # exact-passing borderline pair. Float→double widening is exact, so
    # using the float column inside the double division is safe.
    ws = vd.select("vec_id", "v",
                   (F.aggregate(F.transform("v", lambda x: F.abs(x)),
                                F.lit(0.0),
                                lambda acc, x: F.greatest(acc, x))
                    / F.lit(float(QUANT_LEVELS))).cast("float").alias("s"))
    q = ws.select(
        "vec_id", "s",
        F.when(F.col("s") > 0,
               F.transform("v", lambda x: F.round(x / F.col("s"), 0)
                           .cast("int")))
        .otherwise(F.transform("v", lambda x: F.lit(0))).alias("q"))
    # word i (1-based) packs elements (2i-1, 2i): lo = q[2i-1], hi =
    # q[2i] (absent for an odd tail → 0 via try_element_at+coalesce)
    elem = lambda i, off: F.try_element_at("q", (i * 2 + off).cast("int"))
    word = lambda i: (F.shiftleft(F.coalesce(elem(i, F.lit(0)),
                                             F.lit(0)), 16)
                      .bitwiseOR(elem(i, F.lit(-1))
                                 .bitwiseAND(F.lit(0xFFFF))))
    n_words = ((F.size("q") + 1) / 2).cast("int")
    return q.select(
        "vec_id",
        F.transform(F.sequence(F.lit(1), n_words), word).alias("w32"),
        "s")


def unpacked_q_col(w32):
    """array<int> of the int16 codes from the packed words — the
    decode half of :func:`quantized_vec_cols` (lo sign-extends via
    shift-up/shift-down, hi via arithmetic shift)."""
    return F.flatten(F.transform(w32, lambda w: F.array(
        F.shiftright(F.shiftleft(w, 16), 16), F.shiftright(w, 16))))


def quant_screen_keep(qv, w32, s):
    """Boolean screen decision for one candidate pair — the
    Cauchy–Schwarz upper-bound test ``(qn <= r) | (dotq + xn·r >=
    θ·xn·(qn − r))`` :func:`cosine_verify`'s tier 1 applies (see
    :func:`quantized_vec_cols` for the no-false-drops argument).

    DELIBERATELY the Catalyst HOF form: an r15 Arrow-kernel trial LOST
    the paired order-alternating A/B 0/8 at sf0.1 (OPTIMIZATION_r15.md
    §2 — minima 0.93–0.97× of this form) — at the scaled gates'
    candidate volume (~2k pairs × 64 dims per batch) the interpreted
    fold is cheaper than the extra Python worker round trip +
    per-batch UDF registration the kernel pays, the same
    small-candidate-count economics that put ``ann_brute_topk`` on the
    HOF cosine. NULL/ragged rows yield NULL, which the gate's filter
    drops."""
    from ..functions.vectors import dot, l2_norm

    qarr = F.slice(unpacked_q_col(w32), 1, F.size(qv))
    dotq = s * dot(qv, qarr)
    qn = s * l2_norm(qarr)
    r = (F.lit(0.5 * (1.0 + _QUANT_R_SLACK)) * s
         * F.sqrt(F.size(qv).cast("double")))
    xn = l2_norm(qv)
    return ((qn <= r)                           # degenerate → bypass
            | (dotq + xn * r >= NEARDUP_COS * (xn * (qn - r))))


def write_embedding_store(spark: SparkSession, sf_dir: str,
                          rows: DataFrame) -> VerifyStore:
    """Write the embedding family's verify store for the (vec_id,
    table_id, bucket) SRP rows ``rows``: the index, one file per
    table, and both payload tiers over exactly the vectors ``rows``
    holds (:func:`_write_embedding_tiers`) — the writer of the
    compaction fold (``streaming.joins.embedding_index_compact_dirs``);
    the corpus base (:func:`embedding_store`) writes the same two
    parts."""
    return VerifyStore(_write_srp_index(rows),
                       *_write_embedding_tiers(spark, sf_dir, rows))


def _write_srp_index(rows: DataFrame) -> str:
    path = scratch_dir("fsbd_srp_admit_index_")
    write_generation(rows, path, "table_id", SRP_TABLES)
    return path


def _write_embedding_tiers(spark: SparkSession, sf_dir: str,
                           rows: DataFrame) -> tuple[str, str]:
    """The (screen, exact) payload tiers over the distinct vec_ids of
    ``rows``.

    Tier 1 (``screen``) is the vectors' packed-int16 quantizations
    (:func:`quantized_vec_cols`, ~0.5× the float tier's bytes): every
    candidate is screened there on a provable no-false-drops cosine
    bound. Tier 2 (``exact``) is the raw (vec_id, embedding) rows,
    opened only for screen survivors (≈ true near-dups). Together they
    store the corpus vectors once re-sorted (1×, vs the 16× a
    vector-in-every-table-row index would cost), and per-batch verify
    I/O rides the pk directories the candidate ids touch — never an
    embeddings.parquet pass."""
    screen = scratch_dir("fsbd_srp_quant_payload_")
    exact = scratch_dir("fsbd_srp_payload_")
    member = rows.select("vec_id").distinct().persist()
    try:
        vecs = (Catalog(spark, sf_dir).embeddings
                .select("vec_id", "embedding")
                .join(member, "vec_id", "left_semi"))
        write_payload(quantized_vec_cols(vecs), "vec_id", screen)
        write_payload(vecs, "vec_id", exact)
    finally:
        member.unpersist()
    return screen, exact


def embedding_store(spark: SparkSession, sf_dir: str,
                    bits: int = SRP_BITS) -> VerifyStore:
    """The corpus side's embedding verify store (every vector outside
    the incremental residue) at SRP geometry ``bits``: the stored index
    every streaming embedding gate checks micro-batches against. The
    fixture gates read the 16×4 index, the ``_scaled`` lifecycle
    entries the 16×9 one (a deployment runs exactly one geometry; both
    exist here only because the fixture rows are kept as sensor
    contrasts). Every geometry indexes the same vectors, so the index
    is written once per (process, corpus, bits) and the two payload
    tiers once per (process, corpus), shared by all geometries."""
    corpus = Catalog(spark, sf_dir).embeddings.where(
        F.col("vec_id") % ANN_INCR_MOD != ANN_INCR_REM)
    tiers = memo(("embedding_tiers", sf_dir),
                 lambda: _write_embedding_tiers(spark, sf_dir, corpus))
    return memo(("embedding_store", sf_dir, bits), lambda: VerifyStore(
        _write_srp_index(srp_bucket_rows(corpus, bits=bits)), *tiers))


def cosine_verify(spark: SparkSession, cand: DataFrame, batch: DataFrame,
                  store: VerifyStore, scope: list) -> DataFrame:
    """The embedding family's one exact verify: the verified (old_id,
    vec_id) pairs among the (vec_id, old_id) candidates, cosine ≥
    ``NEARDUP_COS``. ``batch`` holds the new side's (vec_id,
    embedding); the corpus side is read only from the two payload
    tiers of ``store`` (:func:`write_embedding_store`), by pk-pruned
    point fetch — never an embeddings.parquet pass
    (``engine.pointfetch.two_tier_verify`` runs the fetches; ``scope``
    receives the persisted screened pairs).

    Tier 1 fetches candidate corpus vectors' packed-int16
    quantizations and screens pairs on the provable cosine upper bound
    (:func:`quant_screen_keep`; the proof is on
    :func:`quantized_vec_cols`) — a superset of the exact-passing
    pairs, so the screen changes I/O, never the result. Tier 2 fetches
    only the survivors' float vectors and decides on exact cosine."""

    q = batch.select("vec_id", F.col("embedding").alias("qv"))

    def screen():
        keep = quant_screen_keep(F.col("qv"), F.col("w32"), F.col("s"))
        return lambda pairs, rows: (
            pairs.join(rows.select("old_id", "w32", "s"), "old_id")
            .join(q, "vec_id")
            .where(keep)
            .select("old_id", "vec_id"))

    def exact():
        cos_pred = cosine_sim(F.col("old_emb"), F.col("qv")) >= NEARDUP_COS
        return lambda pairs, rows: (
            pairs.join(rows.select("old_id",
                                   F.col("embedding").alias("old_emb")),
                       "old_id")
            .join(q, "vec_id")
            .where(cos_pred)
            .select("old_id", "vec_id"))

    return two_tier_verify(spark, cand, "old_id", "vec_id", store, screen,
                           exact, scope)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup shape): near-dup detection WITHIN coarse
# clusters — the complement of the SRP-banded candidate generator.
# ---------------------------------------------------------------------------

SEMDEDUP_COS = NEARDUP_COS   # same near-dup ball as the banded/exact paths


def _semdedup_pairs_oracle() -> str:
    """Within-cell near-dup pairs: the scaled sign-codebook assignment
    (``corpus(vec_id, cell)``), a cell-predicate pair join, exact
    cosine threshold."""
    return _ivf_scaled_assign_prefix() + f""", cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM corpus a JOIN corpus b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
      >= {SEMDEDUP_COS}
"""


def _semdedup_clusters_oracle() -> str:
    from .dedup import components_oracle
    return components_oracle(
        f"SELECT vec_a AS doc_a, vec_b AS doc_b "
        f"FROM ({_semdedup_pairs_oracle()}) sd",
        id_col="vec_id")


@register(
    "embedding_semdedup",
    oracle=_semdedup_clusters_oracle(),
    description=f"semantic dedup (SemDeDup shape): near-dup pairs found "
                f"ONLY within {IVF_CELLS_WIDE}-cell IVF codebook clusters "
                f"(cosine ≥ {SEMDEDUP_COS}), min-label components, "
                f"canonical keeper per cluster",
    tags=("similarity", "neardup", "dedup", "ivf", "iterative"),
)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication in the SemDeDup formulation (Abbas et al.
    2023: cluster the embedding space coarsely, then search for
    semantic duplicates ONLY within each cluster) — the one standard
    LLM-pipeline dedup shape the engine lacked (r9 verdict item 5),
    and the structural complement of ``embedding_neardup_banded``:
    there candidates are SRP band collisions (global, geometry-bounded);
    here they are cell cohabitants of the SAME stored IVF codebook the
    ANN index uses (``ivf_cells_scaled``, 256 sign-codebook cells), so
    one clustering artifact serves both retrieval and curation.

    Shape: r=1 cell assignment (one Arrow matmul, map-only) → id-only
    pair join ON the cell key (candidates bounded by cell occupancy —
    the N/occupancy sizing rule caps them at ~occ/2 per row, never
    corpus²) → exact cosine verify over pairs-joined vectors →
    min-label components with a canonical keeper. Documented SemDeDup
    trade: near-dups split across a cell boundary are missed — the
    recall/cost knob the formulation itself chooses; the oracle replays
    the identical cell predicate, so the driver hash proves the
    within-cell decision set exactly (closure included, via the
    recursive-CTE components twin).

    Scale: assignment is the broadcast-codebook Arrow pass; the
    candidate join shuffles id+cell rows once on cell; verify joins
    fetch vectors for candidates only; the component loop shuffles the
    bounded pair list. Candidate volume rides the sensor
    (``semdedup_cells{C}``) with a ceiling in scale_probe_sf1.CAND_CEIL."""
    from .dedup import min_label_components

    e = Catalog(spark, sf_dir).embeddings
    ids = _ivf_assigned(e).select("vec_id", "cell")
    cand = candidate_pairs(ids, ids, ["cell"], "vec_id", ("vec_a", "vec_b"),
                           f"semdedup_cells{IVF_CELLS_WIDE}", order="<")
    pairs = (cosine_pairs(cand, e, "vec_a", "vec_b")
             .where(F.col("cos") >= SEMDEDUP_COS)
             .select("vec_a", "vec_b"))
    return min_label_components(pairs, a="vec_a", b="vec_b", id_col="vec_id")


@register(
    "embedding_semdedup_apply",
    oracle=f"""
WITH cl AS ({_semdedup_clusters_oracle()}),
drops AS (
  SELECT vec_id FROM cl WHERE is_canonical = 0
), surv AS (
  SELECT e.vec_id FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM drops)
)
SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_input,
       CAST(COUNT(*) AS BIGINT) AS n_survivors,
       CAST((SELECT COUNT(*) FROM embeddings) - COUNT(*) AS BIGINT) AS n_dropped,
       CAST(SUM(vec_id % 1000003) AS BIGINT) AS survivor_id_sum
FROM surv
""",
    description="apply semantic dedup: drop non-canonical within-cell "
                "cluster members, emit surviving-corpus stats (counts + "
                "order-independent id checksum)",
    tags=("similarity", "neardup", "dedup", "ivf"),
)
def embedding_semdedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup deletion decision applied — ``embedding_dedup_apply``'s
    closer on the within-cell clusters, completing the pairs → clusters
    → apply triple for the semantic-dedup path (every other dedup
    family has all three): anti-join the vector corpus against
    non-canonical members, summarize survivors in one oracle-hashed
    row. The drop list is pairs-derived and tiny → broadcast anti-join;
    the embedding table is scanned once, never shuffled."""
    e = Catalog(spark, sf_dir).embeddings
    drops = (embedding_semdedup(spark, sf_dir)
             .where(F.col("is_canonical") == 0).select("vec_id"))
    surv = e.join(F.broadcast(drops), "vec_id", "left_anti")
    stats = surv.agg(
        F.count("*").cast("bigint").alias("n_survivors"),
        F.sum(F.col("vec_id") % 1000003).cast("bigint")
         .alias("survivor_id_sum"),
    )
    n_input = e.agg(F.count("*").cast("bigint").alias("n_input"))
    return (
        stats.crossJoin(F.broadcast(n_input))
        .select("n_input", "n_survivors",
                (F.col("n_input") - F.col("n_survivors")).cast("bigint")
                .alias("n_dropped"),
                "survivor_id_sum")
    )


# Multiprobe operating point, CHOSEN from the measured recall/cost
# curve (r12 verdict item 5; scripts/semdedup_recall_curve.py, table in
# BENCHNOTES r13): pair recall at sf0.1 climbs 0.049 → 0.138 → 0.271 →
# 0.372 for r = 1..4 with NO flattening (at this fixture's wide
# cos ≥ 0.40 ball the within-cell formulation cannot saturate), so the
# knee is in MARGINAL efficiency: pairs recovered per 1k extra
# candidates hold ~3.5 → 3.1 through r = 3 then halve to 1.7 at r = 4
# (sf1.0 ranks the same way: 3.9 → 2.8 → 2.2). r = 3 is the last step
# that buys recall at near-constant candidate cost.
SEMDEDUP_PROBES = 3   # each vector joins its 3 nearest cells


def _semdedup_mp_pairs_oracle() -> str:
    """Multiprobe within-cell pairs: both vectors' r ≤ SEMDEDUP_PROBES
    cell sets must intersect; DISTINCT because a pair can cohabit both
    of its probed cells."""
    return _ivf_scaled_assign_prefix() + f""", m AS (
  SELECT vec_id, cell FROM ranked_cells WHERE r <= {SEMDEDUP_PROBES}
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_a
JOIN embeddings eb ON eb.vec_id = c.vec_b
WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
      >= {SEMDEDUP_COS}
"""


def _semdedup_mp_clusters_oracle() -> str:
    from .dedup import components_oracle
    return components_oracle(
        f"SELECT vec_a AS doc_a, vec_b AS doc_b "
        f"FROM ({_semdedup_mp_pairs_oracle()}) sd",
        id_col="vec_id")


def semdedup_pairs_multiprobe(e: DataFrame,
                              probes: int = SEMDEDUP_PROBES) -> DataFrame:
    """Verified multiprobe within-cell near-dup pairs (vec_a < vec_b) —
    shared by the registered entry and the recall measurement in
    tests/test_similarity.py."""
    m = (ivf_cells_scaled(e, probes=probes)
         .select("vec_id", F.explode("cells").alias("cell")))
    cand = candidate_pairs(m, m, ["cell"], "vec_id", ("vec_a", "vec_b"),
                           f"semdedup_mp{probes}_cells{IVF_CELLS_WIDE}",
                           order="<")
    return (cosine_pairs(cand, e, "vec_a", "vec_b")
            .where(F.col("cos") >= SEMDEDUP_COS)
            .select("vec_a", "vec_b"))


@register(
    "embedding_semdedup_multiprobe",
    oracle=_semdedup_mp_clusters_oracle(),
    description=f"multiprobe SemDeDup: near-dup pairs within the "
                f"{SEMDEDUP_PROBES} nearest IVF cells per vector "
                f"(cosine ≥ {SEMDEDUP_COS}) — recovers cross-cell "
                f"near-dups the r=1 formulation misses; min-label "
                f"components, canonical keeper",
    tags=("similarity", "neardup", "dedup", "ivf", "iterative"),
)
def embedding_semdedup_multiprobe(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """``embedding_semdedup``'s documented trade — near-dups split
    across a cell boundary are missed by formulation — bought back
    with the standard IVF trick (r10 verdict item 4): assign every
    vector to its ``SEMDEDUP_PROBES`` nearest codebook cells and admit
    a pair when ANY probed cell is shared. Measured against the exact
    all-pairs set (tests/test_similarity.py pins the containment chain
    r=1 ⊂ r=2 ⊂ r=3 ⊆ exact and the strict recovery): pair recall
    0.049 → 0.138 → 0.271 at sf0.1 for r = 1/2/3 (45 → 127 → 249 of
    920 exact pairs) — r = 3 is the measured marginal-efficiency knee
    (see the ``SEMDEDUP_PROBES`` curve note; full table in BENCHNOTES
    r13). Absolute recall is low BY THE FIXTURE'S BALL: at
    cosine ≥ 0.40 "near-dups" span the sphere far wider than one
    256-cell Voronoi cell; a production SemDeDup ball (≥ 0.9) puts a
    pair's members nearly colinear, where a shared top-probe cell is
    the norm — the within-cell formulation's documented trade either
    way, now with its price measured and a knob that buys recall at
    bounded cost.

    Scale: candidates stay occupancy-bounded — each vector joins
    ``probes`` cells, so raw collisions ≤ probes² × the r=1 volume in
    the worst case (measured ~8.9× at r=3 on sf0.1 vs the 9× ceiling
    arithmetic — the bound is tight; ceiling in
    scale_probe_sf1.CAND_CEIL rides the ``semdedup_mp2_cells256``
    sensor); assignment is the same single Arrow matmul (top-2 instead
    of top-1 of an already-computed argsort), everything downstream is
    the r=1 shape: one cell-keyed shuffle of id rows, vector fetch ∝
    candidates, component loop ∝ true pairs."""
    from .dedup import min_label_components

    e = Catalog(spark, sf_dir).embeddings
    pairs = semdedup_pairs_multiprobe(e)
    return min_label_components(pairs, a="vec_a", b="vec_b", id_col="vec_id")


# ---------------------------------------------------------------------------
# K-means Lloyd update step (the training half of the IVF index).
# ---------------------------------------------------------------------------

def _kmeans_step_oracle() -> str:
    sum_cols = ", ".join(
        f"CAST(SUM(v[{i + 1}]) AS BIGINT)" for i in range(SRP_DIM))
    total = " + ".join(
        f"CAST(SUM(v[{i + 1}]) AS BIGINT)" for i in range(SRP_DIM))
    return _ivf_assign_prefix() + f""", j AS (
  SELECT c.cell, e.v FROM corpus c JOIN eq e USING (vec_id)
)
SELECT cell, COUNT(*) AS n_members,
       CAST({total} AS BIGINT) AS dim_sum_total,
       md5(array_to_string([{sum_cols}], ',')) AS centroid_md5
FROM j GROUP BY cell
"""


@register(
    "emb_kmeans_step",
    oracle=_kmeans_step_oracle(),
    description=f"k-means Lloyd step over the {IVF_CELLS}-cell IVF assignment: "
                "per-cell count + md5-pinned exact integer dim-sums "
                "(count + sums determine the new centroid)",
    tags=("similarity", "clustering", "agg"),
)
def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means — the step that TRAINS the IVF
    coarse quantizer (``ann_ivf`` consumes the resulting centroids):
    assign every vector to its nearest centroid (the exact integer
    comparator of :func:`ivf_cells`), then emit each cell's size and new
    centroid. A full training run is this step iterated; one step is the
    right registry unit because it is deterministic and oracle-checkable
    while the loop is just repetition (the ``q_pagerank`` precedent).

    Scale: assignment is a map-only Arrow-batched matmul against
    broadcast centroids; the update is ONE shuffle of (cell, partial
    vector sums) — the mean is SRP_DIM scalar SUM aggregates, all
    map-side combinable, state C·dim per task. No explode (a per-dim
    explode would shuffle dim× the corpus rows for the same answer).

    Determinism: sums run over floor(x·100) quantized values — integers
    exact in double in ANY order. The result pins (count, per-dim sum)
    rather than the mean itself: the sums are md5'd as a comma-joined
    integer list (the driver canon can't sort raw ARRAY cells, r4
    verdict) and together with n_members fully determine the centroid
    with zero float-formatting ambiguity between engines.
    """
    e = Catalog(spark, sf_dir).embeddings
    assigned = (ivf_cells(e, probes=1)
                .select(F.col("cells")[0].alias("cell"), "embedding"))
    dim_sums = [F.sum(F.floor(F.col("embedding")[i] * 100)).alias(f"_s{i}")
                for i in range(SRP_DIM)]
    agg = assigned.groupBy("cell").agg(F.count("*").alias("n_members"), *dim_sums)
    total = sum(F.col(f"_s{i}") for i in range(SRP_DIM))
    return agg.select(
        "cell", F.col("n_members").cast("bigint").alias("n_members"),
        total.cast("bigint").alias("dim_sum_total"),
        F.md5(F.concat_ws(",", *[F.col(f"_s{i}").cast("bigint").cast("string")
                                 for i in range(SRP_DIM)])).alias("centroid_md5"))


# ---------------------------------------------------------------------------
# Label-outlier detection (supervised-data QA over the labeled embeddings).
# ---------------------------------------------------------------------------

OUTLIERS_PER_LABEL = 5


def _label_outlier_oracle() -> str:
    s_cols = ", ".join(f"SUM(v[{i + 1}]) AS s{i}" for i in range(SRP_DIM))
    d2 = " + ".join(
        f"(n * v[{i + 1}] - s{i}) * (n * v[{i + 1}] - s{i})"
        for i in range(SRP_DIM))
    return f"""
WITH eq AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * 100) AS BIGINT)) AS v
  FROM embeddings
), sums AS (
  SELECT label, COUNT(*) AS n, {s_cols} FROM eq GROUP BY label
), scored AS (
  SELECT e.vec_id, e.label, CAST({d2} AS BIGINT) AS dist2_xn2
  FROM eq e JOIN sums s USING (label)
), ranked AS (
  SELECT label, vec_id, dist2_xn2,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dist2_xn2 DESC, vec_id) AS rank
  FROM scored
)
SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, dist2_xn2
FROM ranked WHERE rank <= {OUTLIERS_PER_LABEL}
"""


@register(
    "emb_label_outliers",
    oracle=_label_outlier_oracle(),
    description=f"label QA: top-{OUTLIERS_PER_LABEL} per-label outliers by "
                "integer-exact distance to the label centroid",
    tags=("similarity", "quality", "labels"),
)
def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-example detection — the supervised-data QA pass: rank
    each vector by distance to its OWN label's centroid and surface the
    top outliers per label (far-from-centroid members are the label
    noise a human reviews before training).

    Determinism without floats: the centroid is s/n (rational); distance
    ranking multiplies through by n² so the compared quantity is the
    INTEGER Σ(n·x_i - s_i)² — exact in both engines in any order.
    Headroom: each term is (n·x_i - s_i)² with |n·x_i - s_i| ≤ n·2·|eq|max
    ≈ 106n at this corpus's |eq| ≤ 53, so dim·(106n)² < 2⁶³ bounds
    n ≲ 3.6·10⁶ rows per label; a larger corpus scales the quantization
    down or accepts tolerance-ranked doubles (the documented contract
    family of ``q_approx_quantiles``).

    Scale: per-label sums are ONE shuffle with map-side partial agg
    (state = labels·dim); the centroid table broadcasts back onto a
    second scan; the outlier rank is the skew-proof grouped_topk — no
    corpus-wide window, nothing quadratic.
    """
    e = Catalog(spark, sf_dir).embeddings
    eq = e.select(
        "vec_id", "label",
        F.transform("embedding",
                    lambda x: F.floor(x * 100).cast("bigint")).alias("v"))
    sums = eq.groupBy("label").agg(
        F.count("*").alias("n"),
        *[F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(SRP_DIM)])
    scored = eq.join(F.broadcast(sums), "label")
    d2 = None
    for i in range(SRP_DIM):
        term = (F.col("n") * F.col("v")[i] - F.col(f"s{i}"))
        term = term * term
        d2 = term if d2 is None else d2 + term
    scored = scored.select("label", "vec_id", d2.cast("bigint").alias("dist2_xn2"))
    return (grouped_topk(scored, ["label"],
                         [F.desc("dist2_xn2"), F.asc("vec_id")],
                         OUTLIERS_PER_LABEL, F.col("vec_id"))
            .select("label", F.col("rank").cast("bigint").alias("rank"),
                    "vec_id", "dist2_xn2"))


# ---------------------------------------------------------------------------
# Product quantization (the vector-compression half of a 100 TB ANN index).
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8                      # 64 dims -> 8 sub-vectors of 8
PQ_SUBDIM = SRP_DIM // PQ_SUBSPACES
PQ_CELLS = 16                         # 4-bit codes
_PQ_SEED = 11


def _pq_codebooks() -> np.ndarray:
    """Deterministic INTEGER codebooks, shape (SUBSPACES, CELLS, SUBDIM),
    weights in [-30, 30] from the shared multiplicative LCG (own seed
    chain) — the embed-the-literals discipline of the SRP/IVF families.
    The ±30 range was picked by measuring ADC recall across magnitudes
    (±100 → 0.10, ±30 → 0.24 recall@10 vs exact quantized-L2 on the
    sf0.001 corpus): untrained random codebooks should at least match
    the data's scale (|eq| ≤ 53 per dim). The remaining recall gap is
    codebook TRAINING (run ``emb_kmeans_step``'s machinery per
    subspace in a real deployment — trained codebooks are shipped
    artifacts, exactly like these literals) plus this corpus's
    near-random embeddings, the same documented ceiling as the IVF
    note above."""
    return _lcg_matrix(_PQ_SEED, (PQ_SUBSPACES, PQ_CELLS, PQ_SUBDIM)) % 61 - 30


def _pq_code_prefix() -> str:
    """Shared CTE prefix: codebook literals, quantized vectors, per-
    subspace assignment costs, and ``best`` (r = 1 rows are the codes).
    Used by the encode oracle and the ADC-search oracle so the code
    definition cannot diverge."""
    cb = _pq_codebooks()
    n2 = (cb * cb).sum(axis=2)                            # (S, C)
    rows = ",\n".join(
        f"  ({s}, {j}, [{', '.join(str(int(x)) for x in cb[s, j])}]::DOUBLE[], "
        f"{int(n2[s, j])}::BIGINT)"
        for s in range(PQ_SUBSPACES) for j in range(PQ_CELLS))
    return f"""
WITH cents(sub, cell, w, n2) AS (VALUES
{rows}
), eq AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> FLOOR(x * 100)) AS v
  FROM embeddings
), costs AS (
  SELECT e.vec_id, c.sub, c.cell,
         c.n2 - 2 * CAST(list_dot_product(
           list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                      c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}), c.w) AS BIGINT) AS cost
  FROM eq e CROSS JOIN cents c
), best AS (
  SELECT vec_id, sub, cell, cost,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                            ORDER BY cost, cell) AS r
  FROM costs
)"""


def _pq_encode_udf(cb: np.ndarray | None = None):
    """Arrow-batched PQ encoder over a given codebook (default: the
    shipped literals) — shared by :func:`pq_codes` and
    :func:`emb_pq_train` so assignment semantics cannot diverge.
    Returns a pandas UDF mapping an embedding to [code_0..code_{S-1},
    err_x]: per-subspace argmin of |c|² - 2·(v_s·c) over floor(x·100)
    integers (ties → lowest cell, numpy first-min == SQL ORDER BY
    cost, cell), plus the exact reconstruction error. Callers mark the
    returned UDF nondeterministic (the §4.4 duplication guard), making
    it Project/Filter-only — the analyzer rejects nondeterministic
    expressions in join conditions, aggregate arguments and generator
    inputs (r14 ADVICE: stated here so a new call site fails in
    review, not at runtime)."""
    if cb is None:
        cb = _pq_codebooks()
    n2 = (cb * cb).sum(axis=2)                             # (S, C)

    @F.pandas_udf(ArrayType(LongType()))
    def _encode(v: pd.Series) -> pd.Series:
        eq = quantize(np.stack(v.to_numpy()))              # (n, 64) exact
        sub = eq.reshape(len(eq), PQ_SUBSPACES, PQ_SUBDIM)
        # all subspace dot products at once: (n, S, C)
        d = np.einsum("nsd,scd->nsc", sub, cb)
        cost = n2[None, :, :] - 2 * d                      # (n, S, C)
        codes = cost.argmin(axis=2)                        # first min = low cell
        best = np.take_along_axis(cost, codes[:, :, None], 2)[:, :, 0]
        err = best.sum(axis=1) + (eq * eq).sum(axis=1)
        out = np.concatenate([codes, err[:, None]], axis=1)  # (n, S+1)
        return pd.Series(list(out.astype(np.int64)))

    # asNondeterministic: consumers index the codes array into filters/
    # joins, whose inferred constraints otherwise duplicate the encoder
    # below themselves (the r14 duplicated-UDF audit caught `_encode` ×2
    # in emb_pq_train) — guide §4.4, deterministic in fact.
    return _encode.asNondeterministic()


def _pq_oracle() -> str:
    return _pq_code_prefix() + f""", vnorm AS (
  SELECT vec_id, CAST(list_dot_product(v, v) AS BIGINT) AS vn FROM eq
)
SELECT b.vec_id,
       md5(array_to_string(list(b.cell ORDER BY b.sub), ',')) AS codes_md5,
       CAST(SUM(b.cost) + ANY_VALUE(n.vn) AS BIGINT) AS err_x
FROM best b JOIN vnorm n USING (vec_id)
WHERE b.r = 1
GROUP BY b.vec_id
"""


def pq_codes(spark: SparkSession, sf_dir: str,
             cb: np.ndarray | None = None) -> DataFrame:
    """Product-quantization encoding — the compression that makes
    billion-vector ANN serveable: each vector becomes SUBSPACES 4-bit
    codes (here 8×4 bits = 4 bytes per 64-dim vector, 64× smaller than
    float32) plus its exact scaled reconstruction error Σ|v_s - c_s|²
    (in quantized units; the quantity PQ training minimizes). A real
    deployment trains the codebooks with ``emb_kmeans_step``'s machinery
    per subspace; the LITERAL codebooks here keep the oracle exact.

    Determinism without floats: argmin |v_s - c|² per subspace compares
    |c|² - 2·(v_s·c) — integers under the floor(x·100) quantization, no
    division or sqrt — with ties broken by cell id (numpy's first-min ==
    SQL's ORDER BY cost, cell). The error adds the code-independent
    |v_s|² once per vector.

    Scale: one Arrow-batched integer matmul per batch (all subspaces in
    one (n,64)@(64,128) product), map-only, zero exchanges — encoding
    streams the corpus. Codes are the payload an IVF-PQ index stores
    alongside ``ivf_cells`` assignments.
    """
    e = Catalog(spark, sf_dir).embeddings
    enc = e.select("vec_id", _pq_encode_udf(cb)("embedding").alias("ce"))
    return enc.select(
        "vec_id",
        F.transform(F.slice("ce", 1, PQ_SUBSPACES),
                    lambda x: x.cast("int")).alias("codes"),
        F.element_at("ce", PQ_SUBSPACES + 1).alias("err_x"))


@register(
    "emb_pq_encode",
    oracle=_pq_oracle(),
    description=f"product quantization: {PQ_SUBSPACES}x{PQ_CELLS}-cell integer "
                "codebooks -> md5-pinned 4-bit codes + exact reconstruction "
                "error",
    tags=("similarity", "quantization", "pq"),
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry face of :func:`pq_codes`: identical computation, but the
    per-vector code list is emitted as an md5 of its comma-joined ints —
    the driver's oracle canonicalizer cannot sort raw ARRAY cells (r4
    verdict item 1), and the md5 pins code content AND subspace order
    just as strictly. Downstream consumers (``ann_pq_adc``) use
    :func:`pq_codes` directly for the real array."""
    return pq_codes(spark, sf_dir).select(
        "vec_id",
        F.md5(F.concat_ws(",", F.transform(
            "codes", lambda x: x.cast("string")))).alias("codes_md5"),
        "err_x")


def _pq_train_oracle() -> str:
    s_cols = ", ".join(f"SUM(sv[{d + 1}]) AS s{d}" for d in range(PQ_SUBDIM))
    total = " + ".join(f"CAST(s{d} AS BIGINT)" for d in range(PQ_SUBDIM))
    cent = ", ".join(
        f"CAST(FLOOR(s{d} * 1.0 / n + 0.5) AS BIGINT)"
        for d in range(PQ_SUBDIM))
    return _pq_code_prefix() + f""", assign AS (
  SELECT vec_id, sub, cell FROM best WHERE r = 1
), sv AS (
  SELECT a.sub, a.cell,
         list_slice(e.v, a.sub * {PQ_SUBDIM} + 1,
                    a.sub * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
  FROM assign a JOIN eq e USING (vec_id)
), agg AS (
  SELECT sub, cell, COUNT(*) AS n, {s_cols}
  FROM sv GROUP BY sub, cell
)
SELECT sub, cell, CAST(n AS BIGINT) AS n_members,
       CAST({total} AS BIGINT) AS dim_sum_total,
       md5(array_to_string([{cent}], ',')) AS centroid_md5
FROM agg
"""


@register(
    "emb_pq_train",
    oracle=_pq_train_oracle(),
    description=f"PQ codebook training: one Lloyd step per subspace over the "
                f"{PQ_SUBSPACES}x{PQ_CELLS} shipped codebooks — per-(sub,cell) "
                "member count + md5-pinned rounded integer centroid",
    tags=("similarity", "quantization", "pq", "clustering"),
)
def emb_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of per-subspace k-means over the PQ
    codebooks — the TRAINING step the untrained-literal family has been
    deferring (the r4 recall sweep measured ADC recall@10 ≈ 0.24 with
    untrained ±30 literals; ``tests/test_similarity.py`` pins that one
    trained step already beats it). A production run iterates this step
    per subspace and ships the result as literals, exactly like the
    current codebooks; one step is the registry unit because it is
    deterministic and oracle-checkable (the ``emb_kmeans_step`` /
    ``q_pagerank`` precedent).

    Plan: ONE corpus scan — the shared Arrow-batched encoder
    (:func:`_pq_encode_udf`) emits all subspace assignments map-side,
    a posexplode fans each vector to its S (sub, cell) rows carrying
    the PQ_SUBDIM-slice of the quantized vector, and ONE shuffle keyed
    (sub, cell) computes count + per-dim integer sums with map-side
    partials — state is S·C·dim scalars per task, corpus-independent.
    No self-join of codes back to vectors (that would shuffle the
    corpus twice for the same answer).

    Determinism: sums over floor(x·100) integers in any order; the new
    centroid rounds via the explicit floor(s/n + 0.5) both engines
    evaluate identically; empty cells simply emit no row (a deployment
    keeps the old centroid for those — a driver-side rule, not a
    per-row computation).
    """
    agg = _pq_train_agg(Catalog(spark, sf_dir).embeddings)
    total = sum(F.col(f"_s{d}") for d in range(PQ_SUBDIM))
    return agg.select(
        F.col("sub").cast("int").alias("sub"),
        F.col("cell").cast("int").alias("cell"),
        F.col("n").cast("bigint").alias("n_members"),
        total.cast("bigint").alias("dim_sum_total"),
        F.md5(F.concat_ws(",", *[c.cast("string") for c in _lloyd_centroid()]))
         .alias("centroid_md5"))


def _pq_train_agg(e: DataFrame) -> DataFrame:
    """(sub, cell, n, _s0.._s{SUBDIM-1}) — the Lloyd-step aggregate over
    the corpus frame ``e``: each vector's shipped-literal PQ codes, then
    per (sub, cell) the member count and the integer sums of the
    members' floor(x·100) sub-vectors. Behind ``emb_pq_train`` (which
    md5s it) and :func:`_pq_trained_codebooks` (which materializes the
    centroids)."""
    enc = e.select(
        F.transform("embedding", lambda x: F.floor(x.cast("double") * 100)
                    .cast("bigint")).alias("qv"),
        F.slice(_pq_encode_udf()("embedding"), 1, PQ_SUBSPACES).alias("codes"))
    sv = (enc.select(F.posexplode("codes").alias("sub", "cell"), "qv")
          .select("sub", "cell",
                  F.slice("qv", F.col("sub") * PQ_SUBDIM + 1,
                          F.lit(PQ_SUBDIM)).alias("sv")))
    dim_sums = [F.sum(F.col("sv")[d]).alias(f"_s{d}") for d in range(PQ_SUBDIM)]
    return sv.groupBy("sub", "cell").agg(F.count("*").alias("n"), *dim_sums)


def _lloyd_centroid() -> list[F.Column]:
    """The Lloyd step's new centroid over a :func:`_pq_train_agg` row,
    one bigint column per dim: floor(s/n + 0.5), the explicit rounding
    Spark and DuckDB evaluate identically."""
    return [F.floor(F.col(f"_s{d}") / F.col("n") + 0.5).cast("bigint")
            for d in range(PQ_SUBDIM)]


def _pq_trained_codebooks(e: DataFrame) -> np.ndarray:
    """One-Lloyd-step codebooks trained on the corpus frame ``e``, as
    the (S, C, SUBDIM) integer array the encoder consumes: the shipped
    literals updated in place by the per-cell rounded means; cells with
    no members keep their literal centroid. ``e`` is the whole corpus,
    or the base rows when the append lifecycle trains at base-generation
    time (the stored codebook is then a function of the base corpus
    only). The fetch is a bounded TRAINING-ARTIFACT collect — S·C rows
    (128) regardless of corpus size, the same size-gated ``toPandas``
    discipline as the broadcast-matmul build side
    (`_neardup_broadcast`); the corpus-scan work happens inside
    :func:`_pq_train_agg`'s distributed plan."""
    rows = (_pq_train_agg(e)
            .select("sub", "cell", *[c.alias(f"c{d}") for d, c
                                     in enumerate(_lloyd_centroid())])
            .toPandas())
    cb = _pq_codebooks().copy()
    for r in rows.itertuples(index=False):
        cb[int(r.sub), int(r.cell)] = [getattr(r, f"c{d}")
                                       for d in range(PQ_SUBDIM)]
    return cb


def _adc_topk(adc: DataFrame) -> DataFrame:
    """(query_id, rank, neighbor_id, adc_x): the PQ family's re-rank —
    the top-TOP_K of each query's (query_id, vec_id, adc_x) candidates
    by (adc_x asc, vec_id asc), through the skew-proof
    ``grouped_topk``. The SQL twin is :func:`_adc_rank_sql`."""
    return (grouped_topk(adc, ["query_id"],
                         [F.asc("adc_x"), F.asc("vec_id")],
                         TOP_K, F.col("vec_id"))
            .select("query_id", F.col("rank").cast("bigint").alias("rank"),
                    F.col("vec_id").alias("neighbor_id"), "adc_x"))


def _adc_rank_sql(adc: str) -> str:
    """The oracle tail of :func:`_adc_topk` over the CTE ``adc``."""
    return f""", adc_ranked AS (
  SELECT query_id, vec_id, adc_x,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_x, vec_id) AS rank
  FROM {adc}
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id, adc_x
FROM adc_ranked WHERE rank <= {TOP_K}
"""


def _pq_adc_oracle() -> str:
    return _pq_code_prefix() + f""", lut AS (
  SELECT e.vec_id AS query_id, c.sub, c.cell,
         c.n2
         - 2 * CAST(list_dot_product(
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}), c.w) AS BIGINT)
         + CAST(list_dot_product(
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}),
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM})) AS BIGINT) AS cost
  FROM eq e CROSS JOIN cents c
  WHERE e.vec_id < {N_QUERIES}
), adc AS (
  SELECT l.query_id, b.vec_id, CAST(SUM(l.cost) AS BIGINT) AS adc_x
  FROM best b JOIN lut l ON l.sub = b.sub AND l.cell = b.cell
  WHERE b.r = 1 AND b.vec_id <> l.query_id
  GROUP BY l.query_id, b.vec_id
)""" + _adc_rank_sql("adc")


@register(
    "ann_pq_adc",
    oracle=_pq_adc_oracle(),
    description=f"PQ asymmetric-distance search: top-{TOP_K} by integer ADC "
                "lookup over the 4-byte codes, no vector touched at query time",
    tags=("similarity", "ann", "pq"),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation — the query path PQ exists for:
    the corpus is only its 4-byte codes; each query precomputes a
    (subspace × cell) lookup table of exact integer distances to every
    codebook entry, and a corpus vector's approximate distance is the
    SUM of eight table lookups. No corpus vector is touched at query
    time — this is what serving a billion-vector index from RAM means.

    Scale shape, all stock DataFrame ops: the LUT is queries × S·C rows
    (tiny, broadcast); codes explode to S rows per vector and join the
    LUT map-side; the per-(query, vector) sum partial-aggregates before
    its one exchange; ranking is the salted top-k. The ranking is
    approximate vs exact cosine BY DESIGN (that's PQ's trade), but
    bit-deterministic — integer LUT entries, integer sums — so the
    oracle match is exact. Recall vs the exact path is the codebook's
    quality knob (train with ``emb_kmeans_step`` machinery per
    subspace).
    """
    return _adc_search(spark, sf_dir, _pq_codebooks(),
                       pq_codes(spark, sf_dir))


def _adc_lut(q: np.ndarray, cb: np.ndarray) -> list[int]:
    """One query's flattened ADC lookup table over codebook ``cb``:
    lut[s·C + j] = |c_sj|² − 2·(q_s·c_sj) + |q_s|² for the quantized
    query ``q`` — integers, so every entry is exact. Python ints, the
    array<bigint> payload of the broadcast query frames."""
    n2 = (cb * cb).sum(axis=2)                       # (S, C)
    sub = q.reshape(PQ_SUBSPACES, PQ_SUBDIM)
    dots = np.einsum("sd,scd->sc", sub, cb)          # (S, C)
    qn = (sub * sub).sum(axis=1)                     # (S,)
    return [int(x) for x in (n2 - 2 * dots + qn[:, None]).reshape(-1)]


def _adc_search(spark: SparkSession, sf_dir: str, cb: np.ndarray,
                code_df: DataFrame) -> DataFrame:
    """Shared ADC query path over a given codebook + code table — the
    literal (`ann_pq_adc`) and trained (`ann_pq_adc_trained`) variants
    differ ONLY in which artifacts they pass here."""
    # Per-query LUT (``_adc_lut``) built driver-side from the bounded
    # query batch (see _query_batch) and folded map-side over each
    # vector's codes (``_adc_fold``, the ``_ivfpq_serve`` shape): no
    # exchange before the top-k, and integer addition is exact in any
    # order.
    rows = [(qid, _adc_lut(quantize(emb), cb))
            for qid, emb in _query_batch(spark, sf_dir)]
    luts = local_df(spark, rows, "query_id long, lut array<bigint>")

    adc = (code_df.select("vec_id", "codes")
           .crossJoin(F.broadcast(luts))
           .where(F.col("vec_id") != F.col("query_id"))
           .select("query_id", "vec_id",
                   _adc_fold(F.col("codes"), F.col("lut")).alias("adc_x")))
    return _adc_topk(adc)


def _pq_adc_trained_oracle() -> str:
    s_cols = ", ".join(f"SUM(sv[{d + 1}]) AS s{d}" for d in range(PQ_SUBDIM))
    cent = ", ".join(f"FLOOR(s{d} * 1.0 / n + 0.5)" for d in range(PQ_SUBDIM))
    return _pq_code_prefix() + f""", tragg AS (
  SELECT b.sub, b.cell, COUNT(*) AS n, {s_cols}
  FROM best b JOIN eq e USING (vec_id),
       LATERAL (SELECT list_slice(e.v, b.sub * {PQ_SUBDIM} + 1,
                                  b.sub * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv) l
  WHERE b.r = 1
  GROUP BY b.sub, b.cell
), tr AS (
  SELECT sub, cell, [{cent}]::DOUBLE[] AS w FROM tragg
), cents2 AS (
  SELECT c.sub, c.cell, COALESCE(t.w, c.w) AS w,
         CAST(list_dot_product(COALESCE(t.w, c.w),
                               COALESCE(t.w, c.w)) AS BIGINT) AS n2
  FROM cents c LEFT JOIN tr t ON t.sub = c.sub AND t.cell = c.cell
), costs2 AS (
  SELECT e.vec_id, c.sub, c.cell,
         c.n2 - 2 * CAST(list_dot_product(
           list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                      c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}), c.w) AS BIGINT) AS cost
  FROM eq e CROSS JOIN cents2 c
), best2 AS (
  SELECT vec_id, sub, cell, cost,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                            ORDER BY cost, cell) AS r
  FROM costs2
), lut2 AS (
  SELECT e.vec_id AS query_id, c.sub, c.cell,
         c.n2
         - 2 * CAST(list_dot_product(
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}), c.w) AS BIGINT)
         + CAST(list_dot_product(
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}),
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM})) AS BIGINT) AS cost
  FROM eq e CROSS JOIN cents2 c
  WHERE e.vec_id < {N_QUERIES}
), adc2 AS (
  SELECT l.query_id, b.vec_id, CAST(SUM(l.cost) AS BIGINT) AS adc_x
  FROM best2 b JOIN lut2 l ON l.sub = b.sub AND l.cell = b.cell
  WHERE b.r = 1 AND b.vec_id <> l.query_id
  GROUP BY l.query_id, b.vec_id
)""" + _adc_rank_sql("adc2")


@register(
    "ann_pq_adc_trained",
    oracle=_pq_adc_trained_oracle(),
    description=f"PQ ADC search with ONE-Lloyd-step-trained codebooks "
                "(train -> re-encode -> search end-to-end, oracle replays "
                "the whole chain)",
    tags=("similarity", "ann", "pq", "clustering"),
)
def ann_pq_adc_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained end of the PQ story: `emb_pq_train`'s Lloyd step
    produces the codebooks, the corpus is RE-ENCODED against them, and
    ADC search runs over the new codes — the full train → deploy →
    serve chain as one registered, oracle-checked query (the oracle
    replays training, re-encoding, LUT build and ranking in SQL, so the
    hash pins every stage). ``tests/test_similarity.py`` pins the
    quality claim — ONE Lloyd step cuts integer reconstruction error
    >20% (measured ~41% at sf0.001), five steps >40% without degrading
    recall@10 — so this entry is the operational artifact of a measured
    improvement, not ceremony.

    Scale: identical shape to `ann_pq_adc` (broadcast LUT, map-side
    code join, salted top-k) plus the one-off training scan; the
    trained-codebook fetch is the bounded S·C-row artifact collect
    documented on :func:`_pq_trained_codebooks`.
    """
    cb = _pq_trained_codebooks(Catalog(spark, sf_dir).embeddings)
    return _adc_search(spark, sf_dir, cb, pq_codes(spark, sf_dir, cb))


def _ivfpq_rows(e: DataFrame, cb: np.ndarray) -> DataFrame:
    """(vec_id, cell, codes) over an arbitrary corpus frame: r=1 coarse
    assignment + PQ codes, both Arrow passes over one scan, no
    exchange — the frame-level kernel so the append lifecycle can
    encode a dump subset with a STORED codebook."""
    return (ivf_cells_scaled(e)
            .select("vec_id", F.element_at("cells", 1).alias("cell"),
                    F.slice(_pq_encode_udf(cb)("embedding"), 1, PQ_SUBSPACES)
                    .alias("codes")))


def _ivfpq_corpus_index(spark: SparkSession, sf_dir: str,
                        cb: np.ndarray) -> DataFrame:
    """The IVFADC index payload for the whole corpus. What
    ``ann_ivfpq_adc`` scores in-query and ``ann_ivfpq_index_persist``
    writes cell-partitioned to disk."""
    return _ivfpq_rows(Catalog(spark, sf_dir).embeddings, cb)


def _ivfpq_probe_luts_and_cells(
        spark: SparkSession, sf_dir: str,
        cb: np.ndarray) -> tuple[DataFrame, list[int]]:
    """((query_id, cell, lut) frame, sorted distinct probed cells) — the
    query batch's probe set (``_probed_queries``) with each query's
    FLATTENED ADC lookup table (``_adc_lut``, array<bigint>, entry
    sub·C + pcell) attached to every probe row. queries × probes rows
    with a (S·C)-long array each — broadcast-sized by construction, so
    the candidate join ships LUTs to the data and scoring needs no LUT
    join at all. Built DRIVER-SIDE from the bounded query batch, one
    numpy pass per query. The cell list feeds the serve side's STATIC
    partition IN-filter (see ``ivf_index_serve``)."""
    rows = []
    for qid, _, q, pc in _probed_queries(spark, sf_dir):
        lut = _adc_lut(q, cb)
        rows.extend((qid, c, lut) for c in pc)
    frame = local_df(
        spark, rows, "query_id long, cell int, lut array<bigint>")
    return frame, sorted({r[1] for r in rows})


def _adc_fold(codes_col, lut_col) -> F.Column:
    """Map-side ADC: Σ_s lut[s·C + codes[s]] as one codegen'd array
    fold — eight element_at lookups summed per candidate row, zero
    fan-out, zero exchange (vs the r13 posexplode→LUT-join→groupBy
    shape, which fanned every candidate to S rows through an exchange;
    the paired sf0.1 adjudication in BENCHNOTES r14 retired it)."""
    return F.aggregate(
        F.zip_with(codes_col, F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1)),
                   lambda c, s: F.element_at(
                       lut_col, (s * PQ_CELLS + c + 1).cast("int"))),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def _ivfpq_serve(idx: DataFrame, probes: DataFrame) -> DataFrame:
    """Shared IVFADC serve plan over any (vec_id, cell, codes) index
    frame: broadcast probe-set equi-join on cell (DPP-prunable when the
    index is the cell-partitioned store), map-side ADC fold, salted
    top-k — the only exchange is the top-k's."""
    cand = (idx.join(F.broadcast(probes), "cell")
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id",
                    _adc_fold(F.col("codes"), F.col("lut")).alias("adc_x")))
    return _adc_topk(cand)


def _ivfpq_trained_oracle(train_where: str = "") -> str:
    """DuckDB twin of the TRAINED IVFADC composition: the literal
    codebooks trained one Lloyd step (the ``_pq_adc_trained_oracle``
    chain, CTEs copied verbatim — kept self-contained so this function
    is not in that entry's fingerprint closure), corpus re-encoded
    against the trained cells, candidates restricted to the sign-
    codebook probe sets, ADC over the trained LUT. ``train_where``
    narrows WHICH rows train the Lloyd step (the append lifecycle
    trains at base-generation time); encode/probe/serve always cover
    the full corpus."""
    iw = _ivf_sign_centroids()
    irows = ",\n".join(
        f"  ({j}, [{', '.join(str(int(x)) for x in iw[j])}]::DOUBLE[])"
        for j in range(IVF_CELLS_WIDE))
    s_cols = ", ".join(f"SUM(sv[{d + 1}]) AS s{d}" for d in range(PQ_SUBDIM))
    cent = ", ".join(f"FLOOR(s{d} * 1.0 / n + 0.5)" for d in range(PQ_SUBDIM))
    return _pq_code_prefix() + f""", tragg AS (
  SELECT b.sub, b.cell, COUNT(*) AS n, {s_cols}
  FROM best b JOIN eq e USING (vec_id),
       LATERAL (SELECT list_slice(e.v, b.sub * {PQ_SUBDIM} + 1,
                                  b.sub * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv) l
  WHERE b.r = 1{train_where}
  GROUP BY b.sub, b.cell
), tr AS (
  SELECT sub, cell, [{cent}]::DOUBLE[] AS w FROM tragg
), cents2 AS (
  SELECT c.sub, c.cell, COALESCE(t.w, c.w) AS w,
         CAST(list_dot_product(COALESCE(t.w, c.w),
                               COALESCE(t.w, c.w)) AS BIGINT) AS n2
  FROM cents c LEFT JOIN tr t ON t.sub = c.sub AND t.cell = c.cell
), costs2 AS (
  SELECT e.vec_id, c.sub, c.cell,
         c.n2 - 2 * CAST(list_dot_product(
           list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                      c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}), c.w) AS BIGINT) AS cost
  FROM eq e CROSS JOIN cents2 c
), best2 AS (
  SELECT vec_id, sub, cell, cost,
         ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                            ORDER BY cost, cell) AS r
  FROM costs2
), lut2 AS (
  SELECT e.vec_id AS query_id, c.sub, c.cell,
         c.n2
         - 2 * CAST(list_dot_product(
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}), c.w) AS BIGINT)
         + CAST(list_dot_product(
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM}),
             list_slice(e.v, c.sub * {PQ_SUBDIM} + 1,
                        c.sub * {PQ_SUBDIM} + {PQ_SUBDIM})) AS BIGINT) AS cost
  FROM eq e CROSS JOIN cents2 c
  WHERE e.vec_id < {N_QUERIES}
), icents(icell, iw) AS (VALUES
{irows}
), idots AS (
  SELECT e.vec_id, c.icell, CAST(list_dot_product(e.v, c.iw) AS BIGINT) AS d
  FROM eq e CROSS JOIN icents c
), ranked_cells AS (
  SELECT vec_id, icell,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, icell) AS r
  FROM idots
), icorpus AS (
  SELECT vec_id, icell FROM ranked_cells WHERE r = 1
), qcells AS (
  SELECT vec_id AS query_id, icell FROM ranked_cells
  WHERE vec_id < {N_QUERIES} AND r <= {IVF_PROBES_WIDE}
), candi AS (
  SELECT DISTINCT q.query_id, c.vec_id
  FROM qcells q JOIN icorpus c USING (icell)
  WHERE c.vec_id <> q.query_id
), adc3 AS (
  SELECT ca.query_id, ca.vec_id, CAST(SUM(l.cost) AS BIGINT) AS adc_x
  FROM candi ca
  JOIN best2 b ON b.vec_id = ca.vec_id AND b.r = 1
  JOIN lut2 l ON l.query_id = ca.query_id
             AND l.sub = b.sub AND l.cell = b.cell
  GROUP BY ca.query_id, ca.vec_id
)""" + _adc_rank_sql("adc3")


@register(
    "ann_ivfpq_adc",
    oracle=_ivfpq_trained_oracle(),
    description=f"composed IVF-PQ (IVFADC): {IVF_CELLS_WIDE}-cell coarse "
                f"quantizer prunes the scan to {IVF_PROBES_WIDE} probed "
                f"cells per query, {PQ_SUBSPACES}x{PQ_CELLS}-cell "
                "ONE-LLOYD-STEP-TRAINED PQ codes + map-side integer ADC "
                "fold score only the candidates — the billion-vector "
                "serving index (I/O pruned by IVF, residency compressed "
                "by PQ) as one oracle-hashed entry; the oracle replays "
                "training, re-encoding, probe pruning and the fold",
    tags=("similarity", "ann", "ivf", "pq"),
)
def ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed index every billion-vector deployment actually
    ships (FAISS's IVFADC): ``ann_ivf_scaled``'s coarse quantizer
    bounds WHAT IS READ (a query touches probes/cells of the corpus —
    here 24/256 ≈ 9%), and ``ann_pq_adc``'s asymmetric-distance codes
    bound WHAT IS RESIDENT (4 bytes/vector vs 256). The two families
    existed separately since r7; this entry closes the composition:
    index = one Arrow pass emitting (cell, codes) per vector, query =
    probe-set build + integer LUT, candidates = a broadcast equi-join
    on cell (never a corpus scan), ADC = eight LUT lookups per
    candidate summed in one exchange.

    r14 upgrades (VERDICT r13 items 3+4): the composition serves the
    ONE-LLOYD-STEP-TRAINED codebooks (``_pq_trained_codebooks``, the
    >20%-reconstruction-error-cut artifact ``ann_pq_adc_trained``
    proved) instead of the shipped literals, and ADC is now a MAP-SIDE
    fold (``_adc_fold``: eight ``element_at`` lookups over the
    query's broadcast-flattened LUT array summed in codegen) — the r13
    posexplode→LUT-join→groupBy shape's 8× fan-out exchange is gone
    (paired adjudication in BENCHNOTES r14).

    Exactness discipline: every stage is the families' shared integer
    arithmetic (floor(x·100) quantization, BIGINT dots, integer Lloyd
    means, ties by id), so the oracle — which replays training,
    re-encoding, coarse assignment, LUT build, cell-pruned candidate
    join, and the fold in SQL — hash-matches exactly; the
    approximation vs exact cosine is the DESIGN trade (probe recall ×
    codebook quality), both knobs measured on their own entries
    (``ann_ivf_scaled`` recall, ``emb_pq_train``'s error cut).
    tests/test_similarity.py pins the composition laws: every returned
    neighbor lies in a probed cell of its query, and each (query,
    neighbor) ADC distance equals the full-scan ``ann_pq_adc_trained``
    LUT distance for the same pair — IVF changes WHICH pairs are
    scored, never their score.

    Scale: the probe-set frame is queries × probes rows, each carrying
    its query's S·C-entry LUT array (broadcast); the (cell, codes)
    index joins it map-side after a scan-level DPP opportunity on a
    cell-partitioned store (``ann_ivfpq_index_persist`` pins that
    layout); the only exchange left is the salted top-k over candidate
    scores, ∝ probes × occupancy per query — corpus-size-free at fixed
    geometry under the N/64 sizing rule."""
    cb = _pq_trained_codebooks(Catalog(spark, sf_dir).embeddings)
    return _ivfpq_serve(_ivfpq_corpus_index(spark, sf_dir, cb),
                        _ivfpq_probe_luts_and_cells(spark, sf_dir, cb)[0])


def _pq_artifact_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the trained-PQ deployment artifacts for ``sf_dir`` —
    the (sub, cell, w) codebook table and the re-encoded corpus codes —
    as parquet, ONCE per process; every later call serves from disk.
    Both artifacts are deterministic functions of the corpus (integer
    Lloyd step + integer argmin encoding), so reuse cannot change any
    answer — it only removes the training scan from the serve path,
    which is precisely the train-once/serve-many economics PQ exists
    for (codebooks retrain per crawl dump, queries arrive forever).
    Keyed by corpus dir, so a multi-SF sweep cannot cross-serve."""
    def build() -> str:
        path = scratch_dir("fsbd_pq_artifact_")
        cb = _pq_trained_codebooks(Catalog(spark, sf_dir).embeddings)
        _write_pq_codebook(cb, path + "/codebook")
        # The corpus codes are the index payload (4 bytes/vector at
        # scale); map-only encode streamed straight to parquet, no
        # shuffle.
        (pq_codes(spark, sf_dir, cb)
         .write.mode("overwrite").parquet(path + "/codes"))
        return path
    return memo(("pq_artifact_dir", sf_dir), build)


@register(
    "ann_pq_persist",
    oracle=_pq_adc_trained_oracle(),
    description="persisted trained-PQ lifecycle: codebooks + corpus codes "
                "stored as parquet artifacts, ADC search served FROM disk — "
                "same oracle as ann_pq_adc_trained, so the hash proves "
                "persisted == trained-inline",
    tags=("similarity", "ann", "pq", "storage"),
)
def ann_pq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_index_persist``'s pattern applied to PQ (r5 verdict item):
    ``ann_pq_adc_trained`` re-runs the Lloyd training scan inline on
    every invocation, which is correct but models the wrong deployment
    — codebooks are trained once per corpus dump and then serve every
    query batch. This entry materializes BOTH deployment artifacts
    (codebook table + re-encoded corpus codes) to parquet on first use
    and serves ADC search from the on-disk copies thereafter; reusing
    the trained oracle makes the driver hash a round-trip proof that
    the persisted artifacts serve bit-identical rankings.

    Scale: the codebook is S·C rows (corpus-size-free; the serve-side
    fetch is the same bounded artifact collect as
    :func:`_pq_trained_codebooks`); the code table is 4 bytes/vector
    and reads back columnar with only (vec_id, codes) — the serve plan
    is identical to ``ann_pq_adc``'s (broadcast LUT, map-side code
    join, salted top-k) and never touches the float corpus except for
    the query rows.
    """
    path = _pq_artifact_dir(spark, sf_dir)
    cb = _read_pq_codebook(spark, path + "/codebook")
    codes = spark.read.parquet(path + "/codes")
    return _adc_search(spark, sf_dir, cb, codes)


# ---------------------------------------------------------------------------
# Persisted IVFADC lifecycle: the at-rest generation of the composed index
# (VERDICT r13 item 2). One directory IS the deployable index: codes
# cell-partitioned for DPP-pruned serve, the codebook stored inside it
# under an underscore-prefixed subdir (self-describing generation,
# invisible to parquet scans of the generation root).
# ---------------------------------------------------------------------------


def _read_pq_codebook(spark: SparkSession, path: str) -> np.ndarray:
    """(S, C, SUBDIM) codebook array from a stored (sub, cell, w)
    parquet table — the bounded S·C-row artifact fetch (the
    ``_pq_trained_codebooks`` collect discipline, reading the at-rest
    copy instead of retraining)."""
    rows = spark.read.parquet(path).toPandas()
    cb = np.empty((PQ_SUBSPACES, PQ_CELLS, PQ_SUBDIM), dtype=np.int64)
    for r in rows.itertuples(index=False):
        cb[int(r.sub), int(r.cell)] = list(r.w)
    return cb


def _write_pq_codebook(cb: np.ndarray, path: str) -> None:
    """Store a codebook as the (sub, cell, w) parquet artifact — S·C
    rows, one file; written INSIDE an index generation so the
    generation is self-describing.

    Written DRIVER-SIDE with pyarrow (r15): the codebook is a bounded
    S·C-row driver array — the ``local_df`` class of artifact — and a
    Spark job for its ~20 KB single-file write costs ~0.35 s of pure
    job machinery per index build (measured in the r15 build
    decomposition, ~15% of the build component) where the driver
    writes the identical spark-readable file in milliseconds. Schema
    (sub int, cell int, w array<bigint>), read back by
    ``_read_pq_codebook``. A 100 TB deployment keeps this shape: the
    codebook never grows with the corpus, so driver-side I/O is the
    correct layout at any scale (the CORPUS writes stay distributed)."""
    import pyarrow as pa

    from ..engine.generations import write_single_file

    tbl = pa.table(
        {"sub": pa.array([s for s in range(PQ_SUBSPACES)
                          for _ in range(PQ_CELLS)], pa.int32()),
         "cell": pa.array(list(range(PQ_CELLS)) * PQ_SUBSPACES,
                          pa.int32()),
         "w": pa.array([[int(x) for x in cb[s, j]]
                        for s in range(PQ_SUBSPACES)
                        for j in range(PQ_CELLS)],
                       pa.list_(pa.int64()))})
    write_single_file(tbl, path)


def ivfpq_index_build(spark: SparkSession, sf_dir: str) -> str:
    """BUILD side of the persisted IVFADC lifecycle: fetch the trained
    codebook from the PQ training artifact (``_pq_artifact_dir`` — the
    train-once discipline; training never reruns per build), encode +
    coarse-assign the corpus in one map-only Arrow pass, write it
    cell-partitioned with the codebook stored alongside. Returns the
    generation path. Split from serve (the ``ivf_index_build`` r8
    precedent) so the bench times each component. The write clusters
    by cell first — one file per cell instead of tasks×cells (see
    ``ivf_index_build``)."""

    cb = _read_pq_codebook(
        spark, _pq_artifact_dir(spark, sf_dir) + "/codebook")
    path = scratch_dir("fsbd_ivfpq_index_")
    write_generation(_ivfpq_corpus_index(spark, sf_dir, cb), path, "cell",
                     IVF_CELLS_WIDE)
    _write_pq_codebook(cb, path + "/_codebook")
    return path


def ivfpq_index_serve(spark: SparkSession, sf_dir: str,
                      path: str) -> DataFrame:
    """SERVE side: answer the query batch FROM the on-disk generation —
    codebook read back from inside the index (bounded S·C rows), probe
    set + per-query LUT arrays broadcast against the codes on the
    PARTITION column, so dynamic partition pruning limits the scan to
    probed cells; scoring is the map-side ``_adc_fold``."""
    cb = _read_pq_codebook(spark, path + "/_codebook")
    probes, probed = _ivfpq_probe_luts_and_cells(spark, sf_dir, cb)
    # static partition pruning: the probed-cell list is a literal, so
    # the codes scan carries it as a planning-time PartitionFilter
    # (see ivf_index_serve)
    idx = spark.read.parquet(path).where(F.col("cell").isin(probed))
    return _ivfpq_serve(idx, probes)


@register(
    "ann_ivfpq_index_persist",
    oracle=_ivfpq_trained_oracle(),
    description="persisted IVFADC lifecycle: trained codebook + "
                f"cell-partitioned PQ codes written as ONE self-describing "
                f"generation dir ({IVF_CELLS_WIDE} cell partitions, codebook "
                "stored inside it), queries served FROM disk with DPP-pruned "
                "scans — same oracle as ann_ivfpq_adc, so the hash proves "
                "persisted == composed-inline",
    tags=("similarity", "ann", "ivf", "pq", "storage"),
)
def ann_ivfpq_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a billion-vector deployment actually ships to serving hosts
    (``ann_ivfpq_adc`` proved the composition in-query): an index
    GENERATION on disk — 4-byte-per-vector PQ codes clustered into
    their coarse cells, the codebook that decodes them stored inside
    the same directory — and a query path that never touches a float
    corpus vector: probe-set broadcast join on the partition column
    (dynamic partition pruning reads probes/C of the codes from disk,
    plan-pinned in tests/test_plans.py), then the map-side ADC fold.
    Reusing the composed entry's trained oracle makes the driver hash
    a round-trip proof: the persisted generation serves bit-identical
    rankings to the inline composition.

    Scale: the build is one map-only Arrow pass streamed to a
    partitioned write (no pre-write shuffle); the serve scan is
    probes/C of a corpus already 64× compressed by PQ — at 10⁹ vectors
    the whole generation is ~4 GB of codes, and one query batch reads
    ~9% of it. Codebook I/O is S·C rows regardless of corpus size."""
    return ivfpq_index_serve(spark, sf_dir, ivfpq_index_build(spark, sf_dir))


def _ivfpq_base_build(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The IVFADC base generation at ``path``: PQ codebook TRAINED on
    the base residues (vec_id % IVF_APPEND_MOD != 0 — codebooks are
    constants of the generation, not of the stream), codes written one
    file per cell, codebook stored inside the generation at
    ``path/_codebook``."""
    base = Catalog(spark, sf_dir).embeddings.where(
        F.col("vec_id") % IVF_APPEND_MOD != 0)
    cb = _pq_trained_codebooks(base)
    write_generation(_ivfpq_rows(base, cb), path, "cell", IVF_CELLS_WIDE)
    _write_pq_codebook(cb, path + "/_codebook")


@register(
    "ann_ivfpq_index_append",
    oracle=_ivfpq_trained_oracle(
        train_where=f" AND e.vec_id % {IVF_APPEND_MOD} != 0"),
    description="incremental IVFADC maintenance: codebook trained at BASE "
                "generation time, today's dump encoded with the codebook "
                "READ BACK from the stored index and appended into the cell "
                "partitions, per-cell compaction, serve from the compacted "
                "generation — the oracle trains on the base subset only, so "
                "the hash proves append+compact == rebuild-with-stored-"
                "codebook",
    tags=("similarity", "ann", "ivf", "pq", "storage"),
)
def ann_ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of IVFADC index reuse (``ann_ivf_index_append``
    proved it for the float IVF store): a deployment retrains PQ
    codebooks per FULL rebuild, not per dump — between rebuilds each
    day's vectors are encoded with the STORED codebook (coarse sign
    centroids are constants of the index; PQ codebooks are constants
    of the generation) and appended into the existing cell
    directories, then per-cell compaction folds the per-dump
    micro-files back to one file per cell. This entry runs that
    lifecycle end to end: base generation from vec_id % 10 != 0
    (codebook TRAINED on exactly those rows), dump % 10 == 0 encoded
    with the codebook read back from the base generation's stored
    artifact, append, compact (codebook carried to the new
    generation), serve the query batch from the result.

    The oracle replays training ON THE BASE SUBSET and everything else
    over the full corpus — so the driver hash proves both halves: the
    appended rows were scored by the stored (base-trained) codebook,
    and append+compact answers exactly like a from-scratch rebuild
    with that codebook.

    Scale: identical to ``ann_ivf_index_append`` (map-side assignment
    writes, delta touches only its cells, compaction is one cell-keyed
    exchange of the 4-byte-code index — sized by the index, never the
    corpus history) with PQ shrinking every byte moved 64×. File
    counts pinned in tests/test_similarity.py."""

    dump = Catalog(spark, sf_dir).embeddings.where(
        F.col("vec_id") % IVF_APPEND_MOD == 0)
    path = scratch_dir("fsbd_ivfpq_append_")
    _ivfpq_base_build(spark, sf_dir, path)
    # today's dump: encoded with the codebook READ BACK from the store
    # (round-trip on the artifact, not the in-memory array)
    cb2 = _read_pq_codebook(spark, path + "/_codebook")
    write_generation(_ivfpq_rows(dump, cb2), path, "cell", IVF_CELLS_WIDE,
                     mode="append")
    gen2 = scratch_dir("fsbd_ivfpq_append_gen2_")
    ivf_index_compact(spark, path, gen2)
    _write_pq_codebook(cb2, gen2 + "/_codebook")
    return ivfpq_index_serve(spark, sf_dir, gen2)


# ---------------------------------------------------------------------------
# Power iteration: the top principal direction of the embedding cloud.
# ---------------------------------------------------------------------------

POWER_ITERS = 3


def _pca_chain(src: str, tag: str) -> str:
    """CTE chain for one power-iteration run over table ``src`` (column
    ``x``), CTE names infixed with ``tag``; the caller supplies the
    all-ones seed ``it{tag}0`` and receives ``fin{tag}(v, n2)``."""
    parts = []
    prev = f"it{tag}0"
    for k in range(1, POWER_ITERS + 1):
        y_cols = ", ".join(
            f"CAST(SUM(dot * x[{i + 1}]) AS BIGINT)" for i in range(SRP_DIM))
        parts.append(f""", d{tag}{k} AS (
  SELECT x,
         list_sum(list_transform(range(1, {SRP_DIM + 1}), i -> x[i] * v[i])) AS dot
  FROM {src} CROSS JOIN {prev}
), y{tag}{k} AS (
  SELECT [{y_cols}] AS y FROM d{tag}{k}
), it{tag}{k} AS (
  SELECT list_transform(y, e -> (e * 100 - (e * 100) % m) // m) AS v
  FROM (SELECT y,
               greatest(list_max(list_transform(y, e -> abs(e))), 1) AS m
        FROM y{tag}{k})
)""")
        prev = f"it{tag}{k}"
    parts.append(f""", fin{tag} AS (
  SELECT v,
         greatest(CAST(list_sum(list_transform(v, e -> e * e)) AS BIGINT), 1) AS n2
  FROM {prev}
)""")
    return "".join(parts)


_PCA_ONES = ", ".join("1" for _ in range(SRP_DIM))


def _pca_prefix() -> str:
    """Shared CTE chain replaying the integer power-iteration steps —
    same quantization, same trunc-division rescale, exact arithmetic.
    Ends with ``fin(v, n2)``: the final direction and its squared norm.
    Used by the direction oracle and the projection oracle so the
    learned direction cannot diverge between them."""
    return (f"""
WITH eq AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> CAST(FLOOR(x * 100) AS BIGINT)) AS x
  FROM embeddings
), it0 AS (SELECT [{_PCA_ONES}]::BIGINT[] AS v)"""
            + _pca_chain("eq", ""))


def _pca_oracle() -> str:
    return _pca_prefix() + f"""
SELECT CAST(u.i - 1 AS INTEGER) AS dim,
       v[u.i] AS component_q,
       ROUND(v[u.i] / sqrt(n2), 6) AS component
FROM fin, UNNEST(range(1, {SRP_DIM + 1})) AS u(i)"""


@register(
    "emb_pca_power_iter",
    oracle=_pca_oracle(),
    description=f"top principal direction of the embedding cloud: "
                f"{POWER_ITERS} integer power-iteration steps, exact in any "
                "partitioning",
    tags=("similarity", "linalg", "agg"),
)
def emb_pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top spectral direction of the embedding second-moment matrix by
    power iteration — the step behind embedding whitening, ABTT
    ("all-but-the-top" post-processing), and PCA-guided dimension
    reduction in curation pipelines. Each iteration computes
    y = Σᵣ (xᵣ·v)·xᵣ without ever materializing the dim×dim covariance:
    one pass over the corpus, a dim-vector of partial sums per task.

    Determinism (the ``emb_kmeans_step`` convention, taken further):
    vectors are floor(x·100) integer-quantized, v starts at all-ones,
    and after every iteration v is rescaled to max-abs 100 by
    TRUNC-division on integers (remainder subtracted first, so Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree exactly) —
    every number in the loop is an integer, exact in ANY partitioning
    and summation order. Floats appear only in the final unit-norm
    display column (sqrt and one division, both IEEE
    correctly-rounded). Exactness bound: |y_i·100| ≤ N·64·53·100·100
    must stay under 2⁶³ — holds to N ≈ 5·10⁹ vectors at this corpus's
    |x| ≤ 0.53; a larger corpus drops the rescale target (100 → 10)
    or the quantization scale.

    Scale: ``POWER_ITERS`` scans of the persisted quantized corpus,
    each a map-side dot product + 64 map-side-combinable scalar SUMs
    into a 1-row result — no shuffle of vector data at all; v moves
    between iterations as a 1-row broadcast. The convergence-iteration
    count is the ``q_pagerank`` precedent (fixed steps = deterministic,
    oracle-checkable; more iterations is repetition, and each adds one
    scan).
    """
    eq = _pca_quantized(spark, sf_dir).persist()
    vdf = _power_direction(eq)
    return (vdf.select(F.posexplode("v").alias("dim", "component_q"), "n2")
            .select(F.col("dim").cast("int").alias("dim"),
                    "component_q",
                    F.round(F.col("component_q") / F.sqrt("n2"), 6)
                     .alias("component")))


def _quantized_embedding() -> F.Column:
    """floor(x·100) of every ``embedding`` element as array<bigint> —
    the Catalyst twin of ``vectors.quantize``."""
    return F.transform(F.col("embedding").cast("array<double>"),
                       lambda c: F.floor(c * 100).cast("long"))


def _pca_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, x): the floor(x·100) integer quantization of the corpus."""
    e = Catalog(spark, sf_dir).embeddings
    return e.select("vec_id", _quantized_embedding().alias("x"))


def _dot_v(x="x", v="v"):
    """Integer dot product of two long-array columns (exact, any order)."""
    return F.aggregate(F.zip_with(x, v, lambda a, b: a * b),
                       F.lit(0).cast("long"), lambda acc, t: acc + t)


def _power_direction(eq: DataFrame) -> DataFrame:
    """Run the POWER_ITERS integer power-iteration loop over ``eq.x``;
    returns a 1-row frame (v: array<long>, n2: long) — the final
    direction and its squared norm. Shared by the direction query and
    the projection query (the twin of the oracle's ``_pca_prefix``).

    Each iteration's 1-row v is materialized to engine scratch parquet
    (the ``q_pagerank`` persist-per-iteration idea taken one step
    further, ``wire``-module precedent for the write): WITHOUT lineage
    truncation the next iteration's plan embeds the previous one — the
    64-wide aggregate nests three deep and the generated code blew a
    default-sized driver heap (caught by the vanilla-session verify
    sweep). Writing 1 row per iteration costs nothing at any scale and
    keeps every iteration's plan the same small shape.
    """

    spark = eq.sparkSession
    vdf = spark.range(1).select(
        F.array([F.lit(1).cast("long")] * SRP_DIM).alias("v"))
    for it in range(POWER_ITERS):
        d = (eq.crossJoin(F.broadcast(vdf))
             .select("x", _dot_v().alias("dot")))
        y = d.agg(*[F.sum(F.col("dot") * F.col("x")[i]).cast("long")
                    .alias(f"y{i}") for i in range(SRP_DIM)])
        m = F.greatest(*[F.abs(F.col(f"y{i}")) for i in range(SRP_DIM)],
                       F.lit(1).cast("long"))
        vdf = y.withColumn("m", m).select(
            F.array(*[F.expr(f"(y{i} * 100 - ((y{i} * 100) % m)) div m")
                      for i in range(SRP_DIM)]).alias("v"))
        path = scratch_dir(f"fsbd_pca_v{it}_")
        vdf.write.mode("overwrite").parquet(path)
        vdf = spark.read.parquet(path)
    n2 = F.greatest(
        F.aggregate("v", F.lit(0).cast("long"), lambda acc, t: acc + t * t),
        F.lit(1).cast("long"))
    return vdf.select("v", n2.alias("n2"))


@register(
    "emb_pca_project",
    oracle=_pca_prefix() + f"""
SELECT eq.vec_id,
       CAST(list_sum(list_transform(range(1, {SRP_DIM + 1}),
                                    i -> x[i] * v[i])) AS BIGINT) AS proj_q,
       ROUND(CAST(list_sum(list_transform(range(1, {SRP_DIM + 1}),
                                          i -> x[i] * v[i])) AS BIGINT)
             / (100 * sqrt(n2)), 6) AS proj
FROM eq CROSS JOIN fin
""",
    description="per-vector projection onto the power-iteration principal "
                "direction (the whitening / ABTT application step)",
    tags=("similarity", "linalg", "map-only"),
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned spectral direction: every vector's scalar
    projection onto v̂ — the feature a whitening/ABTT step subtracts
    and an outlier screen thresholds. ``proj`` is in original embedding
    units ((x·v)/(100·|v|), undoing the floor(x·100) quantization
    scale); ``proj_q`` is the exact integer dot against the integer
    direction, the portable value.

    Scale: the direction is the ``POWER_ITERS``-scan training pass
    (:func:`_power_direction`, shared with ``emb_pca_power_iter``);
    application is ONE more map-only pass — corpus ⨯ broadcast 1-row v,
    an integer dot per vector, zero shuffles.
    """
    eq = _pca_quantized(spark, sf_dir).persist()
    vdf = _power_direction(eq.select("x"))
    return (eq.crossJoin(F.broadcast(vdf))
            .withColumn("proj_q", _dot_v())  # one 64-wide dot per row
            .select("vec_id", "proj_q",
                    F.round(F.col("proj_q") / (100 * F.sqrt("n2")), 6)
                     .alias("proj")))


# ---------------------------------------------------------------------------
# Per-cluster representative selection (coreset / diverse-subset step).
# ---------------------------------------------------------------------------

@register(
    "emb_cell_representatives",
    oracle=_ivf_assign_prefix() + """, mem AS (
  SELECT c.cell, c.vec_id, d.d
  FROM corpus c JOIN dots d ON d.vec_id = c.vec_id AND d.cell = c.cell
), reps AS (
  SELECT cell, vec_id, d,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d DESC, vec_id) AS rn,
         COUNT(*) OVER (PARTITION BY cell) AS n_members
  FROM mem
)
SELECT cell, vec_id AS rep_vec_id, CAST(d AS BIGINT) AS rep_dot,
       CAST(n_members AS BIGINT) AS n_members
FROM reps WHERE rn = 1
""",
    description="diverse-subset selection: per IVF cell, the most "
                "centroid-aligned member plus the cell population",
    tags=("similarity", "clustering", "agg"),
)
def emb_cell_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset/diverse-subset selection over the embedding cloud: one
    representative per IVF cell — the member with the largest integer
    dot against its cell centroid (alignment mass; on the L2-normalized
    embeddings a real pipeline feeds this, dot IS cosine), ties to the
    smaller vec_id — plus the cell population the sampler weights by.
    This is the semantic-diversity counterpart of ``dedup_keep_best``:
    keep one exemplar per REGION of embedding space rather than per
    near-dup cluster.

    Scale: assignment is the map-only Arrow-batched ``ivf_cells``
    matmul; the dot re-uses the broadcast integer centroid table (C·dim
    values); the per-cell argmax is ONE ``max_by`` shuffle with
    map-side combine — state C structs per task, never a window over
    the corpus. All arithmetic integer (the ``emb_kmeans_step``
    convention), so the result is partitioning-invariant.
    """
    cents = _ivf_centroids()
    cent_rows = [(int(j), [int(x) for x in cents[j]])
                 for j in range(IVF_CELLS)]
    cdf = local_df(spark, cent_rows, "cell int, w array<bigint>")
    e = Catalog(spark, sf_dir).embeddings
    assigned = (ivf_cells(e, probes=1)
                .select("vec_id", F.col("cells")[0].alias("cell"),
                        _quantized_embedding().alias("x")))
    j = assigned.join(F.broadcast(cdf), "cell")
    scored = j.select("cell", "vec_id", _dot_v("x", "w").alias("d"))
    best = F.max(F.struct(F.col("d"), (-F.col("vec_id")).alias("nid")))
    return (scored.groupBy("cell")
            .agg(best.alias("b"), F.count("*").alias("n_members"))
            .select("cell",
                    (-F.col("b.nid")).cast("bigint").alias("rep_vec_id"),
                    F.col("b.d").cast("bigint").alias("rep_dot"),
                    F.col("n_members").cast("bigint").alias("n_members")))


# ---------------------------------------------------------------------------
# kNN-graph construction (the ANN-graph build step).
# ---------------------------------------------------------------------------

KNN_K = 5


def _knn_graph_oracle(tables: int = SRP_TABLES, bits: int = SRP_BITS) -> str:
    """DuckDB twin of the kNN-graph build, parametric in the SRP
    operating point (the scaled entry below embeds its own 16×9 plane
    literals, exactly like ``_neardup_banded_oracle``)."""
    return ("SELECT src_id, rank, neighbor_id, cosine FROM ("
            + _srp_bucket_prefix(tables, bits) + """, cand AS (
  SELECT DISTINCT a.vec_id AS src_id, x.vec_id AS neighbor_id
  FROM b a JOIN b x ON a.table_id = x.table_id AND a.bucket = x.bucket
                   AND a.vec_id <> x.vec_id
)""" + _rerank_sql("src_id", KNN_K) + ")")


@register(
    "emb_knn_graph",
    oracle=_knn_graph_oracle(),
    description=f"kNN-graph build: per-vector top-{KNN_K} neighbors from "
                "SRP bucket collisions, exact cosine re-rank",
    tags=("similarity", "ann", "lsh"),
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN-GRAPH construction — every vector's top-k
    neighbor list, the artifact NN-descent refines, an HNSW base layer
    ingests, and semantic-dedup clustering walks. ``ann_srp_lsh``
    answers k queries; this materializes the all-vectors edge list
    from ONE bucket self-join, which is why graph builds are batch
    jobs, not query loops.

    Scale: candidates are SRP bucket collisions carrying ids only
    (``banded_neardup_pairs`` discipline), so cost ∝ collisions, never
    N²; the exact-cosine verify joins each side's embedding once; the
    top-k window partitions by src_id — CORPUS-cardinality groups, so
    (unlike the ``ann_brute_topk`` few-queries case that leans on the
    partial WindowGroupLimit) the plain window is already fully
    parallel.
    Vectors whose buckets collide with fewer than k others emit fewer
    edges — exactly the candidate set, no silent padding.
    """
    return knn_graph_edges(Catalog(spark, sf_dir).embeddings)


@register(
    "emb_knn_graph_scaled",
    oracle=_knn_graph_oracle(bits=SRP_BITS_WIDE),
    description=f"kNN-graph build at the corpus-scaled operating point "
                f"({SRP_TABLES} tables × {SRP_BITS_WIDE} bits), oracle-hashed",
    tags=("similarity", "ann", "lsh"),
)
def emb_knn_graph_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment operating point of ``emb_knn_graph`` — same
    ``2^bits ≈ N/64`` sizing rule as ``embedding_neardup_banded_scaled``
    and registered for the same reason: the round-6 measured-shuffle
    audit caught the SAME 16×4 collision-join core (in
    ``embedding_neardup_banded``) at 48× shuffle amplification, 128 M
    candidate rows and 23.6 GB of spill on the 10× corpus (BENCHNOTES
    round 6) — plan shape identical, occupancy quadratic — and the
    graph build multiplies that by keeping BOTH collision directions
    (src≠nbr, not src<nbr). The 9-bit point holds per-bucket occupancy,
    and with it the collision join, at the 1× level. Recall trade and
    the tables-knob compensation are documented at the neardup scaled
    entry; the graph build inherits them unchanged."""
    return knn_graph_edges(Catalog(spark, sf_dir).embeddings,
                           bits=SRP_BITS_WIDE)


def knn_graph_edges(src: DataFrame, k: int = KNN_K,
                    tables: int = SRP_TABLES,
                    bits: int = SRP_BITS) -> DataFrame:
    """Parametric kNN-graph core (semantics: the registered query
    above). Like :func:`banded_neardup_pairs`, ``tables``/``bits`` are
    the scale knob: per-bucket occupancy N/2^bits drives the
    quadratic-in-occupancy collision join, so a growing corpus raises
    ``bits`` to hold occupancy constant (the registered 16×4 default is
    right for the 2 k fixture and catastrophic at 128 k — probed)."""
    src = src.select("vec_id", "embedding")
    buckets = srp_bucket_rows(src, tables=tables, bits=bits)
    cand = candidate_pairs(buckets, buckets, ["table_id", "bucket"], "vec_id",
                           ("src_id", "neighbor_id"), f"knn_t{tables}_b{bits}",
                           order="!=")
    return (neighbor_topk(cosine_pairs(cand, src, "src_id", "neighbor_id"),
                          "src_id", k)
            .select("src_id", F.col("rank").cast("bigint").alias("rank"),
                    "neighbor_id", "cosine"))


# ---------------------------------------------------------------------------
# Second principal direction via exact-integer deflation.
# ---------------------------------------------------------------------------

def _pca2_oracle() -> str:
    return _pca_prefix() + f""", defl0 AS (
  SELECT vec_id, x,
         list_sum(list_transform(range(1, {SRP_DIM + 1}), i -> x[i] * v[i])) AS dot
  FROM eq CROSS JOIN fin
), defl AS (
  SELECT vec_id,
         list_transform(range(1, {SRP_DIM + 1}), i -> n2 * x[i] - dot * v[i]) AS xx
  FROM defl0 CROSS JOIN fin
), mg AS (
  SELECT greatest(MAX(list_max(list_transform(xx, e -> abs(e)))), 1) AS mg
  FROM defl
), x3 AS (
  SELECT vec_id,
         list_transform(xx, e -> CAST((e * 100 - (e * 100) % mg) / mg AS BIGINT)) AS x
  FROM defl CROSS JOIN mg
), it20 AS (SELECT [{_PCA_ONES}]::BIGINT[] AS v)""" + _pca_chain("x3", "2") + f"""
SELECT CAST(u.i - 1 AS INTEGER) AS dim,
       v[u.i] AS component_q,
       ROUND(v[u.i] / sqrt(n2), 6) AS component
FROM fin2, UNNEST(range(1, {SRP_DIM + 1})) AS u(i)"""


@register(
    "emb_pca_second_component",
    oracle=_pca2_oracle(),
    description="second principal direction: exact-integer deflation of "
                "the first, then the same power iteration",
    tags=("similarity", "linalg", "agg"),
)
def emb_pca_second_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second spectral direction — what a 2-component embedding
    whitening/visualization needs — via DEFLATION: remove the first
    direction from every vector, then power-iterate again.

    The deflation itself is EXACT integer arithmetic: with v the
    integer direction and n2 = v·v, the scaled residual
    x″ = n2·x − (x·v)·v satisfies x″·v = n2(x·v) − (x·v)n2 = 0
    identically — no epsilon, no float. Magnitudes are per-ROW bounded
    (|x″| ≤ n2·|x|∞ + |x·v|·|v|∞ ≈ 7·10⁷ regardless of corpus size), so
    the one corpus-max rescale back to ±100 (trunc-division against the
    broadcast global max — exactly representable in double at these
    bounds, so Spark's truncating cast and DuckDB's rounding cast agree
    on the exactly-divisible quotient) re-enters the same overflow
    envelope as the first run. Orthogonality after the lossy rescale is
    approximate — standard numerical deflation — and pinned by a test;
    determinism is not approximate anywhere.

    Scale: one extra corpus pass for the deflation + max, then the
    same ``POWER_ITERS``-scan loop; everything moves as 1-row
    broadcasts.
    """
    eq = _pca_quantized(spark, sf_dir).select("x").persist()
    v1 = _power_direction(eq)
    defl = (eq.crossJoin(F.broadcast(v1))
            .withColumn("dot", _dot_v())
            .select(F.zip_with(
                "x", "v",
                lambda a, b: F.col("n2") * a - F.col("dot") * b).alias("xx")))
    mg = defl.agg(F.greatest(
        F.max(F.array_max(F.transform("xx", F.abs))),
        F.lit(1).cast("long")).alias("mg"))
    x3 = (defl.crossJoin(F.broadcast(mg))
          .select(F.transform(
              "xx",
              lambda e: ((e * 100 - (e * 100) % F.col("mg")) / F.col("mg"))
              .cast("long")).alias("x"))
          .persist())
    v2 = _power_direction(x3)
    return (v2.select(F.posexplode("v").alias("dim", "component_q"), "n2")
            .select(F.col("dim").cast("int").alias("dim"),
                    "component_q",
                    F.round(F.col("component_q") / F.sqrt("n2"), 6)
                     .alias("component")))
