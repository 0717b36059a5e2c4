"""Vector math over ``array<float>`` embedding columns.

Two forms of the same arithmetic:

* ``dot`` / ``l2_norm`` / ``cosine_sim_exprs`` — pure Catalyst
  higher-order functions (``zip_with`` + ``aggregate``). Zero Python
  transfer, but HOFs are CodegenFallback: every row interprets three
  lambda chains and allocates the intermediate arrays, ~µs/row. This is
  the reference form the Arrow kernel is pinned against, and the
  production form where candidate volume is too small to amortize a
  Python worker round trip (``ann_brute_topk``, the gates'
  ``quant_screen_keep``).
* ``cosine_sim`` — one Arrow-native UDF (``arrow_udf``) that reshapes
  each ``ListArray``'s values buffer into a (rows × dim) matrix without
  touching row objects and replays the SAME IEEE-754 operation sequence
  with numpy (see its docstring for the bit-exactness argument). The
  corpus-scale pair scorers use it: they score millions of candidate
  pairs per run, and the r14 decomposition measured the HOF chain at
  ~7.6 s of the 10.8 s ``emb_knn_graph`` wall at sf0.1 (2.56 M pairs).

Floats are widened to double *before* any arithmetic so accumulation
order and precision match the DuckDB oracle (which computes list_* in
double).

The IVF and PQ families instead work on integers: :func:`quantize` is
their ``floor(x·100)`` step and :func:`sign_cell_order` their sign-codebook
cell ranking. Both are plain numpy, called by the Arrow UDFs and by the
driver-side query paths alike.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, functions as F



def _d(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ with left-to-right double accumulation."""
    return F.aggregate(F.zip_with(_d(a), _d(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(_d(a), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim_exprs(a: Column, b: Column) -> Column:
    """The Catalyst-expression form of :func:`cosine_sim` (same
    semantics; the bit-exactness reference and the small-volume form)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom)


def _cos_row(x, y) -> float:
    """Per-row replay of the exact Catalyst sequence, for degenerate
    batches only (mismatched lengths: zip_with pads → NULL dot → NULL)."""
    if len(x) != len(y):
        return float("nan")
    d = 0.0
    sa = 0.0
    sb = 0.0
    for xi, yi in zip(x, y):
        xd = float(xi)
        yd = float(yi)
        d = d + xd * yd
        sa = sa + xd * xd
        sb = sb + yd * yd
    denom = np.sqrt(sa) * np.sqrt(sb)
    return d / denom if denom > 0 else float("nan")


def _list_matrix(arr: pa.Array) -> np.ndarray | None:
    """(n, d) float64 matrix over a fixed-dim ``ListArray<float>``'s
    VALUES BUFFER — the guide §4.2 re-slice trick: an Arrow list column
    is one contiguous values buffer plus offsets, so a fixed-dim batch
    reshapes into a matrix without touching a single row object. None
    → caller takes the row-wise fallback (ragged lengths, null rows or
    null elements — never the fixture corpora)."""
    if arr.null_count:
        return None
    try:
        offs = arr.offsets.to_numpy()
    except AttributeError:          # not a list-typed array
        return None
    lens = np.diff(offs)
    if len(lens) == 0 or lens.min() != lens.max():
        return None
    # only the slice's own elements: a sliced array shares its parent's
    # whole values buffer, nulls outside the slice included
    vals = arr.values.slice(offs[0], offs[-1] - offs[0])
    if vals.null_count:
        return None
    v = vals.to_numpy(zero_copy_only=True)
    return v.reshape(len(lens), int(lens[0])).astype(np.float64)


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI divide-by-zero crash) when
    either vector has zero norm — a zero vector has no direction, and a
    NULL similarity drops out of every top-k/threshold filter, which is
    the only sensible semantics for degenerate embeddings.

    Arrow-native kernel (``arrow_udf``): each list column arrives as a
    raw ``pa.ListArray`` whose contiguous values buffer reshapes into
    the (rows × dim) matrix zero-copy (:func:`_list_matrix`), so the
    per-batch Python work is the dim loop alone.

    Bit-identical to the Catalyst HOF form by construction: the dim
    loop applies the SAME IEEE-754 double operation sequence the
    ``aggregate`` fold does — per step one rounded multiply then one
    rounded add, left to right — vectorized ACROSS rows instead of
    along the vector, so no pairwise / BLAS re-association sneaks in.
    float32 → float64 widening is exact; ``Math.sqrt`` and ``np.sqrt``
    are both correctly rounded per IEEE; denom and the final divide each
    round once in both forms. NULL propagation matches too: a zero/NaN
    denom fails ``denom > 0`` in Catalyst and is masked to null here
    (``from_pandas=True`` maps NaN to null). Degenerate batches (null
    row, null element, ragged or mismatched lengths) drop to
    :func:`_cos_row`, a per-row replay of the Catalyst sequence.

    PRECONDITION — finite inputs (r14 ADVICE): the bit-identity claim
    above covers finite embeddings (every corpus/fixture vector). For
    NON-finite inputs the two forms diverge on one corner: ±inf
    elements give denom = inf > 0 with a NaN ratio, which the HOF form
    returns as NaN (sorted ABOVE all doubles by a descending top-k)
    while this form's NaN masking turns it into NULL (dropped by
    threshold filters). Callers feeding unsanitized external vectors
    must filter non-finite rows first; the engine's similarity
    operators all consume the generated corpus tables, which are
    finite by construction.

    CALL-SITE CONSTRAINT: returned as a nondeterministic expression
    (see below), so it is valid in Project/Filter positions only —
    Spark's analyzer rejects nondeterministic expressions inside join
    conditions, aggregate-function arguments and generator inputs, and
    it blocks pushdown of unrelated filters below the projection.
    Compute the column first (``withColumn``) if a future caller needs
    it near one of those positions.
    """

    @F.arrow_udf("double")
    def _cos(av: pa.Array, bv: pa.Array) -> pa.Array:
        A = _list_matrix(av)
        B = _list_matrix(bv)
        if A is None or B is None or A.shape[1] != B.shape[1]:
            def clean(x):
                # a NULL element poisons dot AND norm to NaN, which the
                # denom>0 gate maps to NULL — Catalyst's null algebra
                return [float("nan") if v is None else v for v in x]

            out = [None if (x is None or y is None)
                   else _cos_row(clean(x), clean(y))
                   for x, y in zip(av.to_pylist(), bv.to_pylist())]
            return pa.array([None if v is None or np.isnan(v) else v
                             for v in out], type=pa.float64())
        d = np.zeros(len(A))
        sa = np.zeros(len(A))
        sb = np.zeros(len(A))
        for i in range(A.shape[1]):
            ai = A[:, i]
            bi = B[:, i]
            d = d + ai * bi
            sa = sa + ai * ai
            sb = sb + bi * bi
        denom = np.sqrt(sa) * np.sqrt(sb)
        with np.errstate(divide="ignore", invalid="ignore"):
            c = np.where(denom > 0, d / denom, np.nan)
        return pa.array(c, type=pa.float64(), from_pandas=True)

    # asNondeterministic: the threshold consumers filter on the cosine
    # column (`where(cos >= t)` above the projection), and pushed-down
    # filters referencing a UDF-computed column duplicate the
    # ArrowEvalPython below themselves — every candidate pair scored
    # twice (guide §4.4; the r14 duplicated-UDF audit caught `_cos` ×2
    # in both banded deployment entries). The function is genuinely
    # deterministic, so blocking reorder/duplication changes no result.
    return _cos.asNondeterministic()(a, b)


def quantize(x) -> np.ndarray:
    """``floor(x·100)`` as int64 — the integer quantization under every
    IVF and PQ kernel. Product and floor are exact in double, so the
    values equal Catalyst's ``floor(x * 100)`` and DuckDB's
    ``FLOOR(x * 100)`` on the same floats."""
    return np.floor(np.asarray(x, dtype=np.float64) * 100.0).astype(np.int64)


def sign_cell_order(eq: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Every cell id of the equal-norm sign codebook ``cents`` (C, dim),
    nearest first, for each quantized row of ``eq`` (n, dim) — or for one
    quantized vector. Equal norms make nearest-by-cosine the largest
    integer dot product; the stable sort keeps ties in ascending cell id,
    DuckDB's ``ORDER BY d DESC, cell``. Raises when a dot leaves the
    range where int64 and double agree."""
    d = eq @ cents.T
    if int(np.abs(d).max(initial=0)) >= 2**53:
        raise ValueError("sign-cell dot exceeds exact range")
    return np.argsort(-d, axis=-1, kind="stable")
