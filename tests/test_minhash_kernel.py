"""Bit-identity pin for the MinHash bucket kernel.

``operators.dedup._band_rows`` computes every band's bucket id with one
Arrow kernel (``_minhash_buckets``). The Catalyst higher-order-function
form below is the definition it replaces: one md5 per shingle, a 16-hash
affine family as ``transform`` lambdas, ``array_min`` per hash, and one
md5 per band over the ``'|'``-joined decimal minima. It lives here only,
as the reference; the kernel must reproduce it row for row, including
Catalyst's null algebra (``array_min`` skips null elements and returns
null for an empty or all-null array, ``concat_ws`` skips nulls, so such
a row gets ``md5('')`` in every band).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from full_stack_big_data_spark.functions.hashing import hex64
from full_stack_big_data_spark.operators.dedup import (
    _MH_A, _MH_B, MH_P, N_HASHES, _band_rows, _minhash_buckets)

_SCHEMA = "doc_id bigint, s array<string>"
_EMPTY = hashlib.md5(b"").hexdigest()


def _band_rows_hof(sh, bands):
    """The Catalyst HOF form of ``_band_rows`` (the reference)."""
    rows = N_HASHES // bands
    hashed = sh.select("doc_id",
                       F.transform("s", lambda g: hex64(g) % MH_P).alias("h"))
    mh = hashed.select("doc_id", *[
        F.array_min(F.transform("h", lambda h: (h * _MH_A[i] + _MH_B[i]) % MH_P))
        .alias(f"mh{i}")
        for i in range(N_HASHES)
    ])
    return mh.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[
                    F.col(f"mh{rows * b + r}").cast("string")
                    for r in range(rows)])).alias("bucket"),
            ) for b in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def _rows(df):
    return sorted((r.doc_id, r.band, r.bucket) for r in df.collect())


def _both(spark, sets, bands):
    sh = spark.createDataFrame(list(enumerate(sets)), _SCHEMA)
    return _rows(_band_rows(sh, bands)), _rows(_band_rows_hof(sh, bands))


_shingle = st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
                   max_size=12)
_set = st.one_of(st.none(),
                 st.lists(st.one_of(_shingle, st.none()), max_size=12))


@settings(max_examples=15, deadline=None, derandomize=True)
@given(st.lists(_set, min_size=1, max_size=24), st.sampled_from([8, 16]))
def test_kernel_matches_catalyst_form_on_random_sets(spark, sets, bands):
    kernel, reference = _both(spark, sets, bands)
    assert kernel == reference


@pytest.mark.parametrize("bands", [8, 16])
def test_kernel_reproduces_catalyst_null_algebra(spark, bands):
    sets = [
        None,                                  # null row
        [],                                    # empty array
        [None, None],                          # all-null array
        ["a b c", None, "b c d"],              # null element is skipped
        ["a b c", "b c d"],
        ["größe straße maß", "日本 語 文", "🙂 x y"],   # non-ASCII
        ["dup", "dup", "dup"],
    ]
    kernel, reference = _both(spark, sets, bands)
    assert kernel == reference
    assert len(kernel) == len(sets) * bands
    by_doc = {}
    for doc, band, bucket in kernel:
        by_doc.setdefault(doc, []).append((band, bucket))
    for doc in (0, 1, 2):
        assert by_doc[doc] == [(b, _EMPTY) for b in range(bands)]
    assert by_doc[3] == by_doc[4]


def test_kernel_reads_sliced_batches_by_their_offsets(spark):
    """A sliced ListArray shares its parent's values buffer, and a null
    row may own a non-empty offset range; neither may leak into the
    buckets of the rows the slice holds."""
    values = pa.array(["a", "b", "c", "d", None, "e", "f", "g", "h"])
    offsets = pa.array([0, 2, 5, 7, 9], type=pa.int32())
    mask = pa.array([False, True, False, False])     # row 1 is null
    arr = pa.ListArray.from_arrays(offsets, values, mask=mask)
    clean = pa.array([["a", "b"], None, ["e", "f"], ["g", "h"]],
                     type=pa.list_(pa.string()))
    sh = spark.createDataFrame(list(enumerate(clean.to_pylist())), _SCHEMA)
    for bands in (8, 16):
        full = _minhash_buckets(arr, bands)
        assert full.to_pylist() == _minhash_buckets(clean, bands).to_pylist()
        assert [(d, b, x) for d, row in enumerate(full.to_pylist())
                for b, x in enumerate(row)] == _rows(_band_rows_hof(sh, bands))
        assert full.to_pylist()[1] == [_EMPTY] * bands
        for lo, hi in ((1, 3), (2, 4), (0, 1), (3, 3)):
            assert (_minhash_buckets(arr.slice(lo, hi - lo), bands).to_pylist()
                    == full.to_pylist()[lo:hi])
