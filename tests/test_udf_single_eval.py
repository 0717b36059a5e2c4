"""Per-family single-eval plan pins for the r14 §4.4 duplicated-UDF
fixes (r14 verdict item: the ``asNondeterministic`` marks on the
expensive kernels encode an unpinned invariant — a Spark upgrade or a
refactor that re-enables filter pushdown below these projections would
silently re-duplicate a full Arrow pass per scan). Each pin asserts the
EXACT per-plan Python-UDF eval multiset the declared call sites
explain, using the same balanced-paren extraction as
scripts/udf_dup_audit.py (a fixed-depth regex miscounts the chained
avro decode(encode(...)#a)#b shape — r14 ADVICE)."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def _udf_eval_names(plan: str) -> list[str]:
    """PythonUDF result names (``name(args)#exprId``, balanced parens)
    across every Python-eval node — scripts/udf_dup_audit.py's scanner."""
    names = []
    for m in re.finditer(
            r"\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInPandas|"
            r"MapInArrow)\n(?:[^\n]*\n)*?Arguments: \[([^\]]*)\]", plan):
        args = m.group(1)
        for c in re.finditer(r"(\w+)\(", args):
            depth, i = 1, c.end()
            while i < len(args) and depth:
                depth += {"(": 1, ")": -1}.get(args[i], 0)
                i += 1
            if depth == 0 and re.match(r"#\d+", args[i:]):
                names.append(c.group(1))
    return names


# Declared call-site expectations (what the builder's code calls, per
# plan): one corpus-assignment pass per distinct consumer, never the
# pushed-filter copy the r14 audit caught (×2-×4 before the marks).
_EXPECTED = {
    # T1 filter on pojo.username sits ABOVE one decode of one encode
    "avro_roundtrip": {"decode": 1, "encode_tweet_avro": 1},
    # one PQ-encode pass feeds the codes posexplode
    "emb_pq_train": {"_encode": 1},
    # one cell-assignment pass feeds the per-cell representative rank
    "emb_cell_representatives": {"_cells": 1},
    # corpus assignment + query assignment branches + one cosine verify
    "ann_ivf": {"_cells": 2, "_cos": 1},
    # driver-built probe set (r14 change 3): ONE corpus assignment
    "ann_ivf_scaled": {"_cells": 1, "_cos": 1},
    # stored-codebook IVFADC: one assignment + one encode, zero copies
    "ann_ivfpq_adc": {"_cells": 1, "_encode": 1},
    # persisted band rows: both bucket self-join sides read one
    # signature pass of the MinHash bucket kernel
    "dedup_minhash_lsh": {"_buckets": 1},
    "multimodal_frame_neardup": {"_buckets": 1},
    # SRP bucketing per self-join side, one cosine re-rank over the
    # deduplicated candidates
    "ann_srp_lsh": {"_buckets": 2, "_cos": 1},
    "ann_incremental": {"_buckets": 2, "_cos": 1},
    "embedding_neardup_banded_scaled": {"_buckets": 2, "_cos": 1},
    "emb_knn_graph": {"_buckets": 2, "_cos": 1},
    # the index side is read back from disk: only the new batch buckets
    "ann_index_persist": {"_buckets": 1, "_cos": 1},
    # the component loop reads the persisted verified pairs: no Python
    # eval in the returned plan
    "embedding_semdedup": {},
}


def test_expensive_udfs_evaluated_once_per_declared_call_site(spark):
    from collections import Counter

    from full_stack_big_data_spark.engine.session import \
        release_scoped_cache
    from full_stack_big_data_spark.operators.registry import load_all

    reg = load_all()
    for name, want in _EXPECTED.items():
        release_scoped_cache(spark)
        df = reg[name].builder(spark, SF_SMOKE)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        got = dict(Counter(_udf_eval_names(plan)))
        assert got == want, (
            f"{name}: UDF eval multiset {got} != declared {want} — "
            "a §4.4 optimizer copy (or a lost asNondeterministic mark) "
            "re-duplicates a full Arrow pass per scan at corpus scale")
