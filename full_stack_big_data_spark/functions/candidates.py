"""The candidate join of the bucketed near-dup and ANN builders.

Every filter-and-refine family turns bucket rows (MinHash bands,
SimHash/pHash bands, SRP buckets, IVF cells) into candidate pairs the
same way: a key-equality join, an id predicate when a frame is joined
to itself, a count of the raw collisions and a distinct. This module is
that one join; the exact verify or refine step after it belongs to the
family. It is also the only place the candidate-volume sensor
(``functions.observability``) attaches, so bucket geometry is watched
wherever candidates are made.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import observability

_ORDER = {"<": operator.lt, "!=": operator.ne}


def candidate_pairs(a: DataFrame, b: DataFrame, keys: list[str],
                    id_col: str, out: tuple[str, str], sensor: str,
                    order: str | None = None,
                    carry: tuple[Column, ...] = ()) -> DataFrame:
    """Distinct candidate pairs: every (``a`` row, ``b`` row) whose
    ``keys`` are all equal, as their ``id_col`` values renamed ``out``
    plus the ``carry`` columns.

    - Self-join: pass one frame twice with ``order`` ``"<"`` (each
      unordered pair once) or ``"!="`` (both directions, for per-row
      top-k). A bipartite join leaves ``order`` None.
    - ``carry`` are columns over the join aliases ``a`` and ``b``
      (e.g. the hamming distance of two signatures); they ride into the
      distinct beside the ids.
    - ``sensor`` names the raw collision count, taken before the
      distinct: that is the volume the bucket geometry bounds and the
      join shuffles.
    """
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if order is not None:
        cond.append(_ORDER[order](F.col(f"a.{id_col}"),
                                  F.col(f"b.{id_col}")))
    cand = (a.alias("a").join(b.alias("b"), reduce(operator.and_, cond))
            .select(F.col(f"a.{id_col}").alias(out[0]),
                    F.col(f"b.{id_col}").alias(out[1]), *carry))
    return observability.observe_candidates(cand, sensor).distinct()
