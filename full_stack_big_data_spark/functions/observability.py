"""Candidate-volume observability for the banded joins (r7 verdict
item 4).

The SimHash fixture's quadratic candidate blowup was invisible in wall
time at sf1.0 — the 32-core box absorbed a ~100× collision explosion
(BENCHNOTES r7). Wall-clock is the wrong sensor for bucket-geometry
health; the right one is the thing the geometry actually controls:
**rows flowing out of the bucket join, before the exact verify**.
This module attaches a ``CollectMetrics`` node (``DataFrame.observe``)
at exactly that point. It has one attach point: the shared candidate
join ``functions.candidates.candidate_pairs``, which every bucketed
near-dup and ANN builder calls, each under its own sensor name.

Off by default: ``observe_candidates`` is an identity when observation
is not enabled, so registered queries, oracles, and bench numbers are
untouched (``CollectMetrics`` would be a no-op for results anyway, but
the driver's value-hash gate should see byte-identical plans). Probes
(scripts/scale_probe_sf1.py) enable it, run the query through a sink,
then read the counts and assert candidates/N stays under the
documented ceiling — the fixture simhash row is EXPECTED to violate it
while the ``*_scaled`` row passes.

Usage::

    from full_stack_big_data_spark.functions import observability as obs
    obs.enable()
    df = reg["dedup_simhash_scaled"].builder(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    counts = obs.candidate_counts()   # {"simhash_bits60_band12": 123, ...}
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_enabled = False
_active: dict[str, Observation] = {}
_seq = 0


def enable() -> None:
    """Turn candidate observation on (and drop previous counts)."""
    global _enabled
    _enabled = True
    _active.clear()


def disable() -> None:
    """Turn observation off and drop counts — ``candidate_counts()``
    after ``disable()`` must not serve stale values from the previous
    enable window (r8 ADVICE)."""
    global _enabled
    _enabled = False
    _active.clear()


def observe_candidates(df: DataFrame, name: str) -> DataFrame:
    """Attach a candidate-pair counter to ``df`` — the post-bucket-join,
    pre-verify stage of ``candidates.candidate_pairs``. Identity when
    disabled.

    The count is RAW collisions (before ``distinct()``): that is the
    volume the bucket join shuffles and the verify stage pays for, the
    quantity the N/occupancy geometry rules exist to bound. A fresh
    ``Observation`` per call (Spark requires single-use objects and
    per-execution-unique names); the latest run wins under the logical
    ``name``.
    """
    if not _enabled:
        return df
    global _seq
    _seq += 1
    ob = Observation(f"{name}#{_seq}")
    _active[name] = ob
    return df.observe(ob, F.count(F.lit(1)).alias("candidates"))


def candidate_counts() -> dict[str, int]:
    """Logical name → raw candidate rows for every observed stage whose
    query has completed an action since ``enable()``."""
    return {name: ob.get["candidates"] for name, ob in _active.items()}
