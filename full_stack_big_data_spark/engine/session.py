"""SparkSession factory.

Replaces the reference's manual context setup — Kryo registration, sort
shuffle opt-in, unpersist flags (reference:
``spark/KafkaSparkStreamingSpec.scala:53-82``) — with the modern defaults
those knobs anticipated (Tungsten rows, sort shuffle, unified memory) plus
the scale-relevant configs Catalyst does not enable on its own.

Design notes for the 100 TB posture:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned parallelism
  (reference's manual ``repartition(n)`` dance,
  ``KafkaSparkStreamingSpec.scala:186-191``).
- ``spark.sql.session.timeZone=UTC``: deterministic event-time semantics
  regardless of host zone.
- ``nanosAsLong``: the events table ships TIMESTAMP(NANOS) parquet, which
  Spark does not read natively; we read it as raw nanos and convert with
  integer division (see ``catalog.py``) — exact, truncating, and identical
  to DuckDB/Arrow semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's SQL confs. All are runtime-settable, so get_spark()
# applies them at build and tune_session() applies them to a live
# session — the engine also works when the caller (e.g. the
# verification driver) owns the SparkSession.
_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas — the vectorized Python path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Bound the debug plan-string every action renders for the listener
    # bus/UI: iterative pipelines (component loops, pagerank) nest deep
    # lineage, and an UNCAPPED explainString materializes the whole tree
    # as one driver-side string — measured OOM at sf1.0 on the
    # embedding-clusters loop (scripts/scale_probe_sf1.py). 100k chars
    # is plenty for debugging and O(1) for the driver.
    "spark.sql.maxPlanStringLength": "100000",
    # Naive (isAdjustedToUTC=false) parquet timestamps read as TIMESTAMP
    # (LTZ) under the UTC session instead of TIMESTAMP_NTZ: values are
    # identical, but LTZ is what watermarks/unix_micros/window frames
    # require, and it matches DuckDB's naive-timestamp comparison.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # NOT excluded: InferFiltersFromGenerate. It re-inlines computed
    # array expressions (interpreted HOFs on the text paths) into a
    # per-row Filter below every explode, which LOOKS like a
    # pessimization — a hot-host A/B first measured 9.3 s vs 0.8 s on
    # the sf0.1 shingle explode. Interleaved order-alternating reps on
    # an idle host showed that headline was the ambient band, not the
    # rule: min-of-reps lands at parity (0.85–1.38× across the gram
    # family, direction inconsistent). A global optimizer exclusion
    # with no robust win is risk without reward — adjudicated out
    # (BENCHNOTES r12, the measurement-discipline note).
}


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs this engine relies on to an existing session."""
    for k, v in _CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; reads may still work
    try:
        # A caller-owned session (e.g. the verification driver) arrives
        # with Spark's stock 200 shuffle partitions — 6× the cores and
        # ~50× too many for sf≤0.1 inputs, so every shuffle pays 200 task
        # launches for µs of work. Spark exposes no "explicitly set vs
        # default" bit for this conf, so "200" is read as "unset" (the
        # baked-in default). On a real cluster this branch never fires:
        # any deployment sets its own value, and AQE coalescing handles
        # the rest.
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(spark.sparkContext.defaultParallelism))
    except Exception:
        pass
    return spark


# ---------------------------------------------------------------------------
# Query-boundary cache release: query-lifetime caching without
# session-lifetime leaks.
#
# Operators that persist an intermediate (iterative algorithms, shared
# shingle/quantized inputs) would otherwise leave it pinned in the
# CacheManager for the life of the SparkSession — harmless for a single
# query, but a registry-wide sweep (the driver's correctness gate,
# scripts/chaos_parity.py, the pytest parity replay) runs every query in
# ONE session, so those caches accumulate unboundedly.
# release_scoped_cache() is an unconditional spark.catalog.clearCache():
# it drops EVERY cached plan in the session, not a recorded subset —
# which is exactly right at a query boundary, where nothing cached is
# still wanted. Safe because unpersist only removes cached blocks (a
# returned DataFrame stays valid via lineage recompute) and every
# registered plan is deterministic, proven by the chaos-parity replays.
# Never call it mid-query. localCheckpoint blocks are NOT in the
# CacheManager and are freed at their operator (operators/dedup.py
# _free_local_checkpoint).
# ---------------------------------------------------------------------------

def release_scoped_cache(spark: SparkSession) -> None:
    """Drop every cached plan in the session (the CacheManager holds
    strong references, so operator-level persists are never GC'd on
    their own). Called at query boundaries by the sweep harnesses —
    never mid-query, so within-query iterative caching is untouched."""
    try:
        spark.catalog.clearCache()
    except Exception:
        pass  # session already stopped — nothing left to leak


def get_spark(app_name: str = "full-stack-big-data-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode parallelism comes from $SPARK_GRAFT_CPUS (default: all
    cores). ``shuffle_partitions`` defaults to the same so a local run is
    one task wave per shuffle; on a real cluster this is superseded by AQE
    coalescing from a higher initial value.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune_session(spark)
