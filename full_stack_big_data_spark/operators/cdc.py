"""Change-data-capture merge operators.

The reference's lambda architecture keeps a batch view and applies a
stream of updates on top of it (``README.md:45-69`` — batch layer +
speed layer merged at query time). These operators implement the other
standard shape of that idea: an ordered **changelog** of
insert/update/delete records applied to a snapshot, producing the
current state — the MERGE INTO / CDC-apply primitive every warehouse
ingest pipeline runs.

Two variants:

- ``q_cdc_merge`` — batch apply: snapshot ∪ changelog → latest-wins per
  key, deletes drop the key. One shuffle, and the winner is picked with
  ``max_by`` (a declarative aggregate with map-side partial support), so
  at 100 TB the merge is one key-hashed exchange with combiner — NOT a
  per-key sort window (row_number over the union would sort every key
  group; max_by keeps a single struct per key per map task).
- ``stream_cdc_upsert`` — the same latest-wins semantics maintained
  incrementally: a file-streamed changelog drained in multiple
  micro-batches (``maxFilesPerTrigger=1``), each batch folded into a
  keyed state store via ``foreachBatch`` (compact-then-merge, the
  exactly-once upsert-sink pattern for engines whose sinks are
  append-only). The final store equals the batch answer — Structured
  Streaming's unified-model guarantee, checked by the DuckDB oracle
  over the full input.

The changelog fixture is derived deterministically from the testdata
(orders / events tables; TESTDATA.md) — versions are unique per key by
construction, so "latest" is well-defined in both engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.catalog import Catalog
from ..engine.scratch import memo
from ..engine.session import tune_session
from .registry import register

# Changelog fixture constants (embedded in both engines' programs).
CDC_INS_OFFSET = 50_000_000   # insert keys live above every snapshot key
CDC_UPD_MOD = 5               # o_orderkey % 5 == 1 → updated (twice)
CDC_DEL_MOD = 5               # o_orderkey % 5 == 0 → deleted
CDC_INS_MOD = 11              # o_orderkey % 11 == 3 → cloned as an insert


def _guard_key_range(orders: DataFrame) -> bool:
    """Raise unless every order key sits below the insert-key offset."""
    max_k = orders.agg(F.max("o_orderkey")).first()[0]
    if max_k is not None and max_k >= CDC_INS_OFFSET:
        raise ValueError(
            f"CDC fixture invariant violated: max o_orderkey {max_k} >= "
            f"insert-key offset {CDC_INS_OFFSET}; raise CDC_INS_OFFSET")
    return True


_CDC_MERGE_SQL = f"""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price,
         0 AS version, 'I' AS op
  FROM orders
), chg AS (
  SELECT k, 'U1' AS status, CAST(price + 50 AS DECIMAL(18,4)) AS price,
         1 AS version, 'U' AS op
  FROM snap WHERE k % {CDC_UPD_MOD} = 1
  UNION ALL
  SELECT k, 'U2', CAST(price + 100 AS DECIMAL(18,4)), 2, 'U'
  FROM snap WHERE k % {CDC_UPD_MOD} = 1
  UNION ALL
  SELECT k, CAST(NULL AS VARCHAR), CAST(NULL AS DECIMAL(18,4)), 1, 'D'
  FROM snap WHERE k % {CDC_DEL_MOD} = 0
  UNION ALL
  SELECT k + {CDC_INS_OFFSET}, 'N', price, 1, 'I'
  FROM snap WHERE k % {CDC_INS_MOD} = 3
), log AS (
  SELECT * FROM snap UNION ALL SELECT * FROM chg
), latest AS (
  SELECT k, status, price, op,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY version DESC) AS rn
  FROM log
)
SELECT k AS orderkey, status, CAST(price AS DOUBLE) AS total_price
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@register(
    "q_cdc_merge",
    oracle=_CDC_MERGE_SQL,
    description="CDC apply: I/U/D changelog merged into a snapshot, latest version wins, deletes drop the key",
    tags=("relational", "cdc", "merge"),
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply an ordered changelog to a snapshot (MERGE INTO semantics).

    The changelog carries two updates for the same key (versions 1 and
    2) so latest-wins is actually exercised, a tombstone family, and
    inserts whose keys are absent from the snapshot. The merge itself —
    the part that runs at 100 TB — is a single ``groupBy(key)`` with
    ``max_by(payload, version)``: one hash exchange, map-side combine
    keeps one candidate struct per key per task, no per-key sort. The
    double→DECIMAL(18,4) casts are tie-free (no double is exactly at a
    scale-4 rounding boundary), so both engines round identically.
    """
    snap, chg = _cdc_fixture(spark, sf_dir)
    merged = (
        snap.unionByName(chg).groupBy("k")
        .agg(F.max_by(F.struct("status", "price", "op"), "version").alias("r"))
        .where(F.col("r.op") != "D")
    )
    return merged.select(
        F.col("k").alias("orderkey"),
        F.col("r.status").alias("status"),
        F.col("r.price").cast("double").alias("total_price"),
    )


def _cdc_fixture(spark: SparkSession, sf_dir: str):
    """(snapshot, changelog) with columns (k, status, price, version, op)
    — versions unique per key by construction (see module docstring)."""
    o = Catalog(spark, sf_dir).orders
    # The uniqueness invariant requires insert keys to be disjoint from
    # snapshot keys. Guard it loudly: a colliding key would carry two
    # version-1 rows with different ops and the merge would break ties
    # nondeterministically (flaky oracle divergence instead of an
    # error). Parquet column stats make the max() metadata-cheap, and
    # the verdict is memoized per dataset so repeated fixture builds
    # (both CDC queries, parity replays) don't re-run the job.
    memo(("cdc_key_guard", sf_dir), lambda: _guard_key_range(o))
    dec = "decimal(18,4)"
    snap = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast(dec).alias("price"),
        F.lit(0).alias("version"), F.lit("I").alias("op"),
    )
    upd = snap.where(F.col("k") % CDC_UPD_MOD == 1)
    dele = snap.where(F.col("k") % CDC_DEL_MOD == 0)
    ins = snap.where(F.col("k") % CDC_INS_MOD == 3)
    chg = (
        upd.select("k", F.lit("U1").alias("status"),
                   (F.col("price") + 50).cast(dec).alias("price"),
                   F.lit(1).alias("version"), F.lit("U").alias("op"))
        .unionByName(
            upd.select("k", F.lit("U2").alias("status"),
                       (F.col("price") + 100).cast(dec).alias("price"),
                       F.lit(2).alias("version"), F.lit("U").alias("op")))
        .unionByName(
            dele.select("k", F.lit(None).cast("string").alias("status"),
                        F.lit(None).cast(dec).alias("price"),
                        F.lit(1).alias("version"), F.lit("D").alias("op")))
        .unionByName(
            ins.select((F.col("k") + CDC_INS_OFFSET).alias("k"),
                       F.lit("N").alias("status"), "price",
                       F.lit(1).alias("version"), F.lit("I").alias("op")))
    )
    return snap, chg


@register(
    "q_cdc_merge_incremental",
    oracle=_CDC_MERGE_SQL,
    description="two-day incremental CDC fold equals the one-shot apply: merge(merge(snap, day1), day2)",
    tags=("relational", "cdc", "merge", "incremental"),
)
def q_cdc_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property warehouse ingestion actually relies on: DAILY merges
    compose. ``merge(merge(snapshot, day1), day2)`` must equal the
    one-shot ``merge(snapshot, day1 ∪ day2)`` — latest-wins max_by over
    unique versions is associative, so folding the changelog in arrival
    order (what an hourly/daily MERGE job does) reproduces the full-log
    answer bit-for-bit. The oracle is deliberately the SAME full-log
    SQL as ``q_cdc_merge``: the two-step Spark fold vs the one-shot SQL
    IS the composition proof. Deletes stay in intermediate state as
    tombstoned rows (dropping them mid-fold would let an older version
    resurrect the key in a later day — same rule as the streaming
    upsert's state) and are filtered only at the end.

    Day 1 carries the v1 updates + tombstones; day 2 the v2 updates +
    inserts — so keys overlap across days and the second fold must
    override first-fold winners.
    """
    snap, chg = _cdc_fixture(spark, sf_dir)
    # disjoint split (inserts are op 'I' at version 1 — day 2 only)
    day1 = chg.where((F.col("version") == 1) & (F.col("op") != "I"))
    day2 = chg.where((F.col("version") == 2) | (F.col("op") == "I"))

    def apply_day(state: DataFrame, day: DataFrame) -> DataFrame:
        return (state.unionByName(day).groupBy("k")
                .agg(F.max_by(F.struct("status", "price", "op", "version"),
                              "version").alias("r"))
                .select("k", "r.status", "r.price", "r.op", "r.version"))

    final = apply_day(apply_day(snap, day1), day2)
    return (final.where(F.col("op") != "D")
            .select(F.col("k").alias("orderkey"), "status",
                    F.col("price").cast("double").alias("total_price")))


# ---------------------------------------------------------------------------
# Streaming upsert: the same latest-wins state maintained incrementally.
# ---------------------------------------------------------------------------

CDC_STREAM_CHUNKS = 4          # changelog arrives as 4 micro-batches
CDC_TOMBSTONE = "error"        # event_type acting as a delete marker

_CDC_UPSERT_SQL = f"""
WITH latest AS (
  SELECT user_id, event_type, value, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_type AS last_type, ROUND(value, 6) AS last_value,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts
FROM latest WHERE rn = 1 AND event_type <> '{CDC_TOMBSTONE}'
"""


@register(
    "stream_cdc_upsert",
    oracle=_CDC_UPSERT_SQL,
    description="streaming upsert: per-user latest state folded batch-by-batch via foreachBatch, tombstones delete",
    tags=("streaming", "cdc", "foreachBatch"),
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain "current state per key" from a streamed changelog.

    The events table is staged as CDC_STREAM_CHUNKS (4) files and streamed
    with ``maxFilesPerTrigger=1`` so availableNow drains it in multiple
    micro-batches — each ``foreachBatch`` call compacts its batch to one
    row per key (``max_by`` over (ts, event_id)), unions it with the
    previous state version and keeps the per-key maximum again, writing
    a NEW state version (read-your-own-store overwrite is unsafe in any
    engine; versioned state dirs are the append-only-sink upsert
    pattern). Tombstones (event_type = CDC_TOMBSTONE, 'error') stay IN the
    state so a later batch can't resurrect a deleted key from an older
    version, and are filtered at serve time.

    Because the per-key fold (max over (ts, event_id)) is commutative
    and associative, the final state is independent of batch boundaries
    and file arrival order — which is exactly what the full-input DuckDB
    oracle checks.
    """
    from ..engine.scratch import scratch_dir
    from ..streaming.core import drain

    tune_session(spark)
    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "ts", "user_id", "event_type", "value")
    root = scratch_dir("fsbd_cdc_upsert_")
    src_dir = os.path.join(root, "changelog")
    os.makedirs(src_dir, exist_ok=True)

    # Stage the changelog as N separate files (chunked on event_id so
    # every chunk holds a mix of keys — the worst case for an upsert).
    for i in range(CDC_STREAM_CHUNKS):
        chunk_dir = os.path.join(root, f"chunk_{i}")
        (ev.where(F.col("event_id") % CDC_STREAM_CHUNKS == i)
           .coalesce(1).write.mode("overwrite").parquet(chunk_dir))
        part = next(f for f in os.listdir(chunk_dir)
                    if f.endswith(".parquet") and f.startswith("part-"))
        os.symlink(os.path.join(chunk_dir, part),
                   os.path.join(src_dir, f"chunk_{i}.parquet"))

    # The winning row's FULL ordering key (ts, event_id) travels through
    # the state, so cross-batch folds break equal-timestamp ties exactly
    # like the within-batch fold (and like the oracle's ORDER BY).
    pick = F.max_by(
        F.struct("event_type", "value", "ts", "event_id"),
        F.struct("ts", "event_id")).alias("r")

    def compact(df: DataFrame) -> DataFrame:
        return (df.groupBy("user_id").agg(pick)
                .select("user_id", "r.event_type", "r.value", "r.ts",
                        "r.event_id"))

    def _state_path(before_bid: float) -> str | None:
        """Newest committed state version with batch id < before_bid —
        recovered from DISK, not a driver-memory list: after a
        checkpoint restart the closure is fresh but committed batches
        are skipped, and a memory-tracked chain would silently restart
        the fold from empty. Reading strictly-earlier versions also
        makes a same-run batch retry idempotent (it re-reads its
        predecessor and overwrites its own dir, never the one it is
        reading)."""
        import re as _re

        vids = [int(m.group(1)) for d in os.listdir(root)
                if (m := _re.match(r"state_v(\d+)$", d))
                and int(m.group(1)) < before_bid]
        return os.path.join(root, f"state_v{max(vids)}") if vids else None

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        b = compact(batch_df)
        prev = _state_path(batch_id)
        if prev is not None:
            b = compact(batch_df.sparkSession.read.parquet(prev)
                        .unionByName(b))
        b.write.mode("overwrite").parquet(
            os.path.join(root, f"state_v{batch_id}"))

    src = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    drain(src, merge, os.path.join(root, "ckpt"), output_mode="update")

    final = spark.read.parquet(_state_path(float("inf")))
    return (final.where(F.col("event_type") != CDC_TOMBSTONE)
            .select("user_id",
                    F.col("event_type").alias("last_type"),
                    F.round("value", 6).alias("last_value"),
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
                     .alias("last_ts")))


CDC_AS_OF = 1   # time-travel target: state after the version-1 wave


@register(
    "q_cdc_snapshot_at",
    oracle=f"""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price,
         0 AS version, 'I' AS op
  FROM orders
), chg AS (
  SELECT k, 'U1' AS status, CAST(price + 50 AS DECIMAL(18,4)) AS price,
         1 AS version, 'U' AS op
  FROM snap WHERE k % {CDC_UPD_MOD} = 1
  UNION ALL
  SELECT k, 'U2', CAST(price + 100 AS DECIMAL(18,4)), 2, 'U'
  FROM snap WHERE k % {CDC_UPD_MOD} = 1
  UNION ALL
  SELECT k, CAST(NULL AS VARCHAR), CAST(NULL AS DECIMAL(18,4)), 1, 'D'
  FROM snap WHERE k % {CDC_DEL_MOD} = 0
  UNION ALL
  SELECT k + {CDC_INS_OFFSET}, 'N', price, 1, 'I'
  FROM snap WHERE k % {CDC_INS_MOD} = 3
), log AS (
  SELECT * FROM snap UNION ALL SELECT * FROM chg
), latest AS (
  SELECT k, status, price, op,
         ROW_NUMBER() OVER (PARTITION BY k ORDER BY version DESC) AS rn
  FROM log WHERE version <= {CDC_AS_OF}
)
SELECT k AS orderkey, status, CAST(price AS DOUBLE) AS total_price
FROM latest WHERE rn = 1 AND op <> 'D'
""",
    description=f"time travel: reconstruct table state AS OF changelog "
                f"version {CDC_AS_OF} (before the version-2 update wave)",
    tags=("relational", "cdc", "merge"),
)
def q_cdc_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read over the changelog — the ``VERSION AS OF``
    query a table format (Delta/Iceberg/Hudi) answers from its commit
    log, answered here directly from the CDC event stream: filter the
    log to versions ≤ T, then the same latest-wins merge as
    :func:`q_cdc_merge`. At version 1 the first update wave and the
    tombstones are visible but the version-2 wave is not, so the result
    provably differs from both the base snapshot and the final state
    (U1 statuses survive only here).

    Scale: identical plan to ``q_cdc_merge`` — the version predicate
    pushes into the log scan (on a version-partitioned changelog it
    prunes whole files), then ONE hash exchange with ``max_by``
    map-side combine. Time travel costs nothing beyond the merge.
    """
    snap, chg = _cdc_fixture(spark, sf_dir)
    merged = (
        snap.unionByName(chg)
        .where(F.col("version") <= CDC_AS_OF)
        .groupBy("k")
        .agg(F.max_by(F.struct("status", "price", "op"), "version").alias("r"))
        .where(F.col("r.op") != "D")
    )
    return merged.select(
        F.col("k").alias("orderkey"),
        F.col("r.status").alias("status"),
        F.col("r.price").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten: cascading delete propagation across the star.
# ---------------------------------------------------------------------------

RTBF_MOD = 97  # deterministic deletion fixture: every 97th customer


@register(
    "q_delete_propagation",
    oracle=f"""
WITH del_c AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {RTBF_MOD} = 0
), del_o AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM del_c)
), del_l AS (
  SELECT l_orderkey, l_linenumber FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM del_o)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM del_c) AS n_del_customers,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM del_o) AS n_del_orders,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM del_l) AS n_del_lineitems,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)
         - (SELECT COUNT(*) FROM del_c) AS n_surv_customers,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
         - (SELECT COUNT(*) FROM del_o) AS n_surv_orders,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
         - (SELECT COUNT(*) FROM del_l) AS n_surv_lineitems,
       (SELECT CAST(SUM(o_orderkey % 1000003) AS BIGINT) FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del_o))
         AS surv_order_key_sum
""",
    description=f"right-to-be-forgotten cascade: c_custkey%{RTBF_MOD}=0 "
                "deletion set propagated customer -> orders -> lineitem, "
                "survivor counts + membership checksum",
    tags=("cdc", "delete", "join"),
)
def q_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance-grade cascading delete — the operation a training-data
    platform runs when a user exercises deletion rights: remove the
    subject rows AND everything reachable from them through the
    foreign-key chain, then prove what survived. The reference has no
    mutation surface at all (its store is append-only Kafka topics,
    ``README.md:45-69``); this is the warehouse-side half a lambda
    architecture needs for retention compliance.

    Plan: the deletion KEY set is corpus-fraction-tiny (1/{RTBF_MOD} of
    the customer dimension) — broadcast to filter orders map-side; the
    dropped ORDER keys are fact-fraction rows, so the lineitem
    anti-join is a key-shuffle join at scale (AQE broadcasts it while
    it fits). Survivor counts and the order-key checksum are scalar
    aggregates over anti-joins — the checksum pins MEMBERSHIP of the
    surviving set, not just its size, so a wrong-direction join cannot
    hash-pass. Everything composes from two scans of orders and one of
    lineitem/customer; no row is rewritten here (the write side is
    ``q_partition_overwrite_dynamic``'s pattern applied per affected
    partition).
    """
    cat = Catalog(spark, sf_dir)
    del_c = (cat.customer.where(F.col("c_custkey") % RTBF_MOD == 0)
             .select("c_custkey"))
    del_o = (cat.orders.join(F.broadcast(del_c),
                             F.col("o_custkey") == F.col("c_custkey"))
             .select("o_orderkey"))
    surv_o = cat.orders.join(del_o, "o_orderkey", "left_anti")
    del_l = cat.lineitem.join(del_o, F.col("l_orderkey") == F.col("o_orderkey"),
                              "left_semi")

    def cnt(df, name):
        return df.agg(F.count("*").cast("bigint").alias(name))

    row = (cnt(del_c, "n_del_customers")
           .crossJoin(F.broadcast(cnt(del_o, "n_del_orders")))
           .crossJoin(F.broadcast(cnt(del_l, "n_del_lineitems")))
           .crossJoin(F.broadcast(cnt(cat.customer, "n_customers")))
           .crossJoin(F.broadcast(cnt(cat.orders, "n_orders")))
           .crossJoin(F.broadcast(cnt(cat.lineitem, "n_lineitems")))
           .crossJoin(F.broadcast(
               # key % 1000003 before summing: a raw key sum is ~9e18 at
               # TPC-H SF100k and ANSI mode turns that overflow into an
               # error (the q_market_basket lesson); the modular sum
               # still pins membership and stays ~1e15 at any SF.
               surv_o.agg(F.sum(F.col("o_orderkey") % 1000003)
                          .cast("bigint").alias("surv_order_key_sum")))))
    return row.select(
        "n_del_customers", "n_del_orders", "n_del_lineitems",
        (F.col("n_customers") - F.col("n_del_customers")).cast("bigint")
        .alias("n_surv_customers"),
        (F.col("n_orders") - F.col("n_del_orders")).cast("bigint")
        .alias("n_surv_orders"),
        (F.col("n_lineitems") - F.col("n_del_lineitems")).cast("bigint")
        .alias("n_surv_lineitems"),
        "surv_order_key_sum")
