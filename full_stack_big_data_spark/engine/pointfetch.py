"""Point-fetch discipline for verify payloads (r10 verdict item 1).

The streaming ingest gates verify bucket-collision candidates with an
EXACT kernel (jaccard over shingle sets, cosine over raw vectors). The
r10 gates fetched the candidates' payloads by broadcast-joining the
candidate id list INTO AN UNPRUNED SCAN of the corpus table
(documents.parquet / embeddings.parquet) — CPU ∝ candidates, but I/O a
full corpus pass per micro-batch, which at a 100 TB corpus × thousands
of micro-batches is the gate's real cost. This module is the fix: the
verify payload is materialized ONCE as a point-lookup-friendly sibling
of the band/SRP index, and each micro-batch fetches exactly the
candidate rows through two scan-level prunes.

Layout (``write_payload``): the payload is partitioned by
``pk = key % PF_PK_MOD`` (directory-level pruning) and sorted by the
key within each file (row-group min/max stats stay tight, so the
pushed key predicate skips row groups inside a touched directory).
One file per pk directory at this scale; a 100 TB deployment raises
``PF_PK_MOD`` (and files per dir) so a directory stays a few hundred
MB — the pruning arithmetic is unchanged.

Fetch (``fetch_ids`` + ``fetch_payload_prefetched``): candidate ids
are pulled to the driver (size-gated — candidates per batch are
bounded by the gate families' CAND_CEIL contracts, so this is a few
thousand int64s; past the gate the fetch falls back to the broadcast
join, now against the payload table rather than the raw corpus) and
pushed into the scan as LITERAL predicates (``point_fetch``):
``pk IN (…)`` prunes directories (PartitionFilters) and ``key IN (…)``
reaches parquet as PushedFilters for row-group skipping. Per-batch
bytes read ∝ candidate directories touched, never the corpus — pinned
in tests/test_plans.py and measured in scripts/gate_io_probe.py.

Verify (``two_tier_verify``): the one two-tier fetch-and-decide every
similarity family's exact verify runs — a screen tier over every
candidate, the exact tier over screen survivors only — with each id
collect overlapped against the driver's expression building.
``dedup.jaccard_verify`` (text) and ``similarity.cosine_verify``
(embeddings) supply the tiers; the batch ``dedup_incremental`` entry
and every streaming ingest gate call them.

Store (``VerifyStore``): the candidate index plus the two payload
tiers the verify reads, passed as one value. Each family writes all
three through one function (``dedup.write_text_store``,
``similarity.write_embedding_store``) whether the store is the corpus
base, a compaction's fold or a vacuum lifecycle's private base, so
every store has one layout.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

PF_PK_MOD = 32        # payload directory-partition modulus
PF_MAX_IDS = 200_000  # size gate for the driver-side id fetch (~1.6 MB)
# Ceiling for the pushed-literal ``key IN (…)`` path. Spark only pushes
# an In filter to parquet as PER-VALUE stats checks while the value
# count is ≤ spark.sql.parquet.pushdown.inFilterThreshold — past it the
# pushed filter degrades to a [min(ids), max(ids)] RANGE check, and
# row-group skipping inside a touched pk directory largely vanishes
# for spread-out ids (r11 ADVICE). point_fetch raises the session
# threshold to this ceiling so every literal fetch it issues gets the
# per-value rule; id sets past the ceiling take the broadcast-join
# fallback (still pk-directory-pruned) rather than a range-degraded
# literal push. The ceiling is STACK-bounded, not cost-bounded: Spark
# pushes In as a left-deep Or-of-Eq chain and parquet-mr's filter
# visitor recurses it — measured on this JVM: 1024 pushed values
# evaluate fine, 2048 StackOverflowError in the executor. 1000 keeps
# margin while covering every gate family's realistic per-batch
# candidate set; per-value stats evaluation at this width is footer
# arithmetic, microseconds against row-group I/O.
PF_IN_MAX = 1000


class VerifyStore(NamedTuple):
    """One similarity family's stored corpus side: the candidate
    ``index`` (one file per band/table key,
    ``engine.generations.write_generation``), the tier-1 ``screen``
    payload and the tier-2 ``exact`` payload (both
    :func:`write_payload` layout). Both payload tiers hold exactly the
    index's ids: candidates come only from index rows, so every
    payload row a candidate can reach is present."""
    index: str
    screen: str
    exact: str


def write_payload(df: DataFrame, key: str, path: str,
                  pk_mod: int = PF_PK_MOD) -> None:
    """Write ``df`` as a point-lookup payload keyed by ``key``: pk
    directory partitions + key-sorted files (tight row-group stats).
    ``repartition(pk)`` lands each pk wholly in one task, so each
    directory holds one sorted file at this scale."""
    (df.withColumn("pk", F.pmod(F.col(key), F.lit(pk_mod)).cast("int"))
       .repartition("pk")
       # Sort by BOTH the partition column and the key: partitionBy
       # requires pk-ordered input, so a key-only sort makes the writer
       # insert its own Sort(pk) on top — key order within a pk file
       # then survives only while the writer's sort stays in memory
       # (stable radix), and silently breaks under spill merges at
       # scale, loosening the row-group min/max stats the point lookup
       # depends on (r11 ADVICE). (pk, key) satisfies the writer's
       # required ordering outright — no extra sort, guaranteed
       # key-sorted files.
       .sortWithinPartitions("pk", key)
       .write.mode("overwrite")
       # Small row groups ARE the point-lookup design: the row group is
       # parquet's stats-pruning granule, so with key-sorted files the
       # pushed In(key, …) reads ~1 MiB per candidate row instead of
       # the default 128 MiB (Spark pushes parquet-native In filters;
       # row groups whose [min,max] contains no candidate are skipped).
       .option("parquet.block.size", 1 << 20)
       .partitionBy("pk").parquet(path))


def fetch_ids(df: DataFrame, col: str,
              max_ids: int = PF_MAX_IDS) -> list[int] | None:
    """Size-gated driver fetch of a (small) id column — the established
    bounded-``toPandas`` discipline (similarity.py's broadcast-build
    gates). Returns None when the set exceeds ``max_ids``; the caller
    falls back to the distributed join path."""
    pdf = df.select(col).distinct().limit(max_ids + 1).toPandas()
    if len(pdf) > max_ids:
        return None
    return sorted(int(x) for x in pdf[col])


def point_fetch(spark: SparkSession, path: str, key: str,
                ids: list[int], pk_mod: int = PF_PK_MOD) -> DataFrame:
    """Read exactly the payload rows for ``ids``: literal ``pk IN``
    prunes directories, literal ``key IN`` pushes to parquet for
    row-group skipping. An empty id list still prunes — ``pk IN ()``
    is a constant-false partition filter, zero files read."""
    r = spark.read.parquet(path)
    if not ids:
        return r.where(F.lit(False)).drop("pk")
    # Runtime conf, read at physical planning: guarantees the In filter
    # below is pushed to parquet as per-value stats checks, not the
    # range degradation the default threshold (10) would give any
    # realistic candidate set (r11 ADVICE). Monotone raise — never
    # lowered back — so concurrent fetches can't race it downward.
    cur = int(spark.conf.get(
        "spark.sql.parquet.pushdown.inFilterThreshold", "10"))
    if cur < PF_IN_MAX:
        spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold",
                       str(PF_IN_MAX))
    pks = sorted({i % pk_mod for i in ids})
    return (r.where(F.col("pk").isin(pks) & F.col(key).isin(ids))
            .drop("pk"))


def fetch_payload_prefetched(spark: SparkSession, path: str, key: str,
                             ids_df: DataFrame, ids: list[int] | None,
                             pk_mod: int = PF_PK_MOD) -> DataFrame:
    """Three regimes by candidate-set size, never the raw corpus in any
    of them (the payload carries only (key, verify columns)); ``ids``
    is the caller's ``fetch_ids(ids_df, key)``, None past the size gate.

    ≤ PF_IN_MAX ids → pushed-literal point fetch (directory prune +
    per-value row-group skipping). ≤ PF_MAX_IDS → broadcast join, but
    still with the literal ``pk IN`` directory prune (the pk set is at
    most pk_mod values regardless of id count, so the literal stays
    tiny while untouched directories are never opened). Past the
    driver gate → plain broadcast join over the payload.

    Taking the ids pre-collected lets :func:`two_tier_verify` run the
    collect (the per-batch driver-blocking action) on an overlap
    thread while the driver builds the next verify tier's expression
    trees (guide §2.6)."""
    if ids is not None and len(ids) <= PF_IN_MAX:
        return point_fetch(spark, path, key, ids, pk_mod=pk_mod)
    r = spark.read.parquet(path)
    if ids is not None:
        pks = sorted({i % pk_mod for i in ids})
        r = r.where(F.col("pk").isin(pks))
    return (r.drop("pk")
            .join(F.broadcast(ids_df.select(key).distinct()), key))


def _verify_pool():
    """One-thread overlap pool for the verify tiers' driver id collects
    (guide §2.6: Spark happily runs jobs from several driver threads;
    the tiers' actions are only sequential because the driver code
    called them sequentially). The r15 body decomposition measured
    ~43% of the per-batch wall as DRIVER-side expression construction
    (minhash/HOF lambda trees, the UDF registration) serialized
    between the two id-collect actions — so each collect runs on this
    pool while the main thread builds the next tier's expression
    trees. One worker is enough: there is never more than one collect
    in flight. Paired A/B against serial order read parity, never worse
    (OPTIMIZATION_r15.md §1)."""
    from concurrent.futures import ThreadPoolExecutor
    return ThreadPoolExecutor(max_workers=1)


def _verify_submit(pool, spark: SparkSession, fn, *args):
    """Run ``fn(*args)`` on the verify pool under the SUBMITTING
    thread's Spark local properties. A bare ``pool.submit`` runs the
    collect with none: it loses the micro-batch's job group, so a
    failed or cancelled batch leaves a job that stopping the query
    cannot cancel."""
    return pool.submit(inheritable_thread_target(spark)(fn), *args)


def two_tier_verify(spark: SparkSession, cand: DataFrame, old: str,
                    key: str, store: VerifyStore, screen, exact,
                    scope: list) -> DataFrame:
    """The exact verify every similarity family shares: a cheap SCREEN
    tier over every candidate, then the exact tier over the screen's
    survivors only, each read by a pk-pruned point fetch of its payload
    in ``store`` — never a pass over the corpus table.

    ``cand`` holds candidate pairs; its ``old`` column is the corpus
    side's id, looked up in both payloads under ``key`` (the fetched
    rows carry it renamed to ``old``). ``screen`` and ``exact`` are
    zero-argument builders, each called while its tier's id collect
    runs on the overlap pool, returning ``apply(pairs, rows)``: the
    screen's apply keeps a SUPERSET of the pairs the exact test keeps
    (each family's screen carries that proof), the exact apply returns
    the verified result.

    The screened pair frame feeds the tier-2 id fetch AND the exact
    join, so it is persisted and appended to ``scope`` for the
    caller's finally-block to unpersist — the result is consumed
    lazily, after this function returns."""
    pool = _verify_pool()
    try:
        ids_df = cand.select(F.col(old).alias(key))
        ids = _verify_submit(pool, spark, fetch_ids, ids_df, key)
        apply_screen = screen()
        rows = fetch_payload_prefetched(spark, store.screen, key, ids_df,
                                        ids.result())
        cand = apply_screen(cand, rows.withColumnRenamed(key, old)).persist()
        scope.append(cand)
        ids_df = cand.select(F.col(old).alias(key))
        ids = _verify_submit(pool, spark, fetch_ids, ids_df, key)
        apply_exact = exact()
        rows = fetch_payload_prefetched(spark, store.exact, key, ids_df,
                                        ids.result())
    finally:
        pool.shutdown(wait=False)
    return apply_exact(cand, rows.withColumnRenamed(key, old))
