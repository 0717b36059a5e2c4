"""Streaming semantics: update-mode emission, chained aggregation (A3),
observed metrics (A4), and checkpointed exactly-once restart."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from full_stack_big_data_spark.streaming.core import run_to_completion, stream_table
from full_stack_big_data_spark.streaming.wordcount_stream import (
    chained_aggregation, streaming_word_counts,
)
from full_stack_big_data_spark.operators.wordcount import word_counts
from conftest import SF_SMOKE

WORDS_SCHEMA = StructType([
    StructField("seq", LongType()),
    StructField("word", StringType()),
])


def _write_words(dirpath: str, rows, start_seq=0):
    os.makedirs(dirpath, exist_ok=True)
    for i, w in enumerate(rows):
        with open(os.path.join(dirpath, f"w{start_seq + i}.json"), "w") as f:
            f.write(json.dumps({"seq": start_seq + i, "word": w}) + "\n")


def test_streaming_wordcount_equals_batch(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    batch = {(r.word, r.cnt) for r in word_counts(docs).collect()}
    sdf = stream_table(spark, f"{SF_SMOKE}/documents.parquet", docs)
    streamed = run_to_completion(streaming_word_counts(sdf), output_mode="complete")
    assert {(r.word, r.cnt) for r in streamed.collect()} == batch


def test_reference_word_fixture_final_state(spark, tmp_path):
    """The reference's canonical word stream alice,bob,joe,alice
    (StormSpec.scala:65-67) → final state {alice:2, bob:1, joe:1}."""
    src = str(tmp_path / "words")
    _write_words(src, ["alice", "bob", "joe", "alice"])
    sdf = (spark.readStream.schema(WORDS_SCHEMA).json(src)
           .select(F.col("word").alias("text")))
    out = run_to_completion(streaming_word_counts(sdf), output_mode="complete")
    assert {(r.word, r.cnt) for r in out.collect()} == {("alice", 2), ("bob", 1), ("joe", 1)}


def test_streaming_wordcount_per_batch_updates_a1(spark, tmp_path):
    """A1's emission contract, per batch — not just final state. Storm
    emits one updated (word, count) per input record
    (integration/StormSpec.scala:100-108: alice,bob,joe,alice →
    (alice,1),(bob,1),(joe,1),(alice,2)); update mode with one record
    per micro-batch must reproduce that exact update sequence."""
    src = str(tmp_path / "words_a1")
    _write_words(src, ["alice", "bob", "joe", "alice"])
    for i, fname in enumerate(sorted(os.listdir(src))):
        os.utime(os.path.join(src, fname), (1_000_000_000 + i, 1_000_000_000 + i))
    sdf = (spark.readStream.schema(WORDS_SCHEMA)
           .option("maxFilesPerTrigger", 1).json(src)
           .select(F.col("word").alias("text")))
    emissions = []

    def capture(batch_df, batch_id):
        rows = sorted((r.word, r.cnt) for r in batch_df.collect())
        if rows:
            emissions.append(rows)

    q = (streaming_word_counts(sdf).writeStream.outputMode("update")
         .foreachBatch(capture).trigger(availableNow=True).start())
    q.awaitTermination()
    assert emissions == [[("alice", 1)], [("bob", 1)], [("joe", 1)], [("alice", 2)]]


def test_chained_aggregation_a3(spark, tmp_path):
    """A3 (StormSpec.scala:60-61): aggregate over the word-count update
    stream via foreachBatch — one drain of the 4-word fixture produces one
    update per key, so 3 update events covering 4 words."""
    src = str(tmp_path / "words_a3")
    _write_words(src, ["alice", "bob", "joe", "alice"])
    sdf = (spark.readStream.schema(WORDS_SCHEMA).json(src)
           .select(F.col("word").alias("text")))
    row = chained_aggregation(sdf, spark, str(tmp_path / "wc_updates")).collect()[0]
    assert row.update_events == 3
    assert row.sum_counts == 4


def test_observed_metrics_a4(spark):
    """A4 (accumulator counts) via observe() on a batch run."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    observed = docs.observe("m", F.count(F.lit(1)).alias("n"))
    n = observed.count()
    assert n == 500


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Offsets live in the checkpoint (replaces the reference's ZK offset
    storage, KafkaStormSpec.scala:141-143): a restarted query must process
    only new files, and the union of outputs is exactly-once."""
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    _write_words(src, ["alice", "bob"], start_seq=0)

    def drain():
        sdf = spark.readStream.schema(WORDS_SCHEMA).json(src)
        q = (sdf.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    first = spark.read.parquet(out_dir).count()
    assert first == 2
    _write_words(src, ["joe", "alice"], start_seq=2)
    drain()
    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 4  # no reprocessing of the first two files
    assert sorted(r.seq for r in rows) == [0, 1, 2, 3]


def test_streaming_rollup_matches_batch_and_is_idempotent(spark, tmp_path):
    """Continuous-aggregate maintenance (streaming/rollup.py): the
    incrementally-maintained hourly rollup equals the batch recompute
    exactly, and replaying a micro-batch (foreachBatch's at-least-once
    contract) leaves the served table unchanged."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.streaming.rollup import (
        hourly_partials, maintain_hourly_rollup, serve_hourly,
        write_batch_partials,
    )
    ev = Catalog(spark, SF_SMOKE).events
    src = str(tmp_path / "events_files")
    ev.repartition(3).write.mode("overwrite").parquet(src)

    sdf = (spark.readStream.schema(ev.schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    rollup = str(tmp_path / "rollup")
    maintain_hourly_rollup(sdf, rollup, str(tmp_path / "ckpt"))

    def rows(df):
        return sorted((str(r.hour), r.event_type, r.n_events, str(r.sum_value))
                      for r in df.collect())

    served = rows(serve_hourly(spark, rollup))
    batch = rows(hourly_partials(spark.read.parquet(src)))
    assert served == batch and len(served) > 0

    # Replay: foreachBatch is at-least-once — a recovered query re-runs a
    # batch with the SAME batch_id and input. Find which source file each
    # batch processed by matching partial content, then re-run its write.
    # The overwrite-by-batch-id layout must leave the served table
    # byte-identical (no double counting).
    import os

    def partial_rows(df):
        return sorted((str(r.hour), r.event_type, r.n_events, str(r.sum_value))
                      for r in df.collect())

    bdirs = sorted(d for d in os.listdir(rollup) if d.startswith("batch_id="))
    assert len(bdirs) == 3  # one per input file / micro-batch
    files = sorted(p for p in os.listdir(src) if p.endswith(".parquet"))
    by_batch = {d: partial_rows(spark.read.parquet(f"{rollup}/{d}"))
                for d in bdirs}
    replayed = 0
    for fname in files:
        fdf = spark.read.parquet(f"{src}/{fname}")
        want = partial_rows(hourly_partials(fdf))
        matches = [d for d, got in by_batch.items() if got == want]
        assert matches, f"no batch dir matches partials of {fname}"
        write_batch_partials(fdf, int(matches[0].split("=")[1]), rollup)
        replayed += 1
    assert replayed == 3
    assert rows(serve_hourly(spark, rollup)) == batch
    total = serve_hourly(spark, rollup).agg(F.sum("n_events")).first()[0]
    assert total == ev.count()


def _hour_events(spark, b, value=0.25):
    """``b + 1`` click events in hour ``b`` of 2024-01-02 (UTC), so
    each micro-batch's partials are disjoint from every other's."""
    return spark.range(b + 1).select(
        F.timestamp_seconds(F.lit(1704153600 + 3600 * b) + F.col("id"))
        .alias("ts"),
        F.lit("click").alias("event_type"),
        F.lit(value).alias("value"))


def _served(spark, store):
    from full_stack_big_data_spark.streaming.rollup import serve_hourly
    return sorted(map(repr, serve_hourly(spark, store).collect()))


def test_rollup_view_follows_the_store_and_runs_no_job(spark, tmp_path):
    """The served rollup is a checked decode of the store: a read plus
    where/collect runs no Spark job, a deleted batch directory drops
    exactly its rows, an uncommitted one (no _SUCCESS) is not served,
    and a cold start (empty cache) answers as the warm view does."""
    from full_stack_big_data_spark.streaming import rollup

    store = str(tmp_path / "store")
    parts = {}
    for b in range(3):
        ev = _hour_events(spark, b)
        parts[b] = sorted(map(repr, rollup.hourly_partials(ev).collect()))
        rollup.write_batch_partials(ev, b, store)
    assert _served(spark, store) == sorted(parts[0] + parts[1] + parts[2])

    sc = spark.sparkContext
    sc.setJobGroup("rollup-view-read", "served read runs no job")
    try:
        got = (rollup.serve_hourly(spark, store)
               .where(F.col("n_events") > 1).collect())
        jobs = sc.statusTracker().getJobIdsForGroup("rollup-view-read")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert jobs == [] and sorted(r.n_events for r in got) == [2, 3]

    import shutil
    shutil.rmtree(os.path.join(store, "batch_id=1"))
    assert _served(spark, store) == sorted(parts[0] + parts[2])

    rollup.write_batch_partials(_hour_events(spark, 3), 3, store)
    os.remove(os.path.join(store, "batch_id=3", "_SUCCESS"))
    warm = _served(spark, store)
    assert warm == sorted(parts[0] + parts[2])

    rollup._views.clear()
    assert _served(spark, store) == warm


def test_rollup_view_rewrite_wins_over_an_unchanged_fingerprint(
        spark, tmp_path):
    """A batch rewritten in-process with content of the same byte size
    serves the new content even when the file's fingerprint cannot tell
    (the filesystem reuses the inode; the mtime is set back, as a
    coarse clock would leave it): the write-through replaces the
    cached decode."""
    from full_stack_big_data_spark.streaming.rollup import (
        hourly_partials, write_batch_partials)

    store = str(tmp_path / "store")
    write_batch_partials(_hour_events(spark, 1, 1.5), 0, store)
    first = _served(spark, store)
    part = os.path.join(store, "batch_id=0", "part-00000.parquet")
    st = os.stat(part)
    rewrite = _hour_events(spark, 1, 2.5)
    write_batch_partials(rewrite, 0, store)
    assert os.path.getsize(part) == st.st_size
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns))
    second = _served(spark, store)
    assert second != first
    assert second == sorted(map(repr, hourly_partials(rewrite).collect()))


def test_rollup_view_evicts_files_that_left_the_store(spark, tmp_path):
    """After compaction and the vacuum of the batch directories, the
    next serves leave in the cache only the generation's file."""
    from full_stack_big_data_spark.engine.generations import (
        vacuum_superseded)
    from full_stack_big_data_spark.streaming import rollup

    store, gen1 = str(tmp_path / "store"), str(tmp_path / "gen1")
    for b in range(2):
        rollup.write_batch_partials(_hour_events(spark, b), b, store)
    warm = _served(spark, store)
    rollup.compact_rollup(spark, store, gen1)
    vacuum_superseded([gen1], [os.path.join(store, d)
                               for d in os.listdir(store)])
    assert _served(spark, gen1) == warm
    assert _served(spark, store) == []
    cached = {p for view in rollup._views.values() for p in view
              if p.startswith(str(tmp_path))}
    assert cached == {os.path.join(gen1, "part-00000.parquet")}


def test_watermark_drops_late_rows(spark, tmp_path):
    """The watermark actually DROPS late data in append mode — the
    property that bounds state at 100 TB/day. Batch 1 advances event
    time to 13:00 (watermark 12:50 with a 10-min delay); batch 2 then
    delivers a row for the long-closed 10:00 window, which must NOT
    appear in the emitted counts, while batch 1's on-time rows do."""
    import os
    from datetime import datetime
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )
    from full_stack_big_data_spark.streaming.windows import TS_FMT

    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("n", LongType()),
    ])
    src = str(tmp_path / "late_src")
    t = lambda x: datetime.fromisoformat(x)  # noqa: E731
    # Late-event filtering uses the PREVIOUS batch's watermark (Spark
    # lags it one batch so merge beats drop while state still exists),
    # so the drop needs: batch 1 advances event time, batch 2 lets the
    # watermark evict the 10:00 window, batch 3 delivers the late row.
    batch1 = [(t("2024-01-01 10:00:30"), "click", 1),
              (t("2024-01-01 10:01:30"), "click", 1),
              (t("2024-01-01 13:00:00"), "click", 1)]  # advances watermark
    batch2 = [(t("2024-01-01 13:10:00"), "click", 1)]  # eviction batch
    batch3 = [(t("2024-01-01 10:02:00"), "click", 1),  # LATE: must drop
              (t("2024-01-01 13:30:00"), "click", 1)]
    for i, b in enumerate((batch1, batch2, batch3), start=1):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(f"{src}/b={i}")
        # Pin source ordering: FileStreamSource takes oldest-mtime first.
        for f in os.listdir(f"{src}/b={i}"):
            os.utime(f"{src}/b={i}/{f}", (1000 + i, 1000 + i))

    sdf = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(f"{src}/b=*"))
    agg = (sdf.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "5 minutes").alias("w"))
           .agg(F.count("*").alias("events"))
           .select(F.date_format("w.start", TS_FMT).alias("window_start"),
                   "events"))
    q = (agg.writeStream.format("memory").queryName("late_sink")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    rows = spark.table("late_sink").collect()
    ten = [r.events for r in rows if r.window_start == "2024-01-01 10:00:00"]
    # Exactly ONE emission of the 10:00 window, with exactly the 2
    # on-time rows: the late row neither merged (count would be 3) nor
    # resurrected the window as a second append row.
    assert ten == [2], rows


def test_stateful_state_survives_restart(spark, tmp_path):
    """The custom stateful operator's STATE (not just source offsets)
    survives a checkpointed restart: per-user running stats computed
    across two separate drains equal a single batch pass over all
    events — the state store resumed, it did not restart from zero.
    (The reference's bolt-local running counts die with the worker;
    this is the durability upgrade §2.5 claims for T6/A1.)"""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    from full_stack_big_data_spark.streaming.stateful import running_user_stats

    src = str(tmp_path / "events_in")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(src)
    base = 1_700_000_000_000_000  # epoch micros

    def stage(fname, rows):  # rows: (user_id, event_type, offset_s)
        pq.write_table(pa.table({
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": [r[1] for r in rows],
            "ts": pa.array([base + r[2] * 1_000_000 for r in rows],
                           pa.timestamp("us")),
        }), os.path.join(src, f"{fname}.parquet"))

    def drain():
        sdf = (spark.readStream
               .schema("user_id long, event_type string, ts timestamp")
               .parquet(src))
        q = (running_user_stats(sdf).writeStream
             .foreachBatch(lambda b, _i: b.write.mode("append").parquet(out_dir))
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination()

    stage("p1", [(1, "click", 0), (1, "view", 10), (2, "view", 5)])
    drain()
    stage("p2", [(1, "click", 20), (3, "click", 7)])
    drain()

    # last emitted row per user must carry the ACCUMULATED stats
    rows = spark.read.parquet(out_dir).collect()
    last = {}
    for r in rows:  # update-mode emissions; later drain overwrites earlier
        if r.user_id not in last or r.n_events >= last[r.user_id].n_events:
            last[r.user_id] = r
    assert last[1].n_events == 3 and last[1].n_clicks == 2   # 2 + 1 across drains
    assert last[1].mn_us == base and last[1].mx_us == base + 20_000_000
    assert last[2].n_events == 1 and last[2].n_clicks == 0
    assert last[3].n_events == 1 and last[3].n_clicks == 1


def test_cdc_upsert_folds_across_multiple_microbatches(spark):
    """The streaming upsert's incremental claim: availableNow +
    maxFilesPerTrigger=1 must drain the staged changelog in ONE
    micro-batch PER CHUNK, each folded into a new state version —
    otherwise the operator is a batch query in disguise. The versioned
    state dirs are the observable: exactly CDC_STREAM_CHUNKS of them.
    Tombstoned keys must not reach the served result."""
    import glob

    from full_stack_big_data_spark.engine import scratch
    from full_stack_big_data_spark.operators.cdc import (
        CDC_STREAM_CHUNKS, CDC_TOMBSTONE, stream_cdc_upsert,
    )

    res = stream_cdc_upsert(spark, SF_SMOKE).collect()
    assert len(res) > 0
    assert all(r.last_type != CDC_TOMBSTONE for r in res)

    roots = sorted(glob.glob(os.path.join(scratch._proc_root,
                                          "fsbd_cdc_upsert_*")),
                   key=os.path.getmtime)
    assert roots, "upsert scratch root missing"
    states = glob.glob(os.path.join(roots[-1], "state_v*"))
    assert len(states) == CDC_STREAM_CHUNKS, states


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics, the part availableNow replay can't show via
    oracles (the registered window queries replay data that is never
    late): a straggler arriving after the watermark closed its window
    is DROPPED, and append mode emits each window exactly once.

    The timeline needs THREE batches because eviction happens at the
    END of the batch whose start-watermark passes the window (measured
    on this engine: a straggler landing in that same batch still merges
    before eviction — the one-batch lag of watermark application):
    batch 0 advances event time to 14:00, batch 1 (watermark now 13:00)
    evicts + emits the 10:00 window, batch 2 delivers a 10:20 straggler
    into the closed window — it must hit numRowsDroppedByWatermark and
    stay out of the emitted count."""
    import time as _time

    from pyspark.sql.types import TimestampType

    src = str(tmp_path / "late_src")
    os.makedirs(src)
    schema = StructType([
        StructField("ts", TimestampType()),
        StructField("k", StringType()),
    ])

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for ts, k in rows:
                f.write(json.dumps({"ts": ts, "k": k}) + "\n")

    write("b0.json", [("2024-01-01 10:05:00", "a"),
                      ("2024-01-01 10:10:00", "a"),
                      ("2024-01-01 14:00:00", "b")])
    _time.sleep(1.1)  # file source orders batches by modification time
    write("b1.json", [("2024-01-01 14:30:00", "b")])  # watermark carrier
    _time.sleep(1.1)
    write("b2.json", [("2024-01-01 10:20:00", "a")])  # straggler

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(src))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour"), "k").count())
    sink = f"late_sink_{os.getpid()}"
    q = (agg.writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    dropped = sum(so.get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress
                  for so in p["stateOperators"])
    out = spark.table(sink).collect()

    emitted = {(r["window"].start.strftime("%H:%M"), r["k"]): r["count"]
               for r in out}
    # the 10:00 'a' window closed with ONLY the two on-time rows, and
    # the straggler was counted as a watermark drop, not merged
    assert emitted == {("10:00", "a"): 2}, emitted
    assert dropped == 1, [p["stateOperators"] for p in q.recentProgress]


def test_rollup_compaction_preserves_serving_and_bounds_files(spark, tmp_path):
    """compact_rollup (r7): folding the batch-keyed partial dirs into
    one generation must (a) leave the served rollup bit-identical and
    (b) actually bound the small-file count — the store's real scale
    limit at one dir per micro-batch."""
    import glob
    import os

    from full_stack_big_data_spark.streaming.core import stream_table
    from full_stack_big_data_spark.streaming.rollup import (
        compact_rollup, maintain_hourly_rollup, serve_hourly)
    from conftest import SF_SMOKE

    ev = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    src = stream_table(spark, os.path.join(SF_SMOKE, "events.parquet"), ev)
    store, gen1 = str(tmp_path / "store"), str(tmp_path / "gen1")
    maintain_hourly_rollup(src, store, str(tmp_path / "ckp"))
    compact_rollup(spark, store, gen1)

    def canon(df):
        return sorted(map(repr, df.collect()))

    assert canon(serve_hourly(spark, gen1)) == canon(serve_hourly(spark, store))

    def parquet_files(root):
        return [p for p in glob.glob(f"{root}/**/*.parquet", recursive=True)]

    # one generation dir vs one dir per micro-batch
    n_store, n_gen = len(parquet_files(store)), len(parquet_files(gen1))
    batch_dirs = len(glob.glob(f"{store}/batch_id=*"))
    assert batch_dirs >= 1 and n_gen <= n_store
    assert len(glob.glob(f"{gen1}/batch_id=*")) == 0


def test_stream_decontam_replay_is_idempotent(spark):
    """A second availableNow drain over the unchanged feed must add
    ZERO rows (the checkpoint records consumed files), and the admitted
    set must exclude exactly the docs whose grams hit the persisted
    eval index (r8 verdict item 5)."""
    from full_stack_big_data_spark.operators.registry import load_all

    reg = load_all()
    first = sorted(map(tuple,
                       reg["stream_decontam"].builder(spark, SF_SMOKE).collect()))
    again = sorted(map(tuple,
                       reg["stream_decontam"].builder(spark, SF_SMOKE).collect()))
    assert first == again
    assert len(first) > 0
    # Cross-check vs the batch family: admitted ∩ contaminated = ∅ and
    # admitted ∪ contaminated = all train docs.
    admitted = {r[0] for r in first}
    flagged = {r.doc_id for r in
               reg["decontam_overlap"].builder(spark, SF_SMOKE).collect()}
    assert not admitted & flagged
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.decontam import EVAL_MOD
    train = {r.doc_id for r in Catalog(spark, SF_SMOKE).documents
             .where(F.col("doc_id") % EVAL_MOD != 0)
             .select("doc_id").collect()}
    assert admitted | flagged == train


def test_stream_decontam_index_refresh_changes_decisions(spark, tmp_path):
    """The persisted eval-gram index is the REFRESHABLE reference set:
    rewriting it must change the next batch's admissions (the docstring
    claim "the index refreshes by rewriting the parquet it reads",
    tested against the foreachBatch body directly)."""
    from full_stack_big_data_spark.operators.decontam import DECONTAM_N
    from full_stack_big_data_spark.functions.text import token_ngrams, tokens
    from full_stack_big_data_spark.streaming.joins import _decontam_admit

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six"),
         (3, "unrelated words entirely here now")],
        "doc_id long, text string")
    batch = (docs.select("doc_id", tokens("text").alias("toks"))
             .select("doc_id", F.array_distinct(
                 token_ngrams(F.col("toks"), DECONTAM_N)).alias("gs")))

    def admitted_with(index_rows, out_name):
        idx_dir = str(tmp_path / f"idx_{out_name}")
        out_dir = str(tmp_path / f"out_{out_name}")
        spark.createDataFrame(index_rows, "g string").write.parquet(idx_dir)
        _decontam_admit(idx_dir, out_dir)(batch, 0)
        return {r.doc_id for r in spark.read.parquet(out_dir).collect()}

    # index v1 contains one of doc 1's grams -> doc 1 dropped
    v1 = admitted_with([("alpha beta gamma delta",)], "v1")
    assert v1 == {2, 3}
    # refreshed index adds a gram of doc 2 -> doc 2 now dropped too
    v2 = admitted_with([("alpha beta gamma delta",),
                        ("one two three four",)], "v2")
    assert v2 == {3}


def test_stream_phash_admit_replay_and_batch_equivalence(spark):
    """The streaming image-admit gate (r9 verdict item 1): a second
    availableNow drain over the unchanged feed adds ZERO rows, and the
    admitted set equals the batch admit rule — new-dump docs minus
    those with a banded hit against the persisted signature index
    (multimodal_phash_index_persist's pair set)."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.multimodal import (
        PHASH_INCR_MOD, PHASH_INCR_REM)
    from full_stack_big_data_spark.operators.registry import load_all

    reg = load_all()
    first = sorted(map(tuple,
                       reg["stream_phash_admit"].builder(spark, SF_SMOKE).collect()))
    again = sorted(map(tuple,
                       reg["stream_phash_admit"].builder(spark, SF_SMOKE).collect()))
    assert first == again
    assert len(first) > 0
    hits = {r.new_doc for r in
            reg["multimodal_phash_index_persist"].builder(spark, SF_SMOKE).collect()}
    new_docs = {r.doc_id for r in Catalog(spark, SF_SMOKE).documents
                .where((F.col("doc_id") % PHASH_INCR_MOD == PHASH_INCR_REM)
                       & (F.length("text") >= 1))
                .select("doc_id").collect()}
    admitted = {r[0] for r in first}
    assert admitted == new_docs - hits
    assert hits  # the gate actually dropped something


def test_stream_phash_admit_epoch_replay_writes_no_duplicates(spark, tmp_path):
    """Crash-replay idempotency for the image admit sink (the decontam
    discipline): re-invoking the foreachBatch body with the SAME
    batch_id rewrites that epoch's partition in place — zero net rows —
    and near-dup drops are decided against the supplied index."""
    from full_stack_big_data_spark.operators.multimodal import (
        phash_signature_frame)
    from full_stack_big_data_spark.streaming.joins import _phash_admit

    corpus = spark.createDataFrame(
        [(10, "hello world this is a test")], "doc_id long, text string")
    idx_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    phash_signature_frame(corpus).write.parquet(idx_dir)
    batch = spark.createDataFrame(
        [(21, "hello world this is a tesu"),        # hamming ≤ 4 of doc 10
         (22, "completely different content xyz")],  # unrelated geometry
        "doc_id long, text string")
    admit = _phash_admit(idx_dir, out_dir)
    admit(batch, 3)
    once = sorted(map(tuple, spark.read.parquet(out_dir)
                      .select("doc_id", "phash").collect()))
    admit(batch, 3)          # the crash-replay of epoch 3
    twice = sorted(map(tuple, spark.read.parquet(out_dir)
                       .select("doc_id", "phash").collect()))
    assert once == twice
    assert [r[0] for r in once] == [22]  # 21 near-dups the corpus → dropped


def test_stream_phash_ingest_grows_index_by_admitted_exactly(spark):
    """The closed ingest loop: the grown index must be EXACTLY the base
    generation plus the admit gate's survivors — and a second drain
    over the unchanged feed must grow nothing (checkpoint layer)."""
    from full_stack_big_data_spark.operators.multimodal import (
        _phash_index_dir)
    from full_stack_big_data_spark.operators.registry import load_all

    reg = load_all()
    grown = sorted(map(tuple,
                       reg["stream_phash_ingest"].builder(spark, SF_SMOKE).collect()))
    again = sorted(map(tuple,
                       reg["stream_phash_ingest"].builder(spark, SF_SMOKE).collect()))
    assert grown == again
    base = sorted(map(tuple, spark.read
                      .parquet(_phash_index_dir(spark, SF_SMOKE))
                      .select("doc_id", "phash").collect()))
    admitted = sorted(map(tuple,
                          reg["stream_phash_admit"].builder(spark, SF_SMOKE).collect()))
    assert grown == sorted(base + admitted)
    assert len(grown) > len(base)   # the index actually grew


def test_stream_phash_ingest_epoch_replay_writes_no_duplicates(spark, tmp_path):
    """Crash-replay idempotency for the index-growth sink: re-invoking
    the foreachBatch body with the SAME batch_id rewrites that epoch's
    partition — the index cannot accumulate duplicate signature rows."""
    from full_stack_big_data_spark.operators.multimodal import (
        phash_signature_frame)
    from full_stack_big_data_spark.streaming.joins import _phash_ingest

    corpus = spark.createDataFrame(
        [(10, "hello world this is a test")], "doc_id long, text string")
    base_dir, epochs_dir = str(tmp_path / "base"), str(tmp_path / "epochs")
    phash_signature_frame(corpus).write.parquet(base_dir)
    batch = spark.createDataFrame(
        [(21, "hello world this is a tesu"),        # near-dups the corpus
         (22, "completely different content xyz")],
        "doc_id long, text string")
    ingest = _phash_ingest(base_dir, epochs_dir)
    ingest(batch, 5)
    once = sorted(map(tuple, spark.read.parquet(epochs_dir)
                      .select("doc_id", "phash").collect()))
    ingest(batch, 5)          # the crash-replay of epoch 5
    twice = sorted(map(tuple, spark.read.parquet(epochs_dir)
                       .select("doc_id", "phash").collect()))
    assert once == twice
    assert [r[0] for r in once] == [22]


def test_stream_embedding_admit_replay_and_gate_decisions(spark):
    """The vector ingest gate: a second availableNow drain adds ZERO
    rows; the admitted set is a strict subset of the incoming batch
    (the gate dropped real near-dups); and every dropped vector
    genuinely verifies at cosine ≥ the threshold against some corpus
    vector (no false drops — the exact-cosine verify is the last
    word, not the bucket collision)."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.functions.vectors import cosine_sim
    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.operators.similarity import (
        ANN_INCR_MOD, ANN_INCR_REM, NEARDUP_COS)

    reg = load_all()
    first = sorted(r.vec_id for r in
                   reg["stream_embedding_admit"].builder(spark, SF_SMOKE).collect())
    again = sorted(r.vec_id for r in
                   reg["stream_embedding_admit"].builder(spark, SF_SMOKE).collect())
    assert first == again
    e = Catalog(spark, SF_SMOKE).embeddings
    new_ids = {r.vec_id for r in
               e.where(F.col("vec_id") % ANN_INCR_MOD == ANN_INCR_REM)
               .select("vec_id").collect()}
    admitted = set(first)
    dropped = new_ids - admitted
    assert admitted < new_ids and dropped, (len(admitted), len(new_ids))
    # every dropped vector has a REAL corpus near-dup (≥ threshold)
    old = e.where(F.col("vec_id") % ANN_INCR_MOD != ANN_INCR_REM) \
        .select(F.col("vec_id").alias("old_id"),
                F.col("embedding").alias("old_emb"))
    dropped_df = e.where(F.col("vec_id").isin([int(x) for x in dropped])) \
        .select("vec_id", F.col("embedding").alias("qv"))
    n_with_neighbor = (
        dropped_df.crossJoin(old)
        .where(cosine_sim(F.col("old_emb"), F.col("qv")) >= NEARDUP_COS)
        .select("vec_id").distinct().count())
    assert n_with_neighbor == len(dropped)


def test_stream_text_admit_replay_and_batch_equivalence(spark):
    """The text near-dup gate: a second availableNow drain adds ZERO
    rows, and the admitted set equals the batch rule — eligible new
    docs minus dedup_incremental's verified new_doc hit set (the gate
    IS that decision moved to the ingest door)."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.functions.text import tokens
    from full_stack_big_data_spark.operators.dedup import (INCR_MOD,
                                                           INCR_REM,
                                                           SHINGLE_N)
    from full_stack_big_data_spark.operators.registry import load_all

    reg = load_all()
    first = sorted(map(tuple,
                       reg["stream_text_admit"].builder(spark, SF_SMOKE).collect()))
    again = sorted(map(tuple,
                       reg["stream_text_admit"].builder(spark, SF_SMOKE).collect()))
    assert first == again
    assert len(first) > 0
    hits = {r.new_doc for r in
            reg["dedup_incremental"].builder(spark, SF_SMOKE).collect()}
    eligible = {r.doc_id for r in Catalog(spark, SF_SMOKE).documents
                .where(F.col("doc_id") % INCR_MOD == INCR_REM)
                .select("doc_id", tokens("text").alias("toks"))
                .where(F.size("toks") >= SHINGLE_N)
                .select("doc_id").collect()}
    admitted = {r[0] for r in first}
    assert admitted == eligible - hits
    assert hits  # the gate actually dropped something


def test_stream_decontam_epoch_replay_writes_no_duplicates(spark, tmp_path):
    """foreachBatch is at-least-once: a crash AFTER the sink write but
    BEFORE the checkpoint commit replays the epoch (r9 ADVICE — the
    happy-path availableNow drain can't surface this). The sink must be
    idempotent per epoch: re-invoking the batch body with the SAME
    batch_id rewrites that epoch's partition in place (zero net rows);
    a DIFFERENT batch_id lands beside it untouched."""
    from full_stack_big_data_spark.operators.decontam import DECONTAM_N
    from full_stack_big_data_spark.functions.text import token_ngrams, tokens
    from full_stack_big_data_spark.streaming.joins import _decontam_admit

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six"),
         (3, "unrelated words entirely here now")],
        "doc_id long, text string")
    batch = (docs.select("doc_id", tokens("text").alias("toks"))
             .select("doc_id", F.array_distinct(
                 token_ngrams(F.col("toks"), DECONTAM_N)).alias("gs")))
    idx_dir, out_dir = str(tmp_path / "idx"), str(tmp_path / "out")
    spark.createDataFrame([("alpha beta gamma delta",)], "g string") \
        .write.parquet(idx_dir)

    admit = _decontam_admit(idx_dir, out_dir)
    admit(batch, 7)
    once = sorted(map(tuple, spark.read.parquet(out_dir)
                      .select("doc_id", "n_grams").collect()))
    admit(batch, 7)          # the crash-replay of epoch 7
    twice = sorted(map(tuple, spark.read.parquet(out_dir)
                       .select("doc_id", "n_grams").collect()))
    assert once == twice and len(once) == 2   # docs 2, 3 admitted once
    # a genuinely new epoch appends its own partition, epoch 7 intact
    admit(batch.where(F.col("doc_id") == 1), 8)
    final = spark.read.parquet(out_dir)
    assert final.where(F.col("batch_id") == 7).count() == 2
    assert final.where(F.col("batch_id") == 8).count() == 0  # doc 1 contaminated
    assert final.count() == 2


def test_stream_pipeline_curate_composes_all_three_gates(spark):
    """The composed ingest door (r10 verdict item 5): a second
    availableNow drain adds ZERO rows (checkpoint replay), and the
    admitted set equals the intersection of the three gates' keep
    predicates recomputed batch-side — with each stage NON-VACUOUS
    (every stage drops at least one doc the earlier stages kept), so
    the end-to-end contract can't pass on an idle stage."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.functions.text import token_ngrams, tokens
    from full_stack_big_data_spark.operators.decontam import (DECONTAM_N,
                                                              EVAL_MOD)
    from full_stack_big_data_spark.operators.dedup import INCR_MOD, INCR_REM
    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.operators.textanalysis import \
        _stopword_hits_spark
    from full_stack_big_data_spark.streaming.joins import CURATE_MIN_TOKENS

    reg = load_all()
    first = sorted(map(tuple,
                       reg["stream_pipeline_curate"]
                       .builder(spark, SF_SMOKE).collect()))
    again = sorted(map(tuple,
                       reg["stream_pipeline_curate"]
                       .builder(spark, SF_SMOKE).collect()))
    assert first == again and first
    admitted = {r[0] for r in first}

    d = Catalog(spark, SF_SMOKE).documents
    scored = (d.where((F.col("doc_id") % INCR_MOD == INCR_REM)
                      & (F.col("doc_id") % EVAL_MOD != 0))
              .select("doc_id", tokens("text").alias("toks"),
                      _stopword_hits_spark("en").alias("en_hits")))
    eligible = {r.doc_id for r in scored.select("doc_id").collect()}
    quality = {r.doc_id for r in
               scored.where((F.size("toks") >= CURATE_MIN_TOKENS)
                            & (F.col("en_hits") > 0))
               .select("doc_id").collect()}
    ev = (d.where(F.col("doc_id") % EVAL_MOD == 0)
          .select(F.explode(F.array_distinct(token_ngrams(
              tokens("text"), DECONTAM_N))).alias("g")).distinct())
    gnew = (d.where(F.col("doc_id") % INCR_MOD == INCR_REM)
            .select("doc_id", F.explode(F.array_distinct(token_ngrams(
                tokens("text"), DECONTAM_N))).alias("g")))
    contaminated = {r.doc_id for r in
                    gnew.join(ev, "g", "left_semi")
                    .select("doc_id").distinct().collect()}
    neardup = {r.new_doc for r in
               reg["dedup_incremental"].builder(spark, SF_SMOKE).collect()}
    assert admitted == quality - contaminated - neardup
    # every stage non-vacuous on what the previous stages kept
    assert eligible - quality, "quality gate dropped nothing"
    assert quality & contaminated, "decontam stage idle on this corpus"
    assert (quality - contaminated) & neardup, "near-dup stage idle"


def test_gate_output_read_is_empty_safe(spark, tmp_path):
    """An all-dropped feed writes no files; the gate's final read must
    return an EMPTY frame with the contract schema, not raise
    UNABLE_TO_INFER_SCHEMA (surfaced by the sf1.0 curate probe). With
    files present, the batch_id layout column stays projected away."""
    from full_stack_big_data_spark.engine.generations import read_epochs

    empty = str(tmp_path / "empty_sink")
    os.makedirs(empty)
    got = read_epochs(spark, empty, "doc_id long, n_tokens int")
    assert got.count() == 0 and got.columns == ["doc_id", "n_tokens"]

    full = str(tmp_path / "full_sink")
    (spark.createDataFrame([(1, 5, 0), (2, 7, 1)],
                           "doc_id long, n_tokens int, batch_id long")
     .write.partitionBy("batch_id").parquet(full))
    got = read_epochs(spark, full, "doc_id long, n_tokens int")
    assert got.columns == ["doc_id", "n_tokens"]
    assert sorted(map(tuple, got.collect())) == [(1, 5), (2, 7)]


def test_stream_text_ingest_epoch_replay_and_gate_equivalence(spark, tmp_path):
    """The self-growing text index: (a) crash-replay of an epoch's
    foreachBatch body rewrites its own partition in place (zero net
    rows, the family recipe); (b) at registry level a second drain adds
    zero rows and the grown index's NEW-side doc set equals the admit
    gate's decision exactly (ingest == admit + append)."""
    from full_stack_big_data_spark.engine.pointfetch import (VerifyStore,
                                                             write_payload)
    from full_stack_big_data_spark.functions.text import token_ngrams, tokens
    from full_stack_big_data_spark.operators.dedup import (
        INCR_MOD, INCR_REM, SHINGLE_N, _band_rows, hashed_shingle_cols)
    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.streaming.joins import _text_ingest

    def sh(df):
        return (df.select("doc_id", tokens("text").alias("toks"))
                .where(F.size("toks") >= SHINGLE_N)
                .select("doc_id", F.array_distinct(
                    token_ngrams(F.col("toks"), SHINGLE_N)).alias("s")))

    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    base = str(tmp_path / "base")
    hpay, tpay = str(tmp_path / "hpay"), str(tmp_path / "tpay")
    epochs = str(tmp_path / "epochs")
    _band_rows(sh(corpus)).write.parquet(base)
    write_payload(hashed_shingle_cols(sh(corpus)), "doc_id", hpay)
    write_payload(corpus, "doc_id", tpay)
    batch = spark.createDataFrame(
        [(21, "alpha beta gamma delta epsilon zeta"),   # exact dup → drop
         (22, "one two three four five six")],          # novel → admit
        "doc_id long, text string")
    ingest = _text_ingest(VerifyStore(base, hpay, tpay), epochs)
    ingest(batch, 7)
    once = sorted(map(tuple, spark.read.parquet(epochs)
                      .select("doc_id", "band", "bucket").collect()))
    ingest(batch, 7)                     # crash-replay of epoch 7
    twice = sorted(map(tuple, spark.read.parquet(epochs)
                       .select("doc_id", "band", "bucket").collect()))
    assert once == twice
    assert {r[0] for r in once} == {22}

    reg = load_all()
    g1 = sorted(map(tuple, reg["stream_text_ingest"]
                    .builder(spark, SF_SMOKE).collect()))
    g2 = sorted(map(tuple, reg["stream_text_ingest"]
                    .builder(spark, SF_SMOKE).collect()))
    assert g1 == g2 and g1
    admitted = {r.doc_id for r in reg["stream_text_admit"]
                .builder(spark, SF_SMOKE).collect()}
    new_side = {r[0] for r in g1 if r[0] % INCR_MOD == INCR_REM}
    assert new_side == admitted and admitted


def test_stream_embedding_ingest_growth_equals_admit(spark):
    """The self-growing SRP index: second drain adds zero rows; the
    grown index's new-side vec set equals the embedding admit gate's
    decision; every admitted vector contributes exactly SRP_TABLES
    rows."""
    from collections import Counter

    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.operators.similarity import (
        ANN_INCR_MOD, ANN_INCR_REM, SRP_TABLES)

    reg = load_all()
    g1 = sorted(map(tuple, reg["stream_embedding_ingest"]
                    .builder(spark, SF_SMOKE).collect()))
    g2 = sorted(map(tuple, reg["stream_embedding_ingest"]
                    .builder(spark, SF_SMOKE).collect()))
    assert g1 == g2 and g1
    admitted = {r.vec_id for r in reg["stream_embedding_admit"]
                .builder(spark, SF_SMOKE).collect()}
    new_rows = [r for r in g1 if r[0] % ANN_INCR_MOD == ANN_INCR_REM]
    assert {r[0] for r in new_rows} == admitted and admitted
    per_vec = Counter(r[0] for r in new_rows)
    assert all(v == SRP_TABLES for v in per_vec.values())
    # The SCALED lifecycle (the one compaction folds, r11 verdict
    # item 1) satisfies the same growth-equals-admit contract at its
    # own geometry.
    gs = reg["stream_embedding_ingest_scaled"].builder(
        spark, SF_SMOKE).collect()
    adm_s = {r.vec_id for r in reg["stream_embedding_admit_scaled"]
             .builder(spark, SF_SMOKE).collect()}
    new_s = [r for r in gs if r.vec_id % ANN_INCR_MOD == ANN_INCR_REM]
    assert {r.vec_id for r in new_s} == adm_s and adm_s
    assert all(v == SRP_TABLES
               for v in Counter(r.vec_id for r in new_s).values())


def test_index_compaction_layout_and_payload_serve(spark):
    """The compaction closers: (a) gen2 holds exactly one file per
    band/table partition (the small-file fold actually folded);
    (b) the rebuilt payload point-fetches an ADMITTED doc's verify
    payload — the grown generation can serve the next dump's exact
    verify without touching the raw corpus; (c) the corpus base
    stores have the same layout."""
    import glob

    from full_stack_big_data_spark.engine.pointfetch import point_fetch
    from full_stack_big_data_spark.functions.text import token_ngrams, tokens
    from full_stack_big_data_spark.operators.dedup import (BANDS, SHINGLE_N)
    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.operators.similarity import SRP_TABLES
    from full_stack_big_data_spark.streaming.joins import (
        embedding_index_compact_dirs, text_index_compact_dirs)

    reg = load_all()
    gen2, pay2h, pay2t = text_index_compact_dirs(spark, SF_SMOKE)
    band_dirs = glob.glob(f"{gen2}/band=*")
    assert len(band_dirs) == BANDS
    assert all(len(glob.glob(f"{d}/*.parquet")) == 1 for d in band_dirs)

    admitted = sorted(r.doc_id for r in reg["stream_text_admit"]
                      .builder(spark, SF_SMOKE).collect())
    probe_id = admitted[0]
    # Tier 2 (raw text): re-shingling the fetched text reproduces the
    # doc's exact shingle set.
    got = point_fetch(spark, pay2t, "doc_id", [probe_id]).collect()
    assert len(got) == 1
    from full_stack_big_data_spark.engine.catalog import Catalog
    doc = (Catalog(spark, SF_SMOKE).documents
           .where(F.col("doc_id") == probe_id)
           .select("text",
                   F.array_distinct(token_ngrams(
                       tokens("text"), SHINGLE_N)).alias("s")).collect())
    assert got[0].text == doc[0].text
    # Tier 1 (hash screen): the rebuilt hash row matches a fresh hash
    # of the doc's shingle set, with the exact size and no collision.
    from full_stack_big_data_spark.operators.dedup import \
        hashed_shingle_cols
    hrow = point_fetch(spark, pay2h, "doc_id", [probe_id]).collect()
    want_h = hashed_shingle_cols(
        spark.createDataFrame([(probe_id, doc[0].s)],
                              "doc_id long, s array<string>")).collect()
    assert len(hrow) == 1
    assert sorted(hrow[0].hs) == sorted(want_h[0].hs)
    assert hrow[0].n == len(doc[0].s) and not hrow[0].collide

    egen2, eqpay2, epay2 = embedding_index_compact_dirs(spark, SF_SMOKE)
    tdirs = glob.glob(f"{egen2}/table_id=*")
    assert len(tdirs) == SRP_TABLES
    assert all(len(glob.glob(f"{d}/*.parquet")) == 1 for d in tdirs)
    # The compact folds the SCALED lifecycle (r11 verdict item 1), so
    # the payload membership is the scaled gate's admit decision.
    eadmitted = sorted(r.vec_id
                       for r in reg["stream_embedding_admit_scaled"]
                       .builder(spark, SF_SMOKE).collect())
    egot = point_fetch(spark, epay2, "vec_id", [eadmitted[0]]).collect()
    assert len(egot) == 1 and len(egot[0].embedding) == 64
    # Tier 1 (packed-int16 screen): the rebuilt quant row equals a
    # fresh quantization of the admitted vector, so the folded
    # generation can serve cosine_verify's screen.
    from full_stack_big_data_spark.operators.similarity import \
        quantized_vec_cols
    qrow = point_fetch(spark, eqpay2, "vec_id", [eadmitted[0]]).collect()
    want_q = quantized_vec_cols(spark.createDataFrame(
        [(eadmitted[0], egot[0].embedding)],
        "vec_id long, embedding array<float>")).collect()
    assert len(qrow) == 1
    assert (qrow[0].w32, qrow[0].s) == (want_q[0].w32, want_q[0].s)

    # (c) the corpus bases share the folds' layout: one file per key,
    # every directory committed, both payload tiers holding exactly
    # the index's ids.
    import os

    from full_stack_big_data_spark.operators.dedup import text_store
    from full_stack_big_data_spark.operators.similarity import \
        embedding_store
    for store, key, n_keys, idc in (
            (text_store(spark, SF_SMOKE), "band", BANDS, "doc_id"),
            (embedding_store(spark, SF_SMOKE), "table_id", SRP_TABLES,
             "vec_id")):
        kdirs = glob.glob(f"{store.index}/{key}=*")
        assert len(kdirs) == n_keys
        assert all(len(glob.glob(f"{d}/*.parquet")) == 1 for d in kdirs)
        assert all(os.path.isfile(os.path.join(p, "_SUCCESS"))
                   for p in store)
        ids = [{r[0] for r in spark.read.parquet(p).select(idc)
                .distinct().collect()} for p in store]
        assert ids[0] and ids[1] == ids[0] and ids[2] == ids[0]



def test_retention_vacuum_superseded_generations(spark, tmp_path):
    """r11 verdict item 4: compaction folds generations but nothing
    reclaimed the superseded base/epoch/payload directories — at
    100 TB a self-growing index that never vacuums is a storage leak.
    Pins, on an isolated mini text family:
    (a) SERVE EQUALITY — an admit decision computed from the folded
        gen2 artifacts before the vacuum equals the same decision
        after the superseded directories are gone (including a probe
        doc that near-dups an ADMITTED doc, so the rebuilt payloads'
        grown membership is load-bearing);
    (b) refusal — an incomplete fold (no _SUCCESS) makes vacuum raise
        and delete NOTHING;
    (c) orphan cleanup + idempotence — superseded dirs deleted, bytes
        accounted, and a re-run skips what's already gone."""
    import glob
    import os
    import shutil

    import pytest

    from full_stack_big_data_spark.engine.pointfetch import (VerifyStore,
                                                             write_payload)
    from full_stack_big_data_spark.engine.generations import (
        IncompleteGenerationError, read_epochs, vacuum_superseded)
    from full_stack_big_data_spark.functions.text import token_ngrams, tokens
    from full_stack_big_data_spark.operators.dedup import (
        SHINGLE_N, _band_rows, hashed_shingle_cols)
    from full_stack_big_data_spark.streaming.joins import (
        _text_admit, _text_ingest)

    def sh(df):
        return (df.select("doc_id", tokens("text").alias("toks"))
                .where(F.size("toks") >= SHINGLE_N)
                .select("doc_id", F.array_distinct(
                    token_ngrams(F.col("toks"), SHINGLE_N)).alias("s")))

    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "red orange yellow green blue indigo")],
        "doc_id long, text string")
    base = str(tmp_path / "base")
    hpay, tpay = str(tmp_path / "hpay"), str(tmp_path / "tpay")
    epochs = str(tmp_path / "epochs")
    _band_rows(sh(corpus)).write.parquet(base)
    write_payload(hashed_shingle_cols(sh(corpus)), "doc_id", hpay)
    write_payload(corpus, "doc_id", tpay)

    dump = spark.createDataFrame(
        [(21, "alpha beta gamma delta epsilon zeta"),   # dup → dropped
         (22, "one two three four five six")],          # novel → admitted
        "doc_id long, text string")
    _text_ingest(VerifyStore(base, hpay, tpay), epochs)(dump, 0)

    # Fold: gen2 index = base ∪ epochs; payloads rebuilt over the
    # GROWN membership (corpus + admitted docs).
    grown = (spark.read.parquet(base)
             .select("doc_id", F.col("band").cast("int").alias("band"),
                     "bucket")
             .unionByName(read_epochs(
                 spark, epochs, "doc_id long, band int, bucket string")))
    gen2 = str(tmp_path / "gen2")
    (grown.repartition("band")
     .write.mode("overwrite").partitionBy("band").parquet(gen2))
    member_docs = corpus.unionByName(
        dump.where(F.col("doc_id") == 22))
    hpay2, tpay2 = str(tmp_path / "hpay2"), str(tmp_path / "tpay2")
    write_payload(hashed_shingle_cols(sh(member_docs)), "doc_id", hpay2)
    write_payload(member_docs, "doc_id", tpay2)

    # Pre-vacuum decision from the gen2 artifacts: 31 near-dups the
    # ADMITTED doc 22 (drop — only provable through the rebuilt
    # payloads), 32 is novel (admit).
    probe = spark.createDataFrame(
        [(31, "one two three four five six"),
         (32, "seven eight nine ten eleven twelve")],
        "doc_id long, text string")
    out_pre, out_post = str(tmp_path / "out_pre"), str(tmp_path / "out_post")
    admit = _text_admit(VerifyStore(gen2, hpay2, tpay2), out_pre)
    admit(probe, 0)
    pre = sorted(r.doc_id for r in read_epochs(
        spark, out_pre, "doc_id long, n_shingles int").collect())
    assert pre == [32]

    # (b) incomplete fold → refuse, delete nothing.
    success = os.path.join(gen2, "_SUCCESS")
    os.rename(success, success + ".hidden")
    with pytest.raises(IncompleteGenerationError):
        vacuum_superseded([gen2, hpay2, tpay2], [base, hpay, tpay, epochs])
    assert os.path.isdir(base) and os.path.isdir(epochs)
    os.rename(success + ".hidden", success)

    # (c) the sweep: superseded generations reclaimed, gen2 intact.
    stats = vacuum_superseded([gen2, hpay2, tpay2],
                              [base, hpay, tpay, epochs])
    assert sorted(stats["deleted"]) == sorted([base, hpay, tpay, epochs])
    assert stats["bytes_reclaimed"] > 0
    assert not any(map(os.path.isdir, (base, hpay, tpay, epochs)))
    assert glob.glob(f"{gen2}/band=*")

    # (a) post-vacuum serve equality from the folded artifacts alone.
    admit2 = _text_admit(VerifyStore(gen2, hpay2, tpay2), out_post)
    admit2(probe, 0)
    post = sorted(r.doc_id for r in read_epochs(
        spark, out_post, "doc_id long, n_shingles int").collect())
    assert post == pre

    # idempotent re-run: nothing left to delete, no error.
    again = vacuum_superseded([gen2, hpay2, tpay2],
                              [base, hpay, tpay, epochs])
    assert again["deleted"] == [] and again["bytes_reclaimed"] == 0


def test_embedding_admit_gate_recall_contract(spark):
    """r11 verdict item 5: the embedding admit gate's false-accept side
    (near-dups the SRP buckets miss) gets a pinned contract at the
    N/64 operating point. Three pins against the EXACT bipartite
    kernel (new × corpus, cosine ≥ NEARDUP_COS — small enough to
    brute-force at the smoke fixture):

    1. PRECISION = 1 (both geometries): every dropped vector has an
       exact near-dup — the gate's exact-cosine verify makes false
       drops impossible by construction; this pin keeps it that way.
    2. RECALL FLOOR (scaled point, measured): the fixture's truth
       pairs all sit in the low-cosine band (0.4–0.9, where 9-bit
       detection probability 1−(1−p⁹)¹⁶ is genuinely partial — the
       documented trade that buys linear candidate cost), and the
       deterministic integer SRP makes the measured recall exact
       round-to-round: 5/10 at sf0.001. Pinned as ≥ 0.5.
    3. HIGH-COSINE GUARANTEE: any truth vector whose best corpus
       cosine ≥ 0.9 MUST be dropped — at cos 0.9, p = 1−θ/π ≈ 0.857,
       p⁹ ≈ 0.25, miss probability (1−p⁹)¹⁶ < 1% per table set, and
       the pin is the design claim the scaled docstrings make. The
       smoke fixture has no such pair (asserted explicitly so a
       fixture change re-arms this clause rather than passing
       vacuously forever).

    Adjudication (why floor + precision suffice): a dedup gate's
    failure modes are asymmetric — a false DROP destroys data
    (precision pin), a false ACCEPT costs storage already bounded by
    the batch dedup sweep downstream; the scaled geometry deliberately
    concentrates recall where duplicates live (high cosine)."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.functions.vectors import cosine_sim
    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.operators.similarity import (
        ANN_INCR_MOD, ANN_INCR_REM, NEARDUP_COS)

    e = Catalog(spark, SF_SMOKE).embeddings
    new = e.where(F.col("vec_id") % ANN_INCR_MOD == ANN_INCR_REM).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nv"))
    old = e.where(F.col("vec_id") % ANN_INCR_MOD != ANN_INCR_REM).select(
        F.col("embedding").alias("ov"))
    best = (F.broadcast(new).join(old)
            .select("nid", cosine_sim(F.col("nv"), F.col("ov")).alias("c"))
            .groupBy("nid").agg(F.max("c").alias("best")))
    best_cos = {r.nid: r.best for r in best.collect()}
    truth = {k for k, v in best_cos.items() if v >= NEARDUP_COS}
    assert truth, "fixture lost its near-dup pairs — rebuild testdata"

    reg = load_all()
    for name in ("stream_embedding_admit", "stream_embedding_admit_scaled"):
        admitted = {r.vec_id
                    for r in reg[name].builder(spark, SF_SMOKE).collect()}
        dropped = set(best_cos) - admitted
        # 1. precision: no vector dropped without an exact near-dup.
        assert dropped <= truth, (name, sorted(dropped - truth))
        if name.endswith("_scaled"):
            recall = len(truth - admitted) / len(truth)
            # 2. measured deterministic floor at the N/64 point.
            assert recall >= 0.5, (recall, sorted(truth & admitted))
            # 3. the high-cosine guarantee (vacuous on this fixture —
            # asserted so a fixture change re-arms it).
            hi = {k for k, v in best_cos.items() if v >= 0.9}
            assert hi <= dropped, sorted(hi - dropped)
            assert not hi, ("fixture now has cos≥0.9 pairs — clause 3 "
                            "is live; update this assertion to expect "
                            "them dropped")
        else:
            # fixture geometry drops the full truth set at this N
            # (16 wide buckets over ~450 vectors collide everything).
            assert truth <= dropped


def test_stream_reservoir_bounded_state_chop_invariance_and_replay(
        spark, tmp_path):
    """The streaming reservoir's three contracts (streaming/reservoir.py):
    (a) BOUNDED STATE — every versioned snapshot holds ≤ k rows no
        matter how much data has streamed past;
    (b) CHOP INVARIANCE — the max-k semilattice merge makes the final
        reservoir independent of how the feed is chopped into batches
        (any chop == the one-shot batch top-k), which is what makes
        the registered entry's one-shot SQL oracle exact;
    (c) REPLAY IDEMPOTENCE — re-running a batch_id (foreachBatch's
        at-least-once) rewrites its own version to identical content."""
    import os

    from full_stack_big_data_spark.streaming.reservoir import (
        RESERVOIR_K, _race_key_col, _reservoir_body, read_reservoir)

    docs = (spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .select("doc_id", "n_chars"))
    want = sorted(
        map(tuple,
            docs.withColumn("race_key", _race_key_col())
            .orderBy(F.desc("race_key"), F.asc("doc_id"))
            .limit(RESERVOIR_K).collect()))

    # chop the corpus into 3 deterministic batches by doc_id band
    state = str(tmp_path / "res_state")
    os.makedirs(state)
    body = _reservoir_body(state)
    parts = [docs.where(F.col("doc_id") % 3 == r) for r in (0, 1, 2)]
    for bid, part in enumerate(parts):
        body(part, bid)
        snap = spark.read.parquet(f"{state}/v={bid}")
        assert snap.count() <= RESERVOIR_K          # (a)

    got = sorted((r.doc_id, r.n_chars, r.race_key)
                 for r in read_reservoir(spark, state).collect())
    assert got == want                              # (b)

    # a DIFFERENT chop (2 batches, reversed order of content) folds to
    # the same reservoir
    state2 = str(tmp_path / "res_state2")
    os.makedirs(state2)
    body2 = _reservoir_body(state2)
    body2(docs.where(F.col("doc_id") % 2 == 1), 0)
    body2(docs.where(F.col("doc_id") % 2 == 0), 1)
    got2 = sorted((r.doc_id, r.n_chars, r.race_key)
                  for r in read_reservoir(spark, state2).collect())
    assert got2 == want                             # (b)

    # replay batch 1: v=1 must be rebuilt from v=0 ∪ batch-1 content,
    # byte-identical decision set
    before = sorted(map(tuple,
                        spark.read.parquet(f"{state2}/v=1").collect()))
    body2(docs.where(F.col("doc_id") % 2 == 0), 1)
    after = sorted(map(tuple,
                       spark.read.parquet(f"{state2}/v=1").collect()))
    assert before == after                          # (c)

    # (d) retention: superseded snapshot versions vacuum away
    # (completeness-gated on the live version) and the served sample
    # is unchanged — the reservoir's own storage never grows either.
    from full_stack_big_data_spark.engine.generations import \
        vacuum_superseded
    stats = vacuum_superseded([f"{state2}/v=1"], [f"{state2}/v=0"])
    assert stats["deleted"] == [f"{state2}/v=0"]
    assert not os.path.isdir(f"{state2}/v=0")
    got3 = sorted((r.doc_id, r.n_chars, r.race_key)
                  for r in read_reservoir(spark, state2).collect())
    assert got3 == want


def test_stream_reservoir_weighted_matches_batch_race(spark, tmp_path):
    """The weighted twin: the same versioned semilattice fold with the
    A-Res exponential race key folds (under an arbitrary chop) to the
    one-shot weighted top-k — and every snapshot stays ≤ k rows."""
    import os

    from full_stack_big_data_spark.streaming.reservoir import (
        WEIGHTED_RES_K, _weighted_race_key_col, _weighted_reservoir_body,
        read_reservoir)

    docs = (spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .select("doc_id", "n_chars"))
    want = sorted(
        map(tuple,
            docs.withColumn("race_key", _weighted_race_key_col())
            .orderBy(F.desc("race_key"), F.asc("doc_id"))
            .limit(WEIGHTED_RES_K).collect()))
    state = str(tmp_path / "wres_state")
    os.makedirs(state)
    body = _weighted_reservoir_body(state)
    for bid, r in enumerate((2, 0, 1)):    # deliberately shuffled chop
        body(docs.where(F.col("doc_id") % 3 == r), bid)
        assert spark.read.parquet(f"{state}/v={bid}").count() \
            <= WEIGHTED_RES_K
    got = sorted((r.doc_id, r.n_chars, r.race_key)
                 for r in read_reservoir(spark, state).collect())
    assert got == want


def test_stream_reservoir_dup_docids_occupy_one_slot(spark, tmp_path):
    """r12 ADVICE (medium): a doc_id present in BOTH the previous
    snapshot and a later batch (source-level duplicate / re-ingested
    doc) must occupy ONE of the k slots, not two — the semilattice
    join is a SET join. Feed every doc twice across overlapping
    batches; the served sample must hold k DISTINCT doc_ids and equal
    the one-shot top-k over the distinct corpus exactly."""
    import os

    from full_stack_big_data_spark.streaming.reservoir import (
        RESERVOIR_K, _race_key_col, _reservoir_body, read_reservoir)

    docs = (spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .select("doc_id", "n_chars"))
    want = sorted(
        map(tuple,
            docs.withColumn("race_key", _race_key_col())
            .orderBy(F.desc("race_key"), F.asc("doc_id"))
            .limit(RESERVOIR_K).collect()))

    state = str(tmp_path / "res_dup_state")
    os.makedirs(state)
    body = _reservoir_body(state)
    # every doc streams in at least twice: batch 0 = full corpus,
    # batch 1 = an overlapping half, batch 2 = full corpus again (the
    # worst case: the entire previous snapshot re-arrives)
    body(docs, 0)
    body(docs.where(F.col("doc_id") % 2 == 0), 1)
    body(docs, 2)
    served = read_reservoir(spark, state).collect()
    ids = [r.doc_id for r in served]
    assert len(ids) == len(set(ids)) == RESERVOIR_K
    got = sorted((r.doc_id, r.n_chars, r.race_key) for r in served)
    assert got == want


def test_stream_reservoir_torn_snapshot_invisible(spark, tmp_path):
    """r12 ADVICE (low): a crash mid-write of v=N leaves a directory
    without _SUCCESS; serving and the replay's prev-version scan must
    both skip it — serving stays on the last committed version until
    the replay rewrites (and commits) N from committed inputs."""
    import os

    from full_stack_big_data_spark.streaming.reservoir import (
        RESERVOIR_K, _committed_versions, _race_key_col,
        _reservoir_body, read_reservoir)

    docs = (spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
            .select("doc_id", "n_chars"))
    state = str(tmp_path / "res_torn_state")
    os.makedirs(state)
    body = _reservoir_body(state)
    body(docs.where(F.col("doc_id") % 2 == 0), 0)
    committed = sorted((r.doc_id, r.n_chars, r.race_key)
                       for r in read_reservoir(spark, state).collect())

    # simulate a torn v=1: directory + a part file, no _SUCCESS
    torn = f"{state}/v=1"
    os.makedirs(torn)
    with open(f"{torn}/part-00000.parquet", "wb") as fh:
        fh.write(b"\x00torn")
    assert _committed_versions(state) == [0]

    # serving skips the torn version
    got = sorted((r.doc_id, r.n_chars, r.race_key)
                 for r in read_reservoir(spark, state).collect())
    assert got == committed

    # the replay of batch 1 reads committed v=0 (not its own torn
    # output), rewrites v=1 whole, and serving advances to the full
    # one-shot top-k
    body(docs.where(F.col("doc_id") % 2 == 1), 1)
    want = sorted(
        map(tuple,
            docs.withColumn("race_key", _race_key_col())
            .orderBy(F.desc("race_key"), F.asc("doc_id"))
            .limit(RESERVOIR_K).collect()))
    got2 = sorted((r.doc_id, r.n_chars, r.race_key)
                  for r in read_reservoir(spark, state).collect())
    assert got2 == want


def test_stream_reservoir_all_torn_raises_descriptive(spark, tmp_path):
    """r13 ADVICE (low): a state root holding ONLY torn v= dirs (every
    write so far crashed mid-commit) must fail with the no-committed-
    snapshot story, not the bare IndexError the committed-only filter
    left behind."""
    import os

    import pytest

    from full_stack_big_data_spark.streaming.reservoir import read_reservoir

    state = str(tmp_path / "res_all_torn")
    torn = f"{state}/v=0"
    os.makedirs(torn)
    with open(f"{torn}/part-00000.parquet", "wb") as fh:
        fh.write(b"\x00torn")
    with pytest.raises(FileNotFoundError, match="no committed reservoir"):
        read_reservoir(spark, state)
    # an empty root (no drain ever ran) gets the same story
    empty = str(tmp_path / "res_empty")
    os.makedirs(empty)
    with pytest.raises(FileNotFoundError, match="no committed reservoir"):
        read_reservoir(spark, empty)


def test_stream_ivf_ingest_epoch_replay_writes_no_duplicates(spark, tmp_path):
    """Crash-replay idempotency for the IVF-cell growth sink (r14):
    re-invoking the foreachBatch body with the SAME batch_id rewrites
    that epoch's partition — the store cannot accumulate duplicate
    assignment rows — and the assigned cell matches the batch-path
    assignment (the stored codebook is an index constant)."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.similarity import _ivf_assigned
    from full_stack_big_data_spark.streaming.ivf import _ivf_ingest

    e = Catalog(spark, SF_SMOKE).embeddings
    batch = e.where((e.vec_id >= 40) & (e.vec_id < 44))
    epochs = str(tmp_path / "epochs")
    ingest = _ivf_ingest(epochs)
    ingest(batch, 7)
    once = sorted(map(tuple, spark.read.parquet(epochs)
                      .select("vec_id", "cell").collect()))
    ingest(batch, 7)          # the crash-replay of epoch 7
    twice = sorted(map(tuple, spark.read.parquet(epochs)
                       .select("vec_id", "cell").collect()))
    assert once == twice
    expected = sorted(map(tuple,
                          _ivf_assigned(batch).select("vec_id", "cell")
                          .collect()))
    assert once == expected and len(once) == 4


def test_ivf_vacuum_gen2_one_file_per_cell_and_superseded_gone(spark):
    """The registered IVF retention lifecycle's storage pins: after the
    builder runs, the gen2 generation holds exactly ONE parquet file
    per cell directory (the compact contract), and the memoized gen2
    is the only surviving store (the builder itself RAISES if vacuum
    under-reclaims, so a green run already proved base+epochs died —
    this pin re-checks the layout from outside)."""
    import os
    from collections import Counter

    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.streaming.ivf import _vacuumed_ivf_gen2

    reg = load_all()
    assert reg["ivf_index_vacuum"].builder(spark, SF_SMOKE).count() > 0
    gen2 = _vacuumed_ivf_gen2(spark, SF_SMOKE)
    files = Counter()
    for dp, _dirs, fs in os.walk(gen2):
        cell = os.path.basename(dp)
        if cell.startswith("cell="):
            files[cell] += sum(1 for f in fs if f.endswith(".parquet"))
    assert files and all(v == 1 for v in files.values()), files


def test_stream_ivfpq_ingest_epoch_replay_writes_no_duplicates(spark, tmp_path):
    """Crash-replay idempotency for the IVFADC codes sink (r14): same
    batch_id → same epoch partition rewritten, and the (cell, codes)
    rows equal the batch-path encode with the same codebook."""
    from full_stack_big_data_spark.engine.catalog import Catalog
    from full_stack_big_data_spark.operators.similarity import (
        _ivfpq_rows, _pq_codebooks)
    from full_stack_big_data_spark.streaming.ivf import _ivfpq_ingest

    e = Catalog(spark, SF_SMOKE).embeddings
    batch = e.where((e.vec_id >= 40) & (e.vec_id < 44))
    cb = _pq_codebooks()
    epochs = str(tmp_path / "epochs")
    ingest = _ivfpq_ingest(epochs, cb)
    ingest(batch, 9)
    once = sorted((r.vec_id, r.cell, tuple(r.codes))
                  for r in spark.read.parquet(epochs).collect())
    ingest(batch, 9)          # the crash-replay of epoch 9
    twice = sorted((r.vec_id, r.cell, tuple(r.codes))
                   for r in spark.read.parquet(epochs).collect())
    assert once == twice
    expected = sorted((r.vec_id, r.cell, tuple(r.codes))
                      for r in _ivfpq_rows(batch, cb).collect())
    assert once == expected and len(once) == 4


def test_verify_pool_task_keeps_the_batch_job_group(spark):
    """The verify tiers' id collects run on a pool thread; submitted
    the way the gates submit them, they must carry the micro-batch's
    job group, so cancelling the batch cancels their jobs too."""
    from full_stack_big_data_spark.engine.pointfetch import (_verify_pool,
                                                             _verify_submit)

    sc = spark.sparkContext
    sc.setJobGroup("batch-7", "verify pool job-group pin")
    pool = _verify_pool()
    try:
        got = _verify_submit(pool, spark, sc.getLocalProperty,
                             "spark.jobGroup.id").result()
    finally:
        pool.shutdown(wait=True)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert got == "batch-7"
