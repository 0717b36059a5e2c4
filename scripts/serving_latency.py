"""Serving-layer freshness latency (r6 verdict item 8).

``stream_serving_interval`` proves the lambda loop's CORRECTNESS (stream
ingest → batch-keyed hourly store → interval answer == batch recompute,
hash-exact). This bench adds the loop's first QUANTITATIVE row: the
time from a micro-batch of events LANDING in the source to the moment a
serving-store read ANSWERS with that data included — the number a
dashboard/SLA actually cares about (the reference's ``get /home/time``
surface, README.md:45-55).

Method: a live continuous query (processingTime trigger — THE knob)
maintains the rollup store (streaming/rollup.py, the exactly-once
batch-keyed layout) over a file source. For each of N rounds, one new
parquet file of events is dropped at t0, then the serving read polls
until the cumulative event count includes the new batch; latency =
t_visible − t0. The serving read is ``serve_hourly`` plus a count: the
partials of every committed batch directory, summed on the driver from
a decode cache checked against the store; the count then runs over that
in-memory local relation, with no Spark file read or re-aggregation of
the partials. It is timed separately so store-read cost and
trigger-wait decompose.

Usage: python scripts/serving_latency.py [rounds] [trigger_ms ...]
Defaults: 6 rounds at triggers 250 ms and 1000 ms.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import functions as F

from full_stack_big_data_spark.engine.scratch import scratch_dir
from full_stack_big_data_spark.engine.session import get_spark
from full_stack_big_data_spark.streaming.rollup import (serve_hourly,
                                                        write_batch_partials)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    triggers = [int(x) for x in sys.argv[2:]] or [250, 1000]
    spark = get_spark(app_name="fsbd-serving-latency")
    spark.sparkContext.setLogLevel("ERROR")

    events = spark.read.parquet(os.path.join(SF, "events.parquet"))
    # one pre-chunked feed batch per round, reused across trigger settings
    feed = [events.where(F.pmod(F.xxhash64("user_id", "ts"), F.lit(rounds))
                         == i).cache() for i in range(rounds)]
    counts = [df.count() for df in feed]

    print(f"| trigger | round | batch rows | fresh-in s | serve-read s |")
    print(f"|---|---|---|---|---|")
    summary = []
    for trig in triggers:
        src = scratch_dir("fsbd_servlat_src_")
        store = scratch_dir("fsbd_servlat_store_")
        ckp = scratch_dir("fsbd_servlat_ckp_")
        sdf = spark.readStream.schema(events.schema).parquet(src)
        q = (sdf.writeStream
             .foreachBatch(lambda df, bid: write_batch_partials(df, bid, store))
             .option("checkpointLocation", ckp)
             .trigger(processingTime=f"{trig} milliseconds").start())
        try:
            lat, reads = [], []
            expected = 0
            for i in range(rounds):
                expected += counts[i]
                t0 = time.perf_counter()
                feed[i].write.mode("append").parquet(src)
                while True:
                    r0 = time.perf_counter()
                    try:
                        seen = (serve_hourly(spark, store)
                                .agg(F.sum("n_events")).collect()[0][0]) or 0
                    except Exception:  # store dir not created yet
                        seen = 0
                    reads.append(time.perf_counter() - r0)
                    if seen >= expected:
                        break
                    if time.perf_counter() - t0 > 120:
                        raise TimeoutError(f"batch {i} never became visible")
                    time.sleep(0.02)
                dt = time.perf_counter() - t0
                lat.append(dt)
                print(f"| {trig} ms | {i} | {counts[i]} | {dt:.2f} | "
                      f"{reads[-1]:.2f} |", flush=True)
        finally:
            q.stop()
        med = statistics.median(lat)
        summary.append((trig, med, max(lat), statistics.median(reads)))

    print("\n| trigger | median fresh-in s | max s | median serve-read s |")
    print("|---|---|---|---|")
    for trig, med, mx, rd in summary:
        print(f"| {trig} ms | {med:.2f} | {mx:.2f} | {rd:.2f} |")
    print("\nfresh-in = file lands -> interval answer includes it "
          "(write + trigger wait + micro-batch + store write + serve read); "
          "the trigger interval is the operating knob, serve-read the floor.")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
