"""Streaming state under memory pressure (r7 verdict item 6).

The batch spill probe (scripts/spill_probe.py) proved the heaviest
shuffles spill and finish hash-identical under a squeezed unified pool.
The streaming state store is a different animal: HDFSBackedStateStore
keeps committed versions ON HEAP outside the unified manager — spill
cannot save it, only bounded state can (the same lesson as the
Python-eval OOM in BENCHNOTES r7: geometry/boundedness is the control,
not the memory manager). So the probe for it is a HEAP LADDER, not a
fraction squeeze alone:

- BASELINE: the normal 8g/32 session at sf1.0 (the 10x key decade);
- each LADDER rung: a fresh JVM with a smaller heap + fewer threads +
  ``spark.memory.fraction`` squeezed to 0.15 (so each micro-batch's
  shuffle must also live on a sliver),

running ``stream_stateful_user_stats`` (keyed state = 15 k users) and
``stream_dedup_watermarked`` (state = 75 k (user, event_type) pairs)
to drain end. Grace = the rung completes with an order-insensitive
result fingerprint equal to baseline's AND a complete progress feed;
a rung that OOMs documents the failure boundary exactly the way the
batch probe documented the kNN fixture OOM.

Heap is a static JVM conf → parent/child design (one JVM per rung).

Usage: python scripts/stream_memory_probe.py           (parent)
       python scripts/stream_memory_probe.py --child NAME (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF10 = os.path.join(HERE, ".localdata", "sf1.0")
NAMES = ["stream_stateful_user_stats", "stream_dedup_watermarked"]

BASELINE = {"SPARK_GRAFT_DRIVER_MEM": "8g", "SPARK_GRAFT_CPUS": "32"}
# Descending heap rungs; fraction squeezed so micro-batch shuffles are
# pressured too, threads reduced so fixed per-task overhead (the
# unmanaged cost the batch probe isolated) doesn't mask the state heap.
LADDER = [
    {"SPARK_GRAFT_DRIVER_MEM": "1g", "SPARK_GRAFT_CPUS": "8",
     "STREAM_PROBE_FRACTION": "0.15"},
    {"SPARK_GRAFT_DRIVER_MEM": "512m", "SPARK_GRAFT_CPUS": "4",
     "STREAM_PROBE_FRACTION": "0.15"},
]


def _child(name: str) -> None:
    from pyspark.sql import functions as F

    from full_stack_big_data_spark.engine import session as S
    from full_stack_big_data_spark.operators.registry import load_all
    from full_stack_big_data_spark.streaming.audit import (ProgressCollector,
                                                           summarize)

    frac = os.environ.get("STREAM_PROBE_FRACTION")
    if frac:
        S._CONFS = dict(
            S._CONFS,
            **{"spark.memory.fraction": frac,
               "spark.memory.storageFraction": "0.2"})
    spark = S.get_spark(app_name=f"stream-mem-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    col = ProgressCollector()
    spark.streams.addListener(col)

    t0 = time.monotonic()
    df = load_all()[name].builder(spark, SF10)
    cols = sorted(df.columns)
    fp_row = F.crc32(F.to_json(F.struct(*[F.col(c) for c in cols])))
    agg = df.select(F.sum(fp_row).alias("s"),
                    F.count(F.lit(1)).alias("n")).collect()[0]
    wall = time.monotonic() - t0
    complete = col.drain(timeout=180)
    s = summarize(col.progress)
    ops = s["state_operators"]
    print(json.dumps({
        "name": name, "fingerprint": f"{agg['s']}:{agg['n']}",
        "rows": int(agg["n"]), "complete": bool(complete),
        "batches": s["n_batches"],
        "state_rows": max((o["final_state_rows"] for o in ops), default=0),
        "peak_state_kib": max((o["peak_state_bytes"] for o in ops),
                              default=0) // 1024,
        "wall": round(wall, 2),
    }))
    spark.streams.removeListener(col)
    spark.stop()


def _run_child(name: str, env_over: dict[str, str]) -> dict | None:
    env = dict(os.environ)
    env.pop("STREAM_PROBE_FRACTION", None)
    env.update(env_over)
    p = subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--child", name],
                       capture_output=True, text=True, env=env, cwd=HERE)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(p.stderr[-2000:] + "\n")
    return None


def main() -> int:
    if len(sys.argv) >= 3 and sys.argv[1] == "--child":
        _child(sys.argv[2])
        return 0
    if not os.path.isdir(SF10):
        print(f"missing {SF10}: run scripts/make_sf1.py first")
        return 2
    bad = []
    print("| query | heap/threads/fraction | batches | state rows | "
          "peak state KiB | wall s | rows | fingerprint match |")
    print("|---|---|---|---|---|---|---|---|")
    for name in NAMES:
        base = _run_child(name, BASELINE)
        if not base or not base["complete"]:
            bad.append(f"{name}: baseline failed")
            print(f"| {name} | baseline CRASHED/PARTIAL | | | | | | |")
            continue
        print(f"| {name} | 8g/32/0.6 | {base['batches']} | "
              f"{base['state_rows']} | {base['peak_state_kib']} | "
              f"{base['wall']} | {base['rows']} | |")
        for rung in LADDER:
            label = (f"{rung['SPARK_GRAFT_DRIVER_MEM']}/"
                     f"{rung['SPARK_GRAFT_CPUS']}/"
                     f"{rung['STREAM_PROBE_FRACTION']}")
            con = _run_child(name, rung)
            if not con:
                # The documented failure boundary — the batch probe's
                # kNN-OOM precedent: record it, don't hide it.
                print(f"| {name} | {label} | — | — | — | — | — | "
                      f"JVM DIED (failure boundary) |")
                continue
            match = (con["fingerprint"] == base["fingerprint"]
                     and con["complete"])
            if not match:
                bad.append(f"{name}@{label}")
            print(f"| {name} | {label} | {con['batches']} | "
                  f"{con['state_rows']} | {con['peak_state_kib']} | "
                  f"{con['wall']} | {con['rows']} | "
                  f"{'YES' if match else 'NO'}"
                  f"{'' if con['complete'] else ' (partial feed)'} |")
    print(f"\nSTREAM-MEMORY {'OK' if not bad else 'FAIL'}: {bad or 'all'} "
          f"{'(drain-end hash parity on every surviving rung)' if not bad else ''}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
