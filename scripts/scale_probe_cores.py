"""Core-count scaling probe at sf1.0 (r14 verdict item 9): the 8-vs-32
core block in PERF_r14 was uninformative at sf0.1 (every ratio ≈ 1,
8-core total LOWER — the bench point is session/stage-floor bound), so
the 100 TB parallelism story needs a measured anchor at a scale where
tasks actually carry work. This probe runs the heaviest batch headline
entries at sf1.0 (scripts/make_sf1.py) at a given core count — one
process per count, because local[N] is fixed at JVM start — and
appends one JSON line per run to plans/r15/scale_probe_cores_sf1.jsonl.

The same harness carries the r14-item-10 codec A/B: --codec zstd sets
spark.io.compression.codec (shuffle/spill/broadcast compression) at
session build; parquet WRITE codec rides spark.sql.parquet.compression.codec
for the entries that write artifacts. Cross-process runs live in the
host's ~2-3x ambient band, so interleave invocations A/B/A/B and
compare per-query minima; ship a codec change only if it separates.

Usage:
  python scripts/make_sf1.py                       # once
  python scripts/scale_probe_cores.py 32           # default lz4
  python scripts/scale_probe_cores.py 8
  python scripts/scale_probe_cores.py 32 --codec zstd
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF10 = os.path.join(HERE, ".localdata", "sf1.0")
OUT = os.path.join(HERE, "plans", "r15", "scale_probe_cores_sf1.jsonl")

# The heaviest BATCH headline entries (streaming reps excluded: their
# cold run is dominated by the once-per-process corpus artifact build,
# which would swamp the core-count signal this probe exists to read).
QUERIES = [
    "emb_knn_graph_scaled",     # candidate join + arrow cosine at the
                                # N/64 geometry (the FIXTURE 16x4 point
                                # is quadratic-in-occupancy by design —
                                # ~100x candidates at sf1.0 — and would
                                # measure the documented pathology, not
                                # core scaling)
    "q_pagerank",               # iterative: cached pre-partitioned invariants
    "ann_ivfpq_index_persist",  # build+serve lifecycle (encode, 256-cell write)
    "dedup_editdistance",       # prefix-filter candidate join + banded DP
    "dedup_simhash_scaled",     # banded hamming self-join (best sf0.1 ratio)
]

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
codec = "zstd" if "--codec" in sys.argv and "zstd" in sys.argv else "lz4"
reps = int(os.environ.get("FSBD_PROBE_REPS", "2"))

if not os.path.isdir(SF10):
    sys.exit("run scripts/make_sf1.py first")

from pyspark.sql import SparkSession

from full_stack_big_data_spark.engine.session import (_CONFS,
                                                      release_scoped_cache,
                                                      tune_session)
from full_stack_big_data_spark.operators.registry import load_all
from full_stack_big_data_spark.operators.similarity import (
    ivf_index_build, ivf_index_serve, ivfpq_index_build, ivfpq_index_serve)

b = (SparkSession.builder.appName(f"scale-probe-{cores}-{codec}")
     .master(f"local[{cores}]")
     .config("spark.driver.memory", "16g")
     .config("spark.sql.shuffle.partitions", str(cores))
     .config("spark.io.compression.codec", codec)
     .config("spark.sql.parquet.compression.codec",
             "zstd" if codec == "zstd" else "snappy")
     .config("spark.ui.enabled", "false"))
for k, v in _CONFS.items():
    b = b.config(k, v)
spark = b.getOrCreate()
tune_session(spark)
spark.sparkContext.setLogLevel("ERROR")
reg = load_all()

times: dict[str, float] = {}
comps: dict[str, dict] = {}
for _ in range(reps):
    for name in QUERIES:
        release_scoped_cache(spark)
        spark.sparkContext.setJobDescription(
            f"{name} [cores={cores} codec={codec}]")
        t0 = time.perf_counter()
        if name == "ann_ivfpq_index_persist":
            path = ivfpq_index_build(spark, SF10)
            tb = time.perf_counter() - t0
            t1 = time.perf_counter()
            (ivfpq_index_serve(spark, SF10, path)
             .write.format("noop").mode("overwrite").save())
            ts = time.perf_counter() - t1
            t = tb + ts
            if t < times.get(name, float("inf")):
                comps[name] = {"build_s": round(tb, 3),
                               "serve_s": round(ts, 3)}
        else:
            (reg[name].builder(spark, SF10)
             .write.format("noop").mode("overwrite").save())
            t = time.perf_counter() - t0
        times[name] = min(times.get(name, float("inf")), t)
        print(f"{name}: {t:.3f}s", flush=True)

rec = {"cores": cores, "codec": codec, "sf": 1.0, "reps": reps,
       "queries": {n: round(t, 3) for n, t in times.items()},
       "components": comps,
       "total": round(sum(times.values()), 3)}
os.makedirs(os.path.dirname(OUT), exist_ok=True)
with open(OUT, "a") as f:
    f.write(json.dumps(rec) + "\n")
print(json.dumps(rec))
spark.stop()
