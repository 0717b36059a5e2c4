"""Spill-grace probe (r6 verdict item 5): prove the heaviest-shuffle
families SPILL AND FINISH — correct results, no OOM — when execution
memory is a fraction of what the data wants.

The shuffle audit pins spill = 0 at sf0.1 on the default session; good
hygiene, but at 100 TB spill is a certainty, and evidence that never
exercises the spill path says nothing about it. This probe runs the
three highest-amplification families (emb_knn_graph 13.2x,
text_ngram_counts 9.4x, dedup_editdistance 7.4x per the sf1.0 shuffle
audit) at sf1.0 twice, in separate JVMs:

- BASELINE: the normal session (8 GiB heap, default memory fractions);
- CONSTRAINED: a small heap with ``spark.memory.fraction`` squeezed, so
  per-task execution memory is a sliver of the sort/agg working set.

Both runs compute an order-insensitive result fingerprint ON THE SPARK
SIDE (sum + xor-ish of per-row crc32 over a canonical JSON rendering —
no driver materialization, so the constrained JVM never has to hold the
result). Grace = the constrained run completes, reports spill bytes
> 0, and its fingerprint equals the baseline's. An OOM, a silent
truncation, or a spill-path correctness bug all fail loudly.

Heap/fraction are static JVM confs, hence the parent/child design:
the parent spawns one child process per (query, mode) and tabulates.

Usage: python scripts/spill_probe.py [name ...]   (parent)
       python scripts/spill_probe.py --child NAME (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF10 = os.path.join(HERE, ".localdata", "sf1.0")
DEFAULT_NAMES = ["emb_knn_graph_scaled", "text_ngram_counts", "dedup_editdistance"]

CONSTRAINED_ENV = {
    # 4g/16 threads (vs 8g/32 baseline): ~250 MB heap per concurrent
    # task BEFORE the fraction squeeze — enough fixed overhead (task
    # bookkeeping, parquet readers, broadcast copy, shuffle client) to
    # not OOM outside the unified pool, while fraction 0.15 leaves each
    # task only ~35 MB of EXECUTION memory so sorts/aggs must spill.
    # (First attempt 3g/32 threads OOM'd in fixed overhead, not in the
    # spillable pool — spill can only save memory the manager governs.)
    "SPARK_GRAFT_DRIVER_MEM": "4g",
    "SPARK_GRAFT_CPUS": "16",
    "SPILL_PROBE_FRACTION": "0.15",      # default 0.6 — ~4x less exec memory
    "SPILL_PROBE_STORAGE_FRACTION": "0.2",
}


def _child(name: str) -> None:
    from pyspark.sql import functions as F

    from full_stack_big_data_spark.engine import session as S
    from full_stack_big_data_spark.operators.registry import load_all

    frac = os.environ.get("SPILL_PROBE_FRACTION")
    if frac:
        S._CONFS = dict(
            S._CONFS,
            **{"spark.memory.fraction": frac,
               "spark.memory.storageFraction":
                   os.environ.get("SPILL_PROBE_STORAGE_FRACTION", "0.2")})
    spark = S.get_spark(app_name=f"spill-probe-{name}")
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, os.path.join(HERE, "scripts"))
    from shuffle_audit import measure  # executed-plan metric walk

    spec = load_all()[name]
    m = measure(spark, spec.builder, SF10)

    # Order-insensitive distributed fingerprint: canonical JSON per row
    # (struct fields sorted by name), crc32 per row, sum + count. Same
    # engine on both sides of the A/B, so the rendering is identical.
    df = spec.builder(spark, SF10)
    cols = sorted(df.columns)
    fp_row = F.crc32(F.to_json(F.struct(*[F.col(c) for c in cols])))
    agg = df.select(F.sum(fp_row).alias("s"),
                    F.count(F.lit(1)).alias("n")).collect()[0]
    print(json.dumps({
        "name": name, "fingerprint": f"{agg['s']}:{agg['n']}",
        "rows": int(m["rows"]), "spilled": int(m["spilled"]),
        "peak": int(m["peak"]), "wall": round(m["wall"], 2),
    }))
    spark.stop()


# Per-query overrides on top of CONSTRAINED_ENV: families whose working
# set sits BELOW the default squeeze need a harder one before the spill
# path is exercised at all (text_ngram_counts' agg state is
# vocabulary-bounded — itself the scaling point — so only a near-zero
# pool forces its sorts to disk).
QUERY_TUNING: dict[str, dict[str, str]] = {
    "text_ngram_counts": {"SPILL_PROBE_FRACTION": "0.02"},
    # the kNN graph is probed at its DEPLOYMENT operating point (the
    # 16x9 scaled entry): the fixture 16x4 width at this corpus is the
    # documented catastrophic setting (bucket occupancy 1250 -> ~400M
    # candidate pairs) and OOMs a 4g JVM in UNMANAGED memory (Python
    # eval buffers / in-flight rows) that no spill can govern — that
    # failure is itself evidence for the sizing rule, recorded in
    # BENCHNOTES round 7. The scaled point still spills heavily (4 GB)
    # under this squeeze, so the grace path gets exercised.
    "emb_knn_graph_scaled": {"SPARK_GRAFT_DRIVER_MEM": "6g",
                             "SPARK_GRAFT_CPUS": "12",
                             "SPILL_PROBE_FRACTION": "0.08"},
}


def _run_child(name: str, constrained: bool) -> dict | None:
    env = dict(os.environ)
    env.pop("SPILL_PROBE_FRACTION", None)
    if constrained:
        env.update(CONSTRAINED_ENV)
        env.update(QUERY_TUNING.get(name, {}))
    else:
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    p = subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--child", name],
                       capture_output=True, text=True, env=env, cwd=HERE)
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    sys.stderr.write(p.stderr[-2000:] + "\n")
    return None


def mb(n: float) -> str:
    return f"{n / 1024 / 1024:.1f}"


def main() -> int:
    if len(sys.argv) >= 3 and sys.argv[1] == "--child":
        _child(sys.argv[2])
        return 0
    names = sys.argv[1:] or DEFAULT_NAMES
    if not os.path.isdir(SF10):
        print(f"missing {SF10}: run scripts/make_sf1.py first")
        return 2
    bad = []
    print(f"| query | mode | heap/fraction | spill MB | peak MB | wall s "
          f"| rows | fingerprint match |")
    print("|---|---|---|---|---|---|---|---|")
    for name in names:
        base = _run_child(name, constrained=False)
        con = _run_child(name, constrained=True)
        if not base or not con:
            bad.append(name)
            print(f"| {name} | — | — | — | — | — | — | "
                  f"{'baseline' if not base else 'constrained'} CRASHED |")
            continue
        match = base["fingerprint"] == con["fingerprint"]
        graceful = match and con["spilled"] > 0
        if not graceful:
            bad.append(name)
        print(f"| {name} | baseline | 8g/0.6 | {mb(base['spilled'])} | "
              f"{mb(base['peak'])} | {base['wall']} | {base['rows']} | |")
        tuned = dict(CONSTRAINED_ENV, **QUERY_TUNING.get(name, {}))
        print(f"| {name} | constrained | "
              f"{tuned['SPARK_GRAFT_DRIVER_MEM']}/"
              f"{tuned['SPILL_PROBE_FRACTION']} | "
              f"{mb(con['spilled'])} | {mb(con['peak'])} | {con['wall']} | "
              f"{con['rows']} | "
              f"{'YES' if match else 'NO'}"
              f"{' (no spill observed)' if match and con['spilled'] == 0 else ''} |")
    print(f"\nSPILL-GRACE {'OK' if not bad else 'FAIL'}: {bad or 'all'} "
          f"{'(completed + spilled + hash-identical)' if not bad else ''}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
