#!/usr/bin/env python3
"""Lambda-engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload speed_serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout that holds the ``full_stack_big_data_spark``
package. The benchmark generates its inputs from ``--seed`` under
``.bench_work/``, sets the program up once (a fresh JVM and session plus
a warm-up on fixed inputs shaped like the measured ones), measures the
workload for ``--seconds``, checks the outputs outside the timed region,
and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics from a separate traced run.
A failed correctness check prints the result with ``"correct": false``
and exits 1. Workload definitions live in ``perfbench/spec.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

from harness import (RssSampler, Tracer, canary, event_log_metrics, start_session,
                     stop_session, write_conf_dir)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "full_stack_big_data_spark"


def _load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _merge(base: dict, over: dict) -> dict:
    """``base`` with the values of ``over``, nested dicts merged key by key."""
    return {k: _merge(v, over.get(k, {})) if isinstance(v, dict) else over.get(k, v)
            for k, v in base.items()}


def _workload(name: str, props: dict, work: str, seed: int):
    if name == "speed_serve":
        from wl_speed_serve import SpeedServe
        return SpeedServe(props, work, seed)
    from wl_batch_curate import BatchCurate
    return BatchCurate(props, work, seed, os.path.join(ROOT, ".bench_cache"))


def _setup(wl, tracer, conf_dir, cpus=None):
    """One set-up: fresh JVM + session, then the workload's warm-up."""
    with tracer.span("engine.session.start", tracer.new_request()):
        spark, start_s = start_session(conf_dir, cpus)
    t = time.perf_counter()
    with tracer.span("engine.session.warm", tracer.new_request()):
        wl.warm(spark)
    warm_s = time.perf_counter() - t
    print(f"setup: session start {start_s:.3f} s, warm-up {warm_s:.3f} s")
    return spark, start_s, warm_s


def _measure_and_check(wl, spark, seconds, tracer, inject_fault=False):
    res = wl.measure(spark, seconds, tracer)
    if inject_fault:
        wl.corrupt(res)
    errors, extra = wl.check(spark, res, tracer)
    e2e, layer, attempted, failed = wl.metrics(res)
    layer.update(extra)
    return res, errors, e2e, layer, attempted, failed


def run(args) -> int:
    spec = _load_json(os.path.join(HERE, "spec.json"))
    bench = _load_json(os.path.join(ROOT, "BENCHMARK.json"))
    wspec = spec["workloads"][args.workload]
    props = _merge(wspec["props"], wspec["tiny"] if args.size == "tiny" else {})
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": spec["engine"]["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": spec["engine"]["SPARK_GRAFT_DRIVER_MEM"],
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp, "TZ": "UTC",
        # every JVM, the launcher's too: temp files in the work dir, no perf-data file
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers unpickle the program's UDFs by module path
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    time.tzset()
    sys.path.insert(0, ROOT)

    try:
        wl = _workload(args.workload, props, work, args.seed)
        print(f"input digest: {wl.generate()}  ({args.workload}, seed {args.seed})")
        layer = {}
        conf = os.path.join(work, "sparkconf")
        write_conf_dir(conf)
        if not args.trace:
            tracer = Tracer(False)
            with RssSampler() as rss:
                spark, s, w = _setup(wl, tracer, conf)
                res, errors, e2e, layer, attempted, failed = _measure_and_check(
                    wl, spark, args.seconds, tracer, args.inject_fault)
                stop_session(spark)
        else:
            # untraced reference for the tracing overhead: the ingest_eps phase alone
            plain, ref = Tracer(False), wl.ingest_phase()
            spark, _, _ = _setup(ref, plain, conf)
            plain_eps = ref.metrics(ref.measure(spark, args.seconds, plain))[0]["ingest_eps"][0]
            stop_session(spark)
            # traced session: spans on, Spark event log on
            tracer = Tracer(True)
            traced_conf = os.path.join(work, "sparkconf-traced")
            events = os.path.join(work, "eventlog")
            write_conf_dir(traced_conf, events)
            with RssSampler() as rss:
                spark, s, w = _setup(wl, tracer, traced_conf)
                layer["engine.session.start_s"], layer["engine.session.warm_s"] = s, w
                layer["bench.canary_s"] = canary(spark)
                window = (time.time(), None)
                res, errors, e2e, layer2, attempted, failed = _measure_and_check(
                    wl, spark, args.seconds, tracer, args.inject_fault)
                window = (window[0], time.time())
                layer.update(layer2)
                app_id = spark.sparkContext.applicationId
                cores = spark.sparkContext.defaultParallelism
                stop_session(spark)
            layer.update(event_log_metrics(events, app_id, window, cores))
            layer["bench.trace_overhead_ratio"] = plain_eps / e2e["ingest_eps"][0]
            if args.workload == "speed_serve":
                # single-threaded baseline of the same drain; its first round warms up
                spark, _ = start_session(conf, cpus=1)
                one = wl.drain.measure(spark, 0, Tracer(False))
                stop_session(spark)
                rate1 = wl.drain.ledger["rows"] / one["rounds"][-1]["drain_s"]
                layer["streaming.speedup_vs_1core"] = plain_eps / rate1
            for lname, self_s in tracer.self_times().items():
                layer[f"trace.self_s.{lname}"] = self_s
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        for k, v in sorted(layer.items()):
            print(f"{k}: {v}" if isinstance(v, str) else f"layer {k} = {v:.6g}")
        e2e["setup_s"] = (s + w, "s", 1)
        e2e["peak_rss_mb"] = (rss.peak / 2**20, "MB", 1)
        layer["error_rate"] = failed / max(attempted, 1)
        for e in errors:
            print(f"CHECK FAILED: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["end_to_end"] if not args.trace else bench["per_layer"]
    metrics = {}
    for m in wanted:
        if not args.trace:
            value, _, n = e2e[m["name"]]
            if not math.isfinite(value):
                print(f"no samples for {m['name']}", file=sys.stderr)
                return 3
            print(f"metric {m['name']} = {value:.6g} {m['unit']} (n={n})")
        else:
            # a layer the workload does not exercise, or one without samples, reads 0
            value = float(layer.get(m["name"], 0.0))
            value = value if math.isfinite(value) else 0.0
            print(f"metric {m['name']} = {value:.6g} {m['unit']}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    correct = not errors
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["speed_serve", "batch_curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: the smoke test's input sizes")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one program result before the check (smoke test)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run from a checkout root holding the {PACKAGE} package "
              f"(not found under {ROOT})", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        print("BENCHMARK.json not found in the working directory", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
