"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q      # from the repository root

Checks that one command prints every metric with its unit, that the
inputs are a pure function of the seed, and that a corrupted program
result fails the correctness check. Takes a few minutes: every run
starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(HERE, "spec.json")))


def _tiny(workload: str, phase: str | None = None) -> dict:
    w = SPEC["workloads"][workload]
    props, tiny = (w["props"][phase], w["tiny"][phase]) if phase else (w["props"], w["tiny"])
    return dict(props, **tiny)


def _run(workload: str, seed: int, *extra: str) -> tuple[int, list[str]]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "4", "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    return out.returncode, out.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    rec = json.loads(lines[-1])
    assert set(rec) == {"correct", "attempted", "failed", "metrics"}
    return rec


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_prints_every_end_to_end_metric_with_unit(workload):
    rc, lines = _run(workload, 7, "--trace", "0")
    assert rc == 0, lines[-20:]
    rec = _result(lines)
    assert rec["correct"] and rec["attempted"] >= 1
    for m in BENCH["end_to_end"]:
        got = rec["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, (m["name"], got)
        assert any(ln.startswith(f"metric {m['name']} = ") and "(n=" in ln for ln in lines)
    assert set(rec["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}


def test_traced_run_prints_every_per_layer_metric():
    rc, lines = _run("speed_serve", 7, "--trace", "1")
    assert rc == 0, lines[-20:]
    rec = _result(lines)
    assert set(rec["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    for m in BENCH["per_layer"]:
        assert rec["metrics"][m["name"]]["unit"] == m["unit"]
    assert rec["metrics"]["streaming.wordcount_stream.batches"]["value"] > 0
    assert rec["metrics"]["spark.tasks"]["value"] > 0


def test_same_seed_same_bytes(tmp_path):
    a = gen.tweet_backlog(str(tmp_path / "a"), 5, _tiny("speed_serve", "drain"))
    b = gen.tweet_backlog(str(tmp_path / "b"), 5, _tiny("speed_serve", "drain"))
    c = gen.tweet_backlog(str(tmp_path / "c"), 6, _tiny("speed_serve", "drain"))
    assert a["digest"] == b["digest"] != c["digest"]
    d = gen.curate_corpus(str(tmp_path / "d"), 5, _tiny("batch_curate"))
    e = gen.curate_corpus(str(tmp_path / "e"), 5, _tiny("batch_curate"))
    f = gen.curate_corpus(str(tmp_path / "f"), 6, _tiny("batch_curate"))
    assert d["digest"] == e["digest"] != f["digest"]
    ts = [1_800_000_000_000_000] * 50
    s1, s2, s3 = (gen.EventStream(seed, _tiny("speed_serve", "live")) for seed in (5, 5, 6))
    assert s1.batch(50, ts) == s2.batch(50, ts) != s3.batch(50, ts)


def test_run_prints_the_same_digest_for_the_same_seed():
    digests = []
    for _ in range(2):
        rc, lines = _run("batch_curate", 9, "--trace", "0")
        assert rc == 0, lines[-20:]
        digests.append([ln for ln in lines if ln.startswith("input digest:")])
    assert digests[0] and digests[0] == digests[1]


def test_avro_writer_follows_the_spec():
    assert gen.avro_long(0) == b"\x00" and gen.avro_long(-1) == b"\x01"
    assert gen.avro_long(1) == b"\x02" and gen.avro_long(-64) == b"\x7f"
    assert gen.avro_long(64) == b"\x80\x01" and gen.avro_long(-65) == b"\x81\x01"
    assert gen.avro_string("ab") == b"\x04ab"


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_corrupted_result_fails_the_check(workload):
    rc, lines = _run(workload, 7, "--trace", "0", "--inject-fault")
    assert rc == 1, lines[-20:]
    assert _result(lines)["correct"] is False
    assert any(ln.startswith("CHECK FAILED:") for ln in lines)
