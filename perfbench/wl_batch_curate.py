"""batch_curate: the batch layer over a seeded text + embedding corpus.

The registered builders below run, in order, against the generated
directory; each result is materialised to Arrow on the driver. One pass
of all stages is one batch recompute; the run makes one pass per
``nominal_pass_s`` of its measuring time and reports medians. Every
stage's result in every pass is compared with its registry DuckDB oracle
on the same directory.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

import numpy as np

import gen
from harness import pctl

STAGES = (
    ("wordcount_batch", "operators.wordcount.s"),
    ("wordcount_diff", "operators.wordcount.diff_s"),
    ("pipeline_curate", "operators.pipeline.curate_s"),
    ("dedup_minhash_lsh", "operators.dedup.minhash_s"),
    ("embedding_neardup_banded_scaled", "operators.similarity.neardup_s"),
    ("ann_ivf_scaled", "operators.similarity.ivf_s"),
)


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.15g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return repr(v)


def result_hash(table) -> str:
    """Order-insensitive hash of an Arrow table: columns by name, rows
    sorted, floats at 15 significant digits."""
    cols = sorted(table.column_names)
    rows = sorted("|".join(_cell(r[c]) for c in cols) for r in table.to_pylist())
    h = hashlib.sha256(("\t".join(cols) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return f"{len(rows)}:{h.hexdigest()[:16]}"


class BatchCurate:
    name = "batch_curate"

    def __init__(self, props: dict, work: str, seed: int, cache_dir: str):
        self.props, self.work, self.seed, self.cache_dir = props, work, seed, cache_dir

    def generate(self) -> str:
        self.dir = os.path.join(self.work, "corpus")
        self.corpus = gen.curate_corpus(self.dir, self.seed, self.props)
        self.warm_dir = os.path.join(self.work, "warm_corpus")
        gen.curate_corpus(self.warm_dir, 0, self.props)
        return self.corpus["digest"]

    def _pass(self, spark, sf_dir: str, tracer) -> list[tuple[str, float, float, object]]:
        from full_stack_big_data_spark.engine.session import release_scoped_cache
        from full_stack_big_data_spark.operators.registry import load_all
        reg = load_all()
        out, t0 = [], time.perf_counter()
        for name, layer in STAGES:
            t = time.perf_counter()
            with tracer.span(f"operators.{layer.split('.')[1]}.{name}", tracer.new_request()):
                table = reg[name].builder(spark, sf_dir).toArrow()
                release_scoped_cache(spark)
            e = time.perf_counter()
            out.append((name, e - t, e - t0, table))
        return out

    def warm(self, spark) -> None:
        from harness import Tracer
        self._pass(spark, self.warm_dir, Tracer(False))

    def ingest_phase(self) -> "BatchCurate":
        return self

    def measure(self, spark, seconds: float, tracer) -> dict:
        # a fixed number of passes per measuring time, whatever the speed
        passes = [self._pass(spark, self.dir, tracer)
                  for _ in range(max(1, round(seconds / self.props["nominal_pass_s"])))]
        return {"passes": passes}

    def corrupt(self, res: dict) -> None:
        """Drop one row of the last pass's word count."""
        name, dt, off, table = res["passes"][-1][0]
        res["passes"][-1][0] = (name, dt, off, table.slice(0, table.num_rows - 1))

    def _oracle_hashes(self) -> dict[str, str]:
        """DuckDB oracle hash per stage, cached per seed and corpus size."""
        import duckdb
        from full_stack_big_data_spark.operators.registry import load_all
        reg = load_all()
        key = gen.ledger_digest({"seed": self.seed, "props": self.props,
                                 "oracles": [reg[n].oracle for n, _ in STAGES]})
        path = os.path.join(self.cache_dir, f"batch_curate-{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        hashes = {n: result_hash(con.execute(reg[n].oracle).arrow()) for n, _ in STAGES}
        con.close()
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(hashes, f)
        os.replace(path + ".tmp", path)
        return hashes

    def check(self, spark, res: dict, tracer) -> tuple[list[str], dict]:
        errors, extra = [], {}
        want = self._oracle_hashes()
        for i, p in enumerate(res["passes"]):
            for name, _, _, table in p:
                got = result_hash(table)
                if got != want[name]:
                    errors.append(f"pass {i} {name}: result {got} != oracle {want[name]}")
        last = {name: table for name, _, _, table in res["passes"][-1]}
        pairs = set(zip(last["dedup_minhash_lsh"].column("doc_a").to_pylist(),
                        last["dedup_minhash_lsh"].column("doc_b").to_pylist()))
        planted = self.corpus["near_pairs"]
        extra["operators.dedup.minhash_recall"] = (
            sum(1 for a, b in planted if (min(a, b), max(a, b)) in pairs) / max(len(planted), 1))
        ivf = last["ann_ivf_scaled"]
        found = set(zip(ivf.column("query_id").to_pylist(), ivf.column("neighbor_id").to_pylist()))
        planted_nn = self.corpus["ivf_planted"]
        extra["operators.similarity.ivf_recall"] = (
            sum(1 for q, j in planted_nn.items() if (q, j) in found) / max(len(planted_nn), 1))
        return errors, extra

    def metrics(self, res: dict):
        passes = res["passes"]
        pass_s = [p[-1][2] for p in passes]
        stage_s = [s[1] for p in passes for s in p]
        offsets = [s[2] for p in passes for s in p]
        e2e = {
            "ingest_eps": (self.corpus["docs"] / float(np.median(pass_s)), "1/s", len(pass_s)),
            "fresh_p50_s": (pctl(offsets, 50), "s", len(offsets)),
            "fresh_p90_s": (pctl(offsets, 90), "s", len(offsets)),
            "serve_p50_s": (pctl(stage_s, 50), "s", len(stage_s)),
            "serve_p90_s": (pctl(stage_s, 90), "s", len(stage_s)),
        }
        layer = {metric: float(np.median([p[i][1] for p in passes]))
                 for i, (_, metric) in enumerate(STAGES)}
        layer["pass seconds"] = " ".join(f"{s:.3f}" for s in pass_s)
        attempted = len(stage_s)
        return e2e, layer, attempted, 0
