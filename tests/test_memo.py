"""The process-wide memo (engine/scratch.py) and the one drain
(streaming/core.py): build-once and run-once each have one home."""

from __future__ import annotations

import ast
import os

import pytest

from full_stack_big_data_spark.engine import scratch

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(HERE, "full_stack_big_data_spark")
CORE = os.path.join("streaming", "core.py")
SCRATCH = os.path.join("engine", "scratch.py")

# Module-level containers that are state, not build-once memos: the
# rollup's store-checked serving view, the worker daemon's archive
# fingerprints, the query registry, the live candidate sensors.
NOT_MEMOS = {
    (os.path.join("streaming", "rollup.py"), "_views"),
    (os.path.join("engine", "pyworker.py"), "_read_at"),
    (os.path.join("operators", "registry.py"), "REGISTRY"),
    (os.path.join("functions", "observability.py"), "_active"),
}


@pytest.fixture
def fresh_memo(monkeypatch):
    monkeypatch.setattr(scratch, "_memo", {})
    monkeypatch.setattr(scratch, "_per_run", set())


def test_make_runs_once_per_key(fresh_memo):
    calls = []

    def make(v):
        return lambda: calls.append(v) or v

    assert scratch.memo(("a", "sf1"), make(1)) == 1
    assert scratch.memo(("a", "sf1"), make(2)) == 1
    assert scratch.memo(("a", "sf2"), make(3)) == 3
    assert scratch.memo(("b", "sf1"), make(4), per_run=True) == 4
    assert scratch.memo(("b", "sf1"), make(5), per_run=True) == 4
    assert calls == [1, 3, 4]


def test_forget_runs_drops_per_run_entries_and_keeps_artifacts(fresh_memo):
    scratch.memo("artifact", lambda: "index")
    scratch.memo("run", lambda: "dirs-1", per_run=True)
    scratch.forget_runs()
    assert scratch.memo("artifact", lambda: "rebuilt") == "index"
    assert scratch.memo("run", lambda: "dirs-2", per_run=True) == "dirs-2"
    scratch.forget_runs()
    scratch.forget_runs()
    assert scratch.memo("run", lambda: "dirs-3", per_run=True) == "dirs-3"
    assert scratch.memo("artifact", lambda: "rebuilt") == "index"


def test_a_raising_make_leaves_no_entry(fresh_memo):
    def boom():
        raise RuntimeError("build failed")

    for per_run in (False, True):
        with pytest.raises(RuntimeError, match="build failed"):
            scratch.memo("k", boom, per_run=per_run)
        assert "k" not in scratch._memo and "k" not in scratch._per_run
    assert scratch.memo("k", lambda: "built") == "built"


def _sources() -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    out[os.path.relpath(path, PKG)] = fh.read()
    return out


def _module_containers(text: str) -> list[str]:
    """Names bound at module level to an empty dict or set — the shape
    of a per-module memo."""
    out = []
    for node in ast.parse(text).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = ((isinstance(value, ast.Dict) and not value.keys)
                 or (isinstance(value, ast.Call)
                     and isinstance(value.func, ast.Name)
                     and value.func.id in ("dict", "set")
                     and not value.args and not value.keywords))
        if empty:
            out += [t.id for t in targets if isinstance(t, ast.Name)]
    return out


def test_memo_and_drain_live_only_in_the_engine_helpers():
    """A second ``foreachBatch(`` call or module-level memo dict
    anywhere in the package is drift back to per-module copies."""
    src = _sources()
    assert CORE in src and SCRATCH in src
    assert sorted(name for name, text in src.items()
                  if "foreachBatch(" in text) == [CORE]
    memos = sorted((name, var) for name, text in src.items()
                   for var in _module_containers(text)
                   if (name, var) not in NOT_MEMOS)
    assert memos == [(SCRATCH, "_memo"), (SCRATCH, "_per_run")]
