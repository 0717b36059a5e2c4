"""Every engine name a ``scripts/*.py`` file imports still exists.

The scripts are never imported by the suite (most start a SparkSession
at module level), so a refactor that renames or deletes an engine
symbol would otherwise leave them broken until someone next runs one.
This parses each script with ``ast`` — nothing in it executes — and
checks every ``from full_stack_big_data_spark… import X`` against the
named module."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(HERE, "scripts")
PKG = "full_stack_big_data_spark"


def _engine_imports(path: str) -> list[tuple[int, str, str]]:
    """(line, module, name) for every engine from-import in a file,
    module-level or function-local."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.ImportFrom) and node.level == 0
                and node.module
                and (node.module == PKG or node.module.startswith(PKG + "."))):
            out += [(node.lineno, node.module, a.name) for a in node.names]
    return out


def _script_files() -> list[str]:
    return sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))


def test_scripts_are_found():
    assert _script_files()
    assert any(_engine_imports(os.path.join(SCRIPTS, f))
               for f in _script_files())


@pytest.mark.parametrize("script", _script_files())
def test_script_engine_imports_resolve(script):
    missing = []
    for line, module, name in _engine_imports(os.path.join(SCRIPTS, script)):
        mod = importlib.import_module(module)
        if name == "*" or hasattr(mod, name):
            continue
        # ``from pkg import submodule`` names a module, not an attribute
        if (not hasattr(mod, "__path__")
                or importlib.util.find_spec(f"{module}.{name}") is None):
            missing.append(f"{script}:{line}: {module}.{name}")
    assert not missing, missing
