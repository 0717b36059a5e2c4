"""Every engine name a ``scripts/*.py`` file imports still exists.

The scripts are never imported by the suite (most start a SparkSession
at module level), so a refactor that renames or deletes an engine
symbol would otherwise leave them broken until someone next runs one.
This parses each script with ``ast`` — nothing in it executes — and
checks every ``from full_stack_big_data_spark… import X`` against the
named module, and every attribute use ``m.X`` of a name bound to an
engine module (``import full_stack_big_data_spark.a.b as m``,
``from full_stack_big_data_spark.a import b as m``) against that
module."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(HERE, "scripts")
PKG = "full_stack_big_data_spark"


def _is_engine(module: str) -> bool:
    return module == PKG or module.startswith(PKG + ".")


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), filename=path)


def _engine_imports(path: str) -> list[tuple[int, str, str]]:
    """(line, module, name) for every engine from-import in a file,
    module-level or function-local."""
    return [(node.lineno, node.module, a.name)
            for node in ast.walk(_parse(path))
            if (isinstance(node, ast.ImportFrom) and node.level == 0
                and node.module and _is_engine(node.module))
            for a in node.names]


def _submodule(module: str, name: str) -> str | None:
    """``module.name`` if that names a submodule of the package
    ``module``, else None."""
    mod = importlib.import_module(module)
    full = f"{module}.{name}"
    if hasattr(mod, "__path__") and importlib.util.find_spec(full):
        return full
    return None


def _module_aliases(tree: ast.Module) -> dict[str, str]:
    """Local name → engine module, for every name an import binds to
    an engine module (anywhere in the file)."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _is_engine(a.name):
                    # ``import pkg.a.b`` binds ``pkg``; ``… as m`` binds m
                    out[a.asname or PKG] = a.name if a.asname else PKG
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and node.module and _is_engine(node.module)):
            for a in node.names:
                full = _submodule(node.module, a.name)
                if full:
                    out[a.asname or a.name] = full
    return out


def _missing_attributes(path: str) -> list[str]:
    """``line: module.X`` for every attribute use of an engine-module
    alias whose module has no ``X``."""
    tree = _parse(path)
    aliases = _module_aliases(tree)
    missing = set()
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        chain, base = [], node
        while isinstance(base, ast.Attribute):
            chain.insert(0, base.attr)
            base = base.value
        if not isinstance(base, ast.Name) or base.id not in aliases:
            continue
        module = aliases[base.id]
        for attr in chain:
            sub = _submodule(module, attr)
            if sub:
                module = sub
                continue
            if not hasattr(importlib.import_module(module), attr):
                missing.add(f"{node.lineno}: {module}.{attr}")
            break
    return sorted(missing)


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
    missing += [f"{script}:{m}"
                for m in _missing_attributes(os.path.join(SCRIPTS, script))]
    assert not missing, missing
