"""Static guard over the scripts that call into the package from outside
it (tools, jobs, benches, the driver entry point): every
``from fastobo_py_spark... import name`` must resolve, and every keyword
passed to a function imported that way must be in its signature. AST
only — no script is run and no Spark session starts — so a rename or a
deleted option in the package fails here instead of at the next manual
run of a rarely-used tool."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = sorted(
    [
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("jobs/*.py"),
        *ROOT.glob("perfbench/*.py"),
        ROOT / "bench.py",
        ROOT / "bench_extra.py",
        ROOT / "__spark_entry__.py",
    ]
)
PACKAGE = "fastobo_py_spark"


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds (attribute or submodule)."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def _problems(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    bound: dict[str, list] = {}
    problems = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level or not node.module:
            continue
        if node.module != PACKAGE and not node.module.startswith(PACKAGE + "."):
            continue
        for alias in node.names:
            try:
                obj = _resolve(node.module, alias.name)
            except ImportError as e:
                problems.append(f"line {node.lineno}: from {node.module} import {alias.name}: {e}")
                continue
            bound.setdefault(alias.asname or alias.name, []).append(obj)
    # a name imported twice as different objects (function-local imports)
    # is ambiguous without scope analysis: check only unambiguous names
    names = {k: v[0] for k, v in bound.items() if all(o is v[0] for o in v)}
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in names:
            target, label = names[f.id], f.id
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and inspect.ismodule(names.get(f.value.id))
        ):
            label = f"{f.value.id}.{f.attr}"
            if not hasattr(names[f.value.id], f.attr):
                problems.append(f"line {node.lineno}: {label} does not exist")
                continue
            target = getattr(names[f.value.id], f.attr)
        else:
            continue
        if not callable(target) or inspect.ismodule(target):
            continue
        try:
            params = inspect.signature(target).parameters
        except (TypeError, ValueError):
            continue  # builtins without an introspectable signature
        if any(p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()):
            continue
        for kw in node.keywords:
            if kw.arg is not None and kw.arg not in params:
                problems.append(f"line {node.lineno}: {label}() has no keyword {kw.arg!r}")
    return problems


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_imports_and_keywords_resolve(path):
    assert path.exists()
    assert _problems(path) == []
