"""Every module-level function of the library has a user: a function
that no library module, test, tool, benchmark script or entry script
references is dead code, and fails this test. A reference is a name,
an attribute, an import or a string naming it (``getattr`` and the
benchmark tracer reach functions by name). Queries registered with
``@query`` are reached through the registry, so they are exempt."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIB = ROOT / "lakehouse_architecture_spark"
SEARCHED = [LIB, ROOT / "tests", ROOT / "tools", ROOT / "perfbench"]
SCRIPTS = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _trees():
    for path in [p for d in SEARCHED for p in sorted(d.rglob("*.py"))] + SCRIPTS:
        yield path, ast.parse(path.read_text(), filename=str(path))


def _registered(fn: ast.FunctionDef) -> bool:
    for dec in fn.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _references(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            last = node.value.rsplit(".", 1)[-1]
            if last.isidentifier():
                yield last


def test_every_library_function_is_referenced():
    trees = list(_trees())
    used = Counter(name for _, tree in trees for name in _references(tree))
    dead = [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path, tree in trees
        if path.is_relative_to(LIB)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not _registered(node)
        and not used[node.name]
    ]
    assert not dead, "functions nothing references:\n" + "\n".join(dead)
