"""Dead-code guard: every module-level function and class in the package
must be named somewhere other than its own definition.

Pure AST, no Spark session. A name counts as used when it appears as a
bare name, an attribute, an imported name or an exact string constant
(``getattr(mod, "x")``, ``__all__``) in the package, the contract
registry, ``bench.py``, ``tools/``, ``perfbench/`` or ``tests/`` —
outside the body of the definition itself, so recursion alone does not
keep a helper alive.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "oracle_duckdb_sync_spark"
SCANNED = (PACKAGE, "__spark_entry__.py", "bench.py", "tools", "perfbench", "tests")


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for dirpath, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _unreferenced() -> list[str]:
    trees = {}
    for rel in SCANNED:
        for path in _py_files(rel):
            with open(path, encoding="utf-8") as f:
                trees[path] = ast.parse(f.read(), filename=path)
    used_by_file = {path: _names(tree) for path, tree in trees.items()}
    dead = []
    for path, tree in trees.items():
        if not os.path.relpath(path, ROOT).startswith(PACKAGE + os.sep):
            continue
        defs = [
            n
            for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not n.name.startswith("__")
        ]
        per_node = [_names(n) for n in tree.body]
        for d in defs:
            if any(
                d.name in names
                for n, names in zip(tree.body, per_node)
                if n is not d
            ):
                continue
            if any(d.name in used for p, used in used_by_file.items() if p != path):
                continue
            dead.append(f"{os.path.relpath(path, ROOT)}::{d.name}")
    return sorted(dead)


def test_no_unreferenced_module_level_definitions():
    assert _unreferenced() == []
