"""Guard against unreferenced package functions.

Every undecorated top-level function in `pytorch_ie_spark/` must be
referenced somewhere outside its own body: as a `Name`, an `Attribute`
or an import alias, in the package, the tests, the scripts, the
benchmark harness or the Spark entry point. Docstrings and other string
literals do not count. Pure AST scan, no Spark.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "pytorch_ie_spark"


def _search_files() -> list[Path]:
    files = [
        *PACKAGE.rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *ROOT.glob("bench*.py"),
        ROOT / "__spark_entry__.py",
    ]
    return [f for f in files if f.is_file()]


def _referenced_names(node: ast.AST) -> Counter:
    names: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names[n.id] += 1
        elif isinstance(n, ast.Attribute):
            names[n.attr] += 1
        elif isinstance(n, ast.alias):
            names[n.name.rsplit(".", 1)[-1]] += 1
    return names


def unreferenced_functions() -> list[str]:
    total: Counter = Counter()
    # (file, function name, names referenced inside its own body)
    candidates = []
    for f in _search_files():
        tree = ast.parse(f.read_text(), filename=str(f))
        in_package = PACKAGE in f.parents
        for node in tree.body:
            names = _referenced_names(node)
            total.update(names)
            if (
                in_package
                and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.decorator_list
            ):
                candidates.append((f, node.name, names))
    # references inside the function's own body (recursion) do not keep it
    # alive
    return sorted(
        f"{f.relative_to(ROOT)}::{name}"
        for f, name, own in candidates
        if total[name] == own[name]
    )


def test_every_package_function_is_referenced():
    dead = unreferenced_functions()
    assert dead == [], "functions that nothing references:\n" + "\n".join(dead)
