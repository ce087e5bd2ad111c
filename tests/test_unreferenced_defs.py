"""Every top-level function of the package is referenced somewhere.

A def whose name occurs nowhere in the repository's Python files except
at its own definition is dead code.  Functions decorated with
`@register(...)` are reached through the query registry, so they count
as used.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "dbt_metrics_ingestion_script_spark")


def _py_files(top: str):
    for d, dirs, names in os.walk(top):
        dirs[:] = [x for x in dirs if not x.startswith((".", "__pycache__"))]
        yield from (os.path.join(d, n) for n in names if n.endswith(".py"))


def _registered(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in fn.decorator_list
    )


def test_no_unreferenced_top_level_defs():
    sources = {path: open(path).read() for path in _py_files(ROOT)}
    words = Counter(w for text in sources.values() for w in re.findall(r"\w+", text))
    unreferenced = [
        f"{os.path.relpath(path, ROOT)}::{node.name}"
        for path, text in sources.items()
        if path.startswith(PACKAGE + os.sep)
        for node in ast.parse(text).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not _registered(node)
        and words[node.name] == 1
    ]
    assert unreferenced == []
