"""Every top-level function of the package is referenced somewhere.

A def whose name no Python file of the repository references in code --
as a name, an attribute or an imported name -- is dead code.  Mentions
in docstrings, comments and other strings do not count, and neither do
a function's references to itself.  Functions decorated with
`@register(...)` are reached through the query registry, so they count
as used.
"""

from __future__ import annotations

import ast
import os

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


def _code_refs(node: ast.AST, skip: str = "") -> set[str]:
    """Names `node` references in code: names other than `skip`,
    attribute names and imported names (the last dotted part)."""
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and n.id != skip:
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.alias):
            refs.add(n.name.rsplit(".", 1)[-1])
    return refs


def test_no_unreferenced_top_level_defs():
    trees = {path: ast.parse(open(path).read()) for path in _py_files(ROOT)}
    refs: set[str] = set()
    for tree in trees.values():
        for node in tree.body:
            # a def's bare-name calls to itself (recursion) keep nothing alive
            refs |= _code_refs(node, getattr(node, "name", ""))
    unreferenced = [
        f"{os.path.relpath(path, ROOT)}::{node.name}"
        for path, tree in trees.items()
        if path.startswith(PACKAGE + os.sep)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not _registered(node)
        and node.name not in refs
    ]
    assert unreferenced == []
