"""Every top-level function and every module of the package is used.

A def whose name no Python file of the repository references in code --
as a name, an attribute or an imported name -- is dead code.  Mentions
in docstrings, comments and other strings do not count, and neither do
a function's references to itself.  Functions decorated with
`@register(...)` are reached through the query registry, so they count
as used.

A package module that only tests import is dead code too: it must be
imported, itself or through one of its submodules, by a file outside
`tests/` (the package, `perfbench/`, `scripts/`, `bench.py`,
`__spark_entry__.py`).
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "dbt_metrics_ingestion_script_spark")
TESTS = os.path.join(ROOT, "tests")


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


def _module_name(path: str) -> str:
    parts = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: str, tree: ast.AST) -> set[str]:
    """Dotted names `path` imports: each `import` target, each `from`
    module, and each `from` module joined with its imported names (which
    may be submodules); relative imports resolved against the file's
    package."""
    package = _module_name(path)
    if not path.endswith("__init__.py"):
        package = package.rpartition(".")[0]
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            out |= {a.name for a in n.names}
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                anchor = package.rsplit(".", n.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            out.add(base)
            out |= {f"{base}.{a.name}" for a in n.names}
    return out


def test_every_package_module_is_imported_outside_tests():
    imported: set[str] = set()
    modules = set()
    for path in _py_files(ROOT):
        if path.startswith(TESTS + os.sep):
            continue
        imported |= _imported_modules(path, ast.parse(open(path).read()))
        if path.startswith(PACKAGE + os.sep):
            modules.add(_module_name(path))
    pkg = os.path.basename(PACKAGE)
    unreached = sorted(
        name[len(pkg) + 1 :]
        for name in modules
        if name != f"{pkg}.__main__"
        and not any(i == name or i.startswith(name + ".") for i in imported)
    )
    assert unreached == []
