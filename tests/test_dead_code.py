"""Dead-code guard: every top-level function in the package that is not a
``@register``-ed query must be named somewhere besides its own ``def`` —
in the package, the tests, the tools, the benchmark, ``bench.py`` or the
driver entry module. A helper whose last caller goes away fails here
instead of lingering. The match is a plain word-boundary search, so a
name used through ``getattr`` or a tracing target string also counts.

Module-level imports get the same guard, per module: an imported name that
its module never reads fails here."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "cicevse2024_tfm_datapipeline_spark")

#: (module path relative to the package, function name) kept on purpose
_UNREFERENCED_ALLOWLIST: set[tuple[str, str]] = set()


def _py_files(root: str):
    for base, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(base, f)


def _is_register(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(target, ast.Name) and target.id == "register") or (
        isinstance(target, ast.Attribute) and target.attr == "register"
    )


def test_no_unreferenced_top_level_functions():
    corpus_files = [
        *_py_files(PKG),
        *_py_files(os.path.join(REPO, "tests")),
        *_py_files(os.path.join(REPO, "tools")),
        *_py_files(os.path.join(REPO, "perfbench")),
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "__spark_entry__.py"),
    ]
    corpus = "\n".join(open(p).read() for p in corpus_files)
    # a word-boundary match of an identifier is a whole \w+ token
    uses = Counter(re.findall(r"\w+", corpus))
    defs = Counter(re.findall(r"\bdef\s+(\w+)", corpus))
    dead = []
    for path in _py_files(PKG):
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if any(_is_register(d) for d in node.decorator_list):
                continue
            name = node.name
            if uses[name] == defs[name] and (rel, name) not in _UNREFERENCED_ALLOWLIST:
                dead.append(f"{rel}:{node.lineno} {name}")
    assert not dead, f"top-level functions referenced nowhere: {dead}"


#: (module path relative to the package, imported name) kept on purpose
_UNUSED_IMPORT_ALLOWLIST: set[tuple[str, str]] = set()


def _bound_names(node: ast.Import | ast.ImportFrom):
    for alias in node.names:
        if alias.name == "*":
            continue
        yield alias.asname or alias.name.split(".")[0]


def test_no_unused_module_level_imports():
    """Every name a package module imports at its top level is read as an
    ``ast.Name`` somewhere in that module (f-string fields included)."""
    unused = []
    for path in _py_files(PKG):
        if os.path.basename(path) == "__init__.py":
            continue
        rel = os.path.relpath(path, PKG)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for name in _bound_names(node):
                if name not in names and (rel, name) not in _UNUSED_IMPORT_ALLOWLIST:
                    unused.append(f"{rel}:{node.lineno} {name}")
    assert not unused, f"module-level imports never used: {unused}"
