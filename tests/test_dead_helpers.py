"""Every private module-level function and every module-level constant
of the package has a reader.

A helper whose last caller was deleted stays importable and keeps
passing its own tests, so nothing else notices it; a constant whose
last reader went keeps its value, and any environment read behind it,
for nobody. This scan parses the source (no Spark needed) and fails on
a ``_name`` function that nothing in the package references outside its
own ``def``, and on an UPPER_CASE module-level constant of the package
that nothing in the package, the tests, ``perfbench/``, ``bench.py``,
``scale_probe.py`` or ``__spark_entry__.py`` reads.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "dbt_on_snowflake_spark"
# everything outside the package that may read a package constant
READERS = [
    *sorted((REPO / "tests").rglob("*.py")),
    *sorted((REPO / "perfbench").rglob("*.py")),
    REPO / "bench.py",
    REPO / "scale_probe.py",
    REPO / "__spark_entry__.py",
]
CONSTANT = re.compile(r"_?[A-Z][A-Z0-9_]*")


def _referenced_names(tree: ast.AST, skip: dict[str, range]) -> set[str]:
    """Names loaded, attribute names and imported names in ``tree``,
    except a function's references to itself inside its own body
    (``skip`` maps a name to the line span of its def). A name that is
    only assigned to is not a reference."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            if isinstance(node.ctx, ast.Store):
                continue
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        else:
            continue
        span = skip.get(name)
        if span is None or getattr(node, "lineno", -1) not in span:
            out.add(name)
    return out


def _package_trees():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path, ast.parse(path.read_text(), filename=str(path))


def _where(path: Path, node: ast.AST) -> str:
    return f"{path.relative_to(REPO)}:{node.lineno}"


def test_no_unreferenced_private_functions():
    defined: dict[str, list[str]] = {}
    referenced: set[str] = set()
    for path, tree in _package_trees():
        spans = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name.startswith("_") and not node.name.startswith("__"):
                    defined.setdefault(node.name, []).append(_where(path, node))
                    spans[node.name] = range(node.lineno, node.end_lineno + 1)
        referenced |= _referenced_names(tree, spans)
    dead = sorted(
        loc for name, locs in defined.items() if name not in referenced
        for loc in locs
    )
    assert not dead, f"private functions nothing references: {dead}"


def test_no_unreferenced_constants():
    defined: dict[str, list[str]] = {}
    referenced: set[str] = set()
    for path, tree in _package_trees():
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and CONSTANT.fullmatch(t.id):
                    defined.setdefault(t.id, []).append(_where(path, node))
        referenced |= _referenced_names(tree, {})
    for path in READERS:
        referenced |= _referenced_names(
            ast.parse(path.read_text(), filename=str(path)), {}
        )
    dead = sorted(
        loc for name, locs in defined.items() if name not in referenced
        for loc in locs
    )
    assert not dead, f"module-level constants nothing reads: {dead}"
