"""Every private module-level function of the package has a caller.

A helper whose last caller was deleted stays importable and keeps
passing its own tests, so nothing else notices it. This scan parses
every module of ``dbt_on_snowflake_spark`` (no Spark needed) and fails
on a ``_name`` function that nothing in the package references outside
its own ``def``.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "dbt_on_snowflake_spark"


def _referenced_names(tree: ast.AST, skip: dict[str, range]) -> set[str]:
    """Names loaded, attribute names and imported names in ``tree``,
    except a function's references to itself inside its own body
    (``skip`` maps a name to the line span of its def)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
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


def test_no_unreferenced_private_functions():
    defined: dict[str, list[str]] = {}
    referenced: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        spans = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name.startswith("_") and not node.name.startswith("__"):
                    defined.setdefault(node.name, []).append(
                        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
                    )
                    spans[node.name] = range(node.lineno, node.end_lineno + 1)
        referenced |= _referenced_names(tree, spans)
    dead = sorted(
        loc for name, locs in defined.items() if name not in referenced
        for loc in locs
    )
    assert not dead, f"private functions nothing references: {dead}"
