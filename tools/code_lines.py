"""Count code lines per module: lines that hold Python code, excluding
docstrings, comment-only lines and blank lines.

A line counts when it lies inside some statement's span, is not part of a
module, class or function docstring, and is neither blank nor a comment
(blank and ``#`` lines inside a multi-line string literal still count:
they are part of the literal).

Usage: python tools/code_lines.py [path ...]
(default: the package directory; prints one ``<lines>  <module>`` row per
module, largest first, then the total)
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "stock_bars_data_engineering_project_spark")


def _span(node: ast.AST) -> range:
    return range(node.lineno, node.end_lineno + 1)


def code_lines(source: str) -> int:
    """Code lines of one module's source text."""
    tree = ast.parse(source)
    lines = source.splitlines()
    docstrings: set[int] = set()
    literals: set[int] = set()
    covered: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                docstrings.update(_span(body[0]))
        if isinstance(node, ast.stmt):
            covered.update(_span(node))
            for dec in getattr(node, "decorator_list", ()):
                covered.update(_span(dec))
        elif isinstance(node, ast.JoinedStr) or (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
        ):
            literals.update(_span(node))
    n = 0
    for i in covered - docstrings:
        text = lines[i - 1].strip()
        if (not text or text.startswith("#")) and i not in literals:
            continue
        n += 1
    return n


def _modules(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
            continue
        for d, dirs, names in os.walk(p):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__")))
            out.extend(os.path.join(d, n) for n in sorted(names) if n.endswith(".py"))
    return out


def main(argv: list[str]) -> None:
    counts = []
    for path in _modules(argv or [PACKAGE]):
        with open(path) as f:
            counts.append((code_lines(f.read()), os.path.relpath(path, ROOT)))
    for n, rel in sorted(counts, key=lambda c: (-c[0], c[1])):
        print(f"{n:7d}  {rel}")
    print(f"{sum(n for n, _ in counts):7d}  total ({len(counts)} modules)")


if __name__ == "__main__":
    main(sys.argv[1:])
