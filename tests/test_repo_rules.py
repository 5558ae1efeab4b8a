"""Static rules over the source tree: the warehouse's snapshot format
stays inside ``sinks/``, the slow-tier manifest names only tests that
exist, and every top-level package function or class is named by the
package or its entry points. All parse source with ``ast``; no Spark
session needed."""

from __future__ import annotations

import ast
import importlib.util
import sys
from collections import Counter
from pathlib import Path

from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

TESTS = Path(__file__).resolve().parent
REPO = TESTS.parent
PACKAGE = REPO / "stock_bars_data_engineering_project_spark"
_spec = importlib.util.spec_from_file_location(
    "reachability", REPO / "tools" / "reachability.py"
)
reachability = sys.modules[_spec.name] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(reachability)
_PRIVATE = {
    n for n in vars(ParquetWarehouse) if n.startswith("_") and not n.startswith("__")
}


def _private_warehouse_calls(tree: ast.Module) -> list[str]:
    return [
        ast.unparse(node)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in _PRIVATE
    ]


def test_no_private_warehouse_names_outside_sinks():
    sample = "wh._manifest_members(t, v)\nself.wh._layout(t, v)\nwh.read(t)\n"
    assert len(_private_warehouse_calls(ast.parse(sample))) == 2
    found = {
        str(p.relative_to(PACKAGE)): hits
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.parent.name != "sinks"
        if (hits := _private_warehouse_calls(ast.parse(p.read_text())))
    }
    assert found == {}


def _defined(path: Path) -> set[str]:
    """``name`` and ``Class::name`` for every test function in a file."""
    out: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.add(node.name)
        elif isinstance(node, ast.ClassDef):
            out.update(
                f"{node.name}::{f.name}"
                for f in node.body
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            )
    return out


def test_slow_manifest_names_existing_tests():
    stale = []
    for line in (TESTS / "slow_tests.txt").read_text().splitlines():
        nodeid = line.strip()
        if not nodeid or nodeid.startswith("#"):
            continue
        file, _, name = nodeid.partition("::")
        path = TESTS.parent / file
        if not path.is_file() or name.split("[")[0] not in _defined(path):
            stale.append(nodeid)
    assert stale == []


# Top-level package names that nothing in the package or its entry
# points names may stay only with a reason in tools/reachability.py's
# KEEP table, which also rules on them in REACHABILITY.md.
UNNAMED_ALLOWED = {
    key: reason
    for key, reason in reachability.KEEP.items()
    if "." not in key.split(":", 1)[1]
}


def _registered(node: ast.AST) -> bool:
    """``@register(...)`` hands the def to the query registry."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in getattr(node, "decorator_list", ())
    )


def unnamed_definitions(sources: dict[str, str], roots: list[str]) -> set[str]:
    """``<module>:<name>`` for every top-level function or class in
    ``sources`` (module path -> text) that no code in ``sources`` or
    ``roots`` names outside its own definition."""
    trees = {m: ast.parse(text) for m, text in sources.items()}
    total: Counter = Counter()
    for tree in [*trees.values(), *(ast.parse(r) for r in roots)]:
        total += reachability.mentions(tree)
    out = set()
    for module, tree in trees.items():
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _registered(node):
                continue
            if total[node.name] - reachability.mentions(node)[node.name] == 0:
                out.add(f"{module}:{node.name}")
    return out


def test_unnamed_definitions_rule():
    sources = {
        "a.py": (
            "def used():\n    return 1\n\n"
            "def dead(n):\n    return dead(n - 1)\n\n"
            "def by_string():\n    pass\n\n"
            "@register('q')\ndef q(spark, sf):\n    pass\n"
        ),
        "c.py": "def aliased():\n    pass\n",
        "b.py": (
            "from .a import dead\n__all__ = ['dead']\n"
            "from .c import aliased as _aliased\n"
            "x = getattr(mod, 'by_string') or _aliased()\n\n"
            "class Gone:\n    \"\"\"Not used by anything.\"\"\"\n"
        ),
    }
    assert unnamed_definitions(sources, ["used()"]) == {"a.py:dead", "b.py:Gone"}


def test_every_top_level_definition_is_named():
    sources = {
        str(p.relative_to(PACKAGE)): p.read_text() for p in sorted(PACKAGE.rglob("*.py"))
    }
    roots = [
        p.read_text()
        for p in [
            REPO / "__spark_entry__.py",
            REPO / "bench.py",
            *sorted((REPO / "perfbench").rglob("*.py")),
        ]
    ]
    unnamed = unnamed_definitions(sources, roots)
    assert sorted(unnamed - set(UNNAMED_ALLOWED)) == []
    assert sorted(set(UNNAMED_ALLOWED) - unnamed) == []
