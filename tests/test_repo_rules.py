"""Static rules over the source tree: the warehouse's snapshot format
stays inside ``sinks/``, and the slow-tier manifest names only tests
that exist. Both parse source with ``ast``; no Spark session needed."""

from __future__ import annotations

import ast
from pathlib import Path

from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

TESTS = Path(__file__).resolve().parent
PACKAGE = TESTS.parent / "stock_bars_data_engineering_project_spark"
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
