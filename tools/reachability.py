"""Which package functions do the product's own entry points reach?

Runs the product roots under a stdlib tracer (``sys.settrace`` plus
``threading.settrace``, so chain threads started by ``memo.run_chains``
are seen too) and records every package function that executes, and
every line of package code that runs:

- every ``__spark_entry__.queries()`` row over SF_DIR (collected), and
  ``oracle_sql()``;
- ``python -m stock_bars_data_engineering_project_spark.pipeline``: a
  full load, an incremental run, then ``--corpus SF_DIR``;
- ``bench.py`` for one row (``flagship_analysis --no-duckdb`` at SF_DIR).

A function also counts as reached when a reached function, or one of the
root files (``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py``),
names it (:func:`mentions`). The name rule is needed because UDF and
``mapInPandas`` bodies and DataSource reader callbacks run in Python
workers, where a driver-side tracer cannot see them; it
over-approximates, never under.

Every function reached neither way must appear in ``KEEP`` with its
reason to stay. The report (Markdown) goes to stdout or ``--out``; the
exit status is 1 when an unreached function has no reason. The report
also lists, for each executed function, the blocks of statements no
root runs (:func:`unrun_blocks`); they do not change the exit status.

Usage: python tools/reachability.py --sf-dir DIR [--out REACHABILITY.md]
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import os
import re
import sys
import tempfile
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "stock_bars_data_engineering_project_spark")
ROOT_FILES = ["__spark_entry__.py", "bench.py", "perfbench"]
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

_REFERENCE = "reference a test checks reached code against"
_JDBC = "env-gated connector (SPARK_GRAFT_JDBC_URL); tools/jdbc_smoke.md"
_PROTOCOL = "Spark's Python DataSource API calls it in a Python worker"
_ROADMAP_4 = "warehouse verb the fault-injection work (ROADMAP item 4) covers"

# "<module path>:<qualname>" -> why it stays although no root reaches it.
KEEP: dict[str, str] = {
    "functions/hashing.py:minhash_signature": _REFERENCE + " (the fused MinHash fold)",
    "operators/dedup.py:embedding_dup_pairs": _REFERENCE + " (blocked embedding dedup)",
    "operators/index_maint.py:apply_deletes": "the only compaction of index "
    "tombstones; without it __deleted grows forever (ROADMAP item 4)",
    "operators/trigram.py:substring_search": _REFERENCE + " (the trigram index)",
    "sinks/jdbc.py:jdbc_configured": _JDBC,
    "sinks/jdbc.py:JdbcWarehouse": _JDBC,
    "sinks/jdbc.py:JdbcWarehouse.__init__": _JDBC,
    "sinks/jdbc.py:JdbcWarehouse.from_env": _JDBC,
    "sinks/jdbc.py:JdbcWarehouse.query": _JDBC,
    "sinks/jdbc.py:JdbcWarehouse.drop_table": _JDBC,
    "sinks/warehouse.py:ParquetWarehouse.delete_where": _ROADMAP_4,
    "sinks/warehouse.py:ParquetWarehouse.compact": _ROADMAP_4,
    "sources/bars_source.py:_SymbolPartition.__init__": _PROTOCOL,
    "sources/bars_source.py:StockBarsReader.__init__": _PROTOCOL,
    "sources/bars_source.py:StockBarsReader.partitions": _PROTOCOL,
}

_TABLE = "deployment setting: the warehouse table name"
_DRIVER = "deployment setting: the JDBC driver class"
_JDBC_BOUNDS = "deployment setting: per-table JDBC partitioned-read bounds"

# "<module path>:<qualname>(<parameter>)" -> why a defaulted parameter
# stays although product callers give it fewer than two distinct values
# (tests/test_repo_rules.py).
KEEP_PARAMS: dict[str, str] = {
    "operators/incremental_ann.py:ann_query(table)": _TABLE,
    "operators/incremental_ann.py:build_ann_index(table)": _TABLE,
    "operators/incremental_ann.py:ingest_vectors(table)": _TABLE,
    "operators/incremental_retrieval.py:bm25_query(table)": _TABLE,
    "operators/incremental_trgm.py:trgm_query(table)": _TABLE,
    "operators/lm_state.py:ingest_lm_batch(uni_table)": _TABLE,
    "operators/lm_state.py:ingest_lm_batch(bi_table)": _TABLE,
    "operators/lm_state.py:lm_state(uni_table)": _TABLE,
    "operators/lm_state.py:lm_state(bi_table)": _TABLE,
    "operators/similarity.py:ivf_topk(nprobe)": _REFERENCE
    + " (probing every list equals brute force; ann_query's probe count)",
    "operators/similarity.py:kmeans_refine(exact_mean)": _REFERENCE
    + " (the id-ordered fold DuckDB replays bit for bit)",
    "pipeline/corpus_pipeline.py:prepare_corpus(keeper)": _REFERENCE
    + " (refresh_corpus equals the one-shot with keeper='first')",
    "pipeline/corpus_pipeline.py:prepare_corpus(benchmark)": _REFERENCE
    + " (refresh_corpus equals the one-shot over a frozen benchmark)",
    "pipeline/corpus_pipeline.py:refresh_corpus(corpus_table)": _TABLE,
    "pipeline/corpus_pipeline.py:refresh_corpus(index_table)": _TABLE,
    "pipeline/corpus_pipeline.py:run_corpus_pipeline(table)": _TABLE,
    "sinks/jdbc.py:JdbcWarehouse.__init__(driver)": _DRIVER,
    "sinks/jdbc.py:JdbcWarehouse.read(lower)": _JDBC_BOUNDS,
    "sinks/jdbc.py:JdbcWarehouse.read(upper)": _JDBC_BOUNDS,
    "sinks/jdbc.py:JdbcWarehouse.read(num_partitions)": _JDBC_BOUNDS,
    "streaming/incremental.py:dedup_ingest_stream(corpus_table)": _TABLE,
    "streaming/incremental.py:dedup_ingest_stream(index_table)": _TABLE,
    "streaming/incremental.py:corpus_refresh_stream(table)": _TABLE,
    "streaming/incremental.py:pca_ingest_stream(table)": _TABLE,
}


@dataclass
class Def:
    module: str  # path relative to the package, e.g. "operators/bloom.py"
    qualname: str
    kind: str  # "def" or "class"
    first: int  # first line, decorators included (= co_firstlineno)
    node: ast.AST

    @property
    def key(self) -> str:
        return f"{self.module}:{self.qualname}"

    @property
    def name(self) -> str:
        return self.qualname.rsplit(".", 1)[-1]


def mentions(node: ast.AST) -> Counter:
    """How often code names each identifier: bare names, attributes and
    strings that are exactly one identifier (``getattr``, registries;
    docstrings and messages are not); a use of ``b`` after
    ``from m import a as b`` names ``a``. Imports and ``__all__`` lists
    re-export a name; they do not use it."""
    out: Counter = Counter()
    aliases: dict[str, str] = {}
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            aliases.update((a.asname, a.name) for a in n.names if a.asname)
            continue
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            continue
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _IDENT.fullmatch(n.value):
                out[n.value] += 1
        stack.extend(ast.iter_child_nodes(n))
    for alias, name in aliases.items():
        out[name] += out[alias]
    return out


def _names(nodes) -> set[str]:
    return {name for node in nodes for name in mentions(node)}


def package_defs() -> list[Def]:
    """Every function and class in the package, nested ones included."""
    defs: list[Def] = []

    def visit(module: str, body, prefix: str) -> None:
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                qual = f"{prefix}{node.name}"
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                kind = "class" if isinstance(node, ast.ClassDef) else "def"
                defs.append(Def(module, qual, kind, first, node))
                visit(module, node.body, qual + ".")
            else:
                for field in ("body", "orelse", "finalbody", "handlers"):
                    inner = getattr(node, field, None)
                    if isinstance(inner, list):
                        visit(module, inner, prefix)

    for path in _py_files(PACKAGE):
        with open(path) as f:
            tree = ast.parse(f.read())
        visit(os.path.relpath(path, PACKAGE), tree.body, "")
    return defs


def _py_files(top: str) -> list[str]:
    if os.path.isfile(top):
        return [top]
    out = []
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__")))
        out.extend(os.path.join(d, n) for n in sorted(files) if n.endswith(".py"))
    return out


def module_level_names() -> set[str]:
    """Names the package's module bodies use outside any def: registries
    and aliases that hand a function to someone else."""
    out: set[str] = set()
    for path in _py_files(PACKAGE):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                out |= _names(node.decorator_list)
            else:
                out |= _names([node])
    return out


def root_file_names() -> set[str]:
    out: set[str] = set()
    for rel in ROOT_FILES:
        for path in _py_files(os.path.join(ROOT, rel)):
            with open(path) as f:
                out |= _names([ast.parse(f.read())])
    return out


# ---------------------------------------------------------------- tracing


class Tracer:
    """Collects ``(filename, firstlineno)`` of every package code object
    that is called while active, in every thread, and ``(filename,
    lineno)`` of every line that runs in one. Only package frames get a
    local (line) trace function; every other frame runs untraced."""

    def __init__(self) -> None:
        self.seen: set[tuple[str, int]] = set()
        self.lines: set[tuple[str, int]] = set()
        self._prefix = PACKAGE + os.sep

    def _call(self, frame, event, arg):
        code = frame.f_code
        if event != "call" or not code.co_filename.startswith(self._prefix):
            return None
        self.seen.add((code.co_filename, code.co_firstlineno))
        return self._line

    def _line(self, frame, event, arg):
        if event == "line":
            self.lines.add((frame.f_code.co_filename, frame.f_lineno))
        return self._line

    @contextlib.contextmanager
    def active(self):
        threading.settrace(self._call)
        sys.settrace(self._call)
        try:
            yield self
        finally:
            sys.settrace(None)
            threading.settrace(None)


def _run_cli(module_main, argv: list[str]) -> None:
    saved = sys.argv
    sys.argv = argv
    try:
        module_main()
    finally:
        sys.argv = saved


def run_roots(sf_dir: str, log) -> None:
    """Execute every product root once, in this process."""
    sys.path.insert(0, ROOT)
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__ as entry
    from stock_bars_data_engineering_project_spark.session import get_spark

    spark = get_spark("reachability")
    t0 = time.time()
    entry.entry(spark).collect()
    entry.oracle_sql()
    for name, fn in entry.queries().items():
        fn(spark, sf_dir).collect()
        log(f"query {name} [{time.time() - t0:.0f}s]")

    from stock_bars_data_engineering_project_spark.pipeline import __main__ as cli

    with tempfile.TemporaryDirectory(prefix="reachability-") as tmp:
        wh_dir = os.path.join(tmp, "warehouse")
        for label, args in (
            ("pipeline full load", []),
            ("pipeline incremental", []),
            ("pipeline --corpus", ["--corpus", sf_dir]),
        ):
            warehouse = wh_dir if not args else os.path.join(tmp, "corpus")
            _run_cli(cli.main, ["pipeline", "--warehouse", warehouse, *args])
            log(f"{label} [{time.time() - t0:.0f}s]")

    import bench

    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    _run_cli(bench.main, ["bench.py", "flagship_analysis", "--no-duckdb"])
    log(f"bench.py [{time.time() - t0:.0f}s]")


# ---------------------------------------------------------------- report


def resolve(defs: list[Def], seen: set[tuple[str, int]]):
    """Split defs into traced, reached by name, and unreached."""
    by_site = {(os.path.join(PACKAGE, d.module), d.first): d for d in defs}
    # a class body runs at import; only calls of its methods count
    traced = {
        by_site[s].key for s in seen if s in by_site and by_site[s].kind == "def"
    }
    by_name: dict[str, list[Def]] = defaultdict(list)
    for d in defs:
        by_name[d.name].append(d)
    index = {d.key: d for d in defs}

    reached = set(traced)
    # a class is reached when one of its methods runs
    for key in list(reached):
        d = index[key]
        parts = d.qualname.split(".")
        for i in range(1, len(parts)):
            parent = f"{d.module}:{'.'.join(parts[:i])}"
            if parent in index and index[parent].kind == "class":
                reached.add(parent)
    frontier = root_file_names() | module_level_names()
    for key in reached:
        frontier |= _names(index[key].node.body) | _names(index[key].node.decorator_list)
    named: set[str] = set()
    done: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in done:
            continue
        done.add(name)
        for d in by_name.get(name, ()):
            if d.key in reached or d.key in named:
                continue
            named.add(d.key)
            frontier |= _names(d.node.body) | _names(d.node.decorator_list)
    unreached = [d for d in defs if d.key not in reached and d.key not in named]
    return traced, reached - traced, named, unreached


_NO_CODE = (ast.Global, ast.Nonlocal, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _bodies(stmt: ast.stmt) -> list[list[ast.stmt]]:
    out = [getattr(stmt, f) for f in ("body", "orelse", "finalbody") if getattr(stmt, f, None)]
    out += [h.body for h in getattr(stmt, "handlers", ())]
    out += [c.body for c in getattr(stmt, "cases", ())]
    return out


def unrun_blocks(d: Def, lines: set[int]) -> list[tuple[int, int]]:
    """``(first, last)`` line spans of the maximal runs of statements in
    ``d``'s body (nested bodies included, nested defs excluded) that no
    traced line falls inside. Runs made only of ``raise``/``continue``,
    docstrings, bare string statements and declarations are left out:
    guards and text, not behaviour."""
    out: list[tuple[int, int]] = []

    def ran(stmt: ast.stmt) -> bool:
        return any(n in lines for n in range(stmt.lineno, stmt.end_lineno + 1))

    def flush(run: list[ast.stmt]) -> None:
        if run and not all(isinstance(s, (ast.Raise, ast.Continue)) for s in run):
            out.append((run[0].lineno, run[-1].end_lineno))

    def visit(body: list[ast.stmt]) -> None:
        run: list[ast.stmt] = []
        for stmt in body:
            quiet = isinstance(stmt, _NO_CODE) or (
                isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            )
            if quiet:
                continue
            if ran(stmt):
                flush(run)
                run = []
                for inner in _bodies(stmt):
                    visit(inner)
            else:
                run.append(stmt)
        flush(run)

    visit(d.node.body)
    return out


def _code_lines(source: list[str], first: int, last: int) -> int:
    return sum(
        1
        for text in source[first - 1 : last]
        if text.strip() and not text.strip().startswith("#")
    )


def unrun_section(defs: list[Def], traced: set[str], lines: set[tuple[str, int]]) -> list[str]:
    """The report section listing :func:`unrun_blocks` of every executed
    function."""
    by_file: dict[str, set[int]] = defaultdict(set)
    for filename, lineno in lines:
        by_file[filename].add(lineno)
    sources: dict[str, list[str]] = {}
    rows, n_lines = [], 0
    for d in sorted(defs, key=lambda d: (d.module, d.first)):
        if d.key not in traced:
            continue
        path = os.path.join(PACKAGE, d.module)
        if path not in sources:
            with open(path) as f:
                sources[path] = f.read().splitlines()
        for first, last in unrun_blocks(d, by_file[path]):
            n = _code_lines(sources[path], first, last)
            n_lines += n
            head = sources[path][first - 1].strip().replace("`", "'")
            rows.append(f"- `{d.key}` lines {first}-{last} ({n}): `{head}`")
    return [
        "## Statements no root runs",
        "",
        "Blocks of statements inside executed functions that no root ran",
        "(raise/continue-only blocks and docstrings left out); the number",
        "in parentheses counts the block's code lines.",
        "",
        f"- blocks: {len(rows)}",
        f"- code lines: {n_lines}",
        "",
        *(rows or ["(none)"]),
    ]


def report(defs, traced, via_class, named, unreached, sf_dir, ran) -> str:
    per_module: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0, 0])
    for d in defs:
        row = per_module[d.module]
        if d.key in traced or d.key in via_class:
            row[0] += 1
        elif d.key in named:
            row[1] += 1
        elif d.key in KEEP:
            row[2] += 1
        else:
            row[3] += 1
    missing = [d for d in unreached if d.key not in KEEP]
    lines = [
        "# Reachability report",
        "",
        "Written by `python tools/reachability.py --sf-dir <sf0.001 dir> --out",
        "REACHABILITY.md`; see that script's docstring for the roots and the",
        "two reach rules.",
        f"The roots ran over `{sf_dir}`.",
        "",
        f"- functions and classes in the package: {len(defs)}",
        f"- executed by a root: {len(traced) + len(via_class)}",
        f"- named by executed code or a root file only: {len(named)}",
        f"- reached neither way, kept with a reason: {len(unreached) - len(missing)}",
        f"- reached neither way, no reason: {len(missing)}",
        "",
        "## Per module",
        "",
        "| module | executed | named | kept | no reason |",
        "|---|---:|---:|---:|---:|",
    ]
    for module in sorted(per_module):
        a, b, c, e = per_module[module]
        lines.append(f"| `{module}` | {a} | {b} | {c} | {e} |")
    lines += ["", "## Kept although unreached", ""]
    kept = [d for d in unreached if d.key in KEEP]
    lines += [f"- `{d.key}`: {KEEP[d.key]}" for d in kept] or ["(none)"]
    lines += ["", "## Unreached, no reason to stay", ""]
    lines += [f"- `{d.key}`" for d in missing] or ["(none)"]
    stale = sorted(set(KEEP) - {d.key for d in unreached})
    if stale:
        lines += ["", "## KEEP entries that are reached or gone", ""]
        lines += [f"- `{k}`" for k in stale]
    lines += ["", "## Reached only by name", ""]
    lines += [f"- `{k}`" for k in sorted(named)] or ["(none)"]
    lines += ["", *unrun_section(defs, traced, ran)]
    return "\n".join(lines) + "\n"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "--sf-dir", required=True, help="test-data directory the queries read (sf0.001)"
    )
    ap.add_argument("--out", default=None, help="write the report here")
    args = ap.parse_args(argv)

    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    defs = package_defs()
    t0 = time.time()
    tracer = Tracer()
    with tracer.active():
        run_roots(args.sf_dir, log)
    log(f"roots ran in {time.time() - t0:.0f}s under the tracer")
    traced, via_class, named, unreached = resolve(defs, tracer.seen)
    text = report(defs, traced, via_class, named, unreached, args.sf_dir, tracer.lines)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)
    return 1 if any(d.key not in KEEP for d in unreached) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
