"""Static rules over the source tree: the warehouse's snapshot format
stays inside ``sinks/``, the slow-tier manifest names only tests that
exist, every top-level package function or class is named by the
package or its entry points, every defaulted package parameter gets
two or more distinct values from product callers, column helpers take
SQL text only (no ``Column | str`` twin), driver-side frames are built
only by ``session.local_frame``, and the corpus word model is spelled
only in its home. All parse source with ``ast`` or read it as text; no
Spark session needed."""

from __future__ import annotations

import ast
import importlib.util
import re
import sys
from collections import Counter, defaultdict
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
    sample = "wh._commit(t, v)\nself.wh._layout(t, v)\nwh.read(t)\n"
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


def _package_sources() -> dict[str, str]:
    return {
        str(p.relative_to(PACKAGE)): p.read_text() for p in sorted(PACKAGE.rglob("*.py"))
    }


def _root_sources() -> list[str]:
    """The product roots the reachability tool runs from."""
    return [
        Path(path).read_text()
        for rel in reachability.ROOT_FILES
        for path in reachability._py_files(str(REPO / rel))
    ]


def test_every_top_level_definition_is_named():
    unnamed = unnamed_definitions(_package_sources(), _root_sources())
    assert sorted(unnamed - set(UNNAMED_ALLOWED)) == []
    assert sorted(set(UNNAMED_ALLOWED) - unnamed) == []


# A defaulted parameter that product callers give fewer than two
# distinct values is an option nobody uses: inline the one value. One may
# stay only with a reason in tools/reachability.py's KEEP_PARAMS table.


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, positional index or None for keyword-only, default) of
    every parameter of ``fn`` that has a default."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i, a.defaults[i - first]) for i, p in enumerate(pos) if i >= first]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any(
        (getattr(d, "id", None) or getattr(d, "attr", None)) == "dataclass"
        or getattr(getattr(d, "func", None), "id", None) == "dataclass"
        for d in node.decorator_list
    )


def _dataclass_init(node: ast.ClassDef) -> ast.FunctionDef:
    """The ``__init__`` a ``@dataclass`` generates from its annotated
    fields; ``field(default_factory=...)`` reads as a non-literal default."""
    fields = [
        f for f in node.body
        if isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)
        and "ClassVar" not in ast.unparse(f.annotation)
    ]
    defaults = [f.value for f in fields if f.value is not None]
    return ast.FunctionDef(
        name="__init__",
        args=ast.arguments(
            posonlyargs=[],
            args=[ast.arg("self"), *(ast.arg(f.target.id) for f in fields)],
            kwonlyargs=[], kw_defaults=[], defaults=defaults,
        ),
        body=[], decorator_list=[],
    )


_UNKNOWN = object()


def _literal(node: ast.expr):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _UNKNOWN


def _value_key(node: ast.expr):
    """A hashable key for a literal's type and value; ``_UNKNOWN`` for a
    non-literal."""
    v = _literal(node)
    return _UNKNOWN if v is _UNKNOWN else (type(v).__name__, repr(v))


class _Calls(ast.NodeVisitor):
    """Every call in one module by the name it is matched on: the
    function's name (through ``import ... as`` aliases), or
    ``<Class>.__init__`` for ``Class(...)`` and a classmethod's
    ``cls(...)``. A record is (positional values before any ``*args``,
    whether a ``*args`` follows, keyword values, ``**`` values,
    enclosing function, bound), where bound means the callee's first
    parameter is already filled (``obj.m(...)``, ``Class(...)``). A call
    through a variable holding a function is not matched."""

    def __init__(self, classes: set[str], calls: dict[str, list]):
        self.classes = classes
        self.calls = calls
        self._aliases: dict[str, str] = {}
        self._fn: list = [None]
        self._cls: list = [None]

    def visit_Import(self, node):
        self._aliases.update((a.asname, a.name) for a in node.names if a.asname)

    visit_ImportFrom = visit_Import

    def visit_ClassDef(self, node):
        self._cls.append(node.name)
        self.generic_visit(node)
        self._cls.pop()

    def visit_FunctionDef(self, node):
        self._fn.append(node)
        self.generic_visit(node)
        self._fn.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        f = node.func
        name = getattr(f, "id", None) or getattr(f, "attr", None)
        name = self._aliases.get(name, name)
        bound = isinstance(f, ast.Attribute)
        if name == "cls" and self._cls[-1]:
            name = self._cls[-1]
        if name in self.classes:
            name, bound = f"{name}.__init__", True
        if name:
            star = next(
                (i for i, a in enumerate(node.args) if isinstance(a, ast.Starred)),
                len(node.args),
            )
            self.calls[name].append((
                node.args[:star],
                star < len(node.args),
                {k.arg: k.value for k in node.keywords if k.arg},
                [k.value for k in node.keywords if k.arg is None],
                self._fn[-1],
                bound,
            ))
        self.generic_visit(node)


def unset_parameters(sources: dict[str, str], roots: list[str]) -> set[str]:
    """``<module>:<qualname>(<param>)`` for every defaulted parameter of a
    function (or ``@dataclass`` field) in ``sources`` that the calls in
    ``sources`` and ``roots`` do not set. A parameter is set when those
    calls give it two or more distinct literal values (a call that omits
    it gives the default), or when one passes it a non-literal, fills it
    through ``**kwargs`` forwarding or through a ``*args``. Calls match
    by name, so a name two functions share counts for both (the rule
    errs toward "set")."""
    trees = {m: ast.parse(text) for m, text in sources.items()}
    defs: list[tuple[str, str, ast.FunctionDef, bool]] = []

    def visit(module, body, prefix, cls):
        for node in body:
            if isinstance(node, ast.ClassDef):
                if _is_dataclass(node):
                    defs.append((
                        f"{module}:{prefix}{node.name}.__init__",
                        f"{node.name}.__init__", _dataclass_init(node), True,
                    ))
                visit(module, node.body, f"{prefix}{node.name}.", node.name)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    getattr(d, "id", None) == "staticmethod" for d in node.decorator_list
                )
                key = f"{cls}.{node.name}" if cls and node.name == "__init__" else node.name
                defs.append((f"{module}:{prefix}{node.name}", key, node, bool(cls) and not static))
                visit(module, node.body, f"{prefix}{node.name}.", None)

    for module, tree in trees.items():
        visit(module, tree.body, "", None)
    classes = {
        n.name for t in trees.values() for n in ast.walk(t) if isinstance(n, ast.ClassDef)
    }
    calls: dict[str, list] = defaultdict(list)
    for tree in [*trees.values(), *(ast.parse(r) for r in roots)]:
        _Calls(classes, calls).visit(tree)

    def forwarded(value, fn, seen) -> set[str] | None:
        """Keywords a ``**value`` argument can carry; None = any."""
        if isinstance(value, ast.Dict) and all(isinstance(k, ast.Constant) for k in value.keys):
            return {k.value for k in value.keys}
        kwarg = fn.args.kwarg if fn is not None else None
        if not (isinstance(value, ast.Name) and kwarg is not None and kwarg.arg == value.id):
            return None
        if fn in seen:
            return set()
        named = {a.arg for a in [*fn.args.posonlyargs, *fn.args.args, *fn.args.kwonlyargs]}
        out: set[str] = set()
        for _, _, kws, fwds, enclosing, _ in calls.get(fn.name, ()):
            out |= set(kws) - named
            for v in fwds:
                more = forwarded(v, enclosing, seen | {fn})
                if more is None:
                    return None
                out |= more
        return out

    def is_set(name, index, default, records, method) -> bool:
        omitted = _value_key(default)
        values = set()
        for args, starred, kws, fwds, enclosing, bound in records:
            value = kws.get(name)
            if value is None and index is not None:
                pos = index - (1 if method and bound else 0)
                if 0 <= pos < len(args):
                    value = args[pos]
                elif starred and pos >= len(args):
                    return True  # filled by a *args of unknown values
            for v in fwds:
                more = forwarded(v, enclosing, frozenset())
                if more is None or name in more:
                    return True
            key = omitted if value is None else _value_key(value)
            if key is _UNKNOWN and value is not None:
                return True  # a non-literal value
            values.add(key)
        return len(values) >= 2

    return {
        f"{qual}({name})"
        for qual, key, fn, method in defs
        for name, index, default in _defaulted(fn)
        if not is_set(name, index, default, calls.get(key, ()), method)
    }


def test_unset_parameters_rule():
    sources = {
        "a.py": (
            "def by_keyword(x, flag=False):\n    return flag\n\n"
            "def by_position(x, n=1):\n    return n\n\n"
            "def never(x, n=1):\n    return n\n\n"
            "class C:\n"
            "    def m(self, x, opt=None):\n        return opt\n\n"
            "    def run(self):\n        return self.m(1, 2)\n\n"
            "def inner(x, deep=0, shallow=0):\n    return deep + shallow\n\n"
            "def outer(x, **kw):\n    return inner(x, **kw)\n\n"
            "def connect(url, user=None):\n    return url\n\n"
            "def aliased(x, opt=None):\n    return opt\n\n"
            "def same(x, k=10, mode='a'):\n    return k\n\n"
            "def two(x, k=10):\n    return k\n\n"
            "def expr(x, k=10):\n    return k\n\n"
            "def one(x, k=10):\n    return k\n\n"
            "def mixed(x, k=10):\n    return k\n\n"
            "@dataclass\n"
            "class Spec:\n"
            "    root: str\n"
            "    retries: int = 5\n\n"
            "@dataclass\n"
            "class Config:\n"
            "    table: str = 't'\n\n"
            "    @classmethod\n"
            "    def load(cls, raw):\n        return cls(**raw)\n"
        ),
    }
    roots = [
        "from a import aliased as other\n"
        "by_keyword(1, flag=True)\nby_keyword(2)\n"
        "by_position(1, 2)\nby_position(3)\nC().run()\nC().m(3)\n"
        "outer(1, deep=3)\nconnect('db://')\nother(1, opt=2)\nother(3)\n"
        "same(1, k=10)\nsame(2, 10, 'a')\n"
        "two(1, k=10)\ntwo(2, k=20)\n"
        "expr(1, k=K)\n"
        "one(1, k=3)\none(2, 3)\n"
        "mixed(1, k=3)\nmixed(2)\n"
        "Spec('/r')\nConfig.load({})\n"
    ]
    unset = unset_parameters(sources, roots)
    # keyword, positional, self-method and aliased passes next to a
    # call that omits the parameter set it, and so does a forwarded
    # (deep) pass; nobody fills `shallow` through **kw; a pass of the
    # default literal (same.k, same.mode) sets nothing, nor does one
    # non-default literal on every call (one.k); two distinct literals
    # (two.k, and mixed.k's literal plus an omission) or a non-literal
    # (expr.k) do; a dataclass field no root sets (tests are not roots)
    # is unset, one filled through cls(**raw) is set
    assert unset == {
        "a.py:never(n)", "a.py:inner(shallow)", "a.py:connect(user)",
        "a.py:same(k)", "a.py:same(mode)", "a.py:one(k)",
        "a.py:Spec.__init__(retries)",
    }
    allowed = {"a.py:connect(user)": "deployment setting: credential"}
    assert unset - set(allowed) == {
        "a.py:never(n)", "a.py:inner(shallow)", "a.py:same(k)",
        "a.py:same(mode)", "a.py:one(k)", "a.py:Spec.__init__(retries)",
    }


def test_every_defaulted_parameter_is_set_by_product():
    unset = unset_parameters(_package_sources(), _root_sources())
    assert sorted(unset - set(reachability.KEEP_PARAMS)) == []
    assert sorted(set(reachability.KEEP_PARAMS) - unset) == []


# A column helper takes SQL text and builds one ``F.expr`` parse; a
# second, Column-built implementation of the same values beside it is
# code no product caller needs.


def _annotation_names(node: ast.expr | None) -> set[str]:
    if node is None:
        return set()
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _returns_expr(body: list[ast.stmt]) -> bool:
    return any(
        isinstance(n, ast.Return)
        and isinstance(n.value, ast.Call)
        and isinstance(n.value.func, ast.Attribute)
        and n.value.func.attr == "expr"
        for stmt in body
        for n in ast.walk(stmt)
    )


def column_or_sql_twins(sources: dict[str, str]) -> set[str]:
    """``<module>:<function>`` for every function in ``sources`` with a
    parameter annotated as a union of ``Column`` and ``str``, or with an
    ``if isinstance(<parameter>, str):`` whose body returns
    ``F.expr(...)``."""
    out = set()
    for module, text in sources.items():
        for fn in ast.walk(ast.parse(text)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
            params = {a.arg for a in args}
            if any(
                isinstance(a.annotation, ast.BinOp | ast.Subscript)
                and {"Column", "str"} <= _annotation_names(a.annotation)
                for a in args
            ):
                out.add(f"{module}:{fn.name}")
            for node in ast.walk(fn):
                if not isinstance(node, ast.If) or not _returns_expr(node.body):
                    continue
                if any(
                    isinstance(c, ast.Call)
                    and getattr(c.func, "id", None) == "isinstance"
                    and len(c.args) == 2
                    and getattr(c.args[0], "id", None) in params
                    and getattr(c.args[1], "id", None) == "str"
                    for c in ast.walk(node.test)
                ):
                    out.add(f"{module}:{fn.name}")
    return out


def test_column_or_sql_twins_rule():
    sources = {
        "a.py": (
            "def union(x: Column | str) -> Column:\n    return x\n\n"
            "def attr_union(x: 'F.Column | str'):\n    return x\n\n"
            "def typing_union(x: Union[str, F.Column]):\n    return x\n\n"
            "def dispatch(x):\n"
            "    if isinstance(x, str):\n        return F.expr(x)\n"
            "    return x\n\n"
            "def both(a, b):\n"
            "    if isinstance(a, str) and isinstance(b, str):\n"
            "        return F.expr(a + b)\n"
            "    return a\n\n"
            "def sql_only(x: str) -> Column:\n    return F.expr(x)\n\n"
            "def col_only(x: Column) -> Column:\n    return x\n\n"
            "def other_check(x, y):\n"
            "    if isinstance(y, str):\n        return F.col(y)\n"
            "    return x\n"
        ),
    }
    # a string annotation is not parsed, so attr_union passes; only
    # the dispatch that returns a parse counts
    assert column_or_sql_twins(sources) == {
        "a.py:union", "a.py:typing_union", "a.py:dispatch", "a.py:both",
    }


def test_no_column_or_sql_twin_parameters():
    assert sorted(column_or_sql_twins(_package_sources())) == []


# A driver-side frame is built in one place, session.local_frame.


def create_dataframe_calls(sources: dict[str, str]) -> set[str]:
    """``<module>:<function>`` (``<module>`` at module level) for every
    ``createDataFrame(...)`` call in ``sources`` outside a function named
    ``local_frame``."""
    out = set()

    def visit(module: str, node: ast.AST, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(module, child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
                and where != "local_frame"
            ):
                out.add(f"{module}:{where}" if where else module)
            visit(module, child, where)

    for module, text in sources.items():
        visit(module, ast.parse(text), "")
    return out


def test_create_dataframe_rule():
    sources = {
        "session.py": (
            "def local_frame(spark, rows, schema):\n"
            "    return spark.createDataFrame(rows, schema)\n"
        ),
        "ops.py": (
            "EMPTY = spark.createDataFrame([], 'x int')\n\n"
            "def build(spark):\n"
            "    def inner():\n"
            "        return spark.createDataFrame([(1,)], 'x int')\n"
            "    return local_frame(spark, [(1,)], 'x int')\n"
        ),
    }
    assert create_dataframe_calls(sources) == {"ops.py", "ops.py:inner"}


def test_create_dataframe_only_in_local_frame():
    assert sorted(create_dataframe_calls(_package_sources())) == []


def test_unrun_blocks_rule(tmp_path):
    """The reachability report's statement blocks: a traced call of a
    small function leaves exactly its unrun branches, without the
    raise/continue-only guards and the docstring."""
    source = (
        "def f(x):\n"
        '    """doc"""\n'
        "    if isinstance(x, str):\n"
        "        return x\n"
        "    y = (\n"
        "        x + 1\n"
        "    )\n"
        "    for i in range(3):\n"
        "        if i > 5:\n"
        "            continue\n"
        "        if i > 7:\n"
        "            raise ValueError(i)\n"
        "    try:\n"
        "        z = 1\n"
        "    except ValueError:\n"
        "        z = 2\n"
        "        z += 1\n"
        "    return y + z\n"
    )
    path = str(tmp_path / "mod.py")
    namespace: dict = {}
    exec(compile(source, path, "exec"), namespace)
    lines: set[int] = set()

    def local(frame, event, arg):
        if event == "line":
            lines.add(frame.f_lineno)
        return local

    saved = sys.gettrace()
    sys.settrace(lambda frame, event, arg: local if frame.f_code.co_filename == path else None)
    try:
        namespace["f"](1)
    finally:
        sys.settrace(saved)
    node = ast.parse(source).body[0]
    d = reachability.Def("mod.py", "f", "def", 1, node)
    assert reachability.unrun_blocks(d, lines) == [(4, 4), (16, 17)]


# The corpus word model (lower-cased single-space tokens of ``text``,
# empties dropped) lives in functions/text.py as ``corpus_tokens``; a
# module that spells the tokenization itself can drift from it. DuckDB
# oracle text (``string_split``) is the other engine's replay, not a
# second Spark definition.
_WORD_MODEL_HOME = "functions/text.py"
_WORD_MODEL_SPELLING = re.compile(
    r'tokens\(f?"lower\(|(?<!string_)split\(lower\(|F\.lower\(F\.col\("text"\)\)'
)


def corpus_token_spellings(sources: dict[str, str]) -> set[str]:
    """``<module>:<line>`` of every spelling of the word model outside
    its home."""
    return {
        f"{module}:{n}"
        for module, text in sources.items()
        if module != _WORD_MODEL_HOME
        for n, line in enumerate(text.splitlines(), 1)
        if _WORD_MODEL_SPELLING.search(line)
    }


def test_corpus_tokens_defined_once():
    assert sorted(corpus_token_spellings(_package_sources())) == []
