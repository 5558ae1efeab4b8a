"""The package's one build-once memo (``memo.build_once``): key, bound,
per-entry locking, warehouse liveness and hit/miss counts, with
pure-Python builders; and its one build-chain runner
(``memo.run_chains``): order, overlap, inherited local properties and
failure, on the session ``spark`` fixture."""

from __future__ import annotations

import ast
import os
import shutil
import sys
import threading
import time
from pathlib import Path

import pytest

from stock_bars_data_engineering_project_spark import memo
from stock_bars_data_engineering_project_spark.sinks.warehouse import ParquetWarehouse

PACKAGE = Path(memo.__file__).resolve().parent


@pytest.fixture
def name(request):
    # counters are process-wide: one cache name per test keeps them apart
    return f"test:{request.node.name}"


def _counts(name):
    return memo.counts().get(name, {"hits": 0, "misses": 0})


def _get(name, k, paths=()):
    return memo.build_once((name, k), paths, lambda: k)


def test_lru_refreshes_recency_on_hit(name, monkeypatch):
    monkeypatch.setattr(memo, "CAP", 2)
    _get(name, 0)
    _get(name, 1)
    _get(name, 0)  # hit: 0 becomes most recent, 1 the LRU
    _get(name, 2)  # evicts 1
    assert _counts(name) == {"hits": 1, "misses": 3}
    _get(name, 0)
    _get(name, 2)
    assert _counts(name) == {"hits": 3, "misses": 3}
    _get(name, 1)
    assert _counts(name) == {"hits": 3, "misses": 4}


def test_lru_evicts_oldest_insertions_first(name, monkeypatch):
    monkeypatch.setattr(memo, "CAP", 4)
    for k in range(7):
        _get(name, k)
    for k in (3, 4, 5, 6):  # the newest CAP survive
        _get(name, k)
    assert _counts(name) == {"hits": 4, "misses": 7}
    _get(name, 0)
    assert _counts(name) == {"hits": 4, "misses": 8}


def test_source_rewritten_within_one_mtime_tick_is_a_miss(name, tmp_path):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"a")
    ns = os.stat(src).st_mtime_ns
    _get(name, "k", [str(src)])
    _get(name, "k", [str(src)])
    assert _counts(name) == {"hits": 1, "misses": 1}
    # rewritten in place, mtime pinned back to the same tick: size differs
    src.write_bytes(b"bb")
    os.utime(src, ns=(ns, ns))
    _get(name, "k", [str(src)])
    assert _counts(name) == {"hits": 1, "misses": 2}
    # replaced by rename with identical size and mtime: the inode differs
    tmp = tmp_path / "next"
    tmp.write_bytes(b"cc")
    os.utime(tmp, ns=(ns, ns))
    os.replace(tmp, src)
    _get(name, "k", [str(src)])
    assert _counts(name) == {"hits": 1, "misses": 3}


def test_unstatable_path_builds_uncached(name, tmp_path):
    calls = []
    for _ in range(2):
        memo.build_once((name,), [str(tmp_path / "missing")], lambda: calls.append(1))
    assert len(calls) == 2
    assert _counts(name) == {"hits": 0, "misses": 0}


def test_one_key_builds_once_under_contention(name):
    builds = []
    start = threading.Barrier(8)

    def builder():
        builds.append(1)
        time.sleep(0.05)
        return "v"

    results = []

    def worker():
        start.wait(timeout=5)
        results.append(memo.build_once((name,), (), builder))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and results == ["v"] * 8
    assert _counts(name) == {"hits": 7, "misses": 1}


def test_different_keys_build_concurrently(name):
    # each builder waits for the other to start: serialized builds
    # would time out instead of both seeing the other's event
    a_started, b_started = threading.Event(), threading.Event()
    out = {}

    def build(key, mine, other):
        def builder():
            mine.set()
            return other.wait(timeout=5)

        out[key] = memo.build_once((name, key), (), builder)

    threads = [
        threading.Thread(target=build, args=("a", a_started, b_started)),
        threading.Thread(target=build, args=("b", b_started, a_started)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)
    assert out == {"a": True, "b": True}


def test_builder_may_build_another_key(name):
    # in a daemon thread with a timeout: a lock held across the builder
    # would deadlock here rather than fail
    out = []
    t = threading.Thread(
        target=lambda: out.append(
            memo.build_once((name, "outer"), (), lambda: _get(name, "inner") + "!")
        ),
        daemon=True,
    )
    t.start()
    t.join(timeout=5)
    assert not t.is_alive()
    assert out == ["inner!"]
    assert _counts(name) == {"hits": 0, "misses": 2}


def test_dead_warehouse_root_rebuilds_and_hit_bumps_mtime(name, tmp_path):
    builds = []

    def builder():
        root = tmp_path / f"wh{len(builds)}"
        root.mkdir()
        builds.append(root)
        return ParquetWarehouse(None, str(root))

    wh = memo.build_once((name,), (), builder)
    os.utime(wh.root, (0, 0))
    assert memo.build_once((name,), (), builder) is wh
    assert os.path.getmtime(wh.root) > 0  # refreshed for the reaper
    shutil.rmtree(wh.root)
    rebuilt = memo.build_once((name,), (), builder)
    assert rebuilt.root != wh.root and os.path.isdir(rebuilt.root)
    assert _counts(name) == {"hits": 1, "misses": 2}


def test_raising_builder_caches_nothing(name):
    def boom():
        raise ValueError("build failed")

    with pytest.raises(ValueError):
        memo.build_once((name,), (), boom)
    assert memo.build_once((name,), (), lambda: 1) == 1
    assert memo.build_once((name,), (), lambda: 2) == 1
    assert _counts(name) == {"hits": 1, "misses": 1}


_MEMO_NAME = ("_MEMO", "_CACHE")
_THREADING = ("Lock", "RLock", "ThreadPoolExecutor", "Thread", "InheritableThread")


def _hand_rolled(tree: ast.Module) -> list[str]:
    found = []
    for node in tree.body:
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign)
            else []
        )
        found += [
            f"module-level {t.id} (line {node.lineno})"
            for t in targets
            if isinstance(t, ast.Name) and t.id.endswith(_MEMO_NAME)
        ]
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if called in _THREADING:
                found.append(f"{called}() (line {node.lineno})")
    return found


def test_no_hand_rolled_memos_outside_memo_module():
    """Process-wide caches and locks go through memo.build_once, and
    threads through memo.run_chains, so the key, bound, locking,
    liveness and overlap policy is decided in one place."""
    sample = (
        "import threading\n_X_MEMO: dict = {}\nL = threading.RLock()\n"
        "T = ThreadPoolExecutor(max_workers=2)\n"
    )
    assert len(_hand_rolled(ast.parse(sample))) == 3
    offenders = {
        str(p.relative_to(PACKAGE)): hits
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "memo.py" or p.parent != PACKAGE
        if (hits := _hand_rolled(ast.parse(p.read_text())))
    }
    assert offenders == {}


def test_run_chains_returns_results_in_keyword_order(spark):
    def late():
        time.sleep(0.2)
        return "b"

    assert memo.run_chains(b=late, a=lambda: "a", c=lambda: "c") == ("b", "a", "c")


def test_run_chains_overlaps_its_chains(spark):
    # each chain waits for the other to start: run one after the other,
    # the first would time out and return False
    a, b = threading.Event(), threading.Event()

    def chain(mine, other):
        def run():
            mine.set()
            return other.wait(timeout=10)

        return run

    assert memo.run_chains(a=chain(a, b), b=chain(b, a)) == (True, True)


def test_chain_inherits_local_properties_and_names_its_jobs(spark):
    sc = spark.sparkContext
    group = "test-run-chains"
    sc.setLocalProperty("test.run_chains", "caller")
    sc.setJobGroup(group, "suite")

    def probe():
        spark.range(3).count()
        return sc.getLocalProperty("test.run_chains")

    try:
        (seen,) = memo.run_chains(probe=probe)
    finally:
        for key in (
            "test.run_chains",
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
    assert seen == "caller"
    # the status store is fed by the listener bus, asynchronously
    deadline = time.time() + 10
    while not (jobs := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.time() < deadline, "the chain's job lost the caller's group"
        time.sleep(0.05)
    store = sc._jsc.sc().statusStore()
    assert {store.job(j).description().get() for j in jobs} == {"suite / probe"}


def test_run_chains_raises_after_every_chain_finishes(spark):
    done = []

    def slow():
        time.sleep(0.3)
        done.append("slow")
        raise KeyError("second in keyword order")

    def boom():
        raise ValueError("first in keyword order")

    with pytest.raises(ValueError, match="first in keyword order"):
        memo.run_chains(boom=boom, slow=slow)
    assert done == ["slow"]
