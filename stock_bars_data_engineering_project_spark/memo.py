"""Process-wide build-once memo and the eager build-chain runner: every
thread and lock in the package lives here.

``build_once(key, paths, builder)`` returns ``builder()``'s value,
building it at most once per key and source-file state:

- **Key.** ``key`` is a tuple whose first element names the cache
  (``("bm25_index", sf_dir)``); the entry key adds
  ``(abspath, st_ino, st_mtime_ns, st_size)`` from one ``os.stat`` of
  each of ``paths``, so a source rewritten in place within one mtime
  tick, or replaced by a rename, is a miss.
- **Bound.** Each cache name is an LRU of at most ``CAP`` entries.
  Superseded source versions strand their entries until they age out;
  evicting a warehouse handle drops only the in-process pointer (the
  scratch reaper owns the on-disk lifetime) and a later miss rebuilds.
- **Locking.** One lock per entry: threads asking for the same artifact
  wait for a single build, while different entries build concurrently.
  The registry lock is never held while a builder runs, so a builder
  may itself call ``build_once`` on another key.
- **Liveness.** A value carrying a ``root`` directory (a
  ``ParquetWarehouse``) is a hit only while that directory exists, and
  each hit refreshes its mtime: ``plans.registry.scratch_warehouse``'s
  age-gated reaper, possibly in another process, judges liveness by it.

``counts()`` reports hits and misses per cache name.

``run_chains(**chains)`` overlaps a query's independent eager build
chains (docstring there).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterable, TypeVar

T = TypeVar("T")

# Entries per cache name. Entries are small (plan handles, driver-side
# flag lists, warehouse handles) and 512 covers every live version dir
# of every table in a run.
CAP = 512

_lock = threading.Lock()
_caches: dict[str, OrderedDict] = {}
_counts: dict[str, dict[str, int]] = {}


class _Slot:
    __slots__ = ("lock", "built", "value")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.built = False
        self.value = None


def _stamp(path: str) -> tuple:
    st = os.stat(path)
    return (os.path.abspath(path), st.st_ino, st.st_mtime_ns, st.st_size)


def _alive(value) -> bool:
    # instance attribute only: a DataFrame's __getattr__ would resolve
    # a column named "root" through the JVM
    root = getattr(value, "__dict__", {}).get("root")
    if root is None:
        return True
    try:
        os.utime(root, None)
    except FileNotFoundError:
        return False
    return True


def _count(name: str, outcome: str) -> None:
    with _lock:
        c = _counts.setdefault(name, {"hits": 0, "misses": 0})
        c[outcome] += 1


def build_once(key: tuple, paths: Iterable[str], builder: Callable[[], T]) -> T:
    """``builder()``, memoized per ``key`` plus the stat of ``paths``.

    A path that cannot be stat'ed makes the call uncacheable: the
    builder runs unmemoized so it surfaces the real error. A builder
    that raises caches nothing.
    """
    name = key[0]
    try:
        full = (*key, *(_stamp(p) for p in paths))
    except OSError:
        return builder()
    with _lock:
        cache = _caches.setdefault(name, OrderedDict())
        slot = cache.get(full)
        if slot is None:
            slot = cache[full] = _Slot()
            while len(cache) > CAP:
                cache.popitem(last=False)
        else:
            cache.move_to_end(full)
    with slot.lock:
        if slot.built and _alive(slot.value):
            _count(name, "hits")
            return slot.value
        try:
            slot.value = builder()
        except BaseException:
            with _lock:
                if cache.get(full) is slot:
                    del cache[full]
            raise
        slot.built = True
        _count(name, "misses")
        return slot.value


def counts() -> dict[str, dict[str, int]]:
    """``{cache name: {"hits": n, "misses": n}}`` since process start."""
    with _lock:
        return {name: dict(c) for name, c in _counts.items()}


def run_chains(**chains: Callable[[], object]) -> tuple:
    """Run zero-argument build chains on one thread each; return their
    results in keyword order.

    Each chain keeps the caller's Spark local properties (job group,
    scheduler pool, tags) through ``pyspark.inheritable_thread_target``,
    and its jobs' description is the caller's with `` / <chain name>``
    appended, so the event log attributes every job to its chain. All
    chains finish before the first failure, in keyword order, is
    re-raised.

    An overlap is kept only while a same-machine A/B justifies it: at
    least 5 alternating fresh-process pairs with only the row that uses
    it, serial slower in at least 4 of 5 on cold build time, and a gap
    between medians larger than the overlapped arm's quartile spread.
    Otherwise its chains are plain serial code. The tables, one per
    overlap kept or inlined, are in BASELINE.md "Build-chain overlaps
    on 4 CPUs".
    """
    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")

    def labelled(name: str, chain: Callable[[], object]) -> Callable[[], object]:
        def run():
            sc.setJobDescription(f"{caller} / {name}" if caller else name)
            return chain()

        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(chains)) as pool:
        futures = [pool.submit(labelled(n, c)) for n, c in chains.items()]
    return tuple(f.result() for f in futures)
