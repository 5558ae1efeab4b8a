"""Process-wide build-once memo: the one cache policy in the package.

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
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
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
