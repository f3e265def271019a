"""The engine's one memo: everything derived from a source is valid
exactly while its source is unchanged.

One rule, for every cache in the engine:

- **Key.** ``(kind, key)``. Each entry stores the stamp of what it was
  derived from next to its value: the ``(mtime_ns, size)`` of every
  source file (``cached``), or the live py4j gateway object for
  JVM-bound expression trees (``expr``).
- **Invalidation.** A hit needs the stored stamp to equal the current
  one. A source that cannot be stat'ed is never cached, and no
  expression is cached while there is no gateway.
- **Lifetime.** The process. A newer stamp replaces the entry it
  supersedes, so the dict holds at most one entry per key.

At-rest sidecars (index tables and parquet fixtures under the warehouse)
follow the same rule on disk: ``sidecar`` rebuilds a directory unless its
``_SOURCE_STAMP`` file equals the stamp of what it derives from (a
sidecar built with its source absent, e.g. from an in-memory frame, is
stamped ABSENT and rebuilt once the source appears).

Entries are plan-construction artifacts — schemas, expression trees,
plan literals, planner decisions — never query results. Query builds are
single-threaded; two concurrent misses on one key would both build and
the later write would win, which is still correct.
"""

from __future__ import annotations

import os

ABSENT = "absent"

_MEMO: dict[tuple, tuple[tuple, object]] = {}
_STATS = {"hits": 0, "misses": 0, "evictions": 0}


def source_stamp(path: str) -> str:
    """``"<mtime_ns>-<size>"`` of a file or directory (its mtime moves when
    members are replaced), or ABSENT when it cannot be stat'ed."""
    try:
        st = os.stat(path)
    except OSError:
        return ABSENT
    return f"{st.st_mtime_ns}-{st.st_size}"


def _lookup(k: tuple, stamp: tuple, build):
    entry = _MEMO.get(k)
    if entry is not None and entry[0] == stamp:
        _STATS["hits"] += 1
        return entry[1]
    _STATS["misses"] += 1
    if entry is not None:
        _STATS["evictions"] += 1
    value = build()
    _MEMO[k] = (stamp, value)
    return value


def cached(kind: str, key, sources, build):
    """``build()``, reused while every path in ``sources`` keeps its stamp."""
    stamps = tuple(source_stamp(p) for p in sources)
    if ABSENT in stamps:
        _STATS["misses"] += 1
        return build()
    return _lookup((kind, key), stamps, build)


def expr(key: tuple, build):
    """A constant expression tree (one Column or a tuple of Columns),
    reused while the py4j gateway it was built under is the live one.
    Unresolved Catalyst expressions are immutable, so one instance can
    appear in any number of plans."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        _STATS["misses"] += 1
        return build()
    # the entry holds the gateway object itself: identity, not id(), so a
    # new gateway can never match a dead one's entries
    return _lookup(("expr", key), (gateway,), build)


def stats() -> dict:
    """Hit, miss and eviction counters plus the current entry count."""
    return dict(_STATS, entries=len(_MEMO))


def sidecar(spark, loc: str, stamp: str, write) -> bool:
    """Ensure the warehouse directory ``loc`` was built from ``stamp`` (a
    source stamp or a content fingerprint). Otherwise ``write(loc)``
    rebuilds it, the stamp goes to ``loc/_SOURCE_STAMP`` (Spark's readers
    skip underscore files) and Spark's cached listing of ``loc`` is
    refreshed. Returns True when it rebuilt."""
    path = os.path.join(loc, "_SOURCE_STAMP")
    try:
        with open(path) as fh:
            if fh.read().strip() == stamp:
                return False
    except OSError:
        pass
    write(loc)
    with open(path, "w") as fh:
        fh.write(stamp)
    spark.catalog.refreshByPath(loc)
    return True
