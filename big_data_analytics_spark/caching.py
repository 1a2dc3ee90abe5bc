"""Session-lifetime caches and their bulk eviction.

``memo(spark, key, build)`` is the one session-scoped memo for the
prepared relations that queries reuse on every call: the graph edge
relation and its derived tables, the LSH and IVF indexes, the market
basket and rating relations, and the e-commerce fixture readers. Every
entry is stored under ``(applicationId, id(spark), *key)``, so a new
session — even one sharing the SparkContext — never receives a
DataFrame bound to another session's conf. ``build`` decides how its
value is materialized (``localCheckpoint``, ``persist`` + ``count``, or
lazy readers); a hit returns the stored value as is.

Two caches stay outside the memo and register their dicts directly:
``catalog._TABLE_CACHE``, whose hit path re-pins session conf, and
``operators.similarity._BUCKETS_EXPR_CACHE``, a process-wide parsed
expression with no session in scope.

Session caches make shared-session timings order-dependent: the first
query of a family pays the build and its siblings ride it.
``evict_all()`` drops every registered cache so a caller (``bench.py
--isolate-families``) can fence timing sections.
"""

from __future__ import annotations

from typing import Any, Callable

_REGISTRY: list[dict] = []


def register_cache(cache: dict) -> dict:
    """Register a module-level cache dict for bulk eviction; returns
    the dict so modules can register at definition site."""
    _REGISTRY.append(cache)
    return cache


_MEMO: dict[tuple, Any] = register_cache({})


def memo(spark, key: tuple, build: Callable[[], Any]) -> Any:
    """The value stored for ``key`` in this session, from ``build()``
    on a miss. A build that raises stores nothing. Every value holds a
    DataFrame, hence its session, so ``id(spark)`` cannot be recycled
    while the entry lives."""
    full = (spark.sparkContext.applicationId, id(spark), *key)
    if full not in _MEMO:
        _MEMO[full] = build()
    return _MEMO[full]


def _unpersist(obj) -> None:
    """Best-effort unpersist of a cache value and of the DataFrames
    nested in its tuples, lists and dicts. A ``.persist()``'d DataFrame
    holds executor storage until released, so clearing the dict alone
    would leave its blocks live across eviction cycles.
    localCheckpoint'd relations report ``is_cached=False`` and are left
    to the ContextCleaner."""
    from pyspark.sql import DataFrame

    if isinstance(obj, DataFrame):
        try:
            if obj.is_cached:
                obj.unpersist()
        except Exception:
            pass  # a dead session's DataFrame: nothing to release
    elif isinstance(obj, dict):
        _unpersist(list(obj.values()))
    elif isinstance(obj, (tuple, list)):
        for member in obj:
            _unpersist(member)


def evict_all() -> int:
    """Clear every registered cache — ``.persist()``'d values are
    unpersisted first; checkpointed relations are then unreferenced
    and GC'd by the ContextCleaner. Returns the number of evicted
    entries."""
    n = 0
    for cache in _REGISTRY:
        n += len(cache)
        for value in cache.values():
            _unpersist(value)
        cache.clear()
    return n
