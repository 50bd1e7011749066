"""One registry for the frames operators persist internally.

An operator that reads an intermediate frame more than once within a plan
(MinHash signatures, per-event subsequence stats, prefix/suffix rarity
rows, selection scores) persists it through :func:`persist`. Callers that
hold no handle on those frames — driver-query wrappers, benchmarks, tests —
drop the storage between plans with :func:`release_caches`. A plan that
still references a released frame simply recomputes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_registered: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_caches`."""
    cached = df.persist()
    _registered.append(cached)
    return cached


def release_caches() -> int:
    """Unpersist every registered frame; returns how many were released.
    Each entry is popped before it is unpersisted, so a failing unpersist
    raises without leaving its frame registered."""
    n = 0
    while _registered:
        _registered.pop().unpersist()
        n += 1
    return n
