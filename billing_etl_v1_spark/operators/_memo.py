"""Session-scoped memoization of persisted DataFrames.

Operators that persist an expensive intermediate (the deduped contract dim,
MinHash signature tables) must not leak one cached relation per call:
repeated pipeline runs in one session would accumulate orphaned storage
(round-1 advice for ``match_rules``, round-2 advice for
``minhash_incremental_pairs``). This module provides the shared
memo+release pattern:

- a hit is keyed by (session id, analyzed-plan semanticHash) and CONFIRMED
  via ``sameResult`` — semanticHash is only 32 bits, and serving a colliding
  relation would silently compute against the wrong data;
- the stored DataFrame pins the SparkSession object, so ``id(spark)`` can't
  be recycled for a different live session while an entry exists;
- a stopped session / dead JVM handle raises inside the probe → treated as
  a miss and the entry evicted;
- ``release`` frees entries explicitly between pipeline generations.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

Registry = dict[tuple, tuple[object, DataFrame]]


def memo_persist(
    df: DataFrame,
    registry: Registry,
    storage: StorageLevel | None = None,
    derive: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Return a persisted twin of ``df`` — or of ``derive(df)`` — reusing
    the registry entry when an equivalent ``df`` plan was already persisted
    in this session. Keying on the input means a hit never builds
    ``derive``'s plan."""
    spark = df.sparkSession
    analyzed = df._jdf.queryExecution().analyzed()
    key = (id(spark), analyzed.semanticHash())
    if derive is not None:  # twins derived differently from one input
        key += (derive,)
    entry = registry.get(key)
    if entry is not None:
        plan, hit = entry
        try:
            # an external clearCache()/unpersist() may have dropped storage
            # behind our back — a stale memo row would silently hand out an
            # UNcached relation and re-run its lineage per consumer
            sl = hit.storageLevel
            if plan.sameResult(analyzed) and (sl.useMemory or sl.useDisk):
                return hit
        except Exception:
            pass  # stopped session / dead JVM handle — miss, evict
        del registry[key]
        try:  # hash collision or dropped storage: release the loser
            hit.unpersist()
        except Exception:
            pass
    if derive is not None:
        df = derive(df)
    cached = df.persist(storage) if storage is not None else df.cache()
    registry[key] = (analyzed, cached)
    return cached


def release(registry: Registry, spark=None) -> int:
    """Unpersist every registry entry (for ``spark`` only, or all sessions);
    returns how many were released."""
    released = 0
    for key, (_plan, df) in list(registry.items()):
        if spark is None or key[0] == id(spark):
            try:
                df.unpersist()
            except Exception:
                pass
            del registry[key]
            released += 1
    return released
