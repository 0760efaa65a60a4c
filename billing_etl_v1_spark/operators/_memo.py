"""Session-scoped memoization of what a DataFrame plan computes.

Operators that persist an expensive intermediate (the deduped contract dim,
MinHash signature tables) must not leak one cached relation per call:
repeated pipeline runs in one session would accumulate orphaned storage
(round-1 advice for ``match_rules``, round-2 advice for
``minhash_incremental_pairs``). The tokenizer trainers (``bpe``,
``unigram``, ``wordpiece``) must train once per corpus per session, not
once per query. This module is the one implementation of that memo:

- an entry is keyed by (session id, analyzed-plan semanticHash, *params)
  and a hit is CONFIRMED via ``sameResult`` — semanticHash is only 32 bits,
  and serving a colliding entry would silently compute against the wrong
  data;
- the stored frames pin the SparkSession object, so ``id(spark)`` can't
  be recycled for a different live session while an entry exists;
- a stopped session / dead JVM handle raises inside the probe → treated as
  a miss and the entry evicted;
- ``release`` frees entries explicitly between pipeline generations.

An entry's value is one frame or a tuple of frames; evicting or releasing
it unpersists each (a no-op on a frame that was never persisted, such as a
``localCheckpoint`` result).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

Frames = DataFrame | tuple[DataFrame, ...]
Registry = dict[tuple, tuple[object, Frames]]


def memoize(
    df: DataFrame,
    registry: Registry,
    params: tuple,
    build: Callable[[], Frames],
    alive: Callable[[Frames], bool] | None = None,
) -> Frames:
    """The registry entry for ``df``'s plan and ``params``, or ``build()``
    stored as that entry. ``alive`` rejects an entry whose value can no
    longer be served; it is asked before the ``sameResult`` confirmation."""
    spark = df.sparkSession
    analyzed = df._jdf.queryExecution().analyzed()
    key = (id(spark), analyzed.semanticHash(), *params)
    entry = registry.get(key)
    if entry is not None:
        plan, hit = entry
        try:
            live = alive is None or alive(hit)
            if plan.sameResult(analyzed) and live:
                return hit
        except Exception:
            pass  # stopped session / dead JVM handle — miss, evict
        del registry[key]
        _unpersist(hit)  # hash collision or dropped storage: release the loser
    value = build()
    registry[key] = (analyzed, value)
    return value


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

    def build() -> DataFrame:
        out = df if derive is None else derive(df)
        return out.persist(storage) if storage is not None else out.cache()

    # twins derived differently from one input get their own keys
    params = () if derive is None else (derive,)
    return memoize(df, registry, params, build, alive=_stored)


def _stored(df: DataFrame) -> bool:
    """An external clearCache()/unpersist() may have dropped storage behind
    the registry's back — a stale entry would silently hand out an UNcached
    relation and re-run its lineage per consumer."""
    sl = df.storageLevel
    return sl.useMemory or sl.useDisk


def release(registry: Registry, spark=None) -> int:
    """Unpersist every registry entry (for ``spark`` only, or all sessions);
    returns how many were released."""
    released = 0
    for key, (_plan, value) in list(registry.items()):
        if spark is None or key[0] == id(spark):
            _unpersist(value)
            del registry[key]
            released += 1
    return released


def _unpersist(value: Frames) -> None:
    for df in value if isinstance(value, tuple) else (value,):
        try:
            df.unpersist()
        except Exception:
            pass
