"""Session-scoped memoized-persist LRU shared by the text/analytics
operators.

The problem this solves (r5/r6 ADVICE + r6 verdict #4): operators that
``.persist()`` a relation feeding multiple consumers are correct per-call,
but a long-lived session (the bench sweep runs the whole battery in one
JVM; a production always-on Spark service looks the same) re-invokes them
dozens of times — without memoization each call pins a NEW CacheManager
entry, and without an eviction bound the memo itself leaks one
vocabulary- or corpus-sized relation per operator forever.

``memo_persist`` gives every such site one uniform discipline:

- keyed by ``(session id, df.semanticHash())`` — repeat calls on the same
  input plan return the SAME persisted DataFrame, so CacheManager holds
  one entry per distinct input, not one per call;
- a tiny per-family LRU (default 4 — more distinct corpora than that in
  one session means the caller manages its own lifecycles) unpersists the
  oldest entry on overflow, bounding what a session can accumulate;
- every family registers here, so :func:`clear_operator_caches` can
  release everything between bench queries (position-isolated timing) or
  at the end of a job.

Eviction only drops cached blocks — any in-flight consumer silently
recomputes from the lineage, so correctness never depends on residency.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

#: family name → OrderedDict-ish plain dict (Python dicts preserve
#: insertion order; LRU = delete+reinsert on hit, evict first key).
#: Values are (session_weakref, DataFrame): id(session) can be recycled
#: by CPython after a session is stopped + collected, so a hit must also
#: prove the weakref still points at the CALLER's live session — a dead
#: or mismatched referent is a miss, never a stale cross-session
#: DataFrame (ADVICE r7).
_FAMILIES: dict[str, dict[tuple[int, int], tuple[weakref.ref, DataFrame]]] = {}

DEFAULT_MAX_ENTRIES = 4


def memo_persist(
    family: str, df: DataFrame, max_entries: int = DEFAULT_MAX_ENTRIES
) -> DataFrame:
    """Return a persisted (MEMORY_AND_DISK) DataFrame for ``df``'s plan,
    memoized per (session, semantic plan hash) within ``family``.

    Two call sites that build semantically identical plans (e.g. the
    unigram-LM and BM25 term-frequency rollups) land on the SAME family
    key and share one cached relation.
    """
    from pyspark import StorageLevel

    cache = _FAMILIES.setdefault(family, {})
    session = df.sparkSession
    key = (id(session), df.semanticHash())
    hit = cache.get(key)
    if hit is not None:
        sess_ref, cached_df = hit
        if sess_ref() is session:
            # LRU bump: re-insert as most recent
            del cache[key]
            cache[key] = hit
            return cached_df
        # id() recycled onto a new session — stale entry, treat as miss
        del cache[key]
    persisted = df.persist(StorageLevel.MEMORY_AND_DISK)
    while len(cache) >= max_entries:
        oldest_key = next(iter(cache))
        _, evicted = cache.pop(oldest_key)
        try:
            evicted.unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass
    cache[key] = (weakref.ref(session), persisted)
    return persisted


def clear_operator_caches() -> None:
    """Unpersist and forget every memoized relation in every family.

    The bench calls this between queries so each timing is
    position-independent (no query rides a cache an earlier query
    built); long-running jobs can call it at phase boundaries.
    """
    for cache in _FAMILIES.values():
        for _, df in cache.values():
            try:
                df.unpersist(blocking=False)
            except Exception:
                pass
        cache.clear()


def cache_stats() -> dict[str, int]:
    """Entries per family — observability for tests and session debugging."""
    return {family: len(cache) for family, cache in _FAMILIES.items() if cache}
