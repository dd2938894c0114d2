"""Scoped persist: tie cached self-join inputs to the result plan's lifetime.

The dedup/similarity pair operators persist() the shared subtree of a
self-join (computing signatures once, not twice — measured 10x on jaccard),
and their kernels broadcast a payload. A bare persist() or broadcast leaks:
every invocation leaves blocks behind for the session's lifetime, so a
long-lived driver calling these operators repeatedly accumulates storage
until eviction pressure hurts everything else.

`release_on_gc` scopes both to the RETURNED plan instead: while the caller
holds the result DataFrame the cache stays warm (re-execution reuses it);
once the result is garbage-collected the inputs unpersist automatically.
Unpersisting never breaks the plan: a later re-execution just recomputes
(or re-ships the broadcast) instead of reading cache. Callers that want the
blocks back sooner call `result.release_cached_inputs()` (idempotent); it
also DESTROYS the broadcasts, so a released kernel result, and any plan
derived from it, must not run again.
"""

from __future__ import annotations

import weakref

from pyspark import Broadcast
from pyspark.sql import DataFrame


def _release(cached: list, destroy: bool) -> None:
    for d in cached:
        try:
            if isinstance(d, Broadcast) and destroy:
                d.destroy(blocking=True)
            else:
                d.unpersist(blocking=True)
        except Exception:
            pass  # session stopped / JVM gone — nothing left to free


def release_on_gc(result: DataFrame, *cached: DataFrame | Broadcast) -> DataFrame:
    fin = weakref.finalize(result, _release, list(cached), False)
    fin.atexit = False  # at interpreter shutdown the JVM may already be gone

    def release() -> None:
        if fin.detach() is not None:
            _release(list(cached), True)

    result.release_cached_inputs = release
    return result
