"""Persist-lifecycle registry: track every cached DataFrame, release on demand.

Spark's ContextCleaner reclaims persisted RDDs only when unreferenced,
but DataFrame ``persist()`` registers the plan in the CacheManager,
which holds a reference until an explicit ``unpersist()``. A long-lived
driver that calls operators which persist intermediates (LSH candidate
tables, …) therefore accumulates cached blocks until eviction pressure.

Every operator in this package that persists an intermediate does so
through :func:`persist_tracked`. Laziness is why the operators cannot
unpersist themselves: they return un-executed plans whose actions happen
later, in the caller. Two release idioms (ADVICE r2: the registry must
not let one job clobber another's not-yet-materialized caches):

- The registry is THREAD-LOCAL: concurrent jobs on separate driver
  threads never see — or release — each other's entries.
- Within a thread, a job that persists intermediates scopes them with
  :func:`cache_scope`, which on exit releases exactly the entries
  persisted inside the scope; caches the caller created earlier (e.g.
  a ``minhash_near_duplicates`` result it has not materialized yet)
  survive. :func:`release_caches` remains the terminal whole-thread
  cleanup for REPL/bench use.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCAL = threading.local()
# Every thread's registry, so a terminal cleanup can reach caches
# persisted on worker threads (foreachBatch callbacks, thread pools)
# whose owning thread may be gone. Guarded by _ALL_LOCK.
_ALL_REGISTRIES: list[list[DataFrame]] = []
_ALL_LOCK = threading.Lock()


def _registry() -> list[DataFrame]:
    reg = getattr(_LOCAL, "registry", None)
    if reg is None:
        reg = []
        _LOCAL.registry = reg
        with _ALL_LOCK:
            _ALL_REGISTRIES.append(reg)
    return reg


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() + register for later release (this thread's registry)."""
    df.persist()
    _registry().append(df)
    return df


def _release(entries: list[DataFrame]) -> int:
    released = 0
    while entries:
        df = entries.pop()
        try:
            df.unpersist()
            released += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return released


def release_caches() -> int:
    """Unpersist every DataFrame tracked BY THIS THREAD; returns count.

    Safe to call at any time: plans referencing a released cache simply
    recompute their lineage on the next action. Jobs that should not
    touch caches their caller still depends on use :func:`cache_scope`
    instead; session-terminal cleanup that must also reach caches
    persisted on other (possibly finished) threads — e.g. a streaming
    ``foreachBatch`` callback — uses :func:`release_all_caches`.
    """
    return _release(_registry())


def release_all_caches() -> int:
    """Unpersist every tracked DataFrame across ALL threads; returns count.

    The whole-driver terminal cleanup: reaches registries created on
    worker threads that have since exited (their entries would
    otherwise leak for the session's lifetime). Do NOT call while other
    jobs are mid-flight — that is exactly the clobbering
    :func:`cache_scope` exists to prevent.
    """
    with _ALL_LOCK:
        regs = list(_ALL_REGISTRIES)
    return sum(_release(reg) for reg in regs)


@contextmanager
def cache_scope():
    """Release, on exit, exactly the caches persisted inside the scope.

    Entries the current thread tracked before entry are left persisted
    (and still owned by the enclosing scope or the thread's terminal
    ``release_caches``). Scopes nest.
    """
    reg = _registry()
    mark = len(reg)
    try:
        yield
    finally:
        tail = reg[mark:]
        del reg[mark:]
        _release(tail)
