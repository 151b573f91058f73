"""Session-wide registry of per-call persisted relations.

Operators call :func:`pin` instead of a bare ``.persist()`` for shared
subtrees that a self-join or multi-branch consumer would otherwise
re-evaluate; inside the query the semantics are identical (same storage
level, same reuse).

A ``DataFrame.persist()`` registers the plan in the session's
CacheManager, which holds a strong reference. Nothing calls
:func:`release_pinned` today, so a pinned relation stays cached for the
life of the session, and in a session that runs many queries the pins
accumulate as executor-storage pressure.

:func:`release_pinned` unpersists every relation pinned so far. Calling
it is correct at any time: ``unpersist`` is a hint, and a consumer that
re-runs after release simply recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []


def pin(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` + register for a later :func:`release_pinned`."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _PINNED.append(df)
    return df


def release_pinned() -> int:
    """Unpersist every relation pinned since the last release.

    Returns the number of relations released. Safe to call at any time:
    a consumer of a released relation recomputes it (persist/unpersist
    are hints, never correctness).
    """
    n = len(_PINNED)
    while _PINNED:
        df = _PINNED.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    return n
