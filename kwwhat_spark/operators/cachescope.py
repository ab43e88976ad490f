"""Scoped release for operator-persisted intermediates.

Several operators persist() intra-query stages that are consumed more
than once within one returned plan (minhash shingles/banded rows, the
substring-strip token stage). The persists are correct §5 usage — the
stage is reused and recomputing it costs more than the cache — but the
DataFrame handles are operator-local, so a LONG-LIVED session composing
many operator calls accumulates storage: Spark's CacheManager keys
caches by logical plan and never drops them on its own.

Callers have two contracts:

- Per-query isolation (what bench.py and the oracle gate do): call
  ``spark.catalog.clearCache()`` between queries. Blanket, simple, and
  correct when queries don't share cached stages.
- Scoped release (long-lived sessions): operators register every
  persist here; call :func:`release_tracked` after materializing an
  operator's output to unpersist exactly the intermediates operators
  created, leaving caller-managed caches alone.

Tracking holds strong references: the JVM cache outlives the Python
handle, so a weakref would go dead while the cache lives on.

:func:`release` frees one handle whichever way it was materialized.
``DataFrame.unpersist()`` only reaches the CacheManager, so on an
eager ``localCheckpoint()`` it is a no-op: the checkpoint's blocks
belong to the RDD under the frame's ``LogicalRDD`` leaf, and only
unpersisting that RDD frees them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an operator-persisted DataFrame for scoped release."""
    _TRACKED.append(df)
    return df


def release(df: DataFrame, blocking: bool = False) -> None:
    """Free what ``df`` holds: a ``persist()`` cache entry, or the blocks
    of an eager ``localCheckpoint()``. A released checkpoint cannot be
    read again."""
    df.unpersist(blocking=blocking)
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(blocking)


def release_tracked(blocking: bool = False) -> int:
    """Release every tracked intermediate; returns how many."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            release(df, blocking=blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
