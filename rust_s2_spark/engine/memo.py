"""The driver-side session memo: what a query builds once per SparkContext
and frees when the session's memos are cleared.

One store, keyed by ``(sparkContext.applicationId, tag)``.  The tag names
the value and everything it depends on — include the ``sf_dir`` for any
data-derived value.  Values are whatever the builder returns: a (persisted
or checkpointed) DataFrame, a Broadcast, a path string, or a tuple of
those.  The builder decides how its frame is materialized; the memo only
decides when to build and when to free.

- :func:`get` builds on the first call for a key and returns the stored
  value afterwards;
- :func:`hold` registers an intermediate with no key of its own (the
  candidate blocks of the kNN search) so that :func:`clear` frees it with
  the rest;
- :func:`clear` frees every value and every held frame and empties the
  store: DataFrames through :func:`cluster.release` (the frame's own
  persisted blocks and every checkpoint leaf its plan reads), Broadcasts
  through ``unpersist()``, tuples item by item; a path string just drops.

A miss under a new applicationId drops the other applications' entries
without freeing them: a stopped context's blocks can no longer be freed
through Spark, but dropping the references lets the driver collect them,
and a recreated session never gets a frame bound to a dead context.
"""

from __future__ import annotations

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

from .cluster import release

__all__ = ["clear", "get", "hold"]

_SESSION_CACHE: dict[tuple, object] = {}


def get(spark: SparkSession, tag, build):
    """The value stored for ``(applicationId, tag)``; ``build()`` runs once,
    on the first call for the key."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, tag)
    if key in _SESSION_CACHE:
        return _SESSION_CACHE[key]
    for k in [k for k in _SESSION_CACHE if k[0] != app_id]:
        del _SESSION_CACHE[k]
    value = _SESSION_CACHE[key] = build()
    return value


def hold(df: DataFrame) -> None:
    """Keep ``df``'s blocks until the next :func:`clear`."""
    app_id = df.sparkSession.sparkContext.applicationId
    _SESSION_CACHE[(app_id, ("held", id(df)))] = df


def _free(value) -> None:
    if isinstance(value, tuple):
        for v in value:
            _free(v)
    elif isinstance(value, DataFrame):
        release(value)
    elif isinstance(value, Broadcast):
        value.unpersist()


def clear() -> None:
    """Free every stored value and held frame, then empty the store."""
    for value in _SESSION_CACHE.values():
        try:
            _free(value)
        except Exception:
            # a frame of a stopped context: nothing left to free
            pass
    _SESSION_CACHE.clear()
