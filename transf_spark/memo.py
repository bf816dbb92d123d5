"""Session-owned, fingerprint-keyed memo — the engine's one cache primitive.

Every reuse across a session's queries (lazy scan plans, temp-view
registration, similarity subtrees, trained centroids, checkpointed pair
graphs) goes through :func:`memo`. Reuse is sound only when it is keyed on
the data state, so each slot carries the fingerprint of the data it was
built from (``(mtime_ns, size)`` of the source parquet, or ``staging_tag``)
and is rebuilt when that fingerprint changes.

The store is a plain dict on the session object, one ``(fingerprint,
value)`` slot per key:

- a superseded fingerprint is overwritten, never kept beside the new one,
  so a long-lived session holds one slot per key however often its
  fixtures are regenerated;
- nothing outlives its session. The dict is reachable only from the
  session, so a dropped session and everything it memoized are collected
  together. A module-level map weak-keyed on the session cannot do
  this: the memoized DataFrames hold their session, so the key never dies.
"""

from __future__ import annotations

from typing import Any, Callable, Hashable

from pyspark.sql import SparkSession

STORE = "_transf_spark_memo"  # session attribute holding the slot dict


def memo(
    spark: SparkSession, key: Hashable, fingerprint: Any, build: Callable[[], Any]
) -> Any:
    """The value memoized under ``key`` on ``spark`` if it was built from
    ``fingerprint``; otherwise ``build()``, stored over the old slot."""
    store = vars(spark).setdefault(STORE, {})
    slot = store.get(key)
    if slot is not None and slot[0] == fingerprint:
        return slot[1]
    value = build()
    store[key] = (fingerprint, value)
    return value
