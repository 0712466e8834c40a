"""Tracked persistence for operator intermediates.

Several multi-consumer plans (LSH banding, embedding near-pair buckets,
PageRank iterations, node-index joins) persist a narrow intermediate so it
is computed once instead of once per consumer. Those blocks stay pinned in
executor memory after the query's action finishes — harmless for one query,
but a session that runs the whole 89-query registry accumulates dozens of
dead MEMORY_AND_DISK blocks that squeeze live shuffles at scale.

Every operator persist goes through :func:`tracked_persist`, which records
the DataFrame per session; :func:`release_cached` unpersists everything the
library pinned in that session — and ONLY that, so a caller's own ``cache()``
data survives (unlike ``spark.catalog.clearCache()``). The bench harness
calls it between queries; long-lived applications should call it whenever a
query's results have been fully consumed.

The registry holds STRONG references. ``Dataset.persist`` registers the plan
with Spark's CacheManager, which keeps the cached data until ``unpersist`` is
called; garbage-collecting the Python DataFrame releases nothing. An op's
persisted locals go out of scope when it returns, so only the registry can
still unpersist them.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

__all__ = ["tracked_persist", "release_cached"]

_REGISTRY: "dict[SparkSession, list[DataFrame]]" = {}


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)``, recorded for later :func:`release_cached`."""
    df = df.persist(level)
    _REGISTRY.setdefault(df.sparkSession, []).append(df)
    return df


def release_cached(spark: SparkSession) -> int:
    """Unpersist every block this library pinned in ``spark``.

    Returns the number of DataFrames released. Non-blocking unpersist: the
    executors drop blocks asynchronously, the plans stay valid (re-running
    them just recomputes).
    """
    released = 0
    for df in _REGISTRY.pop(spark, []):
        try:
            df.unpersist(blocking=False)
            released += 1
        except Exception:  # noqa: BLE001 — a stopped session is fine
            pass
    return released
