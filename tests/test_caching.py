"""tracked_persist / release_cached registry behavior."""

from __future__ import annotations

from bio2bel_spark.operators.caching import release_cached, tracked_persist


def test_release_cached_unpersists_only_tracked(spark):
    tracked = tracked_persist(spark.range(10))
    own = spark.range(5).cache()
    tracked.count(), own.count()
    assert tracked.storageLevel.useMemory
    assert release_cached(spark) == 1
    assert not tracked.storageLevel.useMemory
    # the caller's own cache survives (unlike catalog.clearCache)
    assert own.storageLevel.useMemory
    own.unpersist()
    # registry drained: second release is a no-op
    assert release_cached(spark) == 0


def test_operator_persists_are_tracked(spark, monkeypatch):
    from bio2bel_spark.operators import caching
    from bio2bel_spark.operators.graph import pagerank

    # pagerank's persisted intermediates are locals that go out of scope on
    # return; the spy holds them so the weak registry entries stay live
    pinned = []
    real = caching.tracked_persist

    def spy(df, *args, **kwargs):
        pinned.append(real(df, *args, **kwargs))
        return pinned[-1]

    monkeypatch.setattr(caching, "tracked_persist", spy)
    release_cached(spark)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    pagerank(edges, iterations=2).count()
    # the node set and the degree-joined edge list are both pinned
    assert len(pinned) == 2
    assert release_cached(spark) == 2
    assert not any(df.storageLevel.useMemory for df in pinned)
