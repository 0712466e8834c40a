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


def test_release_cached_empties_the_jvm_cache(spark, size_gate):
    """Persists an op made on locals that died when it returned are still
    unpersisted: the registry holds them until release."""
    from bio2bel_spark.operators.graph import KnowledgeGraph, pagerank

    size_gate(0)  # edge_list's Spark tier pins its node index
    release_cached(spark)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    pagerank(edges, iterations=2).count()
    kg = KnowledgeGraph(
        spark.createDataFrame(
            [("x", "1"), ("x", "2")], "namespace string, identifier string"
        ),
        spark.createDataFrame(
            [("x", "1", "x", "2")],
            "source_ns string, source_id string, target_ns string, target_id string",
        ),
    )
    kg.edge_list().collect()
    assert not cache.isEmpty()
    assert release_cached(spark) == 3
    assert cache.isEmpty()


def test_edge_list_under_the_gate_pins_nothing(spark):
    """At or below the size gate edge_list numbers the nodes on the
    driver: nothing is persisted, so there is nothing to release."""
    from bio2bel_spark.operators.graph import KnowledgeGraph

    release_cached(spark)
    kg = KnowledgeGraph(
        spark.createDataFrame(
            [("x", "1"), ("x", "2")], "namespace string, identifier string"
        ),
        spark.createDataFrame(
            [("x", "1", "x", "2")],
            "source_ns string, source_id string, target_ns string, target_id string",
        ),
    )
    assert [tuple(r) for r in kg.edge_list().collect()] == [(0, 1)]
    assert release_cached(spark) == 0
