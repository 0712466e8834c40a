"""Salting utilities must be exactly equivalent to their unsalted twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataops import skew


@pytest.fixture(scope="module")
def skewed(spark):
    # key "hot" holds 90% of rows with many duplicate values
    rows = [("hot", f"v{i % 37}") for i in range(900)]
    rows += [(f"k{i}", f"v{i}") for i in range(100)]
    return spark.createDataFrame(rows, "key string, value string")


def test_salted_distinct_count_exact(spark, skewed):
    got = {
        r["key"]: r["n_distinct"]
        for r in skew.salted_distinct_count(skewed, "key", "value", 8).collect()
    }
    want = {
        r["key"]: r["n"]
        for r in skewed.groupBy("key")
        .agg(F.countDistinct("value").alias("n"))
        .collect()
    }
    assert got == want
    assert got["hot"] == 37


def test_salted_collect_set_exact(spark, skewed):
    got = {
        r["key"]: r["values"]
        for r in skew.salted_collect_set(skewed, "key", "value", 8).collect()
    }
    want = {
        r["key"]: r["v"]
        for r in skewed.groupBy("key")
        .agg(F.sort_array(F.collect_set("value")).alias("v"))
        .collect()
    }
    assert got == want


def test_choose_join_strategy_decisions(spark, skewed):
    """The planner picks broadcast for a small side, salted for a hot-key
    big side, plain for balanced big-big — driven only by the bounded
    count stats, never the join itself."""
    big_uniform = spark.createDataFrame(
        [(f"k{i % 500}", i) for i in range(5000)], "key string, n int"
    )
    dim = spark.createDataFrame([("hot", 1), ("k1", 2)], "key string, attr int")

    d = skew.choose_join_strategy(skewed, dim, "key", broadcast_rows=10)
    assert d["strategy"] == "broadcast" and d["broadcast_side"] == "right"
    assert d["stats"]["n_right"] == 2

    # no side broadcasts; `skewed`'s hot key holds 90% of rows -> salt left
    d = skew.choose_join_strategy(
        skewed, big_uniform, "key", broadcast_rows=50, skew_ratio=8.0
    )
    assert d["strategy"] == "salted" and d["salt_side"] == "left"
    assert d["stats"]["max_key_left"] == 900

    # balanced big-big -> plain (AQE handles the rest)
    d = skew.choose_join_strategy(
        big_uniform, big_uniform, "key", broadcast_rows=50, skew_ratio=8.0
    )
    assert d["strategy"] == "plain"


def test_apply_join_strategy_matches_plain_join(spark, skewed):
    """Every executed strategy returns exactly the plain join's rows; the
    broadcast decision shows up in the physical plan."""
    dim = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k1", 3), ("missing", 4)], "key string, attr int"
    )
    plain = skewed.join(dim, "key")
    want = sorted(map(tuple, plain.collect()))

    bcast = skew.apply_join_strategy(skewed, dim, "key", broadcast_rows=10)
    assert sorted(map(tuple, bcast.collect())) == want
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()

    salted = skew.apply_join_strategy(
        skewed, dim, "key", broadcast_rows=1, skew_ratio=2.0, n_salts=4
    )
    assert sorted(map(tuple, salted.collect())) == want

    forced_plain = skew.apply_join_strategy(
        skewed, dim, "key",
        decision={"strategy": "plain", "broadcast_side": None, "salt_side": None},
    )
    assert sorted(map(tuple, forced_plain.collect())) == want

    # salted-right on a non-inner join falls back to plain semantics
    left_outer = skew.apply_join_strategy(
        dim, skewed, "key", how="left",
        decision={"strategy": "salted", "salt_side": "right",
                  "broadcast_side": None},
    )
    want_outer = sorted(
        map(tuple, dim.join(skewed, "key", "left").collect()),
        key=lambda t: tuple(str(x) for x in t),
    )
    got_outer = sorted(
        map(tuple, left_outer.collect()),
        key=lambda t: tuple(str(x) for x in t),
    )
    assert got_outer == want_outer


def test_replicated_salt_join_multiplicity(spark, skewed):
    dim = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k1", 3), ("missing", 4)], "key string, attr int"
    )
    got = skew.replicated_salt_join(skewed, dim, "key", n_salts=4)
    plain = skewed.join(dim, "key")
    assert got.count() == plain.count()
    got_hot = got.filter(F.col("key") == "k1").orderBy("value", "attr").collect()
    plain_hot = plain.filter(F.col("key") == "k1").orderBy("value", "attr").collect()
    assert [tuple(r) for r in got_hot] == [tuple(r) for r in plain_hot]


def test_salted_full_outer_falls_back_to_plain(spark, skewed):
    """Round-7 ADVICE fix: a salted decision with how='full'/'right' must
    NOT route through replicated_salt_join — each unmatched right row
    would appear once per salt replica. Fallback = plain join semantics."""
    dim = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("missing", 4)], "key string, attr int"
    )
    for how in ("full", "right"):
        got = skew.apply_join_strategy(
            skewed, dim, "key", how=how, n_salts=4,
            decision={"strategy": "salted", "salt_side": "left",
                      "broadcast_side": None},
        )
        want = skewed.join(dim, "key", how)
        # the orphan right row ('missing') appears exactly once, not n_salts×
        assert got.filter(F.col("attr") == 4).count() == 1
        assert got.count() == want.count()


def test_replicated_salt_join_rejects_outer(spark, skewed):
    dim = spark.createDataFrame([("hot", 1)], "key string, attr int")
    for how in ("full", "right", "outer", "full_outer", "rightouter"):
        with pytest.raises(ValueError):
            skew.replicated_salt_join(skewed, dim, "key", 4, how)


def test_absolute_hot_key_threshold(spark):
    """Round-7 ADVICE fix: one dominant key overall (keys==1 ⇒ max==mean)
    defeats the ratio-to-mean test; the absolute hot-key threshold
    (max_key > broadcast_rows) must classify it salted anyway."""
    one_key = spark.createDataFrame(
        [("hot", i) for i in range(500)], "key string, n int"
    )
    big = spark.createDataFrame(
        [(f"k{i % 400}", i) for i in range(4000)] + [("hot", -1)],
        "key string, m int",
    )
    d = skew.choose_join_strategy(one_key, big, "key", broadcast_rows=100,
                                  skew_ratio=8.0)
    assert d["strategy"] == "salted" and d["salt_side"] == "left"
    assert d["stats"]["keys_left"] == 1 and d["stats"]["max_key_left"] == 500
