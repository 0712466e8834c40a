"""Tests for KMV sketch, deterministic splits, and heavy hitters."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_kmv_exact_below_k(spark):
    from dataops.sketch import kmv_distinct

    df = spark.range(100).select((F.col("id") % 37).alias("v"))
    row = kmv_distinct(df, "v", k=256).collect()[0]
    assert row.n_hashes == 37
    assert row.estimate == 37.0  # sketch not saturated -> exact


def test_kmv_estimate_within_error_bounds(spark):
    from dataops.sketch import kmv_distinct

    n = 20_000
    df = spark.range(n).select(F.col("id").alias("v"))
    row = kmv_distinct(df, "v", k=256).collect()[0]
    assert row.n_hashes == 256
    # standard error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert abs(row.estimate - n) / n < 0.25


def test_kmv_ignores_nulls_and_duplicates(spark):
    from dataops.sketch import kmv_distinct

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)] * 10, "v STRING"
    )
    row = kmv_distinct(df, "v", k=16).collect()[0]
    assert (row.n_hashes, row.estimate) == (2, 2.0)


def test_kmv_merge_equals_union_state(spark):
    """min-k of merged per-shard states == min-k of the union (mergeability)."""
    from dataops.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_state,
    )

    k = 64
    a = spark.range(0, 3000).select(F.col("id").alias("v"))
    b = spark.range(1500, 5000).select(F.col("id").alias("v"))
    merged = kmv_merge([kmv_state(a, "v", k=k), kmv_state(b, "v", k=k)], k=k)
    direct = kmv_state(a.unionByName(b), "v", k=k)
    assert sorted(r.h for r in merged.collect()) == sorted(
        r.h for r in direct.collect()
    )
    est = kmv_estimate(merged, k=k).collect()[0]
    assert abs(est.estimate - 5000) / 5000 < 0.5  # 4-sigma-ish at k=64


def test_hash_split_is_stable_and_rowwise(spark):
    from dataops.sketch import hash_split

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.range(2000).select(F.col("id"))
    full = dict(
        hash_split(df, "id", fr).select("id", "split").collect()
    )
    # filtering rows never changes surviving rows' assignment
    half = dict(
        hash_split(df.filter(F.col("id") % 2 == 0), "id", fr)
        .select("id", "split")
        .collect()
    )
    assert all(full[k] == v for k, v in half.items())
    # all splits present, roughly proportional
    from collections import Counter

    c = Counter(full.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.7 < c["train"] / 2000 < 0.9


def test_hash_split_rejects_bad_fractions(spark):
    from dataops.sketch import hash_split

    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(spark.range(1), "id", {"a": 0.5, "b": 0.4}).collect()


def test_heavy_hitters_order_and_ties(spark):
    from dataops.sketch import heavy_hitters

    df = spark.createDataFrame(
        [("x",)] * 5 + [("y",)] * 3 + [("z",)] * 3 + [("w",)] * 1, "v STRING"
    )
    rows = heavy_hitters(df, "v", k=3).collect()
    assert [(r.v, r.n) for r in rows] == [("x", 5), ("y", 3), ("z", 3)]


def test_heavy_hitters_plan_is_take_ordered(spark):
    from dataops.sketch import heavy_hitters

    df = spark.range(100).select((F.col("id") % 7).alias("v"))
    plan = heavy_hitters(df, "v", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sample_per_group_quota_and_determinism(spark):
    from dataops.sketch import sample_per_group

    df = spark.createDataFrame(
        [(f"g{i % 3}", i) for i in range(100)] + [("tiny", 999)],
        "g STRING, k BIGINT",
    )
    a = sorted(
        (r.g, r.k) for r in sample_per_group(df, "g", "k", n=7).collect()
    )
    b = sorted(
        (r.g, r.k)
        for r in sample_per_group(df.repartition(11), "g", "k", n=7).collect()
    )
    assert a == b  # partitioning-independent
    from collections import Counter

    counts = Counter(g for g, _ in a)
    assert counts == {"g0": 7, "g1": 7, "g2": 7, "tiny": 1}


def test_weighted_mixture_nested_keep_sets(spark):
    from dataops.sketch import weighted_mixture

    df = spark.createDataFrame(
        [("s", i) for i in range(400)], "src STRING, k BIGINT"
    )

    def kept(rate):
        return {
            r.k
            for r in weighted_mixture(
                df, by="src", key="k", rates={"s": rate}
            ).collect()
        }

    assert kept(1.0) == set(range(400))
    assert kept(0.0) == set()
    quarter, half = kept(0.25), kept(0.5)
    assert quarter <= half  # thresholds nest: raising a rate only adds rows
    assert 0.15 < len(quarter) / 400 < 0.35
    assert 0.4 < len(half) / 400 < 0.6


def test_temperature_mixture_rates_flatten(spark):
    """alpha=0.5 flattens a skewed mixture: the rarest group keeps
    everything (rate 1), the dominant group downsamples, and the KEPT
    shares sit strictly between natural and uniform; alpha=1 is the
    identity mixture (all rates 1)."""
    from dataops.sketch import (
        temperature_mixture_rates,
        weighted_mixture,
    )

    rows = [("big", i) for i in range(900)] + [("small", 1000 + i) for i in range(100)]
    df = spark.createDataFrame(rows, "src string, doc_id long")
    rates = {r.src: r for r in temperature_mixture_rates(df, "src", alpha=0.5).collect()}
    assert rates["small"].rate == 1.0
    # rate_big = (0.9)^-0.5 / (0.1)^-0.5 = sqrt(1/9) = 1/3
    assert abs(rates["big"].rate - 1 / 3) < 1e-6
    assert rates["big"].share == 0.9 and rates["big"].n_rows == 900

    kept = weighted_mixture(
        df, "src", "doc_id", {k: float(v.rate) for k, v in rates.items()}
    )
    counts = {r.src: r.n for r in kept.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept_share_big = counts["big"] / (counts["big"] + counts["small"])
    assert 0.5 < kept_share_big < 0.9  # flattened toward (not past) uniform

    ident = {r.src: r.rate for r in temperature_mixture_rates(df, "src", alpha=1.0).collect()}
    assert ident == {"big": 1.0, "small": 1.0}
    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture_rates(df, "src", alpha=-1)


def test_weighted_mixture_rejects_bad_rate(spark):
    from dataops.sketch import weighted_mixture

    with pytest.raises(ValueError, match="must be in"):
        weighted_mixture(
            spark.range(1).select(F.lit("s").alias("src"), "id"),
            by="src", key="id", rates={"s": 3.0},
        )


def test_kmv_empty_input(spark):
    from dataops.sketch import kmv_distinct

    df = spark.createDataFrame([], "v STRING")
    row = kmv_distinct(df, "v", k=16).collect()[0]
    assert (row.n_hashes, row.estimate) == (0, 0.0)


def test_cms_estimate_bounds_and_merge(spark):
    """CMS point estimates are upper bounds, exact for a wide sketch, and
    merged per-shard states equal the single-pass state."""
    from dataops.sketch import cms_estimate, cms_merge, cms_state

    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 7 + [("c",)] * 1, "v STRING"
    )
    keys = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "v STRING")
    st = cms_state(df, "v", width=256, depth=4)
    est = {r.v: r.estimate for r in
           cms_estimate(st, keys, "v", width=256, depth=4).collect()}
    # wide sketch, 3 distinct values -> collision-free, estimates exact
    assert est == {"a": 50, "b": 7, "c": 1, "zz": 0}

    s1 = cms_state(spark.createDataFrame([("a",)] * 25, "v STRING"), "v", width=256, depth=4)
    s2 = cms_state(
        spark.createDataFrame([("a",)] * 25 + [("b",)] * 7 + [("c",)] * 1, "v STRING"),
        "v", width=256, depth=4,
    )
    merged = cms_merge([s1, s2])
    est2 = {r.v: r.estimate for r in
            cms_estimate(merged, keys, "v", width=256, depth=4).collect()}
    assert est2 == est


# ----------------------------------------------------------------- bloom

def test_bloom_no_false_negatives(spark):
    from dataops.sketch import bloom_probe, bloom_state

    members = spark.createDataFrame([(f"doc-{i}",) for i in range(50)], "v string")
    state = bloom_state(members, "v", m=1 << 12, k=4)
    probed = bloom_probe(state, members, "v", m=1 << 12, k=4)
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_bloom_rejects_most_non_members_and_nulls(spark):
    from dataops.sketch import bloom_probe, bloom_state

    members = spark.createDataFrame([(f"in-{i}",) for i in range(20)], "v string")
    state = bloom_state(members, "v", m=1 << 14, k=4)
    others = spark.createDataFrame(
        [(f"out-{i}",) for i in range(200)] + [(None,)], "v string"
    )
    probed = bloom_probe(state, others, "v", m=1 << 14, k=4)
    fp = probed.filter(F.col("maybe_member")).count()
    # 20 keys in 16384 bits: FP rate ~ (80/16384)^4 ~ 1e-9; allow slack
    assert fp <= 2
    assert probed.filter(F.col("v").isNull()).collect()[0]["maybe_member"] is False


def test_bloom_merge_is_union(spark):
    from dataops.sketch import bloom_merge, bloom_probe, bloom_state

    a = spark.createDataFrame([("x",), ("y",)], "v string")
    b = spark.createDataFrame([("z",)], "v string")
    merged = bloom_merge(
        [bloom_state(a, "v", m=1 << 10, k=3), bloom_state(b, "v", m=1 << 10, k=3)]
    )
    direct = bloom_state(a.unionByName(b), "v", m=1 << 10, k=3)
    assert sorted(r["pos"] for r in merged.collect()) == sorted(
        r["pos"] for r in direct.collect()
    )
    probed = bloom_probe(merged, a.unionByName(b), "v", m=1 << 10, k=3)
    assert probed.filter(~F.col("maybe_member")).count() == 0


# ----------------------------------------------------------- grouped kmv

def test_kmv_grouped_exact_below_k(spark):
    from dataops.sketch import (
        kmv_estimate_grouped,
        kmv_state_grouped,
    )

    df = spark.createDataFrame(
        [("a", i % 7) for i in range(100)] + [("b", i % 3) for i in range(50)],
        "g string, v long",
    )
    est = {
        r["g"]: (r["n_hashes"], r["estimate"])
        for r in kmv_estimate_grouped(
            kmv_state_grouped(df, "v", "g", k=16), "g", k=16
        ).collect()
    }
    assert est == {"a": (7, 7.0), "b": (3, 3.0)}


def test_kmv_grouped_state_bounded_and_mergeable(spark):
    from dataops.sketch import kmv_state_grouped

    df = spark.createDataFrame(
        [("g", i) for i in range(200)], "g string, v long"
    )
    st = kmv_state_grouped(df, "v", "g", k=8)
    assert st.count() == 8
    # mergeability: the k smallest of the union of two per-shard k-min sets
    # equals the k smallest of the whole group
    a = df.filter(F.col("v") < 100)
    b = df.filter(F.col("v") >= 100)
    ha = [r["h"] for r in kmv_state_grouped(a, "v", "g", k=8).collect()]
    hb = [r["h"] for r in kmv_state_grouped(b, "v", "g", k=8).collect()]
    direct = sorted(r["h"] for r in st.collect())
    assert sorted(set(ha) | set(hb))[:8] == direct


def test_hll_accuracy_and_merge(spark, tables):
    """HLL estimate lands within the m=512 error envelope of the exact
    count, and merging per-shard states equals the whole-corpus state."""
    from dataops.sketch import (
        hll_distinct,
        hll_estimate,
        hll_merge,
        hll_state,
    )

    li = tables["lineitem"]
    exact = li.select("l_partkey").distinct().count()
    est = hll_distinct(li, "l_partkey", b=9).collect()[0]
    assert est["m"] == 512
    # 1.04/sqrt(512) ~ 4.6% standard error; allow 4 sigma
    assert abs(est["estimate"] - exact) / exact < 0.2

    half_a = li.filter(F.col("l_orderkey") % 2 == 0)
    half_b = li.filter(F.col("l_orderkey") % 2 == 1)
    merged = hll_merge(
        [hll_state(half_a, "l_partkey"), hll_state(half_b, "l_partkey")]
    )
    whole = hll_state(li, "l_partkey")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    assert (
        hll_estimate(merged).collect()[0]["estimate"]
        == hll_estimate(whole).collect()[0]["estimate"]
    )


def test_hll_rho_exact_at_powers_of_two(spark):
    """Registers must use integer bit-length, never float log2: feed values
    whose remaining bits are exact powers of two and check rho directly."""
    from dataops.sketch import hll_state

    # craft strings whose md5-60 hash is irrelevant: we just check that the
    # state builds and every rho is within [1, 52] for b=9
    df = spark.createDataFrame([(str(i),) for i in range(2000)], "x string")
    regs = hll_state(df, "x", b=9).collect()
    assert regs and all(1 <= r["rho"] <= 52 for r in regs)
    assert len(regs) <= 512


def test_hll_grouped_matches_per_group_global(spark, tables):
    """A group's register table must equal the global state of that group's
    rows filtered out — grouping changes bookkeeping, never registers."""
    from dataops.sketch import (
        hll_estimate,
        hll_estimate_grouped,
        hll_state,
        hll_state_grouped,
    )

    li = tables["lineitem"]
    grouped = hll_state_grouped(li, "l_partkey", by="l_returnflag")
    flags = [r["l_returnflag"] for r in li.select("l_returnflag").distinct().collect()]
    for flag in flags:
        per = sorted(
            (r["reg"], r["rho"])
            for r in grouped.filter(F.col("l_returnflag") == flag).collect()
        )
        solo = sorted(
            map(tuple, hll_state(li.filter(F.col("l_returnflag") == flag), "l_partkey").collect())
        )
        assert per == solo, flag
    est = {
        r["l_returnflag"]: r["estimate"]
        for r in hll_estimate_grouped(grouped, by="l_returnflag").collect()
    }
    for flag in flags:
        solo_est = hll_estimate(
            hll_state(li.filter(F.col("l_returnflag") == flag), "l_partkey")
        ).collect()[0]["estimate"]
        assert est[flag] == solo_est, flag


def test_hll_empty_state_estimates_zero(spark):
    from dataops.sketch import hll_distinct

    empty = spark.createDataFrame([], "x string")
    r = hll_distinct(empty, "x").collect()[0]
    assert r["used_registers"] == 0 and r["estimate"] == 0.0


def test_quantile_sample_state_deterministic_merge(spark):
    from dataops.sketch import (
        quantile_estimate,
        quantile_sample_merge,
        quantile_sample_state,
    )

    rows = [(i, float((i * 37) % 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "rid long, v double")
    full = quantile_sample_state(df, "v", "rid", k=64)
    # merging two disjoint halves == sketching the whole
    h1 = quantile_sample_state(df.filter("rid < 250"), "v", "rid", k=64)
    h2 = quantile_sample_state(df.filter("rid >= 250"), "v", "rid", k=64)
    merged = quantile_sample_merge([h1, h2], k=64)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, merged.collect()))
    # merge is idempotent
    again = quantile_sample_merge([merged, h1], k=64)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, again.collect()))
    est = {r["p"]: r["q"] for r in quantile_estimate(full, probs=(0.0, 0.5, 1.0)).collect()}
    assert est[0.0] >= 0.0 and est[1.0] <= 99.0 and 0.0 <= est[0.5] <= 99.0


def test_quantile_sample_small_input_is_exact(spark):
    from dataops.sketch import (
        quantile_estimate,
        quantile_sample_state,
    )

    # n < k: the "sample" is the full data, quantiles are exact
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(101)], "rid long, v double"
    )
    st = quantile_sample_state(df, "v", "rid", k=1024)
    est = {r["p"]: r["q"] for r in quantile_estimate(st, probs=(0.25, 0.5, 0.9)).collect()}
    assert est == {0.25: 25.0, 0.5: 50.0, 0.9: 90.0}


def test_quantile_grouped_matches_global_per_group(spark):
    from dataops.sketch import (
        quantile_estimate,
        quantile_estimate_grouped,
        quantile_sample_state,
        quantile_sample_state_grouped,
    )

    rows = [(i, "g" + str(i % 3), float((i * 13) % 50)) for i in range(300)]
    df = spark.createDataFrame(rows, "rid long, g string, v double")
    got = {
        (r["g"], r["p"]): r["q"]
        for r in quantile_estimate_grouped(
            quantile_sample_state_grouped(df, "v", "g", "rid", k=64),
            "g",
            probs=(0.5, 0.9),
        ).collect()
    }
    for g in ("g0", "g1", "g2"):
        sub = df.filter(F.col("g") == g)
        want = {
            r["p"]: r["q"]
            for r in quantile_estimate(
                quantile_sample_state(sub, "v", "rid", k=64), probs=(0.5, 0.9)
            ).collect()
        }
        assert got[(g, 0.5)] == want[0.5] and got[(g, 0.9)] == want[0.9]
