"""Property-based checks for the sketches: random inputs vs exact
pure-Python models (CMS upper/lower bounds, Bloom no-false-negatives,
triangle counting vs brute force)."""

from __future__ import annotations

from collections import Counter
from itertools import combinations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

VALUES = st.lists(st.integers(0, 30), min_size=1, max_size=60)
WORDS = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=6),
    min_size=1,
    max_size=30,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(values=VALUES)
def test_cms_estimates_bound_true_counts(spark, values):
    from dataops.sketch import cms_estimate, cms_state

    df = spark.createDataFrame([(v,) for v in values], "v long")
    state = cms_state(df, "v", width=64, depth=3)
    keys = df.select("v").distinct()
    est = {
        r["v"]: r["estimate"]
        for r in cms_estimate(state, keys, "v", width=64, depth=3).collect()
    }
    true = Counter(values)
    n = len(values)
    for v, c in true.items():
        # classic CMS guarantee: never under, over by at most the stream size
        assert c <= est[v] <= c + n


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(values=VALUES)
def test_cms_state_equals_merge_of_shards(spark, values):
    from dataops.sketch import cms_merge, cms_state

    df = spark.createDataFrame([(v,) for v in values], "v long")
    whole = {
        (r["d"], r["w"]): r["cnt"]
        for r in cms_state(df, "v", width=32, depth=2).collect()
    }
    a = df.filter(F.col("v") % 2 == 0)
    b = df.filter(F.col("v") % 2 == 1)
    shards = [
        cms_state(s, "v", width=32, depth=2)
        for s in (a, b)
        if s.count() > 0
    ]
    merged = {
        (r["d"], r["w"]): r["cnt"] for r in cms_merge(shards).collect()
    }
    assert merged == whole


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(members=WORDS, probes=WORDS)
def test_bloom_membership_properties(spark, members, probes):
    from dataops.sketch import bloom_probe, bloom_state

    mdf = spark.createDataFrame([(w,) for w in members], "v string")
    state = bloom_state(mdf, "v", m=1 << 12, k=3)
    pdf = spark.createDataFrame([(w,) for w in set(members + probes)], "v string")
    flags = {
        r["v"]: r["maybe_member"]
        for r in bloom_probe(state, pdf, "v", m=1 << 12, k=3).collect()
    }
    # no false negatives, ever
    for w in members:
        assert flags[w] is True


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=30,
    )
)
def test_triangle_count_matches_brute_force(spark, edges):
    from bio2bel_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges or [(0, 0)], "src int, dst int")
    if not edges:
        df = df.filter(F.lit(False))
    row = triangle_count(df).collect()[0]

    und = {frozenset((a, b)) for a, b in edges if a != b}
    nodes = {n for e in und for n in e}
    tri = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if {frozenset((a, b)), frozenset((a, c)), frozenset((b, c))} <= und
    )
    assert row["n_edges"] == len(und)
    assert row["n_triangles"] == tri


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(0, 10**6), min_size=1, max_size=120, unique=True),
    cut1=st.integers(1, 100),
    cut2=st.integers(1, 100),
    k=st.sampled_from([8, 32]),
)
def test_quantile_sample_merge_associative(spark, vals, cut1, cut2, k):
    """Any split of the input and any merge order must reproduce the
    direct sketch exactly (bottom-k is a lattice join)."""
    from dataops.sketch import (
        quantile_sample_merge,
        quantile_sample_state,
    )

    rows = [(i, float(v % 1000)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "rid long, v double")
    a = cut1 % len(rows)
    b = a + (cut2 % (len(rows) - a + 1)) if len(rows) > a else a
    parts = [rows[:a], rows[a:b], rows[b:]]
    states = [
        quantile_sample_state(
            spark.createDataFrame(p, "rid long, v double"), "v", "rid", k=k
        )
        for p in parts
        if p
    ]
    direct = sorted(map(tuple, quantile_sample_state(df, "v", "rid", k=k).collect()))
    merged_lr = quantile_sample_merge(states, k=k)
    assert sorted(map(tuple, merged_lr.collect())) == direct
    if len(states) > 1:
        merged_rl = quantile_sample_merge(list(reversed(states)), k=k)
        assert sorted(map(tuple, merged_rl.collect())) == direct
