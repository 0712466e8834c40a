"""Property test: asof_join vs the pandas ``merge_asof`` reference model.

``merge_asof(direction='backward', allow_exact_matches=True)`` is the
industry-standard definition of the backward-inclusive as-of join; random
inputs here pin the union-sort implementation to it, including tolerance
handling and keys that exist on only one side.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE = dt.datetime(2024, 1, 1)

# (key, seconds-offset) event lists; seconds are unique per side so the
# pandas model has no within-key ties to disambiguate
LEFT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500)),
    min_size=1, max_size=30, unique=True,
)
RIGHT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500)),
    min_size=1, max_size=30, unique=True,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=LEFT, right=RIGHT, tol=st.one_of(st.none(), st.integers(1, 100)))
def test_asof_matches_pandas_merge_asof(spark, left, right, tol):
    from dataops.temporal import asof_join

    # dedupe (key, ts) pairs: both engines need a deterministic pick
    left = sorted(set(left))
    right = sorted(set(right))
    lrows = [(k, BASE + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)]
    rrows = [(k, BASE + dt.timedelta(seconds=s), float(s)) for k, s in right]

    ldf = spark.createDataFrame(lrows, "k BIGINT, ts TIMESTAMP, lid BIGINT")
    rdf = spark.createDataFrame(rrows, "k BIGINT, ts TIMESTAMP, rv DOUBLE")
    got = {
        r.lid: r.rv_r
        for r in asof_join(
            ldf, rdf, on="ts", by="k", tolerance_sec=tol
        ).collect()
    }

    lpd = pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts")
    rpd = pd.DataFrame(rrows, columns=["k", "ts", "rv"]).sort_values("ts")
    kwargs = {"tolerance": pd.Timedelta(seconds=tol)} if tol is not None else {}
    exp = pd.merge_asof(
        lpd, rpd, on="ts", by="k", direction="backward",
        allow_exact_matches=True, **kwargs,
    )
    expected = {
        int(r.lid): (None if pd.isna(r.rv) else float(r.rv))
        for r in exp.itertuples(index=False)
    }
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=LEFT, right=RIGHT, tol=st.one_of(st.none(), st.integers(1, 100)))
def test_asof_nearest_matches_pandas_merge_asof(spark, left, right, tol):
    from dataops.temporal import asof_join

    left = sorted(set(left))
    right = sorted(set(right))
    lrows = [(k, BASE + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(left)]
    rrows = [(k, BASE + dt.timedelta(seconds=s), float(s)) for k, s in right]

    ldf = spark.createDataFrame(lrows, "k BIGINT, ts TIMESTAMP, lid BIGINT")
    rdf = spark.createDataFrame(rrows, "k BIGINT, ts TIMESTAMP, rv DOUBLE")
    got = {
        r.lid: r.rv_r
        for r in asof_join(
            ldf, rdf, on="ts", by="k", tolerance_sec=tol, direction="nearest"
        ).collect()
    }

    lpd = pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts")
    rpd = pd.DataFrame(rrows, columns=["k", "ts", "rv"]).sort_values("ts")
    kwargs = {"tolerance": pd.Timedelta(seconds=tol)} if tol is not None else {}
    exp = pd.merge_asof(
        lpd, rpd, on="ts", by="k", direction="nearest",
        allow_exact_matches=True, **kwargs,
    )
    expected = {
        int(r.lid): (None if pd.isna(r.rv) else float(r.rv))
        for r in exp.itertuples(index=False)
    }
    assert got == expected


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 10000), st.integers(0, 99)),
        min_size=1, max_size=30, unique_by=lambda e: (e[0], e[1]),
    )
)
def test_timeline_features_match_pandas(spark, events):
    from dataops.temporal import timeline_features

    rows = [
        (i, BASE + dt.timedelta(seconds=s), k, "t", float(v))
        for i, (k, s, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r["event_id"]: r.asDict()
        for r in timeline_features(df, lookback_sec=3600).collect()
    }

    lpd = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    for uid, g in lpd.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"]).reset_index(drop=True)
        for i, row in g.iterrows():
            r = got[row.event_id]
            prev = g.iloc[i - 1] if i > 0 else None
            assert r["prev_value"] == (None if prev is None else prev.value)
            assert r["gap_sec"] == (
                None if prev is None else round((row.ts - prev.ts).total_seconds(), 6)
            )
            nxt = g.iloc[i + 1] if i + 1 < len(g) else None
            assert r["next_type"] == (None if nxt is None else nxt.event_type)
            assert r["running_sum"] == round(g.value[: i + 1].sum(), 2)
            lo = max(0, i - 2)
            assert r["moving_avg3"] == round(g.value[lo : i + 1].mean(), 6)
            in_range = g[(g.ts >= row.ts - dt.timedelta(seconds=3600)) & (g.ts <= row.ts)]
            assert r["n_trailing"] == len(in_range)
            assert r["sum_trailing"] == round(in_range.value.sum(), 2)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000), st.integers(-50, 4000)),
        min_size=1, max_size=15,
    ),
    pts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 6000)),
        min_size=1, max_size=25,
    ),
    bucket_sec=st.sampled_from([60, 600, 3600]),
)
def test_interval_join_matches_bruteforce(spark, ivs, pts, bucket_sec):
    """Bucketing is a physical knob: any bucket width must give exactly the
    brute-force containment set (incl. empty/reversed intervals)."""
    from dataops.temporal import interval_join

    iv_rows = [
        (i, k, BASE + dt.timedelta(seconds=s), BASE + dt.timedelta(seconds=s + d))
        for i, (k, s, d) in enumerate(ivs)
    ]
    pt_rows = [
        (100 + j, k, BASE + dt.timedelta(seconds=s))
        for j, (k, s) in enumerate(pts)
    ]
    ivdf = spark.createDataFrame(
        iv_rows, "iv_id long, k long, start timestamp, end timestamp"
    )
    ptdf = spark.createDataFrame(pt_rows, "pt_id long, k long, ts timestamp")
    got = {
        (r["iv_id"], r["pt_id"])
        for r in interval_join(
            ivdf, ptdf, point_ts="ts", by="k", bucket_sec=bucket_sec
        ).collect()
    }
    want = {
        (i, p)
        for i, ik, s, e in iv_rows
        for p, pk, t in pt_rows
        if ik == pk and s <= t < e
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 2000), st.integers(-20, 3000)),
        min_size=1, max_size=12,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 2000), st.integers(-20, 3000)),
        min_size=1, max_size=12,
    ),
    bucket_sec=st.sampled_from([60, 900, 3600]),
)
def test_interval_overlap_matches_bruteforce(spark, left, right, bucket_sec):
    """Owner-bucket dedup must emit every overlapping pair exactly once for
    any bucket width."""
    from dataops.temporal import interval_overlap_join

    lr = [
        (i, k, BASE + dt.timedelta(seconds=s), BASE + dt.timedelta(seconds=s + d))
        for i, (k, s, d) in enumerate(left)
    ]
    rr = [
        (100 + j, k, BASE + dt.timedelta(seconds=s), BASE + dt.timedelta(seconds=s + d))
        for j, (k, s, d) in enumerate(right)
    ]
    ldf = spark.createDataFrame(
        lr, "lid long, k long, start timestamp, end timestamp"
    )
    rdf = spark.createDataFrame(
        rr, "rid long, k long, start timestamp, end timestamp"
    )
    rows = interval_overlap_join(
        ldf, rdf, by="k", bucket_sec=bucket_sec
    ).collect()
    got = [(r["lid"], r["rid"]) for r in rows]
    assert len(got) == len(set(got)), "pair emitted more than once"
    # non-empty-intersection semantics: an empty interval overlaps nothing
    # (the raw predicate alone would claim an empty interval strictly
    # inside another overlaps it)
    want = {
        (li, rj)
        for li, lk, ls, le in lr
        for rj, rk, rs, re_ in rr
        if lk == rk and ls < le and rs < re_ and ls < re_ and rs < le
    }
    assert set(got) == want
