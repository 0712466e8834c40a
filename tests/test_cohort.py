"""Unit tests for funnel and retention cohort operators."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F  # noqa: F401


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )


def test_funnel_counts_respects_order(spark):
    from dataops.cohort import funnel_counts

    b = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # user 1 completes the funnel in order
        (1, b, "view"), (1, b + h, "click"), (1, b + 2 * h, "purchase"),
        # user 2 clicks BEFORE viewing: click must not count
        (2, b + h, "click"), (2, b + 2 * h, "view"),
        # user 3 views only
        (3, b, "view"),
        # user 4 purchases with no view: counts nowhere
        (4, b, "purchase"),
    ]
    got = {
        r["step"]: r["n_users"]
        for r in funnel_counts(
            _ev(spark, rows), steps=("view", "click", "purchase")
        ).collect()
    }
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_same_timestamp_counts(spark):
    from dataops.cohort import funnel_counts

    b = dt.datetime(2024, 1, 1)
    rows = [(1, b, "view"), (1, b, "click")]  # simultaneous: >= is inclusive
    got = {
        r["step"]: r["n_users"]
        for r in funnel_counts(_ev(spark, rows), steps=("view", "click")).collect()
    }
    assert got == {"view": 1, "click": 1}


def test_retention_matrix_offsets(spark):
    from dataops.cohort import retention_matrix

    # week starts Monday; 2024-01-01 is a Monday
    w0 = dt.datetime(2024, 1, 2)
    w1 = dt.datetime(2024, 1, 9)
    w2 = dt.datetime(2024, 1, 16)
    rows = [
        (1, w0, "view"), (1, w1, "view"), (1, w2, "view"),
        (2, w0, "view"),
        (3, w1, "view"), (3, w2, "view"),
    ]
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in retention_matrix(_ev(spark, rows)).collect()
    }
    c0 = int(dt.datetime(2024, 1, 1).timestamp())
    c1 = int(dt.datetime(2024, 1, 8).timestamp())
    assert got[(c0, 0)] == 2 and got[(c0, 1)] == 1 and got[(c0, 2)] == 1
    assert got[(c1, 0)] == 1 and got[(c1, 1)] == 1
    assert (c1, 2) not in got


def test_session_paths_gap_split(spark):
    from dataops.cohort import session_paths

    b = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = []
    # two users with the same two-session pattern: view>click then purchase
    for uid, eid in ((1, 0), (2, 100)):
        rows += [
            (uid, b, eid, "view"),
            (uid, b + 5 * m, eid + 1, "click"),
            (uid, b + 60 * m, eid + 2, "purchase"),  # 55-min gap: new session
        ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        r["path"]: r["n_sessions"]
        for r in session_paths(df, gap_sec=1800, min_count=2).collect()
    }
    assert got == {"view>click": 2, "purchase": 2}


def test_comembership_projection_counts(spark):
    from bio2bel_spark.operators.graph import comembership_projection

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "x"),          # singleton group: no pairs
    ]
    df = spark.createDataFrame(rows, "g long, i string")
    got = {
        (r["item_a"], r["item_b"]): r["n_shared"]
        for r in comembership_projection(df, "g", "i", min_shared=2).collect()
    }
    assert got == {("a", "b"): 3}
    # max_group guard drops the big group entirely
    few = comembership_projection(df, "g", "i", min_shared=1, max_group=2).collect()
    assert {(r["item_a"], r["item_b"]) for r in few} == {("a", "b")}
