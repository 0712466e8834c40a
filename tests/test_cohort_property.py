"""Property tests: funnel and session-path operators vs pure-Python models
on random event streams."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE = dt.datetime(2024, 1, 1)

EVENTS = st.lists(
    st.tuples(
        st.integers(0, 4),            # user
        st.integers(0, 5000),         # seconds offset (unique-ified below)
        st.sampled_from(["view", "click", "purchase"]),
    ),
    min_size=1,
    max_size=40,
)


def _mk(spark, events):
    rows = [
        (uid, BASE + dt.timedelta(seconds=s), i, t)
        for i, (uid, s, t) in enumerate(events)
    ]
    return rows, spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )


def _funnel_model(rows, steps):
    out = {}
    reached = None
    for step in steps:
        nxt = {}
        for uid, ts, _eid, typ in rows:
            if typ != step:
                continue
            if reached is not None and (
                uid not in reached or ts < reached[uid]
            ):
                continue
            if uid not in nxt or ts < nxt[uid]:
                nxt[uid] = ts
        out[step] = len(nxt)
        reached = nxt
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=EVENTS)
def test_funnel_matches_model(spark, events):
    from dataops.cohort import funnel_counts

    rows, df = _mk(spark, events)
    steps = ("view", "click", "purchase")
    got = {r["step"]: r["n_users"] for r in funnel_counts(df, steps).collect()}
    assert got == _funnel_model(rows, steps)


def _paths_model(rows, gap_sec, max_steps, min_count):
    from collections import defaultdict

    per_user = defaultdict(list)
    for uid, ts, eid, typ in rows:
        per_user[uid].append((ts, eid, typ))
    counts = defaultdict(int)
    for uid, evs in per_user.items():
        evs.sort()
        sessions, cur, last = [], [], None
        for ts, _eid, typ in evs:
            if last is not None and (ts - last).total_seconds() > gap_sec:
                sessions.append(cur)
                cur = []
            cur.append(typ)
            last = ts
        sessions.append(cur)
        for s in sessions:
            counts[">".join(s[:max_steps])] += 1
    return {p: n for p, n in counts.items() if n >= min_count}


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=EVENTS)
def test_session_paths_match_model(spark, events):
    from dataops.cohort import session_paths

    # unique (user, ts) so the model's sort and Spark's tie-break agree
    seen = set()
    uniq = []
    for uid, s, t in events:
        if (uid, s) in seen:
            continue
        seen.add((uid, s))
        uniq.append((uid, s, t))
    rows, df = _mk(spark, uniq)
    got = {
        r["path"]: r["n_sessions"]
        for r in session_paths(df, gap_sec=600, max_steps=4, min_count=1).collect()
    }
    assert got == _paths_model(rows, 600, 4, 1)
