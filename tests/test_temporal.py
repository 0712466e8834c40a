"""Semantic tests for the temporal operators (asof/interval/rollup)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100.0),
            (1, _ts("2024-01-01 10:00:05"), 101.0),
            (1, _ts("2024-01-01 09:00:00"), 99.0),  # before any quote
            (2, _ts("2024-01-01 10:00:03"), 50.0),
        ],
        "sym BIGINT, ts TIMESTAMP, price DOUBLE",
    )
    quotes = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100.5),  # exact tie with trade 1
            (1, _ts("2024-01-01 10:00:04"), 100.7),
            (2, _ts("2024-01-01 09:59:00"), 49.9),
        ],
        "sym BIGINT, ts TIMESTAMP, bid DOUBLE",
    )
    return trades, quotes


def test_asof_backward_inclusive(spark, trades_quotes):
    from dataops.temporal import asof_join

    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="ts", by="sym")
    rows = {
        (r.sym, r.ts.isoformat()): (r.bid_r, r.ts_r.isoformat() if r.ts_r else None)
        for r in out.collect()
    }
    # exact-timestamp quote IS visible (inclusive semantics)
    assert rows[(1, "2024-01-01T10:00:00")] == (100.5, "2024-01-01T10:00:00")
    # latest earlier quote wins, not the first
    assert rows[(1, "2024-01-01T10:00:05")] == (100.7, "2024-01-01T10:00:04")
    # no quote at or before -> null match, left row preserved
    assert rows[(1, "2024-01-01T09:00:00")] == (None, None)
    # per-key isolation: sym 2 never sees sym 1 quotes
    assert rows[(2, "2024-01-01T10:00:03")] == (49.9, "2024-01-01T09:59:00")
    assert out.count() == 4  # left-join shape: every trade survives


def test_asof_tolerance(spark, trades_quotes):
    from dataops.temporal import asof_join

    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="ts", by="sym", tolerance_sec=2)
    rows = {(r.sym, r.ts.isoformat()): r.bid_r for r in out.collect()}
    assert rows[(1, "2024-01-01T10:00:00")] == 100.5  # 0s gap: within
    assert rows[(1, "2024-01-01T10:00:05")] == 100.7  # 1s gap: within
    assert rows[(2, "2024-01-01T10:00:03")] is None  # 63s gap: nulled out


def test_asof_right_tie_is_deterministic(spark):
    from dataops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:01"))], "k BIGINT, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "a"),
            (1, _ts("2024-01-01 10:00:00"), "b"),
        ],
        "k BIGINT, ts TIMESTAMP, v STRING",
    )
    vals = {
        asof_join(left, right, on="ts", by="k").collect()[0].v_r
        for _ in range(3)
    }
    assert vals == {"b"}  # struct-max tiebreak, stable across runs


def test_asof_nearest_forward_tie_matches_forward_convention(spark):
    """When `nearest` resolves to the FORWARD candidate and multiple right
    rows share that future timestamp, the tie must break struct-max — the
    same convention backward/forward use — so nearest and forward agree on
    identical inputs (round-4 ADVICE item, temporal.py nearest frame)."""
    from dataops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:01"))], "k BIGINT, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [
            # only future candidates exist, both at the same timestamp
            (1, _ts("2024-01-01 10:00:05"), "a"),
            (1, _ts("2024-01-01 10:00:05"), "b"),
        ],
        "k BIGINT, ts TIMESTAMP, v STRING",
    )
    near = {
        asof_join(left, right, on="ts", by="k", direction="nearest")
        .collect()[0]
        .v_r
        for _ in range(3)
    }
    fwd = (
        asof_join(left, right, on="ts", by="k", direction="forward")
        .collect()[0]
        .v_r
    )
    assert near == {fwd} == {"b"}


def test_interval_join_end_exclusive_and_span(spark):
    from dataops.temporal import interval_join

    intervals = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:30:00"), _ts("2024-01-01 12:30:00"), "iv1"),
        ],
        "u BIGINT, start TIMESTAMP, end TIMESTAMP, iv_id STRING",
    )
    points = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:30:00"), "at-start"),   # inclusive
            (1, _ts("2024-01-01 11:59:59"), "mid"),        # different bucket
            (1, _ts("2024-01-01 12:30:00"), "at-end"),     # exclusive
            (1, _ts("2024-01-01 09:00:00"), "before"),
            (2, _ts("2024-01-01 11:00:00"), "other-user"),
        ],
        "u BIGINT, ts TIMESTAMP, tag STRING",
    )
    out = interval_join(intervals, points, by="u", bucket_sec=3600)
    tags = sorted(r.tag for r in out.collect())
    assert tags == ["at-start", "mid"]
    # interval spans 3 hourly buckets but each match appears exactly once
    assert out.count() == out.distinct().count() == 2


def test_interval_join_no_key(spark):
    from dataops.temporal import interval_join

    intervals = spark.createDataFrame(
        [(_ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), "day1")],
        "start TIMESTAMP, end TIMESTAMP, iv_id STRING",
    )
    points = spark.createDataFrame(
        [(_ts("2024-01-01 13:37:00"), 1), (_ts("2024-01-02 00:00:00"), 2)],
        "ts TIMESTAMP, pid BIGINT",
    )
    out = interval_join(intervals, points, bucket_sec=3600)
    assert [r.pid for r in out.collect()] == [1]


def test_hypertable_rollup_grains_consistent(spark):
    from dataops.temporal import hypertable_rollup

    ev = spark.createDataFrame(
        [
            (_ts("2024-01-01 10:15:00"), "a", 1.0),
            (_ts("2024-01-01 10:45:00"), "a", 2.0),
            (_ts("2024-01-01 11:15:00"), "a", 4.0),
            (_ts("2024-01-02 10:15:00"), "a", 8.0),
            (_ts("2024-01-01 10:15:00"), "b", 16.0),
        ],
        "ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    out = hypertable_rollup(ev).collect()
    by_grain = {}
    for r in out:
        by_grain.setdefault(r.grain, []).append(r)
    # every grain partitions the same data: totals agree across grains
    for grain, rows in by_grain.items():
        assert sum(r.n_events for r in rows) == 5, grain
        assert sum(r.total_value for r in rows) == 31.0, grain
    assert len(by_grain["hour"]) == 4  # (a,10h),(a,11h),(a,d2-10h),(b,10h)
    assert len(by_grain["day"]) == 3
    # Jan 1-2 2024 are the same ISO week
    assert len(by_grain["week"]) == 2
    # hierarchical default path: NO Expand node — raw rows shuffle once at
    # the finest grain; coarser grains re-aggregate the hourly result
    plan = hypertable_rollup(ev)._jdf.queryExecution().optimizedPlan().toString()
    assert "Expand" not in plan
    # custom aggs fall back to the single-pass GROUPING SETS plan
    gs_plan = (
        hypertable_rollup(ev, aggs=[F.count_distinct("value").alias("nv")])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert gs_plan.count("Expand") == 1


def test_interval_join_fanout_guard(spark):
    from dataops.temporal import interval_join

    intervals = spark.createDataFrame(
        [(_ts("2024-01-01 00:00:00"), _ts("9999-01-01 00:00:00"), "bad")],
        "start TIMESTAMP, end TIMESTAMP, iv_id STRING",
    )
    points = spark.createDataFrame(
        [(_ts("2024-01-01 01:00:00"), 1)], "ts TIMESTAMP, pid BIGINT"
    )
    out = interval_join(intervals, points, bucket_sec=3600, max_buckets=100)
    with pytest.raises(Exception, match="spans more than 100 buckets"):
        out.collect()
    # a sane interval under the same cap still joins
    ok = spark.createDataFrame(
        [(_ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00"), "ok")],
        "start TIMESTAMP, end TIMESTAMP, iv_id STRING",
    )
    assert interval_join(ok, points, bucket_sec=3600, max_buckets=100).count() == 1


def test_asof_empty_right_side(spark):
    from dataops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), 5.0)], "k BIGINT, ts TIMESTAMP, v DOUBLE"
    )
    right = spark.createDataFrame([], "k BIGINT, ts TIMESTAMP, bid DOUBLE")
    rows = asof_join(left, right, on="ts", by="k").collect()
    assert len(rows) == 1 and rows[0].bid_r is None and rows[0].v == 5.0


def test_asof_multi_key_by(spark):
    from dataops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "a", _ts("2024-01-01 10:00:01"))], "k BIGINT, s STRING, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [
            (1, "a", _ts("2024-01-01 10:00:00"), 1.0),
            (1, "b", _ts("2024-01-01 10:00:00"), 2.0),  # other subkey: invisible
        ],
        "k BIGINT, s STRING, ts TIMESTAMP, v DOUBLE",
    )
    rows = asof_join(left, right, on="ts", by=["k", "s"]).collect()
    assert [r.v_r for r in rows] == [1.0]


def test_hypertable_rollup_empty_input(spark):
    from dataops.temporal import hypertable_rollup

    ev = spark.createDataFrame([], "ts TIMESTAMP, event_type STRING, value DOUBLE")
    assert hypertable_rollup(ev).count() == 0


def test_asof_forward_direction(spark, trades_quotes):
    from dataops.temporal import asof_join

    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="ts", by="sym", direction="forward")
    rows = {(r.sym, r.ts.isoformat()): r.bid_r for r in out.collect()}
    # earliest quote at-or-after each trade
    assert rows[(1, "2024-01-01T09:00:00")] == 100.5
    assert rows[(1, "2024-01-01T10:00:00")] == 100.5  # inclusive at equal ts
    assert rows[(1, "2024-01-01T10:00:05")] is None   # nothing after
    assert rows[(2, "2024-01-01T10:00:03")] is None

    with_tol = asof_join(
        trades, quotes, on="ts", by="sym", direction="forward", tolerance_sec=60
    )
    t_rows = {(r.sym, r.ts.isoformat()): r.bid_r for r in with_tol.collect()}
    assert t_rows[(1, "2024-01-01T09:00:00")] is None  # 1h away: outside tol
    assert t_rows[(1, "2024-01-01T10:00:00")] == 100.5


def test_asof_forward_matches_pandas(spark):
    import pandas as pd

    from dataops.temporal import asof_join

    lrows = [(1, _ts(f"2024-01-01 10:00:{s:02d}"), i) for i, s in enumerate([0, 7, 13, 40])]
    rrows = [(1, _ts(f"2024-01-01 10:00:{s:02d}"), float(s)) for s in [5, 13, 20]]
    ldf = spark.createDataFrame(lrows, "k BIGINT, ts TIMESTAMP, lid BIGINT")
    rdf = spark.createDataFrame(rrows, "k BIGINT, ts TIMESTAMP, rv DOUBLE")
    got = {
        r.lid: r.rv_r
        for r in asof_join(ldf, rdf, on="ts", by="k", direction="forward").collect()
    }
    exp_df = pd.merge_asof(
        pd.DataFrame(lrows, columns=["k", "ts", "lid"]).sort_values("ts"),
        pd.DataFrame(rrows, columns=["k", "ts", "rv"]).sort_values("ts"),
        on="ts", by="k", direction="forward",
    )
    exp = {
        int(r.lid): (None if pd.isna(r.rv) else float(r.rv))
        for r in exp_df.itertuples(index=False)
    }
    assert got == exp


def test_interval_overlap_join_semantics(spark):
    from dataops.temporal import interval_overlap_join

    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 14:00:00"), "L1"),
            (1, _ts("2024-01-01 16:00:00"), _ts("2024-01-01 17:00:00"), "L2"),
            (2, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 14:00:00"), "L3"),
        ],
        "u BIGINT, start TIMESTAMP, end TIMESTAMP, lid STRING",
    )
    right = spark.createDataFrame(
        [
            # overlaps L1 over 3 shared hourly buckets -> must appear ONCE
            (1, _ts("2024-01-01 11:00:00"), _ts("2024-01-01 13:30:00"), "R1"),
            # touches L1's end exactly: half-open -> no overlap
            (1, _ts("2024-01-01 14:00:00"), _ts("2024-01-01 15:00:00"), "R2"),
            # overlaps L2 from before: intersection starts at L2.start
            (1, _ts("2024-01-01 15:30:00"), _ts("2024-01-01 16:30:00"), "R3"),
            # other key: never joins key 1
            (2, _ts("2024-01-01 11:00:00"), _ts("2024-01-01 12:00:00"), "R4"),
        ],
        "u BIGINT, start TIMESTAMP, end TIMESTAMP, rid STRING",
    )
    out = interval_overlap_join(left, right, by="u", bucket_sec=3600)
    pairs = sorted((r.lid, r.rid) for r in out.collect())
    assert pairs == [("L1", "R1"), ("L2", "R3"), ("L3", "R4")]
    # owner-bucket dedup: no pair duplicated despite multi-bucket overlap
    assert out.count() == out.select("lid", "rid").distinct().count() == 3


def test_interval_overlap_join_matches_naive(spark):
    """Bucketed plan ≡ naive inequality join on dense random-ish intervals."""
    from dataops.temporal import interval_overlap_join

    rows_l = [
        (i, _ts("2024-01-01 00:00:00"), (i * 37) % 5000, (i * 53) % 3000 + 10)
        for i in range(60)
    ]
    rows_r = [
        (i, _ts("2024-01-01 00:00:00"), (i * 71) % 5000, (i * 29) % 2000 + 10)
        for i in range(60)
    ]
    import datetime as dt

    def mk(rows, idc):
        return spark.createDataFrame(
            [
                (i, base + dt.timedelta(seconds=off), base + dt.timedelta(seconds=off + ln))
                for i, base, off, ln in rows
            ],
            f"{idc} BIGINT, start TIMESTAMP, end TIMESTAMP",
        )

    left, right = mk(rows_l, "lid"), mk(rows_r, "rid")
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(left, right, bucket_sec=600).collect()
    )
    naive = sorted(
        (r.lid, r.rid)
        for r in left.crossJoin(
            right.withColumnRenamed("start", "rs").withColumnRenamed("end", "re")
        )
        .filter((F.col("start") < F.col("re")) & (F.col("rs") < F.col("end")))
        .collect()
    )
    assert got == naive and len(got) > 50


def test_asof_null_timestamps(spark):
    from dataops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "real"), (1, None, "null-ts")],
        "k BIGINT, ts TIMESTAMP, tag STRING",
    )
    right = spark.createDataFrame(
        [
            (1, None, 666.0),  # null-ts right row must never match anything
            (1, _ts("2024-01-01 09:00:00"), 1.0),
        ],
        "k BIGINT, ts TIMESTAMP, bid DOUBLE",
    )
    rows = {r.tag: r.bid_r for r in asof_join(left, right, on="ts", by="k").collect()}
    assert rows == {"real": 1.0, "null-ts": None}


def test_asof_forward_null_left_timestamp(spark):
    # forward scan orders by __t desc, which sorts nulls LAST by default —
    # regression: a null-ts left row must keep the null-match contract in
    # BOTH directions (desc_nulls_first)
    from dataops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"), "real"), (1, None, "null-ts")],
        "k BIGINT, ts TIMESTAMP, tag STRING",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 11:00:00"), 7.0)],
        "k BIGINT, ts TIMESTAMP, bid DOUBLE",
    )
    rows = {
        r.tag: r.bid_r
        for r in asof_join(left, right, on="ts", by="k", direction="forward").collect()
    }
    assert rows == {"real": 7.0, "null-ts": None}


def test_interval_join_reversed_interval_is_empty(spark):
    # end <= start covers nothing; a reversed interval (end in 1970) has a
    # NEGATIVE bucket span that passes the `< max_buckets` assert — it must
    # emit zero bucket rows, not a descending sequence
    from dataops.temporal import interval_join, interval_overlap_join

    intervals = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), _ts("1970-01-01 00:00:00"), "corrupt"),
            (1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:00:00"), "empty"),
            (1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"), "good"),
        ],
        "k BIGINT, start TIMESTAMP, end TIMESTAMP, tag STRING",
    )
    points = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:30:00"))], "k BIGINT, ts TIMESTAMP"
    )
    got = interval_join(intervals, points, by="k", max_buckets=10).collect()
    assert [r.tag for r in got] == ["good"]

    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), _ts("1970-01-01 00:00:00"), "corrupt"),
            (1, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:00:00"), "empty"),
            (1, _ts("2024-01-01 10:30:00"), _ts("2024-01-01 11:30:00"), "good"),
        ],
        "k BIGINT, start TIMESTAMP, end TIMESTAMP, rtag STRING",
    )
    overl = interval_overlap_join(intervals, right, by="k", max_buckets=10).collect()
    assert [(r.tag, r.rtag) for r in overl] == [("good", "good")]


def test_hypertable_rollup_missing_value_column_errors(spark):
    from dataops.temporal import hypertable_rollup

    df = spark.createDataFrame(
        [(_ts("2024-01-01 10:00:00"), "a")], "ts TIMESTAMP, event_type STRING"
    )
    with pytest.raises(ValueError, match="value"):
        hypertable_rollup(df)
    # value_col= redirect works without a literal 'value' column
    out = hypertable_rollup(
        df.withColumn("amount", F.lit(2.0)), value_col="amount", grains=("hour",)
    ).collect()
    assert [(r.n_events, r.total_value) for r in out] == [(1, 2.0)]


def test_timeline_features_small(spark):
    from dataops.temporal import timeline_features

    rows = [
        # user 1: three events 30 min apart
        (1, "2024-01-01 00:00:00", 1, "view", 10.0),
        (2, "2024-01-01 00:30:00", 1, "click", 20.0),
        (3, "2024-01-01 01:15:00", 1, "buy", 30.0),
        # user 2: single event
        (4, "2024-01-01 05:00:00", 2, "view", 5.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r["event_id"]: r.asDict() for r in timeline_features(ev).collect()}

    assert got[1]["prev_value"] is None and got[1]["gap_sec"] is None
    assert got[1]["next_type"] == "click" and got[1]["running_sum"] == 10.0
    assert got[2]["prev_value"] == 10.0 and got[2]["gap_sec"] == 1800.0
    assert got[2]["moving_avg3"] == 15.0
    # event 3: 45 min after event 2 -> both 2 and 3 inside the 1h range
    # window, event 1 (75 min before) outside
    assert got[3]["n_trailing"] == 2 and got[3]["sum_trailing"] == 50.0
    assert got[3]["running_sum"] == 60.0 and got[3]["next_type"] is None
    assert got[4]["n_trailing"] == 1 and got[4]["moving_avg3"] == 5.0


def test_hypertable_rollup_paths_agree(spark):
    """The default hierarchical path and the GROUPING SETS custom-aggs path
    must produce identical count/sum cells for the same grains."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    for i in range(200):
        rows.append(
            (
                base + dt.timedelta(hours=i % 50, minutes=(i * 7) % 60),
                "t" + str(i % 3),
                float(i % 13) + 0.25,
            )
        )
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    from dataops.temporal import hypertable_rollup

    hier = {
        (r["grain"], r["event_type"], r["bucket"]): (r["n_events"], r["total_value"])
        for r in hypertable_rollup(ev).collect()
    }
    custom = {
        (r["grain"], r["event_type"], r["bucket"]): (r["n_events"], round(r["total_value"], 2))
        for r in hypertable_rollup(
            ev,
            aggs=[
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            ],
        ).collect()
    }
    assert hier == custom
