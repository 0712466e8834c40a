"""Unit tests for Type-2 slowly-changing-dimension maintenance."""

from __future__ import annotations

import datetime as dt


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "k long, attr string, valid_from timestamp, valid_to timestamp"
    )


def test_scd2_versions_changes_and_inserts(spark):
    from dataops.scd import scd2_apply

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    current = _dim(
        spark,
        [
            (1, "a", t0, None),   # will change -> close + reopen
            (2, "b", t0, None),   # identical update -> no-op
            (3, "c", t0, None),   # untouched
            (4, "old", dt.datetime(2023, 1, 1), t0),  # closed history
            (4, "new", t0, None),
        ],
    )
    updates = spark.createDataFrame(
        [(1, "a2", t1), (2, "b", t1), (9, "fresh", t1)],
        "k long, attr string, effective_ts timestamp",
    )
    out = scd2_apply(current, updates, ["k"], ["attr"]).collect()
    rows = {(r["k"], r["attr"]): (r["valid_from"], r["valid_to"]) for r in out}
    assert len(out) == len(rows) == 7
    assert rows[(1, "a")] == (t0, t1)          # closed at the change
    assert rows[(1, "a2")] == (t1, None)       # new open version
    assert rows[(2, "b")] == (t0, None)        # idempotent no-op
    assert rows[(3, "c")] == (t0, None)        # untouched
    assert rows[(4, "old")][1] == t0           # history preserved verbatim
    assert rows[(4, "new")] == (t0, None)
    assert rows[(9, "fresh")] == (t1, None)    # brand-new key


def test_scd2_null_transition_versions(spark):
    from dataops.scd import scd2_apply

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    current = _dim(spark, [(1, None, t0, None)])
    updates = spark.createDataFrame(
        [(1, "now-set", t1)], "k long, attr string, effective_ts timestamp"
    )
    out = {(r["k"], r["attr"]): (r["valid_from"], r["valid_to"])
           for r in scd2_apply(current, updates, ["k"], ["attr"]).collect()}
    # NULL -> value is a real change (eqNullSafe), not a silent no-op
    assert out[(1, None)] == (t0, t1)
    assert out[(1, "now-set")] == (t1, None)


def test_cdc_apply_latest_wins_and_deletes(spark):
    from dataops.scd import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, attr string"
    )
    changes = spark.createDataFrame(
        [
            (1, "stale", 1, "U"),
            (1, "fresh", 2, "U"),   # higher seq wins
            (2, None, 5, "D"),      # delete
            (9, "ins", 1, "I"),     # insert
        ],
        "k long, attr string, seq long, op string",
    )
    got = {r["k"]: r["attr"] for r in cdc_apply(base, changes, ["k"]).collect()}
    assert got == {1: "fresh", 3: "c", 9: "ins"}


def test_cdc_apply_replayed_insert_after_update(spark):
    from dataops.scd import cdc_apply

    base = spark.createDataFrame([(1, "v2")], "k long, attr string")
    # a replayed low-seq insert must NOT resurrect the original attributes
    changes = spark.createDataFrame(
        [(1, "v1", 1, "I"), (1, "v3", 7, "U")],
        "k long, attr string, seq long, op string",
    )
    got = {r["k"]: r["attr"] for r in cdc_apply(base, changes, ["k"]).collect()}
    assert got == {1: "v3"}


def test_cdc_apply_matches_model_random(spark):
    import random

    from dataops.scd import cdc_apply

    for seed in range(4):
        rng = random.Random(seed)
        base = {k: f"v{k}" for k in range(8) if rng.random() < 0.7}
        changes = []
        for seq in range(1, 15):
            k = rng.randrange(10)
            op = rng.choice(["I", "U", "D"])
            changes.append((k, f"c{seq}" if op != "D" else None, seq, op))
        # model: latest change per key wins, applied over base
        latest = {}
        for k, attr, seq, op in changes:
            if k not in latest or seq > latest[k][1]:
                latest[k] = (attr, seq, op)
        want = dict(base)
        for k, (attr, _seq, op) in latest.items():
            if op == "D":
                want.pop(k, None)
            else:
                want[k] = attr

        bdf = spark.createDataFrame(
            [(k, v) for k, v in base.items()], "k long, attr string"
        )
        cdf = spark.createDataFrame(
            changes, "k long, attr string, seq long, op string"
        )
        got = {r["k"]: r["attr"] for r in cdc_apply(bdf, cdf, ["k"]).collect()}
        assert got == want, f"seed {seed}"


def test_scd2_apply_matches_model_random(spark):
    import datetime as dt
    import random

    from dataops.scd import scd2_apply

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    for seed in range(4):
        rng = random.Random(100 + seed)
        cur_rows = []
        open_attr = {}
        for k in range(10):
            if rng.random() < 0.3:
                continue  # key absent from the dimension
            if rng.random() < 0.4:  # some closed history
                cur_rows.append((k, f"old{k}", dt.datetime(2023, 1, 1), t0))
            attr = rng.choice([f"a{k}", None])
            cur_rows.append((k, attr, t0, None))
            open_attr[k] = attr
        upd_rows = []
        for k in range(12):
            if rng.random() < 0.5:
                upd_rows.append((k, rng.choice([f"u{k}", f"a{k}", None]), t1))

        # model
        want = {(k, a, vf, vt) for (k, a, vf, vt) in cur_rows if vt is not None}
        touched = {k for k, _a, _t in upd_rows}
        for k, a in open_attr.items():
            u = next((ua for uk, ua, _ in upd_rows if uk == k), "\0missing")
            if k not in touched or u == a:
                want.add((k, a, t0, None))
            else:
                want.add((k, a, t0, t1))
                want.add((k, u, t1, None))
        for k, ua, _ in upd_rows:
            if k not in open_attr:
                want.add((k, ua, t1, None))

        cdf = spark.createDataFrame(
            cur_rows, "k long, attr string, valid_from timestamp, valid_to timestamp"
        )
        udf_ = spark.createDataFrame(
            upd_rows, "k long, attr string, effective_ts timestamp"
        )
        got = {
            (r["k"], r["attr"], r["valid_from"], r["valid_to"])
            for r in scd2_apply(cdf, udf_, ["k"], ["attr"]).collect()
        }
        assert got == want, f"seed {seed}"


def test_scd2_empty_tracked_cols_raises(spark):
    """Round-4 ADVICE: empty tracked_cols must fail with the contract, not
    an opaque TypeError from `~None` mid-plan."""
    import pytest

    from dataops.scd import scd2_apply

    cur = spark.createDataFrame(
        [], "k long, attr string, valid_from timestamp, valid_to timestamp"
    )
    upd = spark.createDataFrame([], "k long, attr string, effective_ts timestamp")
    with pytest.raises(ValueError, match="non-empty"):
        scd2_apply(cur, upd, ["k"], [])
    with pytest.raises(ValueError, match="non-empty"):
        scd2_apply(cur, upd, [], ["attr"])
