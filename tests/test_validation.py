"""Declarative constraint checks: every type, null semantics, gate form."""

from __future__ import annotations

import pytest

from dataops.validation import assert_constraints, check_constraints


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (1, 10, "A", "ok-1"),
        (2, 10, "A", "ok-2"),
        (2, 60, "B", "bad id dup + range + set"),
        (None, None, None, None),
    ]
    return spark.createDataFrame(rows, "id long, qty long, flag string, note string")


CONSTRAINTS = [
    {"type": "not_null", "col": "id"},
    {"type": "range", "col": "qty", "min": 0, "max": 50},
    {"type": "in_set", "col": "flag", "values": ["A"]},
    {"type": "regex", "col": "note", "pattern": "^ok-"},
    {"type": "unique", "cols": ["id"]},
]


def test_check_constraints_counts(df):
    rows = check_constraints(df, CONSTRAINTS).collect()
    got = {(r["constraint"], r["target"]): (r["violations"], r["total"], r["passed"]) for r in rows}
    # declaration order preserved
    assert [(r["constraint"], r["target"]) for r in rows] == [
        ("not_null", "id"),
        ("range", "qty"),
        ("in_set", "flag"),
        ("regex", "note"),
        ("unique", "id"),
    ]
    assert got[("not_null", "id")] == (1, 4, False)
    # nulls are not range/set/regex violations
    assert got[("range", "qty")] == (1, 4, False)
    assert got[("in_set", "flag")] == (1, 4, False)
    assert got[("regex", "note")] == (1, 4, False)
    # duplicate id=2 counts one extra copy; the null row is its own group
    assert got[("unique", "id")] == (1, 4, False)


def test_constraints_pass_on_clean_data(spark):
    clean = spark.createDataFrame([(1, 5), (2, 7)], "id long, qty long")
    rows = check_constraints(
        clean,
        [
            {"type": "not_null", "col": "id"},
            {"type": "range", "col": "qty", "max": 10},
            {"type": "unique", "cols": ["id", "qty"]},
        ],
    ).collect()
    assert all(r["passed"] and r["violations"] == 0 for r in rows)
    assert_constraints(
        clean,
        [{"type": "not_null", "col": "id"}],
    )  # no raise


def test_assert_constraints_raises_naming_failures(df):
    with pytest.raises(ValueError, match="not_null\\(id\\).*1/4"):
        assert_constraints(df, CONSTRAINTS)


def test_ordered_constraint(spark):
    d = spark.createDataFrame(
        [(1, 2), (5, 3), (None, 1)], "lo long, hi long"
    )
    r = check_constraints(d, [{"type": "ordered", "low": "lo", "high": "hi"}]).collect()[0]
    assert (r["violations"], r["passed"]) == (1, False)


def test_unknown_constraint_raises(df):
    with pytest.raises(ValueError, match="unknown constraint"):
        check_constraints(df, [{"type": "nope", "col": "id"}]).collect()


def test_table_diff_counts(spark):
    from dataops.validation import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10.0),        # unchanged
            (2, "B", 20.0),        # s changed
            (4, "set", 40.0),      # NULL -> value counts as a change
            (9, "new", 90.0),      # added
        ],                          # 3 removed
        "k long, s string, v double",
    )
    got = {r["metric"]: r["n"] for r in table_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert got == {
        "added": 1,
        "removed": 1,
        "changed": 2,
        "unchanged": 1,
        "changed:s": 2,
        "changed:v": 0,
    }


def test_table_diff_empty_compare_cols_raises(spark):
    import pytest

    from dataops.validation import table_diff

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="non-empty"):
        table_diff(df, df, ["k"], [])


def test_join_size_estimate_matches_actual_join(spark):
    """The estimate must EQUAL the realized join cardinality, and the
    hottest key's contribution must match a hand count."""
    from dataops.validation import join_size_estimate

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 9]], "k long"
    )
    right = spark.createDataFrame(
        [(k,) for k in [1, 1, 2, 3, 3, 3, 8]], "k long"
    )
    r = join_size_estimate(left, right, "k").collect()[0]
    actual = left.join(right, "k").count()
    assert r.est_output_rows == actual == 3 * 2 + 2 * 1 + 1 * 3
    assert r.n_left == 7 and r.n_right == 7
    assert r.n_keys_overlap == 3  # keys 1, 2, 3 (9 and 8 don't overlap)
    assert r.max_key_output == 6 and r.top_key == "1"
