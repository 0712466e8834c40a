"""Unit tests for robust stats + pivot report operators."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_winsorized_stats_clamps_outliers(spark):
    from dataops.stats import winsorized_stats

    # group a: 0..99 plus one outlier 1_000_000 that must be clamped
    rows = [("a", float(i)) for i in range(100)] + [("a", 1_000_000.0)]
    rows += [("b", 10.0), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r.asDict() for r in winsorized_stats(df, "v", "g").collect()}
    a = got["a"]
    assert a["n"] == 101 and a["n_clipped_high"] >= 1
    # robust mean stays within the data's bulk despite the 1e6 outlier
    assert a["mean_winsorized"] < 100.0
    b = got["b"]
    # single non-null value: quantiles collapse onto it, nothing clipped
    assert b["n"] == 1 and b["mean_winsorized"] == 10.0
    assert b["n_clipped_low"] == 0 and b["n_clipped_high"] == 0


def test_pivot_report_explicit_categories(spark):
    from dataops.stats import pivot_report

    rows = [
        (1, "x", 1.0),
        (1, "x", 2.0),
        (1, "y", 5.0),
        (2, "y", 7.0),
    ]
    df = spark.createDataFrame(rows, "uid long, cat string, v double")
    got = {
        r["uid"]: r.asDict()
        for r in pivot_report(df, "uid", "cat", "v", categories=("x", "y", "z")).collect()
    }
    assert got[1] == {"uid": 1, "x": 3.0, "y": 5.0, "z": 0.0}
    assert got[2] == {"uid": 2, "x": 0.0, "y": 7.0, "z": 0.0}


def test_value_histogram_bins_and_overflow(spark):
    from dataops.stats import value_histogram

    rows = [("a", -1.0), ("a", 0.0), ("a", 4.9), ("a", 5.0), ("a", 100.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["bin"]: r.asDict()
        for r in value_histogram(df, "v", by="g", lo=0, hi=100, n_bins=20).collect()
    }
    assert got[0]["n"] == 1          # underflow
    assert got[1]["n"] == 2          # [0, 5): 0.0 and 4.9
    assert got[1]["bin_lo"] == 0.0 and got[1]["bin_hi"] == 5.0
    assert got[2]["n"] == 1          # [5, 10): 5.0
    assert got[21]["n"] == 1         # overflow: 100.0
    assert sum(r["n"] for r in got.values()) == 5  # null excluded


def test_decayed_sum_halves_per_half_life(spark):
    import datetime as dt

    from dataops.stats import decayed_sum

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 8.0),                             # 2 half-lives before as_of
        (1, base + dt.timedelta(hours=1), 8.0),     # 1 half-life
        (1, base + dt.timedelta(hours=2), 8.0),     # 0: full weight
        (2, base + dt.timedelta(hours=3), 5.0),     # after as_of: excluded
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, v double")
    got = {
        r["uid"]: r.asDict()
        for r in decayed_sum(
            df, "v", "ts", "uid", half_life_sec=3600.0,
            as_of=base + dt.timedelta(hours=2),
        ).collect()
    }
    assert got[1]["decayed_sum"] == 2.0 + 4.0 + 8.0
    assert got[1]["decayed_count"] == 0.25 + 0.5 + 1.0
    assert 2 not in got


def test_zscore_outliers_flags_planted_spike(spark):
    from dataops.stats import zscore_outliers

    rows = [(i, "a", 10.0 + (i % 5) * 0.1) for i in range(50)]
    rows.append((99, "a", 1000.0))          # planted spike
    rows += [(200, "b", 5.0), (201, "b", 5.0)]  # zero variance: emits nothing
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = zscore_outliers(df, "v", "g", "id", threshold=3.0).collect()
    assert [r["id"] for r in got] == [99]
    assert got[0]["z"] > 3.0


def test_impute_group_median(spark):
    from dataops.stats import impute_group_median

    rows = [
        ("a", 1.0), ("a", 3.0), ("a", None),   # median 2.0
        ("b", None), ("b", None),              # all-null group stays null
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = impute_group_median(df, "v", "g").collect()
    a_vals = sorted(r["v"] for r in got if r["g"] == "a")
    assert a_vals == [1.0, 2.0, 3.0]
    assert all(r["v"] is None for r in got if r["g"] == "b")


def test_feature_correlations_pairs(spark):
    from dataops.stats import feature_correlations

    rows = [(float(i), float(2 * i), float(-i)) for i in range(20)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    got = {(r["col_a"], r["col_b"]): r["corr"] for r in feature_correlations(df, ["x", "y", "z"]).collect()}
    assert got[("x", "y")] == 1.0 and got[("x", "z")] == -1.0 and got[("y", "z")] == -1.0


def test_target_encode_loo_excludes_own_row(spark):
    from dataops.stats import target_encode_loo

    rows = [("a", 10.0), ("a", 20.0), ("a", 30.0), ("b", 100.0)]
    df = spark.createDataFrame(rows, "cat string, y double")
    got = {
        (r["cat"], r["y"]): r["target_enc"]
        for r in target_encode_loo(df, "cat", "y", prior_weight=0.0).collect()
    }
    # with zero prior, LOO mean of the other two rows exactly
    assert got[("a", 10.0)] == 25.0
    assert got[("a", 20.0)] == 20.0
    assert got[("a", 30.0)] == 15.0
    # singleton with zero prior: 0/0 is null (undefined), not a leak
    assert got[("b", 100.0)] is None

    smoothed = {
        (r["cat"], r["y"]): r["target_enc"]
        for r in target_encode_loo(df, "cat", "y", prior_weight=4.0).collect()
    }
    # singleton now falls back to the smoothed global prior
    assert smoothed[("b", 100.0)] == 40.0  # (0 + 4*40)/(0+4)


def test_psi_report_detects_shift(spark):
    from dataops.stats import psi_report

    base = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "v double")
    same = spark.createDataFrame([(float((i * 7) % 100),) for i in range(500)], "v double")
    shifted = spark.createDataFrame([(float(50 + i % 100),) for i in range(500)], "v double")

    stable = psi_report(base, same, "v").collect()
    assert len(stable) == 10
    psi_stable = sum(r["psi_contrib"] for r in stable)
    psi_shift = sum(r["psi_contrib"] for r in psi_report(base, shifted, "v").collect())
    assert psi_stable < 0.05, psi_stable        # same distribution: tiny PSI
    assert psi_shift > 0.25, psi_shift          # half the mass moved: action
    # shares are proper distributions
    assert abs(sum(r["p_baseline"] for r in stable) - 1.0) < 1e-4
    assert abs(sum(r["p_current"] for r in stable) - 1.0) < 1e-4


def test_value_histogram_matches_model_random(spark):
    import random

    for seed in range(3):
        rng = random.Random(seed)
        vals = [rng.uniform(-20, 130) for _ in range(300)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        from dataops.stats import value_histogram

        got = {
            r["bin"]: r["n"]
            for r in value_histogram(df, "v", lo=0, hi=100, n_bins=10).collect()
        }
        from collections import Counter

        want = Counter()
        for v in vals:
            if v < 0:
                want[0] += 1
            elif v >= 100:
                want[11] += 1
            else:
                want[int(v // 10) + 1] += 1
        assert got == dict(want), f"seed {seed}"


def test_winsorized_stats_matches_model(spark):
    vals = [float(x) for x in
            [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 1000]]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    from dataops.stats import winsorized_stats

    r = winsorized_stats(df, "v", "g", lower=0.05, upper=0.95).collect()[0]
    # exact interpolated percentiles over the sorted data
    import numpy as np

    lo = float(np.percentile(vals, 5, method="linear"))
    hi = float(np.percentile(vals, 95, method="linear"))
    clamped = [min(max(v, lo), hi) for v in vals]
    assert r["p_lo"] == round(lo, 6) and r["p_hi"] == round(hi, 6)
    assert r["mean_winsorized"] == round(sum(clamped) / len(clamped), 6)
    assert r["n_clipped_low"] == sum(v < lo for v in vals)
    assert r["n_clipped_high"] == sum(v > hi for v in vals)


def test_pivot_report_matches_model_random(spark):
    import random
    from collections import defaultdict

    for seed in range(3):
        rng = random.Random(seed)
        cats = ["x", "y", "z"]
        rows = [
            (rng.randint(1, 5), rng.choice(cats + ["other"]), round(rng.uniform(0, 9), 2))
            for _ in range(120)
        ]
        df = spark.createDataFrame(rows, "uid long, cat string, v double")
        from dataops.stats import pivot_report

        got = {
            r["uid"]: {c: r[c] for c in cats}
            for r in pivot_report(df, "uid", "cat", "v", categories=cats).collect()
        }
        want = defaultdict(lambda: {c: 0.0 for c in cats})
        for uid, cat, v in rows:
            want[uid]  # touch so every uid appears
            if cat in cats:
                want[uid][cat] = round(want[uid][cat] + v, 10)
        for uid in want:
            for c in cats:
                assert abs(got[uid][c] - round(want[uid][c], 2)) < 1e-9, (seed, uid, c)


def test_feature_correlations_requires_two_cols(spark):
    import pytest

    from dataops.stats import feature_correlations

    df = spark.createDataFrame([(1.0,)], "a double")
    with pytest.raises(ValueError, match="at least 2"):
        feature_correlations(df, ["a"])


def test_target_encode_loo_is_exported():
    from dataops import stats

    assert "target_encode_loo" in stats.__all__
    assert callable(stats.target_encode_loo)
