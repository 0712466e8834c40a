"""Tests for the Z-order (Morton) layout operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _morton(vals: list[int], bits: int) -> int:
    z = 0
    for c, v in enumerate(vals):
        for j in range(bits):
            z |= ((v >> j) & 1) << (j * len(vals) + c)
    return z


def test_zorder_value_matches_model(spark):
    from dataops.layout import zorder_value

    rows = [(x, y) for x in (0, 1, 5, 127, 255) for y in (0, 3, 200, 255)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = df.withColumn(
        "z", zorder_value([F.col("x"), F.col("y")], bits=8)
    ).collect()
    for r in out:
        assert r.z == _morton([r.x, r.y], 8), (r.x, r.y)


def test_zorder_value_three_dims_and_budget(spark):
    from dataops.layout import zorder_value

    df = spark.createDataFrame([(3, 5, 6)], "a long, b long, c long")
    r = df.withColumn(
        "z", zorder_value([F.col("a"), F.col("b"), F.col("c")], bits=4)
    ).collect()[0]
    assert r.z == _morton([3, 5, 6], 4)
    with pytest.raises(ValueError, match="62-bit"):
        zorder_value([F.col("a"), F.col("b")], bits=32)
    with pytest.raises(ValueError, match="at least one"):
        zorder_value([], bits=8)


def test_zorder_layout_improves_both_dim_spans(spark):
    """The point of Z-order: after range-partitioning by the Morton code,
    each partition's min/max span is narrow in BOTH dimensions — so
    min/max pruning works for either predicate. Compare against a layout
    ordered by x alone, where y spans stay full-width."""
    from dataops.layout import zorder_layout

    n = 64
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")

    z = zorder_layout(df, ["x", "y"], bits=6, n_partitions=16)
    spans = (
        z.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
        .collect()[0]
    )
    # single-column ordering: x spans collapse, y spans stay ~full width
    x_only = df.repartitionByRange(16, "x")
    spans_x = (
        x_only.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg((F.max("y") - F.min("y")).alias("sy"))
        .agg(F.avg("sy").alias("ay"))
        .collect()[0]
    )
    assert spans_x.ay >= n - 1  # the baseline really is unclustered in y
    # z-order must cluster BOTH dims well below full width
    assert spans.ax < n / 2 and spans.ay < n / 2


def test_zorder_layout_degenerate_columns(spark):
    from dataops.layout import zorder_layout

    df = spark.createDataFrame(
        [(1, 7, None), (2, 7, None), (3, 7, None)],
        "x long, c long, nul long",
    )
    out = zorder_layout(df, ["x", "c", "nul"], bits=4).collect()
    # constant + all-null columns contribute zero bits; x still orders
    zs = {r.x: r["__z"] for r in out}
    assert zs[1] < zs[2] < zs[3]


def test_zorder_write_prunes_both_dims(spark, tmp_path):
    """End-to-end: write a Z-ordered table, derive per-file zone maps, and
    show a narrow predicate on EITHER dimension skips most files — while
    an x-only range layout cannot prune on y at all."""
    from dataops.layout import (
        file_stats,
        pruning_selectivity,
        zorder_layout,
    )

    n = 64
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")

    zp = str(tmp_path / "z")
    zorder_layout(df, ["x", "y"], bits=6, n_partitions=16).write.parquet(zp)
    xp = str(tmp_path / "x")
    df.repartitionByRange(16, "x").write.parquet(xp)

    zstats = file_stats(spark.read.parquet(zp), ["x", "y"])
    xstats = file_stats(spark.read.parquet(xp), ["x", "y"])

    def skipped(stats, col):
        return pruning_selectivity(stats, col, 10, 13).collect()[0][
            "files_skipped_frac"
        ]

    # x-ordered layout: prunes on x, useless on y
    assert skipped(xstats, "x") >= 0.5
    assert skipped(xstats, "y") == 0.0
    # z-ordered layout: prunes meaningfully on BOTH dims
    assert skipped(zstats, "x") >= 0.5
    assert skipped(zstats, "y") >= 0.5


def _hilbert_py(x, y, bits):
    n = 1 << bits
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_value_matches_model_and_is_a_curve(spark):
    """Exact parity with the classic reflect/rotate model over the FULL
    4-bit grid, plus the two curve properties that make Hilbert useful:
    bijection and unit-step adjacency (consecutive indices are adjacent
    cells — the locality guarantee Z-order lacks)."""
    from dataops.layout import hilbert_value

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    rows = grid.withColumn(
        "h", hilbert_value(F.col("x"), F.col("y"), bits=4)
    ).collect()
    for r in rows:
        assert r.h == _hilbert_py(r.x, r.y, 4)
    inv = {r.h: (r.x, r.y) for r in rows}
    assert len(inv) == 256  # bijection
    for i in range(255):  # unit-step adjacency
        (xa, ya), (xb, yb) = inv[i], inv[i + 1]
        assert abs(xa - xb) + abs(ya - yb) == 1


def test_hilbert_value_rejects_negative_coordinates(spark):
    """A negative coordinate fails loudly instead of mapping to some other
    cell's index; a null one stays null."""
    from dataops.layout import hilbert_value

    def h(x, y):
        df = spark.createDataFrame([(x, y)], "x long, y long")
        return df.select(hilbert_value(F.col("x"), F.col("y"), bits=4)).first()[0]

    assert h(None, 3) is None
    for x, y in [(-1, 0), (0, -1)]:
        with pytest.raises(Exception, match="hilbert_value: negative"):
            h(x, y)


def test_hilbert_layout_prunes_both_dims(spark):
    from dataops.layout import hilbert_layout
    import pytest

    n = 64
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x long, y long"
    )
    h = hilbert_layout(df, ["x", "y"], bits=6, n_partitions=16)
    spans = (
        h.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
        .collect()[0]
    )
    assert spans.ax < n / 2 and spans.ay < n / 2
    with pytest.raises(ValueError, match="at least two"):
        hilbert_layout(df, ["x"], bits=6)


def test_hilbert_value_nd_is_a_curve_3d(spark):
    """The d-dimensional Skilling transpose is a true Hilbert curve in
    3-D: bijective over the full 3-bit grid with unit-step adjacency
    between consecutive indices (Manhattan distance exactly 1)."""
    from dataops.layout import hilbert_value_nd

    side = 8  # bits=3
    grid = spark.createDataFrame(
        [(x, y, z) for x in range(side) for y in range(side) for z in range(side)],
        "x long, y long, z long",
    )
    rows = grid.withColumn(
        "h", hilbert_value_nd([F.col("x"), F.col("y"), F.col("z")], bits=3)
    ).collect()
    inv = {r.h: (r.x, r.y, r.z) for r in rows}
    assert len(inv) == side ** 3 and set(inv) == set(range(side ** 3))
    for i in range(side ** 3 - 1):
        a, b = inv[i], inv[i + 1]
        assert sum(abs(p - q) for p, q in zip(a, b)) == 1


def test_hilbert_value_nd_2d_parity_and_budget(spark):
    """d=2 through the Skilling path is also bijective+adjacent (the
    orientation differs from hilbert_value; the properties match), and
    the 62-bit budget guard trips."""
    import pytest

    from dataops.layout import hilbert_value_nd

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    rows = grid.withColumn(
        "h", hilbert_value_nd([F.col("x"), F.col("y")], bits=4)
    ).collect()
    inv = {r.h: (r.x, r.y) for r in rows}
    assert len(inv) == 256
    for i in range(255):
        (xa, ya), (xb, yb) = inv[i], inv[i + 1]
        assert abs(xa - xb) + abs(ya - yb) == 1
    with pytest.raises(ValueError, match="62-bit"):
        hilbert_value_nd([F.col("x")] * 8, bits=8)
    with pytest.raises(ValueError, match="at least two"):
        hilbert_value_nd([F.col("x")], bits=8)


def test_hilbert_layout_3d_prunes_all_dims(spark):
    """3-D hilbert_layout keeps per-partition spans narrow in EVERY
    dimension at once — the pruning_selectivity e2e gauge extended past
    2-D."""
    from dataops.layout import hilbert_layout

    n = 16
    df = spark.createDataFrame(
        [(x, y, z) for x in range(n) for y in range(n) for z in range(n)],
        "x long, y long, z long",
    )
    h = hilbert_layout(df, ["x", "y", "z"], bits=4, n_partitions=16)
    spans = (
        h.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
            (F.max("z") - F.min("z")).alias("sz"),
        )
        .agg(
            F.avg("sx").alias("ax"),
            F.avg("sy").alias("ay"),
            F.avg("sz").alias("az"),
        )
        .collect()[0]
    )
    # a single-column sort would leave two dims at full span (n-1)
    assert spans.ax < n * 0.75 and spans.ay < n * 0.75 and spans.az < n * 0.75


def test_layout_partition_false_same_rows_no_range_exchange(spark):
    """partition=False must return the exact same rows (codes included) as
    the partitioned form, with no RangePartitioning exchange in the plan."""
    from dataops.layout import hilbert_layout, zorder_layout

    rows = [(x, y) for x in range(0, 40, 3) for y in range(0, 40, 7)]
    df = spark.createDataFrame(rows, "a long, b long")
    for fn, col in ((zorder_layout, "__z"), (hilbert_layout, "__h")):
        part = fn(df, ["a", "b"], bits=5)
        flat = fn(df, ["a", "b"], bits=5, partition=False)
        assert flat.exceptAll(part).count() == 0
        assert part.exceptAll(flat).count() == 0
        plan = flat._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan.lower()
        assert col in flat.columns
