"""Catalog + provenance tests (≈ reference tests/test_actions.py:14-51)."""

from __future__ import annotations

import os

import pytest

from bio2bel_spark.catalog import ACTION_DROP, ACTION_POPULATE, ACTIONS_TABLE, Catalog


def test_write_read_roundtrip(spark, warehouse):
    cat = Catalog(spark, warehouse)
    df = spark.range(10).withColumnRenamed("id", "x")
    cat.write_table(df, "demo")
    assert cat.table_exists("demo")
    assert cat.read_table("demo").count() == 10
    assert "demo" in cat.list_tables()


def test_drop_table(spark, warehouse):
    cat = Catalog(spark, warehouse)
    cat.write_table(spark.range(3), "gone")
    assert cat.drop_table("gone") is True
    assert not cat.table_exists("gone")
    assert cat.drop_table("gone") is False


def test_actions_append_and_order(spark, warehouse):
    cat = Catalog(spark, warehouse)
    assert cat.count_actions() == 0
    cat.store_action("test", ACTION_POPULATE)
    cat.store_action("test", ACTION_DROP)
    cat.store_action("other", ACTION_POPULATE)
    assert cat.count_actions() == 3
    rows = cat.actions().collect()
    # newest first (Action.ls ordering, models.py:121)
    assert [r["created"] for r in rows] == sorted(
        [r["created"] for r in rows], reverse=True
    )


def test_latest_actions_window(spark, warehouse):
    cat = Catalog(spark, warehouse)
    cat.store_action("test", ACTION_POPULATE)
    cat.store_action("test", ACTION_DROP)
    latest = {r["resource"]: r["action"] for r in cat.latest_actions().collect()}
    assert latest == {"test": ACTION_DROP}


def test_actions_read_spark_and_driver_events(spark, warehouse):
    """A log holding an event written by a Spark append (older logs) and
    events appended from the driver reads as one table, ``created`` typed
    ``timestamp``; a leftover staging file is invisible."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    cat = Catalog(spark, warehouse)
    spark.createDataFrame(
        [("old", ACTION_POPULATE)], "resource string, action string"
    ).withColumn("created", F.current_timestamp()).coalesce(1).write.mode(
        "append"
    ).parquet(cat.table_path(ACTIONS_TABLE))
    cat.store_action("a", ACTION_POPULATE)
    cat.store_action("a", ACTION_DROP)
    cat.store_action("b", ACTION_POPULATE)

    def check():
        acts = cat.actions()
        assert acts.schema["created"].dataType == TimestampType()
        assert [(r["resource"], r["action"]) for r in acts.collect()] == [
            ("b", ACTION_POPULATE), ("a", ACTION_DROP),
            ("a", ACTION_POPULATE), ("old", ACTION_POPULATE),
        ]
        assert {r["resource"]: r["action"] for r in cat.latest_actions().collect()} == {
            "old": ACTION_POPULATE, "a": ACTION_DROP, "b": ACTION_POPULATE,
        }
        assert cat.count_actions() == cat.read_table(ACTIONS_TABLE).count() == 4

    check()
    # an append that died between write and rename leaves its staging file
    with open(os.path.join(cat.table_path(ACTIONS_TABLE), ".part-x.parquet.inprogress"), "wb") as f:
        f.write(b"PAR1 half-written")
    check()
    empty = Catalog(spark, warehouse + "-empty")
    os.makedirs(empty.table_path(ACTIONS_TABLE))
    with open(os.path.join(empty.table_path(ACTIONS_TABLE), ".part-y.parquet.inprogress"), "wb") as f:
        f.write(b"PAR1 half-written")
    assert not empty.table_exists(ACTIONS_TABLE)
    assert empty.count_actions() == empty.actions().count() == 0


def test_compact_table_preserves_content(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    # simulate append-heavy history: 20 tiny files
    catalog.write_table(df.repartition(20), "frag")
    import os

    before = [
        f
        for f in os.listdir(catalog.table_path("frag"))
        if f.endswith(".parquet")
    ]
    assert len(before) == 20
    n = catalog.compact_table("frag", target_file_mb=128)
    assert n == 1
    got = catalog.read_table("frag")
    assert got.count() == 1000
    assert got.agg({"v": "sum"}).collect()[0][0] == df.agg({"v": "sum"}).collect()[0][0]
    # provenance recorded
    acts = {(r["resource"], r["action"]) for r in catalog.actions().collect()}
    assert ("frag", "compact") in acts
    # idempotent: nothing to gain on a single file
    assert catalog.compact_table("frag") == 1


def test_compact_table_failed_swap_keeps_the_table(spark, tmp_path, monkeypatch):
    """Fault injection: the rename that swaps the compacted files in
    fails. The old files must be back in place and no staging or
    set-aside directory may be left in the warehouse."""
    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    catalog.write_table(df.repartition(20), "frag")
    real_rename = os.rename

    def failing_rename(src, dst):
        # the rename that moves the compacted (staged) files into place
        if dst == catalog.table_path("frag") and "compacting" in src:
            raise OSError("injected rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        catalog.compact_table("frag", target_file_mb=128)
    monkeypatch.setattr(os, "rename", real_rename)
    assert catalog.read_table("frag").count() == 1000
    assert len(catalog.data_files("frag")) == 20
    assert catalog.list_tables() == ["frag"]
    assert os.listdir(catalog.warehouse) == ["frag"]


def test_compact_table_refuses_partitioned_layout(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(100).selectExpr("id", "id % 3 AS part")
    catalog.write_table(df, "parted", partition_by=["part"])
    with pytest.raises(ValueError, match="hive-partitioned"):
        catalog.compact_table("parted")
    # data untouched by the refusal
    assert catalog.read_table("parted").count() == 100


def test_refresh_sum_aggregate_incremental_and_replay_safe(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog
    from dataops.incremental import refresh_sum_aggregate
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "wh_ivm"))
    b1 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "g string, v double"
    )
    b2 = spark.createDataFrame(
        [("a", 4.0), ("c", 7.0)], "g string, v double"
    )
    refresh_sum_aggregate(cat, b1, "agg", ["g"], ["v"], batch_id="b1")
    st = refresh_sum_aggregate(cat, b2, "agg", ["g"], ["v"], batch_id="b2")
    got = {r["g"]: (r["n_rows"], r["sum_v"]) for r in st.collect()}
    assert got == {"a": (3, 7.0), "b": (1, 10.0), "c": (1, 7.0)}
    # replaying an applied batch is a no-op (sums would double-count)
    st2 = refresh_sum_aggregate(cat, b2, "agg", ["g"], ["v"], batch_id="b2")
    got2 = {r["g"]: (r["n_rows"], r["sum_v"]) for r in st2.collect()}
    assert got2 == got
    # direct recompute over everything agrees with the incremental state
    direct = (
        b1.unionByName(b2)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    want = {r["g"]: (r["n"], r["s"]) for r in direct.collect()}
    assert got == want


def test_refresh_distinct_aggregate_matches_direct(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog
    from dataops.incremental import refresh_distinct_aggregate
    from dataops.sketch import (
        hll_estimate_grouped,
        hll_state_grouped,
    )

    cat = Catalog(spark, str(tmp_path / "wh_ivmd"))
    b1 = spark.createDataFrame(
        [("a", i) for i in range(30)] + [("b", i) for i in range(5)],
        "g string, u long",
    )
    b2 = spark.createDataFrame(
        [("a", i) for i in range(20, 50)] + [("c", 1)], "g string, u long"
    )
    refresh_distinct_aggregate(cat, b1, "dist", "u", "g")
    refresh_distinct_aggregate(cat, b2, "dist", "u", "g")
    # replay: register max is idempotent, state unchanged
    st = refresh_distinct_aggregate(cat, b2, "dist", "u", "g")
    direct = hll_state_grouped(b1.unionByName(b2), "u", "g")
    assert sorted(map(tuple, st.collect())) == sorted(map(tuple, direct.collect()))
    est = {r["g"]: r["estimate"] for r in hll_estimate_grouped(st, "g").collect()}
    assert abs(est["a"] - 50) / 50 < 0.2 and abs(est["c"] - 1) < 0.01


def test_table_stats_profile(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh_stats"))
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "d")], "k long, s string"
    )
    cat.write_table(df, "t")
    got = {r["metric"]: r["value"] for r in cat.table_stats("t").collect()}
    assert got["n_rows"] == 4.0
    assert got["n_files"] >= 1 and got["n_bytes"] > 0
    assert got["null_frac:k"] == 0.0 and got["null_frac:s"] == 0.5


def test_expire_partitions_retention(spark, tmp_path):
    """Dropping partitions by value removes exactly those directories —
    surviving data is untouched (never read, never rewritten)."""
    import pytest

    from bio2bel_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"2024-0{1 + i % 3}") for i in range(30)], "v long, month string"
    )
    cat.write_table(df, "events_m", partition_by=["month"])

    dropped = cat.expire_partitions("events_m", "month", drop_values=["2024-01"])
    assert dropped == ["2024-01"]
    left = cat.read_table("events_m")
    assert left.count() == 20
    assert {r.month for r in left.select("month").distinct().collect()} == {
        "2024-02", "2024-03",
    }
    # keep-form: retain only one month
    dropped2 = cat.expire_partitions("events_m", "month", keep_values=["2024-03"])
    assert dropped2 == ["2024-02"]
    assert cat.read_table("events_m").count() == 10
    # provenance recorded
    acts = [r.action for r in cat.actions().collect()]
    assert acts.count("expire_partitions") == 2
    with pytest.raises(ValueError, match="exactly one"):
        cat.expire_partitions("events_m", "month")
    with pytest.raises(ValueError, match="partition dir"):
        cat.expire_partitions("events_m", "nope", drop_values=["x"])
    # a requested value matching no partition raises instead of silently
    # no-opping (drop form) or deleting everything else (keep form)
    with pytest.raises(ValueError, match="match no"):
        cat.expire_partitions("events_m", "month", keep_values=["2024-09"])
    assert cat.read_table("events_m").count() == 10  # nothing deleted


def test_expire_partitions_hive_escaped_values(spark, tmp_path):
    """Partition values hive-escapes on write (space, ':' -> %XX) must
    compare against the caller's RAW value — keep_values naming an
    escaped partition must not delete it."""
    from bio2bel_spark.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c:d"), (4, "plain")],
        "v long, tag string",
    )
    cat.write_table(df, "tagged", partition_by=["tag"])
    # keep the escaped-on-disk partition: it must survive
    dropped = cat.expire_partitions("tagged", "tag", keep_values=["a b"])
    assert sorted(dropped) == ["c:d", "plain"]
    left = cat.read_table("tagged")
    assert left.count() == 2
    assert {r.tag for r in left.select("tag").distinct().collect()} == {"a b"}
