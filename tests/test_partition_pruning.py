"""Partitioned-table pruning: the scale claims in catalog + similarity.

Writing embeddings partitioned by IVF cluster and probing a subset must prune
partitions at scan time (the '100 TB path reads nprobe/K of the data' claim in
operators/similarity.py), and the catalog's partition_by must surface as
PartitionFilters in the physical plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bio2bel_spark.catalog import Catalog
from dataops.similarity import ivf_assign


def test_ivf_partitioned_probe_prunes(spark, tmp_path, sf_dir):
    cat = Catalog(spark, str(tmp_path / "wh"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned = ivf_assign(emb, n_clusters=4)
    cat.write_table(assigned, "emb_by_cluster", partition_by=["cluster"])

    probe = cat.read_table("emb_by_cluster").filter(F.col("cluster").isin([0, 1]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the cluster filter must be a partition filter, not a row filter
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters")[1][:200]

    # pruned read returns exactly the probed clusters
    got = {r["cluster"] for r in probe.select("cluster").distinct().collect()}
    assert got <= {0, 1}
    full = cat.read_table("emb_by_cluster").count()
    assert probe.count() < full


def test_time_partitioned_events_rollup_prunes(spark, tmp_path, sf_dir):
    """Hypertable layout: events partitioned by day; a one-day rollup must
    read only that day's partition (the TimescaleDB chunk-exclusion shape)."""
    from dataops.temporal import hypertable_rollup
    from bio2bel_spark.tables import load_table

    cat = Catalog(spark, str(tmp_path / "wh"))
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    cat.write_table(ev, "events_by_day", partition_by=["day"])

    day1 = cat.read_table("events_by_day").filter(
        F.col("day") == "2024-01-02"
    )
    plan = day1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "day" in plan.split("PartitionFilters")[1][:200]

    rolled = hypertable_rollup(day1.drop("day"), grains=("hour", "day"))
    got_days = {
        r.bucket.date().isoformat()
        for r in rolled.filter(F.col("grain") == "day").collect()
    }
    assert got_days == {"2024-01-02"}
