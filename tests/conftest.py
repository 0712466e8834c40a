"""Shared fixtures: local SparkSession + temp warehouse per test.

Mirrors the reference's temp-SQLite-per-test mixins
(``/root/reference/src/bio2bel/testing.py:31-176``) with a session-scoped
SparkSession (expensive to start) and a function-scoped temp warehouse dir
(cheap isolation).
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")
# literal-table oracles (e.g. compression_ratio's python-zlib VALUES table)
# must be generated from the SAME corpus the suite compares against
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", TESTDATA)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: scale-stress tests (run with SPARK_GRAFT_SLOW=1; skipped by default)",
    )


@pytest.fixture(scope="session")
def spark():
    from bio2bel_spark.session import get_spark

    spark = get_spark(
        app_name="bio2bel-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _release_operator_persists():
    """Start every test with an empty persist registry: ``tracked_persist``
    holds its DataFrames until ``release_cached``, so release what the
    previous test's operators pinned."""
    yield
    from bio2bel_spark.operators import caching

    for session in list(caching._REGISTRY):
        caching.release_cached(session)


@pytest.fixture()
def size_gate(monkeypatch):
    """Set the shared driver-tier size gate for one test: ``size_gate(0)``
    sends every gated operator, and ``Catalog.read_table`` of a non-empty
    table, to its Spark tier."""
    from bio2bel_spark.operators import _local

    return lambda rows: monkeypatch.setattr(_local, "DRIVER_ROWS", rows)


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` under a fresh job group and returns
    ``(fn's result, the number of Spark jobs it started)``."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        tag = uuid.uuid4().hex
        group, fence = f"counted-{tag}", f"fence-{tag}"
        try:
            sc.setJobGroup(group, "jobs counted")
            value = fn()
            # the status tracker is fed asynchronously, in job order: once
            # a later group's job is visible, every job of ``group`` is
            sc.setJobGroup(fence, "one job")
            spark.range(1).count()
            deadline = time.time() + 30
            while not tracker.getJobIdsForGroup(fence) and time.time() < deadline:
                time.sleep(0.05)
            assert tracker.getJobIdsForGroup(fence)
            return value, len(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    return run


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "warehouse")


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    """The driver's TPC-H-ish parquet tables as a name->DataFrame dict."""
    from bio2bel_spark.tables import load_tables

    return load_tables(spark, sf_dir)
