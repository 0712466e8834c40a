"""Dataset contract tests.

Mirrors the reference's abstract-contract and populate/provenance tests
(``/root/reference/tests/test_manager.py:18-156``,
``tests/test_actions.py:14-51``, ``tests/constants.py:17-97``): 5-row
synthetic model, contract violations raise, populate/drop write exactly one
provenance row each, upsert adds only new keys, row counts read from footers
agree with Spark and start no Spark job.
"""

from __future__ import annotations

import os

import pytest

from bio2bel_spark.catalog import ACTION_DROP, ACTION_POPULATE, ACTION_POPULATE_FAILED
from bio2bel_spark.dataset import Dataset, get_dataset_classes
from bio2bel_spark.exc import Bio2BELMissingNameError, Bio2BELModuleCaseError


class TestDataset(Dataset):
    """5-row synthetic model (reference tests/constants.py:17-41)."""

    __test__ = False  # not a pytest class

    module_name = "test"
    tables = {"model": "id BIGINT, test_id STRING, name STRING"}

    def _populate_tables(self, **kwargs):
        rows = [(i, f"MODEL:{i}", str(i) * 5) for i in range(5)]
        df = self.spark.createDataFrame(rows, "id long, test_id string, name string")
        return {"model": df}


class FailingDataset(Dataset):
    __test__ = False
    module_name = "failing"
    tables = {"model": None}

    def _populate_tables(self, **kwargs):
        raise RuntimeError("boom")


def test_contract_missing_name():
    with pytest.raises(Bio2BELMissingNameError):
        class Bad(Dataset):  # noqa
            tables = {"t": None}
            def _populate_tables(self): return {}


def test_contract_case():
    with pytest.raises(Bio2BELModuleCaseError):
        class Bad(Dataset):  # noqa
            module_name = "NotLower"
            def _populate_tables(self): return {}


def test_registry_contains_test_dataset():
    assert get_dataset_classes()["test"] is TestDataset


def test_populate_counts_and_provenance(spark, warehouse):
    ds = TestDataset(spark, warehouse)
    assert not ds.is_populated()
    assert ds.summarize() == {"model": 0}
    ds.populate()
    assert ds.is_populated()
    assert ds.summarize() == {"model": 5}
    assert ds.count_table("model") == 5
    actions = ds.catalog.actions().collect()
    assert len(actions) == 1
    assert (actions[0]["resource"], actions[0]["action"]) == ("test", ACTION_POPULATE)
    # get-by-id on a missing key returns nothing (test_manager.py:151-156)
    assert ds.table("model").filter("test_id = 'MODEL:99'").count() == 0


def test_populate_idempotent_without_force(spark, warehouse):
    ds = TestDataset(spark, warehouse)
    ds.populate()
    ds.populate()  # no-op: guarded by is_populated (abstract_manager.py:312-324)
    assert ds.catalog.count_actions() == 1
    ds.populate(force=True)
    assert ds.catalog.count_actions() == 2


def test_drop_writes_provenance(spark, warehouse):
    ds = TestDataset(spark, warehouse)
    ds.populate()
    ds.drop_all()
    assert not ds.is_populated()
    latest = {r["resource"]: r["action"] for r in ds.catalog.latest_actions().collect()}
    assert latest["test"] == ACTION_DROP


def test_populate_failed_provenance(spark, warehouse):
    ds = FailingDataset(spark, warehouse)
    with pytest.raises(RuntimeError):
        ds.populate()
    actions = ds.catalog.actions().collect()
    assert [a["action"] for a in actions] == [ACTION_POPULATE_FAILED]


def test_upsert_adds_only_new(spark, warehouse):
    """Namespace-update semantics: +4 on overlapping delta
    (reference tests/test_manager_namespace.py:112-128), on a plain and on a
    partitioned table."""
    delta = spark.createDataFrame(
        [(i, f"MODEL:{i}", str(i) * 5) for i in range(3, 10)],
        "id long, test_id string, name string",
    )
    for k, partitioning in enumerate([{}, {"model": ["name"]}]):
        ds = TestDataset(spark, f"{warehouse}-{k}")
        ds.partitioning = partitioning
        ds.populate()
        assert ds.count_table("model") == ds.table("model").count() == 5
        added = ds.upsert("model", delta, key="test_id")
        assert added == 5  # ids 5..9 are new; 3,4 already present
        assert ds.count_table("model") == ds.table("model").count() == 10
        # idempotent, and the no-op leaves no (empty) file behind
        files = _tree(ds.catalog.table_path(ds.table_name("model")))
        assert ds.upsert("model", delta, key="test_id") == 0
        assert _tree(ds.catalog.table_path(ds.table_name("model"))) == files
        # into a table that does not exist yet: every row is added
        fresh = TestDataset(spark, f"{warehouse}-{k}-fresh")
        fresh.partitioning = partitioning
        assert fresh.upsert("model", delta, key="test_id") == 7
        assert fresh.count_table("model") == fresh.table("model").count() == 7


def _tree(path):
    return sorted(os.path.relpath(os.path.join(d, f), path)
                  for d, _, fs in os.walk(path) for f in fs)


def test_counts_skip_files_spark_does_not_read(spark, warehouse, size_gate):
    """A crashed write's ``_temporary/`` output holds parquet files Spark
    never scans; footer counts and ``table_stats`` must skip them too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ds = TestDataset(spark, warehouse)
    ds.populate()
    name = ds.table_name("model")
    stray = os.path.join(ds.catalog.table_path(name), "_temporary", "0")
    os.makedirs(stray)
    pq.write_table(pa.table({"id": [7, 8], "test_id": ["X:7", "X:8"], "name": ["7", "8"]}),
                   os.path.join(stray, "part-x.parquet"))
    size_gate(0)
    df = ds.table("model")
    stats = {r["metric"]: r["value"] for r in ds.catalog.table_stats(name).collect()}
    assert ds.count_table("model") == ds.summarize()["model"] == df.count() == 5
    assert stats["n_rows"] == 5
    assert stats["n_files"] == len(df.inputFiles())


def test_bookkeeping_starts_no_spark_job(spark, warehouse, spark_jobs):
    """Provenance appends and row counts are driver-side: no Spark job."""
    ds = TestDataset(spark, warehouse)
    ds.populate()

    def bookkeeping():
        ds.catalog.store_action("test", ACTION_POPULATE)
        assert ds.catalog.count_actions() == 2
        assert ds.count_table("model") == 5
        assert ds.summarize() == {"model": 5}

    assert spark_jobs(bookkeeping)[1] == 0


def test_latest_actions_runs_no_sort_job(spark, warehouse, spark_jobs):
    """``latest_actions`` windows over the raw log: sorting the log first
    only added a range-sampling job."""
    ds = TestDataset(spark, warehouse)
    for i in range(6):
        ds.catalog.store_action(f"r{i % 3}", ACTION_POPULATE)
        ds.catalog.store_action(f"r{i % 3}", ACTION_DROP if i % 2 else ACTION_POPULATE)
    latest, jobs = spark_jobs(lambda: ds.catalog.latest_actions().collect())
    assert jobs <= 2
    assert sorted((r["resource"], r["action"]) for r in latest) == [
        ("r0", ACTION_DROP), ("r1", ACTION_POPULATE), ("r2", ACTION_DROP),
    ]
