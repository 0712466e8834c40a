"""``Catalog.read_table`` has two tiers behind the shared size gate: a flat
table under the gate is read with pyarrow into a local relation, anything
else is a parquet scan. Each case reads its table at the default gate
(driver tier), then with the gate at 0 (Spark tier), and both reads must
give the same rows and the same ``df.schema``.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from bio2bel_spark.catalog import ACTION_DROP, ACTION_POPULATE, ACTIONS_TABLE, Catalog
from bio2bel_spark.dataset import Dataset
from bio2bel_spark.operators.pathways import PathwayStore


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _read_both(size_gate, cat, name):
    """``(rows, schema)`` of the table read in the driver tier, then in the
    Spark tier; each tier is checked to be the one it claims."""
    out = []
    for gate in (None, 0):
        if gate is not None:
            size_gate(gate)
        df = cat.read_table(name)
        assert _plan(df).startswith("LocalRelation") == (gate is None)
        out.append((sorted(df.collect(), key=repr), df.schema))
    return out


def test_ledger_with_empty_leading_files(spark, warehouse, size_gate):
    """A ledger appended twice from a one-row frame holds 0-row part files
    that sort before the rows; the driver tier once dropped every row."""
    cat = Catalog(spark, warehouse)
    for i in range(2):
        spark.createDataFrame([(i, f"e{i}")], "seq long, event string").write.mode(
            "append"
        ).parquet(cat.table_path("ledger"))
    counts = [pq.read_metadata(f).num_rows for f in cat.data_files("ledger")]
    assert counts[0] == 0 and sum(counts) == 2
    driver, dist = _read_both(size_gate, cat, "ledger")
    assert [tuple(r) for r in driver[0]] == [(0, "e0"), (1, "e1")]
    assert driver == dist


def test_actions_mix_int96_and_driver_events(spark, warehouse, size_gate):
    """A Spark-written (INT96) event and driver-written UTC events read as
    one ``timestamp`` column, in the same instants, from either tier."""
    cat = Catalog(spark, warehouse)
    spark.createDataFrame(
        [("old", ACTION_POPULATE)], "resource string, action string"
    ).withColumn("created", F.current_timestamp()).coalesce(1).write.mode(
        "append"
    ).parquet(cat.table_path(ACTIONS_TABLE))
    cat.store_action("a", ACTION_POPULATE)
    cat.store_action("a", ACTION_DROP)
    driver, dist = _read_both(size_gate, cat, ACTIONS_TABLE)
    assert driver[1]["created"].dataType == TimestampType()
    assert len(driver[0]) == 3 and all(r["created"] for r in driver[0])
    assert driver == dist


def test_nested_array_of_structs_with_nulls(spark, warehouse, size_gate):
    """An ``array<struct>`` column shaped like Rhea reactions: a null
    element, a null field, an empty and a null array."""
    cat = Catalog(spark, warehouse)
    df = spark.createDataFrame(
        [
            ("rhea:1", [("chebi", "1", "water"), None, ("chebi", "2", None)]),
            ("rhea:2", []),
            ("rhea:3", None),
        ],
        "identifier string, "
        "reactants array<struct<namespace:string, identifier:string, name:string>>",
    ).withColumn("dsl_type", F.lit("Reaction"))
    cat.write_table(df, "reactions")
    driver, dist = _read_both(size_gate, cat, "reactions")
    assert driver == dist
    assert driver[0][0]["reactants"][1] is None
    assert all(f.nullable for f in driver[1].fields)


def test_snapshot_ignores_a_later_append(spark, warehouse, size_gate):
    """A frame holds the rows the table had when it was read: the parquet
    tier lists its files once, and the driver tier must show the same."""
    cat = Catalog(spark, warehouse)
    cat.write_table(spark.createDataFrame([(1,)], "k long"), "t")

    def read_then_append(k):
        df = cat.read_table("t")
        cat.write_table(spark.createDataFrame([(k,)], "k long"), "t", mode="append")
        return sorted(r.k for r in df.collect())

    driver = read_then_append(2)
    size_gate(0)
    assert _plan(cat.read_table("t")).startswith("Relation")
    assert read_then_append(3) == [1, 2]
    assert driver == [1]


def test_partitioned_and_over_gate_tables_scan_files(spark, warehouse, size_gate):
    """A partitioned table, one whose files disagree on the schema and one
    over the gate are read as a parquet scan. The gate counts values: the
    flat table's 6 rows of 2 columns are 12."""
    cat = Catalog(spark, warehouse)
    df = spark.createDataFrame([(i, i % 2) for i in range(6)], "k long, p long")
    cat.write_table(df, "parted", partition_by=["p"])
    cat.write_table(df, "flat")
    cat.write_table(df, "drifted")
    cat.write_table(df.selectExpr("k", "'x' AS p"), "drifted", mode="append")
    assert _plan(cat.read_table("parted")).startswith("Relation")
    assert _plan(cat.read_table("drifted")).startswith("Relation")
    assert _plan(cat.read_table("flat")).startswith("LocalRelation")
    size_gate(12)
    assert _plan(cat.read_table("flat")).startswith("LocalRelation")
    size_gate(11)
    assert _plan(cat.read_table("flat")).startswith("Relation")
    assert cat.read_table("parted").count() == cat.read_table("flat").count() == 6


def test_byte_gate_scans_files(spark, warehouse, monkeypatch):
    """A table under the value gate but over ``DRIVER_BYTES`` is a parquet
    scan, whether its footers count too many bytes or only its decoded
    table is too large: a repeated string dictionary-encodes to a few
    bytes a row on disk and takes its full length in arrow."""
    from bio2bel_spark.operators import _local

    cat = Catalog(spark, warehouse)
    df = spark.range(2000).selectExpr("id", "repeat('x', 1000) AS s").coalesce(1)
    cat.write_table(df, "repeated")
    metas = [pq.read_metadata(f) for f in cat.data_files("repeated")]
    footer = sum(m.row_group(i).total_byte_size for m in metas for i in range(m.num_row_groups))
    assert footer < 100_000
    assert _plan(cat.read_table("repeated")).startswith("LocalRelation")
    monkeypatch.setattr(_local, "DRIVER_BYTES", footer - 1)
    assert _plan(cat.read_table("repeated")).startswith("Relation")
    monkeypatch.setattr(_local, "DRIVER_BYTES", footer)
    assert _plan(cat.read_table("repeated")).startswith("Relation")
    assert cat.read_table("repeated").filter(F.length("s") == 1000).count() == 2000


def test_table_without_data_files_scans_files(spark, warehouse):
    """A directory holding only ``_SUCCESS`` is Spark's to answer."""
    cat = Catalog(spark, warehouse)
    os.makedirs(cat.table_path("hollow"))
    open(os.path.join(cat.table_path("hollow"), "_SUCCESS"), "w").close()
    assert cat.table_exists("hollow") and not cat.data_files("hollow")
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        cat.read_table("hollow")


@pytest.fixture()
def pathway_ds(spark, warehouse):
    class Tiers(Dataset):
        module_name = "readtiers"
        tables = {"pathway": None, "protein": None}

        def _populate_tables(self, **kwargs):
            return {
                "pathway": spark.createDataFrame(
                    [(i, "kegg", f"hsa{i:05d}", f"pathway {i}") for i in range(40)],
                    "pathway_id long, prefix string, identifier string, name string",
                ),
                "protein": spark.createDataFrame(
                    [(i, str(i), f"HGNC:{i}", f"GENE{i}") for i in range(60)],
                    "protein_id long, entrez_id string, hgnc_id string, "
                    "hgnc_symbol string",
                ),
            }

    ds = Tiers(spark, warehouse)
    ds.populate()
    return ds


def test_lookups_and_search_start_no_job(spark, pathway_ds, spark_jobs):
    ds = pathway_ds
    store = PathwayStore(ds.table("pathway"), ds.table("protein"), None)
    hit, jobs = spark_jobs(lambda: store.get_pathway_by_id("hsa00007"))
    assert (hit["name"], jobs) == ("pathway 7", 0)
    rows, jobs = spark_jobs(
        lambda: store.get_proteins_by_symbols(["GENE3", "GENE50", "NOPE"]).collect()
    )
    assert (sorted(r.protein_id for r in rows), jobs) == ([3, 50], 0)
    rows, jobs = spark_jobs(lambda: store.search_genes("gene5").collect())
    assert (sorted(r.protein_id for r in rows), jobs) == ([5] + list(range(50, 60)), 0)
