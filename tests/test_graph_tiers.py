"""The whole-graph ops of ``KnowledgeGraph`` — ``summary``,
``connected_components``, ``degree_distribution`` and ``edge_list`` —
have two tiers behind the shared size gate: a driver tier over one gated
collect per table, and the Spark plans above the gate. Each test runs its
case at the default gate (driver tier), then with the gate at 0 (Spark
tier), and both must give the same summary, the same row multisets and
the same schemas. A last test counts the driver tier's Spark jobs on a
parquet-backed graph built the way set-ups build one.
"""

from __future__ import annotations

import time
from collections import Counter

import pytest

from bio2bel_spark.operators.graph import KnowledgeGraph

EDGE_DDL = (
    "source_ns string, source_id string, relation string, target_ns string, "
    "target_id string, citation string"
)


def _nodes(spark, keys):
    return spark.createDataFrame(keys, "namespace string, identifier string")


def _edges(spark, rows, ddl=EDGE_DDL):
    return spark.createDataFrame(rows, ddl)


def _is_local(df) -> bool:
    return df._jdf.queryExecution().optimizedPlan().toString().startswith(
        "LocalRelation"
    )


def _observe(kg):
    """Everything the four ops answer, in a tier-independent form."""
    frames = {
        "components": kg.connected_components(),
        "degree": kg.degree_distribution(),
        "edge_list": kg.edge_list(),
    }
    return {
        "summary": kg.summary(),
        "summary_no_components": kg.summary(with_components=False),
        **{
            name: (df.schema, Counter(tuple(r) for r in df.collect()))
            for name, df in frames.items()
        },
    }, {name: _is_local(df) for name, df in frames.items()}


def _tiers_agree(size_gate, kg, empty=False):
    """The driver tier answers from local relations, the Spark tier does
    not, and both answer the same. Over an ``empty`` edge table Spark's
    optimizer folds the Spark tier's plans to local relations too."""
    driver, driver_local = _observe(kg)
    size_gate(0)
    spark_tier, spark_local = _observe(kg)
    assert all(driver_local.values()), driver_local
    assert empty or not any(spark_local.values()), spark_local
    assert driver == spark_tier
    return driver


def test_tiers_agree_on_declared_and_undeclared_nodes(spark, size_gate):
    """The ``test_graph.py`` graph: hgnc:4b is an edge endpoint but not a
    declared node, hgnc:5 is isolated, and two rows repeat one edge."""
    nodes = _nodes(spark, [("hgnc", str(i)) for i in range(1, 6)])
    edges = _edges(
        spark,
        [
            ("hgnc", "1", "increases", "hgnc", "2", "pubmed:1"),
            ("hgnc", "2", "binds", "hgnc", "3", "pubmed:2"),
            ("hgnc", "2", "binds", "hgnc", "3", "pubmed:2"),
            ("hgnc", "2", "binds", "hgnc", "3", "pubmed:9"),
            ("hgnc", "4", "association", "hgnc", "4b", None),
        ],
    )
    got = _tiers_agree(size_gate, KnowledgeGraph(nodes, edges))
    assert got["summary"]["components"] == 3  # {1,2,3}, {4}, {5}
    assert got["summary"]["citations"] == 3
    assert sum(got["edge_list"][1].values()) == 4  # 4 → 4b is dropped


def test_tiers_agree_on_duplicate_node_rows(spark, size_gate):
    """Two rows of one node key: summary counts node rows, as
    ``nodes.count()`` does; components and ids count the key once."""
    nodes = _nodes(spark, [("x", "a"), ("x", "a"), ("x", "b")])
    edges = _edges(spark, [("x", "a", "r", "x", "b", "c1")])
    got = _tiers_agree(size_gate, KnowledgeGraph(nodes, edges))
    assert got["summary"]["nodes"] == 3
    assert sum(got["components"][1].values()) == 2
    assert got["edge_list"][1] == Counter({(0, 1): 1})


def test_tiers_agree_on_an_identifier_with_a_colon(spark, size_gate):
    """A key is split on its first ``:`` only."""
    nodes = _nodes(spark, [("go", "GO:0001"), ("go", "GO:0002")])
    edges = _edges(spark, [("go", "GO:0001", "isA", "go", "GO:0002", None)])
    got = _tiers_agree(size_gate, KnowledgeGraph(nodes, edges))
    assert {(ns, ident) for ns, ident, _ in got["components"][1]} == {
        ("go", "GO:0001"),
        ("go", "GO:0002"),
    }


def test_tiers_agree_without_a_citation_column(spark, size_gate):
    nodes = _nodes(spark, [("x", "a"), ("x", "b"), ("x", "c")])
    edges = _edges(
        spark,
        [("x", "a", "r", "x", "b"), ("x", "b", "r", "x", "c")],
        "source_ns string, source_id string, relation string, "
        "target_ns string, target_id string",
    )
    got = _tiers_agree(size_gate, KnowledgeGraph(nodes, edges))
    assert got["summary"]["citations"] == 0
    assert got["summary"]["components"] == 1


def test_tiers_agree_on_an_empty_edge_table(spark, size_gate):
    nodes = _nodes(spark, [("x", "a"), ("x", "b")])
    got = _tiers_agree(
        size_gate, KnowledgeGraph(nodes, _edges(spark, [])), empty=True
    )
    assert got["summary"] == {
        "nodes": 2, "edges": 0, "citations": 0, "density": 0.0,
        "components": 2,
    }
    assert not got["degree"][1] and not got["edge_list"][1]


def test_tiers_agree_on_loops_parallel_edges_and_null_citations(
    spark, size_gate
):
    """A self-loop joins nothing but counts twice toward its node's
    degree; parallel edges keep their multiplicity in the edge list."""
    nodes = _nodes(spark, [("x", "a"), ("x", "b"), ("x", "c")])
    edges = _edges(
        spark,
        [
            ("x", "c", "r", "x", "c", None),
            ("x", "a", "r", "x", "b", None),
            ("x", "a", "r", "x", "b", "c1"),
            ("x", "b", "r", "x", "a", "c1"),
        ],
    )
    got = _tiers_agree(size_gate, KnowledgeGraph(nodes, edges))
    assert got["summary"]["components"] == 2
    assert got["summary"]["citations"] == 1
    assert got["edge_list"][1] == Counter({(0, 1): 2, (1, 0): 1, (2, 2): 1})
    assert got["degree"][1] == Counter({(2, 1), (3, 2)})


def _jobs(spark, group, run):
    """``run()`` under a job group; returns its result and the group's job
    count."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = run()
        # the status tracker is fed asynchronously, in job order: once a
        # later group's job is visible, every job of this group is
        sc.setJobGroup(f"{group}-fence", "one job")
        spark.range(1).count()
        deadline = time.time() + 30
        tracker = sc.statusTracker()
        while not tracker.getJobIdsForGroup(f"{group}-fence") and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(f"{group}-fence")
        return out, len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_driver_tier_job_counts(spark, tmp_path):
    """Two one-file parquet edge tables, each with its induced nodes,
    unioned, as a set-up of two small sources builds the graph: the driver
    tier costs a node probe and an edge probe, and reading its results back
    runs no job. (A probe over P partitions takes about log4(P) + 1 jobs,
    see ``collect_if_small``, so more files per table cost more probe
    jobs.)"""
    parts = []
    for i in range(2):
        path = str(tmp_path / f"edges{i}")
        _edges(
            spark,
            [(f"s{i}", str(j), "r", "t", str(j % 7), f"pmid:{j % 3}")
             for j in range(40)],
        ).coalesce(1).write.parquet(path)
        edges = spark.read.parquet(path)
        parts.append(KnowledgeGraph(KnowledgeGraph(None, edges).induced_nodes(), edges))
    kg = parts[0].union(parts[1])

    summary, n = _jobs(spark, "summary", lambda: kg.summary(with_components=True))
    assert summary == {
        "nodes": 87, "edges": 80, "citations": 3,
        "density": pytest.approx(80 / (87 * 86)), "components": 7,
    }
    assert n <= 4
    degree, n = _jobs(spark, "degree", lambda: kg.degree_distribution().collect())
    assert sorted(tuple(r) for r in degree) == [(1, 80), (10, 2), (12, 5)]
    assert n <= 2
    edge_list, n = _jobs(spark, "edge_list", lambda: kg.edge_list().collect())
    assert len(edge_list) == 80
    assert n <= 4
