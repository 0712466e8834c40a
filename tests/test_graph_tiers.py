"""The whole-graph ops of ``KnowledgeGraph`` — ``summary``,
``connected_components``, ``degree_distribution`` and ``edge_list`` —
have two tiers behind the shared size gate: a driver tier over one gated
collect per table, and the Spark plans above the gate. Each test runs its
case at the default gate (driver tier), then with the gate at 0 (Spark
tier), and both must give the same summary, the same row multisets and
the same schemas. The last tests count the driver tier's Spark jobs: on a
parquet-backed graph built the way set-ups build one, and on repeat calls,
which a graph over fixed rows answers from the collects it holds.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from bio2bel_spark.catalog import Catalog
from bio2bel_spark.operators._local import local_frame
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


def _two_sources(spark, make_edges):
    """Two small sources' edge tables, ``make_edges(i, frame)`` each, with
    their induced nodes, unioned as a set-up of two sources builds the
    graph."""
    parts = []
    for i in range(2):
        edges = make_edges(i, _edges(
            spark,
            [(f"s{i}", str(j), "r", "t", str(j % 7), f"pmid:{j % 3}")
             for j in range(40)],
        ))
        parts.append(KnowledgeGraph(KnowledgeGraph(None, edges).induced_nodes(), edges))
    return parts[0].union(parts[1])


def _parquet(tmp_path):
    def make(i, df):
        path = str(tmp_path / f"edges{i}")
        df.coalesce(1).write.parquet(path)
        return df.sparkSession.read.parquet(path)

    return make


def _catalog(tmp_path):
    """Edges read back through ``Catalog.read_table``'s driver tier."""
    def make(i, df):
        cat = Catalog(df.sparkSession, str(tmp_path / "warehouse"))
        cat.write_table(df.coalesce(1), f"edges{i}")
        edges = cat.read_table(f"edges{i}")
        assert _is_local(edges)
        return edges

    return make


def test_driver_tier_job_counts(spark, tmp_path, spark_jobs):
    """Two one-file parquet edge tables, each with its induced nodes,
    unioned, as a set-up of two small sources builds the graph: the driver
    tier costs a node probe and an edge probe, and reading its results back
    runs no job. (A probe over P partitions takes about log4(P) + 1 jobs,
    see ``collect_if_small``, so more files per table cost more probe
    jobs.)"""
    kg = _two_sources(spark, _parquet(tmp_path))

    summary, n = spark_jobs(lambda: kg.summary(with_components=True))
    assert summary == {
        "nodes": 87, "edges": 80, "citations": 3,
        "density": pytest.approx(80 / (87 * 86)), "components": 7,
    }
    assert n <= 4
    degree, n = spark_jobs(lambda: kg.degree_distribution().collect())
    assert sorted(tuple(r) for r in degree) == [(1, 80), (10, 2), (12, 5)]
    assert n <= 2
    edge_list, n = spark_jobs(lambda: kg.edge_list().collect())
    assert len(edge_list) == 80
    assert n <= 4


def _ops(kg):
    return {
        "summary": kg.summary,
        "components": lambda: Counter(kg.connected_components().collect()),
        "degree": lambda: Counter(kg.degree_distribution().collect()),
        "edge_list": lambda: Counter(kg.edge_list().collect()),
    }


def test_a_fixed_graph_answers_repeats_with_no_job(spark, tmp_path, spark_jobs):
    """Over local relations — driver-tier catalog reads, or ``local_frame``
    tables — the first call's collects are held, so a repeat call starts
    no Spark job and answers the same."""
    schema = _edges(spark, []).schema
    rows = [("x", "a", "r", "x", "b", "c1"), ("x", "b", "r", "x", "c", None)]
    graphs = {
        "catalog": _two_sources(spark, _catalog(tmp_path)),
        "local_frame": KnowledgeGraph(
            local_frame(spark, [("x", k) for k in "abcd"], _nodes(spark, []).schema),
            local_frame(spark, rows, schema),
        ),
    }
    for name, kg in graphs.items():
        for op, run in _ops(kg).items():
            first, cold = spark_jobs(run)
            again, jobs = spark_jobs(run)
            assert jobs == 0, (name, op)
            assert again == first, (name, op)
            if name == "catalog" and op == "summary":
                assert cold > 0  # the union's node collect is an aggregate
    # held rows answer only for the frame they came from
    kg = graphs["local_frame"]
    kg.edges = local_frame(spark, rows[:1], schema)
    assert kg.summary()["edges"] == 1


@pytest.mark.parametrize("source", ["rdd", "parquet", "rand", "clock", "subquery"])
def test_a_graph_whose_rows_may_change_is_never_held(
    spark, tmp_path, spark_jobs, source
):
    """An RDD, a file scan, a non-deterministic expression, a clock read or
    a subquery over a file scan anywhere in the plan: every call collects
    anew and starts Spark jobs."""
    local = _catalog(tmp_path)
    scan = _parquet(tmp_path / "scan")
    make = {
        "rdd": lambda i, df: df,
        "parquet": scan,
        "rand": lambda i, df: local(i, df).withColumn("w", F.rand()),
        "clock": lambda i, df: local(i, df).filter(
            F.current_date() > F.lit("2000-01-01").cast("date")
        ),
        "subquery": lambda i, df: local(i, df).filter(
            F.col("citation") <= scan(i, df).select(F.max("citation")).scalar()
        ),
    }[source]
    kg = _two_sources(spark, make)
    for op, run in _ops(kg).items():
        first = run()
        again, jobs = spark_jobs(run)
        assert jobs > 0, op
        assert again == first, op
    assert kg._held == {}


def test_tiers_agree_on_a_held_graph(spark, tmp_path, size_gate, spark_jobs):
    """``size_gate(0)`` still reaches the Spark tier of a graph that holds
    its driver-tier collects."""
    kg = _two_sources(spark, _catalog(tmp_path))
    kg.summary()
    assert spark_jobs(kg.summary)[1] == 0
    got = _tiers_agree(size_gate, kg)
    assert got["summary"]["components"] == 7
