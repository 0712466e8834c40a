"""Knowledge-graph layer tests: union/dedup, summary, components, BFS,
exports (reference expectations FIXTURES.md §9)."""

from __future__ import annotations

import pytest

from bio2bel_spark.operators.graph import (
    KnowledgeGraph,
    edge_key,
    pathway_membership_to_edges,
)


def _edges(spark, rows):
    return spark.createDataFrame(
        rows,
        "source_ns string, source_id string, relation string, target_ns string, "
        "target_id string, citation string, evidence string, "
        "annotations map<string,string>, source_modifier string, target_modifier string",
    )


def _nodes(spark, rows):
    return spark.createDataFrame(
        rows, "dsl_type string, namespace string, identifier string, name string"
    )


@pytest.fixture(scope="module")
def kg(spark):
    nodes = _nodes(
        spark,
        [
            ("Protein", "hgnc", "1", "A"),
            ("Protein", "hgnc", "2", "B"),
            ("Protein", "hgnc", "3", "C"),
            ("Protein", "hgnc", "4", "D"),
            ("Protein", "hgnc", "5", "E"),  # isolated
        ],
    )
    edges = _edges(
        spark,
        [
            ("hgnc", "1", "increases", "hgnc", "2", "pubmed:1", "ev1", {"db": "x"}, None, None),
            ("hgnc", "2", "binds", "hgnc", "3", "pubmed:2", "ev2", None, None, None),
            # duplicate qualified edge (same everything)
            ("hgnc", "2", "binds", "hgnc", "3", "pubmed:2", "ev2", None, None, None),
            # same endpoints, different citation → distinct qualified edge
            ("hgnc", "2", "binds", "hgnc", "3", "pubmed:9", "ev3", None, None, None),
            ("hgnc", "4", "association", "hgnc", "4b", None, None, None, None, None),
        ],
    )
    return KnowledgeGraph(nodes, edges)


def test_edge_key_distinguishes_citations(spark, kg):
    keyed = edge_key(kg.edges)
    assert keyed.select("edge_key").distinct().count() == 4  # dup collapses


def test_dedup_edges(kg):
    assert kg.dedup_edges().edges.count() == 4


def test_union_dedups_nodes_keeps_edge_multiplicity(spark, kg):
    other = KnowledgeGraph(
        _nodes(spark, [("Protein", "hgnc", "1", "A"), ("Protein", "hgnc", "9", "Z")]),
        _edges(spark, [("hgnc", "1", "increases", "hgnc", "9", None, None, None, None, None)]),
    )
    merged = kg.union(other)
    assert merged.nodes.count() == 6  # hgnc:1 deduped
    assert merged.edges.count() == 6  # multiplicity kept


def test_summary_and_components(kg):
    s = kg.summary()
    assert s["nodes"] == 5 and s["edges"] == 5
    assert s["citations"] == 3  # pubmed:1, pubmed:2, pubmed:9
    assert s["density"] == pytest.approx(5 / (5 * 4))
    # components over declared nodes: {1,2,3} together; {4} (4b is edge-only,
    # merged via induced side); {5} isolated
    comp = kg.connected_components()
    by_node = {r["identifier"]: r["component"] for r in comp.collect()}
    assert by_node["1"] == by_node["2"] == by_node["3"]
    assert by_node["5"] not in (by_node["1"], by_node["4"])


def test_components_with_induced_nodes(spark, kg):
    full = KnowledgeGraph(kg.induced_nodes(), kg.edges)
    comp = full.connected_components()
    assert comp.select("component").distinct().count() == 2  # {1,2,3}, {4,4b}
    # identifier containing ':' survives the key roundtrip
    weird = KnowledgeGraph(
        spark.createDataFrame(
            [("go", "GO:0001")], "namespace string, identifier string"
        ),
        _edges(spark, []),
    )
    rows = weird.connected_components().collect()
    assert rows[0]["identifier"] == "GO:0001"


def test_descendants_bfs(spark):
    hier = spark.createDataFrame(
        [("b", "is_a", "a"), ("c", "is_a", "b"), ("d", "is_a", "c"), ("x", "is_a", "y")],
        "child string, relation string, parent string",
    )
    roots = spark.createDataFrame([("a",)], "node string")
    reached = {r["node"] for r in KnowledgeGraph.descendants(hier, roots).collect()}
    assert reached == {"a", "b", "c", "d"}


def test_node_index_and_edge_list(kg):
    idx = {r["node"]: r["node_id"] for r in kg.node_index().collect()}
    assert sorted(idx.values()) == list(range(5))
    # ids follow sorted node keys
    assert idx == {n: i for i, n in enumerate(sorted(idx))}
    el = kg.edge_list()
    assert el.count() == 4  # hgnc:4b is not in the declared node set
    assert set(el.columns) == {"source_id", "target_id"}


def test_node_index_parallel_and_partition_invariant(spark):
    """The enumeration must (a) equal the global sorted rank, (b) not funnel
    the sort through one task: the row_number window is partitioned by the
    range id, and the ranged stage runs with >1 partition."""
    from pyspark.sql import functions as F

    nodes = spark.range(500).select(
        F.concat(F.lit("ns"), (F.col("id") % 7).cast("string")).alias("namespace"),
        F.col("id").cast("string").alias("identifier"),
    )
    empty_edges = spark.createDataFrame(
        [], "source_ns string, source_id string, relation string, "
        "target_ns string, target_id string",
    )
    idx_df = KnowledgeGraph(nodes.repartition(13), empty_edges).node_index()
    plan = idx_df._jdf.queryExecution().optimizedPlan().toString()
    rn_lines = [ln for ln in plan.splitlines() if "row_number()" in ln]
    assert rn_lines and all("_range" in ln for ln in rn_lines), plan
    idx = {r["node"]: r["node_id"] for r in idx_df.collect()}
    assert idx == {n: i for i, n in enumerate(sorted(idx))}
    # same ids regardless of input partitioning
    idx1 = {
        r["node"]: r["node_id"]
        for r in KnowledgeGraph(nodes.coalesce(1), empty_edges).node_index().collect()
    }
    assert idx1 == idx


def test_triples(kg):
    t = kg.triples().collect()
    assert ("hgnc:1", "increases", "hgnc:2") in {(r["h"], r["r"], r["t"]) for r in t}


def test_pathway_membership_to_edges(spark):
    pathway = spark.createDataFrame(
        [(1, "pid.pathway", "PW1", "p53")],
        "pathway_id long, prefix string, identifier string, name string",
    )
    protein = spark.createDataFrame(
        [(10, "7157", "11998", "TP53")],
        "protein_id long, entrez_id string, hgnc_id string, hgnc_symbol string",
    )
    membership = spark.createDataFrame([(1, 10)], "pathway_id long, protein_id long")
    edges = pathway_membership_to_edges(membership, pathway, protein)
    row = edges.collect()[0]
    assert (row["source_ns"], row["source_id"], row["relation"]) == ("hgnc", "11998", "partOf")
    assert (row["target_ns"], row["target_id"]) == ("pid.pathway", "PW1")


def test_components_long_chain_converges(spark):
    """Min-label propagation needs O(diameter) rounds: a 30-node path is the
    adversarial shape (diameter 29) and must still produce ONE component."""
    from bio2bel_spark.operators.graph import KnowledgeGraph
    import pyspark.sql.functions as F

    edges = spark.createDataFrame(
        [("x", str(i), "link", "x", str(i + 1)) for i in range(29)],
        "source_ns string, source_id string, relation string, "
        "target_ns string, target_id string",
    )
    kg = KnowledgeGraph(None, edges)
    kg.nodes = kg.induced_nodes()
    comp = kg.connected_components()
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == 30


def test_components_nonconvergence_warns(spark, size_gate):
    """Only the distributed tier of min_label_components can truncate; a
    10-node chain under the size gate is resolved exactly by the driver
    union-find even with a 2-round budget."""
    from bio2bel_spark.operators.graph import KnowledgeGraph, min_label_components
    import pyspark.sql.functions as F
    import warnings

    edges = spark.createDataFrame(
        [("x", str(i), "link", "x", str(i + 1)) for i in range(9)],
        "source_ns string, source_id string, relation string, "
        "target_ns string, target_id string",
    )
    kg = KnowledgeGraph(None, edges)
    kg.nodes = kg.induced_nodes()
    comp = kg.connected_components(max_iterations=2)
    assert comp.select("component").distinct().count() == 1
    size_gate(0)
    pairs = edges.select(F.col("source_id").alias("src"), F.col("target_id").alias("dst"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        min_label_components(pairs, max_iterations=2).collect()
    assert any("did not converge" in str(w.message) for w in caught)


def test_components_tiers_agree(spark, kg, size_gate):
    """connected_components returns the same rows in the driver tier and
    in the Spark tier (min_label_components' distributed propagation)."""

    def rows(g):
        return sorted(tuple(r) for r in g.connected_components().collect())

    full = KnowledgeGraph(kg.induced_nodes(), kg.edges)
    driver = rows(kg), rows(full)
    size_gate(0)
    assert (rows(kg), rows(full)) == driver


def test_components_ignore_undeclared_endpoints(spark):
    """An edge counts only when both endpoints are declared nodes: a and c
    linked only through the undeclared b stay apart."""
    nodes = _nodes(spark, [("Protein", "x", "a", "A"), ("Protein", "x", "c", "C")])
    edges = _edges(
        spark,
        [
            ("x", "a", "increases", "x", "b", None, None, None, None, None),
            ("x", "b", "increases", "x", "c", None, None, None, None, None),
        ],
    )
    rows = KnowledgeGraph(nodes, edges).connected_components().collect()
    by_node = {r["identifier"]: r["component"] for r in rows}
    assert set(by_node) == {"a", "c"}
    assert by_node["a"] != by_node["c"]


def _chain(spark, depth):
    return spark.createDataFrame(
        [(str(i + 1), "is_a", str(i)) for i in range(depth)],
        "child string, relation string, parent string",
    )


def test_descendants_truncation_warns(spark):
    """A hierarchy deeper than max_depth=30 returns the 31 nodes within
    the bound and says so; one exactly 30 deep converges silently."""
    import warnings

    roots = spark.createDataFrame([("0",)], "node string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        reached = KnowledgeGraph.descendants(_chain(spark, 39), roots).collect()
    assert len(reached) == 31
    assert any("did not converge" in str(w.message) for w in caught)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        reached = KnowledgeGraph.descendants(_chain(spark, 30), roots).collect()
    assert len(reached) == 31
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


def test_pagerank_matches_power_iteration_model(spark):
    """Spark loop == driver-side power iteration with the same update rule."""
    import pytest as _pytest

    from bio2bel_spark.operators.graph import pagerank

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(df, iterations=8).collect()}

    n, d = 4, 0.85
    out_deg = {0: 2, 1: 1, 2: 1, 3: 1}
    r = {i: 1.0 / n for i in range(n)}
    for _ in range(8):
        contrib = {i: 0.0 for i in range(n)}
        for s, t in edges:
            contrib[t] += r[s] / out_deg[s]
        r = {i: (1 - d) / n + d * contrib[i] for i in range(n)}
    for i in range(n):
        assert got[i] == _pytest.approx(r[i], abs=1e-12)
    # cycle core outranks the dangling-feeder node
    assert got[2] > got[3]


def test_pagerank_symmetric_graph_conserves_mass(spark):
    from pyspark.sql import functions as F

    from bio2bel_spark.operators.graph import pagerank

    e = [(i, (i + 1) % 5) for i in range(5)]
    df = spark.createDataFrame(e + [(b, a) for a, b in e], "src long, dst long")
    total = pagerank(df, iterations=6).agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_triangle_count_known_graph(spark):
    from bio2bel_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles) + pendant 5-1 (no new triangle);
    # duplicated and reversed edges must not change the counts
    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (5, 1), (1, 5),           # pendant, both directions
            (2, 1), (3, 1),           # reversed duplicates
            (4, 4),                   # self-loop dropped
        ],
        "src int, dst int",
    )
    row = triangle_count(edges).collect()[0]
    assert row["n_edges"] == 7
    assert row["n_triangles"] == 4
    # K4 contributes C(2,1) wedges per oriented node... just sanity-bound it
    assert row["n_wedges"] >= row["n_triangles"]


def test_triangle_count_triangle_free(spark):
    from bio2bel_spark.operators.graph import triangle_count

    # a path graph has zero triangles
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src int, dst int"
    )
    row = triangle_count(edges).collect()[0]
    assert row["n_edges"] == 10
    assert row["n_triangles"] == 0


def test_triangle_count_empty_graph_returns_zeros(spark):
    from bio2bel_spark.operators.graph import triangle_count

    edges = spark.createDataFrame([], "src int, dst int")
    row = triangle_count(edges).collect()[0]
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (0, 0, 0)


def test_comembership_matches_model_random(spark):
    import random
    from collections import Counter
    from itertools import combinations

    from bio2bel_spark.operators.graph import comembership_projection

    for seed in range(3):
        rng = random.Random(seed)
        rows = [
            (rng.randint(1, 8), rng.randint(1, 10)) for _ in range(80)
        ]
        df = spark.createDataFrame(rows, "g long, i long")
        got = {
            (r["item_a"], r["item_b"]): r["n_shared"]
            for r in comembership_projection(df, "g", "i", min_shared=1).collect()
        }
        groups = {}
        for g, i in rows:
            groups.setdefault(g, set()).add(i)
        want = Counter()
        for members in groups.values():
            for a, b in combinations(sorted(members), 2):
                want[(a, b)] += 1
        assert got == dict(want), f"seed {seed}"
