"""``graph.reachable`` has two tiers behind the shared size gate: a driver
BFS for a hop relation at or under the gate, the Spark frontier loop
above it. Every caller — ``KnowledgeGraph.descendants`` and SPARQL's
constant-endpoint ``p+``/``p*``, plain and inside ``GRAPH ?g`` — must get
the same rows, the same truncation warning and the same
``max_path_depth`` error from either tier. Each test runs its case at the
default gate (driver tier), then with the gate at 0 (Spark tier).
"""

from __future__ import annotations

import time
import warnings

import pytest

from bio2bel_spark.operators.graph import KnowledgeGraph
from bio2bel_spark.sparql import SparqlError, sparql_select

EX = "http://ex.org/"
PFX = {"ex": EX}


def _tiers(size_gate, run):
    """``run()`` in the driver tier, then in the Spark tier."""
    driver = run()
    size_gate(0)
    return driver, run()


def _hier(spark, pairs):
    return spark.createDataFrame(pairs, "child string, parent string")


def _roots(spark, *nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


def _is_local(df) -> bool:
    return df._jdf.queryExecution().optimizedPlan().toString().startswith(
        "LocalRelation"
    )


def test_descendants_tiers_agree_with_a_cycle(spark, size_gate):
    """A cycle below the root (b → c → d → b) is walked once, a duplicate
    root counts once, and only the driver tier answers from a local
    relation."""
    hier = _hier(
        spark,
        [("b", "a"), ("c", "b"), ("d", "c"), ("b", "d"), ("e", "d"),
         ("y", "x")],
    )
    roots = _roots(spark, "a", "a")

    def run():
        df = KnowledgeGraph.descendants(hier, roots)
        return _is_local(df), sorted(r.node for r in df.collect())

    driver, dist = _tiers(size_gate, run)
    assert driver == (True, ["a", "b", "c", "d", "e"])
    assert dist == (False, driver[1])


def test_descendants_null_is_no_node(spark, size_gate):
    """A hop row with a null child and a null root add no node: each
    BFS level used to add the null once more (three None rows here)."""
    hier = _hier(
        spark,
        [("b", "a"), (None, "a"), ("c", "b"), (None, "b"), (None, "c")],
    )
    roots = _roots(spark, "a", None)

    def run():
        return sorted(
            r.node for r in KnowledgeGraph.descendants(hier, roots).collect()
        )

    assert _tiers(size_gate, run) == (["a", "b", "c"], ["a", "b", "c"])


def _chain(spark, depth):
    return _hier(spark, [(str(i + 1), str(i)) for i in range(depth)])


def test_descendants_truncation_warning_tiers_agree(spark, size_gate):
    """A 40-node chain under max_depth=30 returns the 31 nodes within the
    bound and warns; a chain exactly 30 deep converges silently."""
    roots = _roots(spark, "0")

    def run():
        out = []
        for depth in (39, 30):
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                n = len(KnowledgeGraph.descendants(_chain(spark, depth), roots).collect())
            warned = [
                w for w in caught
                if issubclass(w.category, RuntimeWarning)
                and "did not converge" in str(w.message)
            ]
            out.append((n, len(warned)))
        return out

    assert _tiers(size_gate, run) == ([(31, 1), (31, 0)], [(31, 1), (31, 0)])


@pytest.fixture(scope="module")
def triples(spark):
    # a → b → c → d → b (a cycle through b) and c → e; x → c off to the side
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "b"), ("c", "e"),
             ("x", "c")]
    rows = [(EX + s, EX + "p", EX + o) for s, o in edges]
    rows.append((EX + "a", EX + "q", EX + "z"))  # another predicate
    return spark.createDataFrame(rows, "s string, p string, o string")


def _terms(rows, *cols):
    return sorted(tuple(r[c].rsplit("/", 1)[-1] for c in cols) for r in rows)


def test_constant_endpoint_closures_tiers_agree(spark, triples, size_gate):
    def run():
        plus = sparql_select(
            triples, "SELECT ?x WHERE { ex:c ex:p+ ?x }", prefixes=PFX
        ).collect()
        star = sparql_select(
            triples, "SELECT ?x WHERE { ?x ex:p* ex:c }", prefixes=PFX
        ).collect()
        return _terms(plus, "x"), _terms(star, "x")

    driver, dist = _tiers(size_gate, run)
    assert driver == (
        [("b",), ("c",), ("d",), ("e",)],
        [("a",), ("b",), ("c",), ("d",), ("x",)],
    )
    assert dist == driver


def test_max_path_depth_error_tiers_agree(spark, triples, size_gate):
    """From a, p+ needs two rounds past the first hop (b, then c, then d
    and e): max_path_depth 0 and 1 raise in both tiers, 2 is exactly
    enough."""

    def run(depth):
        return _terms(
            sparql_select(
                triples, "SELECT ?x WHERE { ex:a ex:p+ ?x }", prefixes=PFX,
                max_path_depth=depth,
            ).collect(),
            "x",
        )

    def both():
        with pytest.raises(SparqlError, match="did not converge"):
            run(0)
        with pytest.raises(SparqlError, match="did not converge"):
            run(1)
        return run(2)

    assert _tiers(size_gate, both) == ([("b",), ("c",), ("d",), ("e",)],) * 2


def test_graph_var_closures_tiers_agree(spark, size_gate):
    """Pooled GRAPH ?g seeds: x and y are terms of both graphs, and a
    path never crosses from one graph into the other."""
    g1, g2 = "http://g.org/one", "http://g.org/two"
    rows = [
        (g1, "x", "y"), (g1, "y", "z"), (g1, "z", "x"),
        (g2, "x", "w"), (g2, "w", "v"), (g2, "u", "x"), (g2, "y", "q"),
    ]
    quads = spark.createDataFrame(
        [(g, EX + s, EX + "under", EX + o) for g, s, o in rows],
        "g string, s string, p string, o string",
    )

    def run():
        out = []
        for pattern in ("<http://ex.org/x> ex:under+ ?y",
                        "?y ex:under+ <http://ex.org/x>",
                        "<http://ex.org/y> ex:under* ?y"):
            got = sparql_select(
                quads, f"SELECT ?g ?y WHERE {{ GRAPH ?g {{ {pattern} }} }}",
                prefixes=PFX,
            ).collect()
            out.append(sorted((r.g, r.y.rsplit("/", 1)[-1]) for r in got))
        return out

    driver, dist = _tiers(size_gate, run)
    assert driver == [
        [(g1, "x"), (g1, "y"), (g1, "z"), (g2, "v"), (g2, "w")],
        [(g1, "x"), (g1, "y"), (g1, "z"), (g2, "u")],
        [(g1, "x"), (g1, "y"), (g1, "z"), (g2, "q"), (g2, "y")],
    ]
    assert dist == driver


def test_descendants_small_hierarchy_runs_two_jobs(spark, tmp_path):
    """Within the gate, descendants costs the hop probe and the seed
    collect, whatever the depth; the result is a local relation, so
    collecting it runs no job. The hierarchy is read from a TSV file, the
    way ontology sources load one (one small file is one partition)."""
    from bio2bel_spark import ingest

    path = tmp_path / "hier.tsv"
    path.write_text(
        "child\trelation\tparent\n"
        + "".join(f"{i + 1}\tis_a\t{i}\n" for i in range(12))
    )
    hier = ingest.read_tsv(
        spark, str(path), "child STRING, relation STRING, parent STRING"
    )
    roots = _roots(spark, "0")
    sc = spark.sparkContext
    try:
        sc.setJobGroup("descendants", "hop probe and seed collect")
        rows = KnowledgeGraph.descendants(hier, roots).collect()
        # the status tracker is fed asynchronously, in job order: once a
        # later group's job is visible, every job of the first group is
        sc.setJobGroup("fence", "one job")
        spark.range(1).count()
        deadline = time.time() + 30
        while not sc.statusTracker().getJobIdsForGroup("fence") and time.time() < deadline:
            time.sleep(0.05)
        assert sc.statusTracker().getJobIdsForGroup("fence")
        assert len(sc.statusTracker().getJobIdsForGroup("descendants")) <= 2
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(int(r.node) for r in rows) == list(range(13))
