"""Named graphs: the SPARQL GRAPH clause over a (g, s, p, o) quad store,
plus the N-Quads scan that produces one.

Pins bio2bel_spark/sparql.py:_compile_group (quads/gvar threading),
_compile_triple (quad form), ingest.read_nquads — parity target: rdflib
Dataset/ConjunctiveGraph GRAPH evaluation (default graph = unnamed
context; reference src/bio2bel/sources/rhea.py loads RDF with rdflib,
whose stores are context-aware).
"""

from __future__ import annotations

import pytest

from bio2bel_spark.sparql import (
    SparqlError,
    sparql_describe,
    sparql_select,
    sparql_update,
)

EX = "http://ex.org/"
G1 = "http://g.org/one"
G2 = "http://g.org/two"
PFX = {"ex": EX, "g": "http://g.org/"}


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        # default graph (g NULL)
        (None, EX + "a", EX + "type", "gene"),
        (None, EX + "b", EX + "type", "gene"),
        # named graph one
        (G1, EX + "a", EX + "score", "5"),
        (G1, EX + "b", EX + "score", "7"),
        (G1, EX + "x", EX + "under", EX + "y"),
        (G1, EX + "y", EX + "under", EX + "z"),
        # named graph two
        (G2, EX + "a", EX + "score", "9"),
        (G2, EX + "b", EX + "flag", "true"),
    ]
    return spark.createDataFrame(rows, "g string, s string, p string, o string")


def test_default_graph_excludes_named(quads):
    got = sparql_select(
        quads, "SELECT ?s ?o WHERE { ?s ex:type ?o }", prefixes=PFX
    ).collect()
    assert sorted(r.s[-1] for r in got) == ["a", "b"]
    # scores live ONLY in named graphs: invisible to default-graph patterns
    none = sparql_select(
        quads, "SELECT ?s WHERE { ?s ex:score ?v }", prefixes=PFX
    ).collect()
    assert none == []


def test_graph_iri_scopes_to_one_graph(quads):
    got = sparql_select(
        quads,
        "SELECT ?s ?v WHERE { GRAPH <http://g.org/one> { ?s ex:score ?v } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.s[-1], r.v) for r in got) == [("a", "5"), ("b", "7")]
    # prefixed-name graph labels resolve too
    got2 = sparql_select(
        quads,
        "SELECT ?s ?v WHERE { GRAPH g:two { ?s ex:score ?v } }",
        prefixes=PFX,
    ).collect()
    assert [(r.s[-1], r.v) for r in got2] == [("a", "9")]


def test_graph_var_binds_and_scopes(quads):
    got = sparql_select(
        quads,
        "SELECT ?g ?s ?v WHERE { GRAPH ?g { ?s ex:score ?v } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.g, r.s[-1], r.v) for r in got) == [
        (G1, "a", "5"), (G1, "b", "7"), (G2, "a", "9"),
    ]


def test_graph_var_same_graph_scoping(quads):
    """Two patterns inside one GRAPH ?g must co-locate in the SAME graph:
    score+flag only co-occur in graph two for ?s=b... but b's score is in
    graph one — so the join across patterns yields nothing for mixed
    placements."""
    got = sparql_select(
        quads,
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:score ?v . ?s ex:flag ?f } }",
        prefixes=PFX,
    ).collect()
    assert got == []  # score(b)@G1, flag(b)@G2: never the same graph


def test_graph_joins_default_graph(quads):
    got = sparql_select(
        quads,
        """SELECT ?s ?v WHERE {
             ?s ex:type "gene" .
             GRAPH <http://g.org/two> { ?s ex:score ?v }
           }""",
        prefixes=PFX,
    ).collect()
    assert [(r.s[-1], r.v) for r in got] == [("a", "9")]


def test_paths_inside_named_graph_iri(quads):
    got = sparql_select(
        quads,
        "SELECT ?x ?y WHERE { GRAPH <http://g.org/one> "
        "{ ?x ex:under+ ?y } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.x[-1], r.y[-1]) for r in got) == [
        ("x", "y"), ("x", "z"), ("y", "z"),
    ]


def test_paths_inside_graph_var(quads):
    # round 12: the closure runs over graph-scoped composite nodes, so
    # one plan computes every graph's closure and binds ?g alongside
    got = sparql_select(
        quads,
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x ex:under+ ?y } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.g, r.x[-1], r.y[-1]) for r in got) == [
        (G1, "x", "y"), (G1, "x", "z"), (G1, "y", "z"),
    ]


def test_graph_needs_quads(spark):
    t = spark.createDataFrame(
        [(EX + "a", EX + "p", "v")], "s string, p string, o string"
    )
    with pytest.raises(SparqlError, match="quad input"):
        sparql_select(
            t, "SELECT ?s WHERE { GRAPH ?g { ?s ex:p ?o } }", prefixes=PFX
        )


def test_bindings_substitute_into_graph_var(quads):
    got = sparql_select(
        quads,
        "SELECT ?s ?v WHERE { GRAPH ?g { ?s ex:score ?v } }",
        prefixes=PFX,
        bindings={"g": G2},
    ).collect()
    assert [(r.s[-1], r.v) for r in got] == [("a", "9")]


def test_describe_over_quads_uses_default_graph(quads):
    # round 12: DESCRIBE over a quad store describes from the DEFAULT
    # graph (the dataset rule every non-GRAPH pattern follows); the
    # WHERE group may still use GRAPH clauses to find the resources
    got = sparql_describe(quads, "DESCRIBE <http://ex.org/a>").collect()
    assert [(r.s[-1], r.o) for r in got] == [("a", "gene")]
    via_graph = sparql_describe(
        quads,
        "DESCRIBE ?s WHERE { GRAPH <http://g.org/two> "
        "{ ?s <http://ex.org/score> ?v } }",
    ).collect()
    # found in G2, described from the default graph
    assert [(r.s[-1], r.o) for r in via_graph] == [("a", "gene")]


def test_update_over_quads_targets_default_graph(quads):
    # a non-graph-targeted op touches ONLY the default graph: the
    # delete's pattern matches default-graph rows, and named-graph rows
    # survive untouched
    out = sparql_update(
        quads,
        'PREFIX ex: <http://ex.org/> DELETE WHERE { ?s ex:type "gene" }',
        prefixes=PFX,
    )
    rows = [(r.g, r.s, r.p, r.o) for r in out.collect()]
    assert not any(g is None for g, *_ in rows)  # default graph emptied
    assert len(rows) == 6  # all named-graph rows intact


def test_read_nquads(spark, tmp_path):
    from bio2bel_spark.ingest import read_nquads

    nq = tmp_path / "data.nq"
    nq.write_text(
        '<http://ex.org/a> <http://ex.org/p> "v1" <http://g.org/one> .\n'
        '<http://ex.org/a> <http://ex.org/p> "v0" .\n'
        '<http://ex.org/b> <http://ex.org/q> <http://ex.org/a> '
        "<http://g.org/two> .\n"
        '# comment-ish garbage line that must not parse\n'
        '<http://ex.org/c> <http://ex.org/p> '
        '"typed"^^<http://www.w3.org/2001/XMLSchema#string> '
        "<http://g.org/one> .\n"
    )
    got = sorted(
        ((r.g, r.s[-1], r.o)
         for r in read_nquads(spark, str(nq)).collect()),
        key=lambda t: (t[0] or "", t[1], t[2]),
    )
    assert got == [
        (None, "a", "v0"),
        ("http://g.org/one", "a", "v1"),
        # round 12: a typed literal KEEPS its serialization (encoded-term
        # model, ingest._term_col) — "1"^^xsd:int and "1" are distinct terms
        ("http://g.org/one", "c",
         '"typed"^^<http://www.w3.org/2001/XMLSchema#string>'),
        ("http://g.org/two", "b", "http://ex.org/a"),
    ]


def test_graph_var_used_in_aggregation(quads):
    got = sparql_select(
        quads,
        "SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } "
        "GROUP BY ?g",
        prefixes=PFX,
    ).collect()
    assert sorted((r.g, r.n) for r in got) == [(G1, 4), (G2, 2)]


# --------------------------------------------- second review regressions


def test_graph_inside_subquery(quads):
    """The 'nest the GRAPH clause inside the subquery' workaround the
    engine's own error message suggests must actually work — the quads
    context is forwarded through _compile_subquery."""
    got = sparql_select(
        quads,
        """SELECT ?s (COUNT(?v) AS ?n) WHERE {
             { SELECT ?s ?v WHERE {
                 GRAPH <http://g.org/one> { ?s ex:score ?v } } }
           } GROUP BY ?s""",
        prefixes=PFX,
    ).collect()
    assert sorted((r.s[-1], r.n) for r in got) == [("a", 1), ("b", 1)]


def test_nested_graph_inside_graph_var_rejected(quads):
    with pytest.raises(SparqlError, match="nested inside GRAPH"):
        sparql_select(
            quads,
            "SELECT ?g ?s WHERE { GRAPH ?g { "
            "GRAPH <http://g.org/one> { ?s ex:score ?v } } }",
            prefixes=PFX,
        )


def test_graph_var_body_must_bind_the_var(quads):
    """A BIND/VALUES-only GRAPH ?g body binds nothing to ?g — must fail
    loudly, not silently drop the graph-membership constraint."""
    with pytest.raises(SparqlError, match="triple patterns"):
        sparql_select(
            quads,
            'SELECT ?g ?x WHERE { GRAPH ?g { BIND("v" AS ?x) } }',
            prefixes=PFX,
        )


def test_unbounded_floor_cap_matches_bounded(quads):
    """{n,} and {n,n} must be capped at the SAME bound — the unbounded
    form does strictly more work (review: off-by-one let {13,} through
    where {13,13} raised)."""
    with pytest.raises(SparqlError, match="lower bound"):
        sparql_select(
            quads,
            "SELECT ?x ?y WHERE { GRAPH <http://g.org/one> "
            "{ ?x ex:under{13,} ?y } }",
            prefixes=PFX,
        )


# ------------------------------------------------------ FROM / FROM NAMED


def test_from_promotes_named_graph_to_default(quads):
    got = sparql_select(
        quads,
        "SELECT ?s ?v FROM <http://g.org/one> WHERE { ?s ex:score ?v }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.s[-1], r.v) for r in got) == [("a", "5"), ("b", "7")]
    # dataset is EXACTLY what's described: the original default graph's
    # ex:type triples are gone
    none = sparql_select(
        quads,
        "SELECT ?s FROM <http://g.org/one> WHERE { ?s ex:type ?t }",
        prefixes=PFX,
    ).collect()
    assert none == []


def test_from_merge_of_two_graphs(quads):
    got = sparql_select(
        quads,
        "SELECT ?s ?v FROM <http://g.org/one> FROM <http://g.org/two> "
        "WHERE { ?s ex:score ?v }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.s[-1], r.v) for r in got) == [
        ("a", "5"), ("a", "9"), ("b", "7"),
    ]


def test_from_merge_dedups_shared_triples(spark):
    # the same triple in both FROM graphs is ONE triple in the merge
    rows = [
        ("http://g.org/one", EX + "a", EX + "p", "v"),
        ("http://g.org/two", EX + "a", EX + "p", "v"),
    ]
    q = spark.createDataFrame(rows, "g string, s string, p string, o string")
    got = sparql_select(
        q,
        "SELECT ?s FROM <http://g.org/one> FROM <http://g.org/two> "
        "WHERE { ?s ex:p \"v\" }",
        prefixes=PFX,
    ).collect()
    assert len(got) == 1


def test_from_named_restricts_graph_clause(quads):
    got = sparql_select(
        quads,
        "SELECT ?g ?s FROM NAMED <http://g.org/two> "
        "WHERE { GRAPH ?g { ?s ex:score ?v } }",
        prefixes=PFX,
    ).collect()
    # graph one is NOT in the dataset: only two's score row survives
    assert [(r.g, r.s[-1]) for r in got] == [(G2, "a")]
    # FROM NAMED only -> the default graph is EMPTY
    none = sparql_select(
        quads,
        "SELECT ?s FROM NAMED <http://g.org/two> WHERE { ?s ex:type ?t }",
        prefixes=PFX,
    ).collect()
    assert none == []


def test_from_needs_quads_and_not_in_subqueries(spark, quads):
    t = spark.createDataFrame(
        [(EX + "a", EX + "p", "v")], "s string, p string, o string"
    )
    with pytest.raises(SparqlError, match="quad input"):
        sparql_select(
            t, "SELECT ?s FROM <http://g.org/one> WHERE { ?s ex:p ?o }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="top level"):
        sparql_select(
            quads,
            "SELECT ?s WHERE { { SELECT ?s FROM <http://g.org/one> "
            "WHERE { ?s ex:score ?v } } }",
            prefixes=PFX,
        )


# ------------------------- round 12: paths / subqueries in GRAPH ?var


def test_star_path_inside_graph_var(quads):
    """Zero-or-more inside GRAPH ?g: the zero-length rows exist PER
    graph (each graph's own terms), so <x> under* pairs bind g=G1 for
    the closure rows while every graph contributes its self-pairs."""
    got = sparql_select(
        quads,
        "SELECT ?g ?y WHERE { GRAPH ?g { <http://ex.org/x> ex:under* ?y } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.g, r.y.rsplit("/", 1)[-1]) for r in got) == [
        (G1, "x"), (G1, "y"), (G1, "z"),
        (G2, "x"),  # zero-length: x matches itself in every named graph
    ]


def test_const_endpoint_closure_inside_graph_var(quads):
    """<x> under+ ?y inside GRAPH ?g seeds the multi-source BFS (one
    seed per named graph) — only G1 has under edges."""
    got = sparql_select(
        quads,
        "SELECT ?g ?y WHERE { GRAPH ?g { <http://ex.org/x> ex:under+ ?y } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.g, r.y.rsplit("/", 1)[-1]) for r in got) == [
        (G1, "y"), (G1, "z"),
    ]


def test_path_join_with_pattern_inside_graph_var(quads):
    """A path hop and a plain pattern inside the same GRAPH ?g group
    must co-scope: the join carries ?g as an equi key."""
    got = sparql_select(
        quads,
        "SELECT ?g ?s ?y WHERE { GRAPH ?g { "
        "?s ex:score ?v . ?x ex:under+ ?y } }",
        prefixes=PFX,
    ).collect()
    # only G1 has BOTH score rows and under paths; G2's scores drop
    assert {r.g for r in got} == {G1}
    assert len(got) == 6  # 2 score rows x 3 closure pairs


def test_subquery_inside_graph_var_aggregates_per_graph(quads):
    """A global aggregate subquery inside GRAPH ?g becomes the correct
    PER-GRAPH aggregate, ?g bound alongside."""
    got = sparql_select(
        quads,
        "SELECT ?g ?n WHERE { GRAPH ?g { "
        "{ SELECT (COUNT(?v) AS ?n) WHERE { ?s ex:score ?v } } } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.g, r.n) for r in got) == [(G1, "2"), (G2, "1")]


def test_subquery_inside_graph_var_joins_outer(quads):
    got = sparql_select(
        quads,
        "SELECT ?g ?s ?v WHERE { GRAPH ?g { "
        "?s ex:score ?v . "
        "{ SELECT ?s WHERE { ?s ex:score ?v2 } } } }",
        prefixes=PFX,
    ).collect()
    assert sorted((r.g, r.s[-1], r.v) for r in got) == [
        (G1, "a", "5"), (G1, "b", "7"), (G2, "a", "9"),
    ]


def test_subquery_limit_inside_graph_var_pages_per_graph(quads):
    """Round 13 (flips the former rejection): LIMIT inside a GRAPH ?g
    subquery pages PER GRAPH — a row_number window partitioned by ?g
    cuts each graph's page, not a page of the union."""
    got = sparql_select(
        quads,
        "SELECT ?g ?s ?v WHERE { GRAPH ?g { "
        "{ SELECT ?s ?v WHERE { ?s ex:score ?v } "
        "ORDER BY DESC(?v) ?s LIMIT 1 } } }",
        prefixes=PFX,
    ).collect()
    # each graph's own top-score row: G1 -> (b, 7), G2 -> (a, 9)
    assert sorted((r.g, r.s[-1], r.v) for r in got) == [
        (G1, "b", "7"), (G2, "a", "9"),
    ]


def test_subquery_offset_inside_graph_var_pages_per_graph(quads):
    got = sparql_select(
        quads,
        "SELECT ?g ?s WHERE { GRAPH ?g { "
        "{ SELECT ?s WHERE { ?s ex:score ?v } "
        "ORDER BY DESC(?v) ?s OFFSET 1 } } }",
        prefixes=PFX,
    ).collect()
    # G1's second-ranked score row survives; G2 has only one score row
    assert sorted((r.g, r.s[-1]) for r in got) == [(G1, "a")]


def test_subquery_limit_inside_graph_var_demands_order(quads):
    """An UNORDERED per-graph page would be nondeterministic — loud
    error instead of an arbitrary pick."""
    with pytest.raises(SparqlError, match="needs an ORDER BY"):
        sparql_select(
            quads,
            "SELECT ?g ?s WHERE { GRAPH ?g { "
            "{ SELECT ?s WHERE { ?s ex:score ?v } LIMIT 1 } } }",
            prefixes=PFX,
        )


def test_const_endpoint_closures_stay_per_graph(spark):
    """Both named graphs have under edges from <x>, one with a cycle back
    to <x>: the pooled BFS from the graph-scoped seeds must return each
    graph's own closure, in both directions, and never cross graphs
    through a term the two share (y)."""
    rows = [
        (G1, EX + "x", EX + "under", EX + "y"),
        (G1, EX + "y", EX + "under", EX + "z"),
        (G1, EX + "z", EX + "under", EX + "x"),
        (G2, EX + "x", EX + "under", EX + "w"),
        (G2, EX + "w", EX + "under", EX + "v"),
        (G2, EX + "u", EX + "under", EX + "x"),
        (G2, EX + "y", EX + "under", EX + "q"),
    ]
    quads = spark.createDataFrame(rows, "g string, s string, p string, o string")

    def run(query):
        got = sparql_select(quads, query, prefixes=PFX).collect()
        return sorted((r.g, r.y.rsplit("/", 1)[-1]) for r in got)

    assert run(
        "SELECT ?g ?y WHERE { GRAPH ?g { <http://ex.org/x> ex:under+ ?y } }"
    ) == [(G1, "x"), (G1, "y"), (G1, "z"), (G2, "v"), (G2, "w")]
    assert run(
        "SELECT ?g ?y WHERE { GRAPH ?g { ?y ex:under+ <http://ex.org/x> } }"
    ) == [(G1, "x"), (G1, "y"), (G1, "z"), (G2, "u")]
