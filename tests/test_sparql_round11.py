"""Round-11 SPARQL surface: subqueries ({ SELECT ... }), path length
quantifiers {n}/{n,m}/{n,}, and the FILTER/BIND value-function round-out
(IF / COALESCE / isIRI / isURI / isLiteral).

Pins bio2bel_spark/sparql.py:_compile_subquery / _range_paths /
_value_expr — parity target: rdflib's full evaluation of the same
queries (reference src/bio2bel/sources/rhea.py:38-47 runs arbitrary
rdflib SPARQL); the quantifier property test replays a naive Python
walk-composition evaluator over seeded random DAGs.
"""

from __future__ import annotations

import random

import pytest

from bio2bel_spark.sparql import SparqlError, sparql_ask, sparql_select

EX = "http://ex.org/"
PFX = {"ex": EX}


def _local(term: str) -> str:
    return term.rsplit("/", 1)[-1]


@pytest.fixture(scope="module")
def chain(spark):
    rows = [
        (EX + a, EX + "under", EX + b)
        for a, b in [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5"),
                     ("z1", "z2")]
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


@pytest.fixture(scope="module")
def pathways(spark):
    rows = [
        (EX + "a", EX + "type", "gene"),
        (EX + "a", EX + "in", EX + "p1"),
        (EX + "b", EX + "type", "gene"),
        (EX + "b", EX + "in", EX + "p1"),
        (EX + "b", EX + "in", EX + "p2"),
        (EX + "c", EX + "type", "pathway"),
        (EX + "c", EX + "in", EX + "p2"),
        (EX + "c", EX + "in", EX + "p3"),
        (EX + "p1", EX + "label", "P-one"),
        (EX + "p2", EX + "label", "P-two"),
        (EX + "p3", EX + "label", "P-three"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


def _pairs(df, q, **kw):
    got = sparql_select(df, q, prefixes=PFX, **kw).collect()
    return sorted((_local(r.x), _local(r.y)) for r in got)


# -------------------------------------------------------- {n,m} quantifiers


def test_exact_length(chain):
    assert _pairs(chain, "SELECT ?x ?y WHERE { ?x ex:under{2} ?y }") == [
        ("n1", "n3"), ("n2", "n4"), ("n3", "n5"),
    ]


def test_bounded_range(chain):
    assert _pairs(chain, "SELECT ?x ?y WHERE { ?x ex:under{2,3} ?y }") == [
        ("n1", "n3"), ("n1", "n4"), ("n2", "n4"), ("n2", "n5"), ("n3", "n5"),
    ]


def test_unbounded_floor_matches_shifted_plus(chain):
    got = _pairs(chain, "SELECT ?x ?y WHERE { ?x ex:under{3,} ?y }")
    assert got == [("n1", "n4"), ("n1", "n5"), ("n2", "n5")]
    # {1,} is exactly p+
    assert _pairs(chain, "SELECT ?x ?y WHERE { ?x ex:under{1,} ?y }") == \
        _pairs(chain, "SELECT ?x ?y WHERE { ?x ex:under+ ?y }")
    # {0,} is exactly p*
    assert _pairs(chain, "SELECT ?x ?y WHERE { ?x ex:under{0,} ?y }") == \
        _pairs(chain, "SELECT ?x ?y WHERE { ?x ex:under* ?y }")


def test_zero_floor_adds_zero_length_rows(chain):
    got = _pairs(
        chain,
        'SELECT ?x ?y WHERE { ?x ex:under{0,1} ?y . '
        'FILTER(?x = "http://ex.org/n1") }',
    )
    assert got == [("n1", "n1"), ("n1", "n2")]
    # {0} alone: only the zero-length identity
    got0 = _pairs(
        chain,
        'SELECT ?x ?y WHERE { ?x ex:under{0} ?y . '
        'FILTER(?x = "http://ex.org/n1") }',
    )
    assert got0 == [("n1", "n1")]


def test_inverse_and_alternation_ranges(spark):
    rows = [
        (EX + "a", EX + "p", EX + "b"),
        (EX + "b", EX + "q", EX + "c"),
        (EX + "c", EX + "p", EX + "d"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    # (p|q){3}: a -p-> b -q-> c -p-> d
    got = sparql_select(
        t, "SELECT ?x ?y WHERE { ?x (ex:p|ex:q){3} ?y }", prefixes=PFX
    ).collect()
    assert [( _local(r.x), _local(r.y)) for r in got] == [("a", "d")]
    # ^(p|q){2}: inverse walks two back
    got2 = sparql_select(
        t, "SELECT ?x ?y WHERE { ?x ^(ex:p|ex:q){2} ?y }", prefixes=PFX
    ).collect()
    assert sorted((_local(r.x), _local(r.y)) for r in got2) == [
        ("c", "a"), ("d", "b"),
    ]


def test_range_over_cycle_is_set_semantics(spark):
    rows = [
        (EX + "a", EX + "p", EX + "b"),
        (EX + "b", EX + "p", EX + "a"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    got = _pairs(t, "SELECT ?x ?y WHERE { ?x ex:p{1,2} ?y }")
    assert got == [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]


def test_quantifier_parse_and_bound_errors(chain):
    for bad, msg in [
        ("SELECT ?x ?y WHERE { ?x ex:under{3,2} ?y }", "upper bound"),
        ("SELECT ?x ?y WHERE { ?x ex:under{-1} ?y }", "nonnegative"),
        ("SELECT ?x ?y WHERE { ?x ex:under{1.5} ?y }", "nonnegative"),
        ("SELECT ?x ?y WHERE { ?x ex:a|ex:b{2} ?y }", "parenthesize"),
    ]:
        with pytest.raises(SparqlError, match=msg):
            sparql_select(chain, bad, prefixes=PFX)
    with pytest.raises(SparqlError, match="max_path_depth"):
        sparql_select(
            chain,
            "SELECT ?x ?y WHERE { ?x ex:under{1,50} ?y }",
            prefixes=PFX,
        )


def test_range_property_vs_naive_walk_composition(spark):
    """Seeded random DAGs: {lo,hi} must equal the naive Python
    composition of walk powers (DAGs keep the naive evaluator finite
    for the unbounded {lo,} case — every walk is a path)."""
    rng = random.Random(42)
    for trial in range(3):
        n = 8
        edges = sorted(
            {
                (a, b)
                for _ in range(14)
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        rows = [(f"{EX}v{a}", EX + "e", f"{EX}v{b}") for a, b in edges]
        t = spark.createDataFrame(rows, "s string, p string, o string")

        def power(k):
            cur = set(edges)
            out = set(edges) if k == 1 else set()
            for i in range(2, k + 1):
                cur = {
                    (a, d) for a, b in cur for c, d in edges if b == c
                }
                if not cur:
                    break
                if i <= k:
                    out = cur
            return out if k >= 1 else set()

        def naive(lo, hi):
            hi_eff = hi if hi is not None else n
            acc = set()
            for k in range(max(lo, 1), hi_eff + 1):
                cur = set(edges)
                for _ in range(k - 1):
                    cur = {
                        (a, d) for a, b in cur for c, d in edges if b == c
                    }
                acc |= cur
            if lo == 0:
                terms = {a for a, _ in edges} | {b for _, b in edges}
                acc |= {(x, x) for x in terms}
            return acc

        for lo, hi in [(0, 2), (1, 3), (2, 2), (3, None), (2, 4)]:
            quant = f"{{{lo},{hi}}}" if hi is not None else f"{{{lo},}}"
            got = {
                (int(_local(r.x)[1:]), int(_local(r.y)[1:]))
                for r in sparql_select(
                    t,
                    f"SELECT ?x ?y WHERE {{ ?x ex:e{quant} ?y }}",
                    prefixes=PFX,
                ).collect()
            }
            assert got == naive(lo, hi), (trial, lo, hi)


# ------------------------------------------------- value functions round-out


@pytest.fixture(scope="module")
def mixed_terms(spark):
    rows = [
        (EX + "a", EX + "label", "gene-x"),
        (EX + "a", EX + "ref", EX + "b"),
        ("urn:q:1", EX + "label", "u"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_isiri_isliteral_by_lexical_shape(mixed_terms):
    got = sparql_select(
        mixed_terms,
        'SELECT ?s ?o ?k WHERE { ?s ?p ?o . '
        'BIND(IF(ISIRI(?o), "iri", "lit") AS ?k) }',
        prefixes=PFX,
    ).collect()
    kinds = {(r.s, r.o): r.k for r in got}
    assert kinds[(EX + "a", EX + "b")] == "iri"
    assert kinds[(EX + "a", "gene-x")] == "lit"
    assert kinds[("urn:q:1", "u")] == "lit"
    # urn: subjects ARE IRIs; ISURI is a synonym
    iris = sparql_select(
        mixed_terms,
        "SELECT ?s WHERE { ?s ex:label ?x . FILTER(ISURI(?s)) }",
        prefixes=PFX,
    ).collect()
    assert sorted(r.s for r in iris) == [EX + "a", "urn:q:1"]
    lits = sparql_select(
        mixed_terms,
        "SELECT ?s ?o WHERE { ?s ?p ?o . FILTER(ISLITERAL(?o)) }",
        prefixes=PFX,
    ).collect()
    assert sorted(r.o for r in lits) == ["gene-x", "u"]


def test_coalesce_null_propagation(mixed_terms):
    got = sparql_select(
        mixed_terms,
        'SELECT ?s ?c WHERE { ?s ex:label ?x . '
        'OPTIONAL { ?s ex:missing ?m } '
        'BIND(COALESCE(?m, "fallback") AS ?c) }',
        prefixes=PFX,
    ).collect()
    assert {r.c for r in got} == {"fallback"}


def test_if_condition_forms_and_errors(mixed_terms):
    got = sparql_select(
        mixed_terms,
        'SELECT ?s ?b WHERE { ?s ex:label ?x . '
        'BIND(IF(STRLEN(?x) > 3, "long", "short") AS ?b) }',
        prefixes=PFX,
    ).collect()
    assert {(r.s, r.b) for r in got} == {
        (EX + "a", "long"), ("urn:q:1", "short"),
    }
    with pytest.raises(SparqlError, match="boolean expression"):
        sparql_select(
            mixed_terms,
            'SELECT ?s WHERE { ?s ex:label ?x . '
            'BIND(IF(?x, "a", "b") AS ?y) }',
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="takes \\(condition"):
        sparql_select(
            mixed_terms,
            'SELECT ?s WHERE { ?s ex:label ?x . '
            'BIND(IF(BOUND(?x), "a") AS ?y) }',
            prefixes=PFX,
        )
    # COALESCE(?x) with ONE argument is legal per §17.4.1.3 (round-11
    # review relaxed the original two-arg floor)
    one = sparql_select(
        mixed_terms,
        "SELECT ?s ?y WHERE { ?s ex:label ?x . BIND(COALESCE(?x) AS ?y) }",
        prefixes=PFX,
    ).collect()
    assert all(r.y is not None for r in one)


# ------------------------------------------------------------- subqueries


def test_subquery_aggregate_then_join(pathways):
    q = """SELECT ?lab ?n WHERE {
      { SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw } GROUP BY ?pw }
      ?pw ex:label ?lab .
    }"""
    got = sorted(tuple(r) for r in
                 sparql_select(pathways, q, prefixes=PFX).collect())
    # counts come back as lexical strings (binding-table invariant)
    assert got == [("P-one", "2"), ("P-three", "1"), ("P-two", "2")]


def test_subquery_order_limit_topk(pathways):
    q = """SELECT ?lab WHERE {
      { SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw }
        GROUP BY ?pw ORDER BY DESC(?n) ?pw LIMIT 1 }
      ?pw ex:label ?lab .
    }"""
    assert [r.lab for r in
            sparql_select(pathways, q, prefixes=PFX).collect()] == ["P-one"]


def test_subquery_in_union_branch_and_select_star(pathways):
    q = """SELECT ?x WHERE {
      { { SELECT ?x WHERE { ?x ex:type "gene" } } }
      UNION { ?x ex:type "pathway" }
    }"""
    got = sorted(_local(r.x) for r in
                 sparql_select(pathways, q, prefixes=PFX).collect())
    assert got == ["a", "b", "c"]
    q2 = """SELECT ?m ?pw WHERE {
      { SELECT * WHERE { ?m ex:in ?pw . ?m ex:type "pathway" } }
    }"""
    got2 = sorted((_local(r.m), _local(r.pw)) for r in
                  sparql_select(pathways, q2, prefixes=PFX).collect())
    assert got2 == [("c", "p2"), ("c", "p3")]


def test_nested_subqueries(pathways):
    q = """SELECT ?pw ?n WHERE {
      { SELECT ?pw (COUNT(?m) AS ?n) WHERE {
          { SELECT ?m ?pw WHERE { ?m ex:in ?pw . ?m ex:type "gene" } }
        } GROUP BY ?pw }
    }"""
    got = sorted((_local(r.pw), r.n) for r in
                 sparql_select(pathways, q, prefixes=PFX).collect())
    assert got == [("p1", "2"), ("p2", "1")]


def test_subquery_distinct_and_having(pathways):
    q = """SELECT ?pw WHERE {
      { SELECT DISTINCT ?pw WHERE { ?m ex:in ?pw } }
      { SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw }
        GROUP BY ?pw HAVING (COUNT(?m) > 1) }
    }"""
    got = sorted(_local(r.pw) for r in
                 sparql_select(pathways, q, prefixes=PFX).collect())
    assert got == ["p1", "p2"]


def test_subquery_as_optional_body(pathways):
    q = """SELECT ?pw ?n WHERE {
      ?pw ex:label ?lab .
      OPTIONAL {
        { SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw . ?m ex:type "gene" }
          GROUP BY ?pw }
      }
    }"""
    got = {(_local(r.pw), r.n) for r in
           sparql_select(pathways, q, prefixes=PFX).collect()}
    assert got == {("p1", "2"), ("p2", "1"), ("p3", None)}


def test_subquery_scope_and_binding_errors(pathways):
    with pytest.raises(SparqlError, match="projected vars never bound"):
        sparql_select(
            pathways,
            "SELECT ?z WHERE { { SELECT ?z WHERE { ?x ex:type ?t } } }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="not GROUP BY keys"):
        sparql_select(
            pathways,
            "SELECT ?m WHERE { { SELECT ?m (COUNT(?m) AS ?n) "
            "WHERE { ?m ex:in ?pw } GROUP BY ?pw } }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="inside a subquery"):
        sparql_select(
            pathways,
            "SELECT ?pw ?n WHERE { { SELECT ?pw (COUNT(?m) AS ?n) "
            "WHERE { ?m ex:in ?pw } GROUP BY ?pw } }",
            prefixes=PFX,
            bindings={"pw": EX + "p1"},
        )
    # outer reference to a subquery-INTERNAL (non-projected) var
    with pytest.raises(SparqlError, match="never bound"):
        sparql_select(
            pathways,
            "SELECT ?m WHERE { { SELECT ?pw (COUNT(?m) AS ?n) "
            "WHERE { ?m ex:in ?pw } GROUP BY ?pw } }",
            prefixes=PFX,
        )
    # joining on a var the subquery may leave unbound is rejected
    with pytest.raises(SparqlError, match="may leave"):
        sparql_select(
            pathways,
            "SELECT ?m WHERE { ?m ex:type ?t . "
            "{ SELECT ?x ?m WHERE { ?x ex:in ?pw . "
            "OPTIONAL { ?x ex:nope ?m } } } }",
            prefixes=PFX,
        )
    # ...and a LATER pattern joining only on a nullable subquery export
    # degrades to the existing no-hash-key rejection
    with pytest.raises(SparqlError, match="OPTIONAL-bound variables"):
        sparql_select(
            pathways,
            "SELECT ?pw WHERE { ?pw ex:label ?lab . "
            "{ SELECT ?pw ?m WHERE { ?x ex:in ?pw . "
            "OPTIONAL { ?pw ex:nope ?m } } } "
            "?m ex:type ?t . }",
            prefixes=PFX,
        )


@pytest.mark.parametrize("bound", ["pw", "n"])
def test_binding_into_subquery_with_expression_projection(pathways, bound):
    # an (expr AS ?alias) projection names its alias like any other
    # projected variable: binding it, or an inner variable, is rejected
    with pytest.raises(SparqlError, match="inside a subquery"):
        sparql_select(
            pathways,
            "SELECT ?pw WHERE { { SELECT ?pw (STRLEN(?lab) AS ?n) "
            "WHERE { ?pw ex:label ?lab } } }",
            prefixes=PFX,
            bindings={bound: EX + "p1"},
        )


def test_describe_iri_only_is_pushable_scan(pathways):
    from bio2bel_spark.sparql import sparql_describe

    got = sparql_describe(
        pathways, "DESCRIBE <http://ex.org/b> <http://ex.org/p1>"
    ).collect()
    assert sorted((r.s, _local(r.p), r.o) for r in got) == [
        (EX + "b", "in", EX + "p1"),
        (EX + "b", "in", EX + "p2"),
        (EX + "b", "type", "gene"),
        (EX + "p1", "label", "P-one"),
    ]
    # the IRI-only form must push the subject filter into the scan plan
    df = sparql_describe(pathways, "DESCRIBE <http://ex.org/b>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_describe_var_with_where(pathways):
    from bio2bel_spark.sparql import sparql_describe

    got = sparql_describe(
        pathways,
        'DESCRIBE ?pw WHERE { ?m ex:in ?pw . ?m ex:type "pathway" }',
        prefixes=PFX,
    ).collect()
    assert sorted((r.s, _local(r.p), r.o) for r in got) == [
        (EX + "p2", "label", "P-two"),
        (EX + "p3", "label", "P-three"),
    ]
    # mixed var + pname form, distinct graph semantics
    got2 = sparql_describe(
        pathways,
        'DESCRIBE ?pw ex:p3 WHERE { ?m ex:in ?pw . ?m ex:type "pathway" }',
        prefixes=PFX,
    ).collect()
    assert len(got2) == 2  # p3 described twice collapses to once


def test_describe_errors(pathways):
    from bio2bel_spark.sparql import sparql_describe

    with pytest.raises(SparqlError, match="binds it"):
        sparql_describe(pathways, "DESCRIBE ?x", prefixes=PFX)
    with pytest.raises(SparqlError, match="never bound"):
        sparql_describe(
            pathways,
            "DESCRIBE ?zz WHERE { ?m ex:in ?pw }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="at least one"):
        sparql_describe(pathways, "DESCRIBE WHERE { ?m ex:in ?pw }")


def test_subquery_in_ask(pathways):
    assert sparql_ask(
        pathways,
        "ASK { { SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw } "
        "GROUP BY ?pw HAVING (COUNT(?m) > 1) } }",
        prefixes=PFX,
    )
    assert not sparql_ask(
        pathways,
        "ASK { { SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw } "
        "GROUP BY ?pw HAVING (COUNT(?m) > 5) } }",
        prefixes=PFX,
    )


def test_unbounded_quantifier_floor_is_depth_checked(chain):
    """{n,} with a huge n must be a loud SparqlError, not an n-way
    chained-join planning explosion (round-11 review finding)."""
    with pytest.raises(SparqlError, match="lower bound"):
        sparql_select(
            chain,
            "SELECT ?x ?y WHERE { ?x ex:under{1000000,} ?y }",
            prefixes=PFX,
        ).collect()


def test_subquery_null_introducing_group_key_is_guarded(spark):
    """A computed GROUP BY key over a null-introducing fn (ROUND of a
    bound non-numeric) exports as NULLABLE: joining on it alone must hit
    the loud no-hash-key rejection instead of silently dropping the
    NULL-key solution (round-11 review finding)."""
    rows = [
        (EX + "a", EX + "v", "2.5"),
        (EX + "b", EX + "v", "oops"),
        (EX + "t", EX + "tag", "3"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    with pytest.raises(SparqlError, match="OPTIONAL-bound variables"):
        sparql_select(
            t,
            "SELECT ?x ?k WHERE { "
            "{ SELECT ?k (COUNT(?s) AS ?c) WHERE { ?s ex:v ?o } "
            "  GROUP BY (ROUND(?o) AS ?k) } "
            "?x ex:tag ?k }",
            prefixes=PFX,
        ).collect()


def test_subquery_trailing_undef_exports_nullable(spark):
    """A trailing-VALUES UNDEF leaves its variable unbound on that row,
    so the subquery exports it as nullable and the outer join treats the
    unbound row as compatible with every ?z — for SELECT * exactly as
    for an explicit projection (SELECT * used to export ?z as never
    unbound, and the equi-join dropped the UNDEF row)."""
    t = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y"), ("a", "q", "1"),
         ("b", "q", "1"), ("a", "q", "2")],
        "s string, p string, o string",
    )
    for proj in ("*", "?s ?z"):
        got = sparql_select(
            t,
            f"SELECT ?s ?z WHERE {{ {{ SELECT {proj} WHERE {{ ?s <p> ?o }} "
            'VALUES (?s ?z) { (<a> UNDEF) (<b> "1") } } ?s <q> ?z }',
        ).collect()
        assert sorted((r.s, r.z) for r in got) == [
            ("a", "1"), ("a", "2"), ("b", "1"),
        ], proj


# ------------------------------------------------- SELECT (expr AS ?x)


def test_select_expression_projection(pathways):
    """(expr AS ?x) in the SELECT clause desugars to a trailing BIND —
    the spec's Extend step — and projects like any var."""
    got = sparql_select(
        pathways,
        'SELECT ?m (UCASE(?t) AS ?loud) (CONCAT(?t, "!") AS ?bang) '
        "WHERE { ?m ex:type ?t }",
        prefixes=PFX,
    ).collect()
    rows = sorted((r.m[-1], r.loud, r.bang) for r in got)
    assert rows == [
        ("a", "GENE", "gene!"),
        ("b", "GENE", "gene!"),
        ("c", "PATHWAY", "pathway!"),
    ]


def test_select_expression_over_group_keys_and_aggregates(pathways):
    """In an aggregate query, SELECT expressions may combine group keys
    and aggregate calls — computed post-aggregation as the spec's
    Extend, riding the SAME single aggregation as hidden columns."""
    got = sparql_select(
        pathways,
        "SELECT (UCASE(?pw) AS ?u) (COUNT(?m) AS ?n) "
        "WHERE { ?m ex:in ?pw } GROUP BY ?pw",
        prefixes=PFX,
    ).collect()
    assert sorted((r.u, r.n) for r in got) == [
        ("HTTP://EX.ORG/P1", 2), ("HTTP://EX.ORG/P2", 2),
        ("HTTP://EX.ORG/P3", 1),
    ]
    # aggregate call INSIDE the expression: (CONCAT("n=", COUNT(?m)))
    got2 = sparql_select(
        pathways,
        'SELECT ?pw (CONCAT("n=", STR(COUNT(?m))) AS ?lbl) '
        "WHERE { ?m ex:in ?pw } GROUP BY ?pw",
        prefixes=PFX,
    ).collect()
    assert sorted((_local(r.pw), r.lbl) for r in got2) == [
        ("p1", "n=2"), ("p2", "n=2"), ("p3", "n=1"),
    ]


def test_select_expression_in_subquery(pathways):
    got = sparql_select(
        pathways,
        "SELECT ?loud WHERE { { SELECT (UCASE(?t) AS ?loud) "
        'WHERE { ?m ex:type ?t . FILTER(?t = "pathway") } } }',
        prefixes=PFX,
    ).collect()
    assert [r.loud for r in got] == ["PATHWAY"]


def test_duplicate_plain_projection_rejected(pathways):
    """SELECT ?o ?o is forbidden by the SPARQL grammar — and a
    duplicate-named output column breaks column-keyed consumers. Raise
    at compile time (the grouped-key form was already rejected)."""
    with pytest.raises(SparqlError, match="duplicate SELECT projection"):
        sparql_select(
            pathways, "SELECT ?t ?t WHERE { ?m ex:type ?t }", prefixes=PFX
        )


def test_select_expression_alias_not_in_scope_for_filters(pathways):
    """SPARQL §18.2.1: the Extend alias is NOT visible inside the WHERE
    group — a FILTER referencing it must keep raising the loud
    unbound-variable error (review: the BIND desugar briefly put the
    alias in scope, silently changing filter results)."""
    with pytest.raises(SparqlError, match="unbound variable"):
        sparql_select(
            pathways,
            'SELECT (UCASE(?t) AS ?u) WHERE { ?m ex:type ?t . '
            'FILTER(?u = "GENE") }',
            prefixes=PFX,
        )


def test_select_expression_nested_aggregate_is_global_agg(pathways):
    """((COUNT(?m)) AS ?n) — a parenthesized aggregate inside an
    expression item — evaluates as a GLOBAL aggregation, exactly like
    the unparenthesized (COUNT(?m) AS ?n) form."""
    got = sparql_select(
        pathways,
        "SELECT ((COUNT(?m)) AS ?n) WHERE { ?m ex:type ?t }",
        prefixes=PFX,
    ).collect()
    assert [r.n for r in got] == ["3"]


def test_select_expression_alias_collision(pathways):
    with pytest.raises(SparqlError, match="already bound"):
        sparql_select(
            pathways,
            "SELECT (UCASE(?t) AS ?t) WHERE { ?m ex:type ?t }",
            prefixes=PFX,
        )


# ---------------------------------------------------- trailing VALUES


def test_trailing_values_clause(pathways):
    """Post-modifier VALUES (§18.2.4.4) joins the inline data with the
    WHERE pattern — including under aggregation, where it restricts the
    groups (the join happens BEFORE GROUP BY per the algebra)."""
    got = sparql_select(
        pathways,
        "SELECT ?m ?t WHERE { ?m ex:type ?t } "
        'VALUES ?t { "pathway" }',
        prefixes=PFX,
    ).collect()
    assert [(r.m[-1], r.t) for r in got] == [("c", "pathway")]
    agg = sparql_select(
        pathways,
        "SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw } "
        "GROUP BY ?pw "
        "VALUES ?pw { <http://ex.org/p1> <http://ex.org/p3> }",
        prefixes=PFX,
    ).collect()
    assert sorted((_local(r.pw), r.n) for r in agg) == [("p1", 2), ("p3", 1)]


def test_trailing_values_in_subselect(pathways):
    got = sparql_select(
        pathways,
        "SELECT ?m WHERE { { SELECT ?m ?t WHERE { ?m ex:type ?t } "
        'VALUES ?t { "gene" } } }',
        prefixes=PFX,
    ).collect()
    assert sorted(r.m[-1] for r in got) == ["a", "b"]


# -------------------------------------------- IN / NOT IN + ORDER BY expr


def test_in_and_not_in(pathways):
    got = sparql_select(
        pathways,
        'SELECT ?m WHERE { ?m ex:in ?pw . '
        "FILTER(?pw IN (<http://ex.org/p1>, <http://ex.org/p3>)) }",
        prefixes=PFX,
    ).collect()
    assert sorted(_local(r.m) for r in got) == ["a", "b", "c"]
    got2 = sparql_select(
        pathways,
        'SELECT ?m ?pw WHERE { ?m ex:in ?pw . '
        "FILTER(?pw NOT IN (<http://ex.org/p1>, <http://ex.org/p2>)) }",
        prefixes=PFX,
    ).collect()
    assert [(_local(r.m), _local(r.pw)) for r in got2] == [("c", "p3")]


def test_in_unbound_is_error_not_in_empty_is_true(pathways):
    # unbound left side (OPTIONAL miss) -> expression error -> dropped
    got = sparql_select(
        pathways,
        'SELECT ?m WHERE { ?m ex:type ?t . OPTIONAL { ?m ex:nope ?z } '
        'FILTER(?z IN ("a")) }',
        prefixes=PFX,
    ).collect()
    assert got == []
    # NOT IN () over a bound term is TRUE (empty member list)
    got2 = sparql_select(
        pathways,
        "SELECT ?m WHERE { ?m ex:type ?t . FILTER(?t NOT IN ()) }",
        prefixes=PFX,
    ).collect()
    assert len(got2) == 3


def test_order_by_expression(pathways):
    got = sparql_select(
        pathways,
        "SELECT ?lab WHERE { ?pw ex:label ?lab } "
        "ORDER BY STRLEN(?lab) ?lab",
        prefixes=PFX,
    ).collect()
    # P-one(5) P-two(5) P-three(7); tie broken by ?lab
    assert [r.lab for r in got] == ["P-one", "P-two", "P-three"]
    got2 = sparql_select(
        pathways,
        "SELECT ?lab WHERE { ?pw ex:label ?lab } "
        "ORDER BY DESC(STRLEN(?lab)) ?lab LIMIT 1",
        prefixes=PFX,
    ).collect()
    assert [r.lab for r in got2] == ["P-three"]


# ------------------------------------------- EXISTS inside expressions


def test_exists_inside_boolean_expression(pathways):
    """EXISTS { } embedded in ||/&&/! — compiled as a correlated marker
    join, not the standalone semi-join statement form."""
    got = sparql_select(
        pathways,
        'SELECT ?m ?t WHERE { ?m ex:type ?t . '
        'FILTER(?t = "pathway" || EXISTS { ?m ex:in <http://ex.org/p1> }) }',
        prefixes=PFX,
    ).collect()
    # a,b are in p1; c matches the type disjunct
    assert sorted(_local(r.m) for r in got) == ["a", "b", "c"]


def test_not_exists_as_expression_operand(pathways):
    got = sparql_select(
        pathways,
        'SELECT ?m WHERE { ?m ex:type ?t . '
        'FILTER(?t = "gene" && NOT EXISTS { ?m ex:in <http://ex.org/p2> }) }',
        prefixes=PFX,
    ).collect()
    # genes NOT in p2: only a
    assert [_local(r.m) for r in got] == ["a"]


def test_uncorrelated_exists_is_constant_probe(pathways):
    got = sparql_select(
        pathways,
        "SELECT ?m WHERE { ?m ex:type ?t . "
        'FILTER(EXISTS { ?z ex:label "P-one" }) }',
        prefixes=PFX,
    ).collect()
    assert len(got) == 3  # constant-true existence keeps everything
    none = sparql_select(
        pathways,
        "SELECT ?m WHERE { ?m ex:type ?t . "
        'FILTER(EXISTS { ?z ex:label "nope" }) }',
        prefixes=PFX,
    ).collect()
    assert none == []


def test_exists_expr_in_value_context_rejected(pathways):
    with pytest.raises(SparqlError, match="BOOLEAN positions"):
        sparql_select(
            pathways,
            'SELECT ?m ?v WHERE { ?m ex:type ?t . '
            'BIND(IF(EXISTS { ?m ex:in ?p }, "y", "n") AS ?v) }',
            prefixes=PFX,
        )
    # EXISTS as a comparison operand: rejected WITHOUT building joins
    # or running the probe job first (round-11 review finding)
    with pytest.raises(SparqlError, match="BOOLEAN positions"):
        sparql_select(
            pathways,
            'SELECT ?m WHERE { ?m ex:type ?t . '
            'FILTER(EXISTS { ?m ex:in ?p } = "true") }',
            prefixes=PFX,
        )


def test_exists_expr_with_bindings_substitution(pathways):
    got = sparql_select(
        pathways,
        "SELECT ?m WHERE { ?m ex:type ?t . "
        "FILTER(EXISTS { ?m ex:in ?pw }) }",
        prefixes=PFX,
        bindings={"pw": EX + "p3"},
    ).collect()
    assert [_local(r.m) for r in got] == ["c"]


def test_trailing_values_joins_after_aggregation(pathways):
    """§18.2.4.3: the trailing VALUES joins AFTER grouping — a VALUES
    variable that is not in the aggregated result shares nothing and is
    rejected loudly (the spec's cross-extension is out of subset), NOT
    silently pre-filtered into wrong group counts."""
    with pytest.raises(SparqlError, match="sharing no variable"):
        sparql_select(
            pathways,
            "SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw } "
            "GROUP BY ?pw VALUES ?m { <http://ex.org/a> }",
            prefixes=PFX,
        )


def test_trailing_values_matches_native_aggregate_alias(pathways):
    # joining on the COUNT alias compares lexical forms (BIGINT 2 = "2")
    got = sparql_select(
        pathways,
        "SELECT ?pw (COUNT(?m) AS ?n) WHERE { ?m ex:in ?pw } "
        'GROUP BY ?pw VALUES ?n { "2" }',
        prefixes=PFX,
    ).collect()
    assert [(_local(r.pw), r.n) for r in got] == [("p1", 2), ("p2", 2)]


def test_having_with_expression_only_aggregate(pathways):
    """HAVING is legal when the only aggregate lives inside a SELECT
    expression (the implicit global group) — review finding: the
    precondition ran before extend specs were collected."""
    got = sparql_select(
        pathways,
        "SELECT ((COUNT(?m)) AS ?n) WHERE { ?m ex:type ?t } "
        "HAVING (COUNT(?m) > 0)",
        prefixes=PFX,
    ).collect()
    assert [r.n for r in got] == ["3"]


def test_expression_count_export_joins_like_plain_count(pathways):
    """((COUNT(?m)) AS ?n) exported from a subquery is never NULL —
    joining on it must work exactly like the unparenthesized form."""
    got = sparql_select(
        pathways,
        "SELECT ?pw ?n WHERE { "
        "{ SELECT ?pw ((COUNT(?m)) AS ?n) WHERE { ?m ex:in ?pw } "
        "  GROUP BY ?pw } "
        "?x ex:in ?pw . }",
        prefixes=PFX,
    ).collect()
    assert len(got) == 5  # one row per (member, pathway) fan-out
