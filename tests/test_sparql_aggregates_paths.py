"""Round-9/10 SPARQL surface: ``p*`` / ``p?`` zero-length semantics, the
pointer-doubling round bound, GROUP BY aggregates (typing, errors), HAVING,
and the SPARQL-spec SUM/AVG-of-empty = 0 divergence from SQL.

These pin bio2bel_spark/sparql.py:_pair_closure / _zero_length_rows /
_apply_aggregation — the paths the round-9 diff added with engine-only
coverage (parity target: rdflib's full evaluation of the same queries,
reference src/bio2bel/sources/rhea.py:38-47 runs arbitrary rdflib SPARQL).
"""

from __future__ import annotations

import math
import threading

import pytest

from bio2bel_spark.sparql import SparqlError, _closure_stats, sparql_select

EX = "http://ex.org/"
PFX = {"ex": EX}


@pytest.fixture(scope="module")
def chain_triples(spark):
    rows = (
        [(EX + c, EX + "under", EX + n) for c, n in
         [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("z1", "z2")]]
        + [(EX + n, EX + "name", n) for n in ["n1", "n2", "n3", "n4"]]
    )
    return spark.createDataFrame(rows, "s string, p string, o string")


@pytest.fixture(scope="module")
def typed_triples(spark):
    rows = [
        (EX + "a", EX + "type", "gene"),
        (EX + "a", EX + "score", "3"),
        (EX + "b", EX + "type", "gene"),
        (EX + "b", EX + "score", "5"),
        (EX + "b", EX + "score", "5"),  # duplicate triple row
        (EX + "c", EX + "type", "pathway"),
        (EX + "c", EX + "score", "2"),
        (EX + "d", EX + "type", "gene"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


# ---------------------------------------------------------------- p* / p?


def _local(term: str) -> str:
    return term.rsplit("/", 1)[-1]


def test_star_var_var_adds_identity_over_all_terms(chain_triples):
    """``?x p* ?y`` = closure ∪ zero-length identity over EVERY graph
    term — subjects AND objects, IRIs AND literals (spec: the zero-length
    path relates each term to itself)."""
    got = sparql_select(
        chain_triples,
        "SELECT ?x ?y WHERE { ?x ex:under* ?y }",
        prefixes=PFX,
    )
    pairs = {(r.x, r.y) for r in got.collect()}
    terms = {EX + n for n in ["n1", "n2", "n3", "n4", "z1", "z2"]} | {
        "n1", "n2", "n3", "n4",
    }
    closure = {
        (EX + a, EX + b)
        for a, b in [
            ("n1", "n2"), ("n1", "n3"), ("n1", "n4"),
            ("n2", "n3"), ("n2", "n4"), ("n3", "n4"), ("z1", "z2"),
        ]
    }
    assert pairs == {(t, t) for t in terms} | closure


def test_star_constant_endpoint_matches_itself(chain_triples):
    # seeded: the constant reaches itself (zero-length) plus its closure
    got = sparql_select(
        chain_triples,
        "SELECT ?y WHERE { <http://ex.org/n2> ex:under* ?y }",
        prefixes=PFX,
    )
    assert sorted(_local(r.y) for r in got.collect()) == ["n2", "n3", "n4"]
    # spec conformance: a constant ABSENT from the graph still matches
    # itself on the zero-length path
    got = sparql_select(
        chain_triples,
        "SELECT ?y WHERE { <http://ex.org/ghost> ex:under* ?y }",
        prefixes=PFX,
    )
    assert [_local(r.y) for r in got.collect()] == ["ghost"]


def test_star_composes_in_sequence(chain_triples):
    """``under*/name`` — zero hops keeps the start node itself, so n1's
    own name joins the transitive containers' names."""
    got = sparql_select(
        chain_triples,
        'SELECT ?n WHERE { ?x ex:name "n1" . ?x ex:under*/ex:name ?n }',
        prefixes=PFX,
    )
    assert sorted(r.n for r in got.collect()) == ["n1", "n2", "n3", "n4"]


def test_question_zero_or_one_hop(chain_triples):
    got = sparql_select(
        chain_triples,
        "SELECT ?y WHERE { <http://ex.org/n1> ex:under? ?y }",
        prefixes=PFX,
    )
    # itself (zero) plus the single direct hop — NOT the closure
    assert sorted(_local(r.y) for r in got.collect()) == ["n1", "n2"]


def test_question_dedups_identity_overlap(spark):
    """A self-loop hop coincides with the zero-length row — set
    semantics must dedup them."""
    tdf = spark.createDataFrame(
        [(EX + "s", EX + "p", EX + "s")], "s string, p string, o string"
    )
    got = sparql_select(
        tdf, "SELECT ?y WHERE { <http://ex.org/s> ex:p? ?y }", prefixes=PFX
    )
    assert [r.y for r in got.collect()] == [EX + "s"]


# ------------------------------------------------------- pointer doubling


def test_pair_closure_round_bound_deep_chain(spark):
    """A depth-D chain must close in ≤ ceil(log2(D+1)) + 1 join rounds
    (doubling covers length 2^r after r rounds; +1 is the convergence
    probe) with the exact (D+1)·D/2-pair closure — the log-round scale
    property the pointer-doubling rewrite exists for."""
    depth = 40
    rows = [
        (EX + f"c{i}", EX + "under", EX + f"c{i + 1}") for i in range(depth)
    ]
    tdf = spark.createDataFrame(rows, "s string, p string, o string")
    got = sparql_select(
        tdf,
        "SELECT ?x ?y WHERE { ?x ex:under* ?y }",
        prefixes=PFX,
        max_path_depth=64,
    )
    n_terms = depth + 1
    want_rows = n_terms + depth * (depth + 1) // 2  # identity + closure
    assert got.count() == want_rows
    assert _closure_stats["pair_rounds"] <= math.ceil(math.log2(64 + 1)) + 1


def test_closure_stats_are_thread_local():
    """Concurrent sparql_select calls must not interleave each other's
    round counts — the stats verify the doubling bound, so a shared dict
    would let a neighbor thread corrupt the measurement."""
    seen = {}

    def _probe(name, value):
        _closure_stats["pair_rounds"] = value
        seen[name] = _closure_stats["pair_rounds"]

    _closure_stats["pair_rounds"] = 99
    t = threading.Thread(target=_probe, args=("worker", 7))
    t.start()
    t.join()
    assert seen["worker"] == 7
    assert _closure_stats["pair_rounds"] == 99  # untouched by the worker


# ------------------------------------------------------------- aggregates


def test_grouped_count_and_count_distinct(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT ?t (COUNT(?e) AS ?n) WHERE { ?e ex:type ?t } GROUP BY ?t",
        prefixes=PFX,
    )
    assert {(r.t, r.n) for r in got.collect()} == {("gene", 3), ("pathway", 1)}
    # the duplicated score triple dedups under COUNT(DISTINCT ?v) per
    # entity but not under COUNT(?v)
    got = sparql_select(
        typed_triples,
        "SELECT ?e (COUNT(DISTINCT ?v) AS ?n) WHERE { ?e ex:score ?v } "
        "GROUP BY ?e",
        prefixes=PFX,
    )
    assert {(_local(r.e), r.n) for r in got.collect()} == {
        ("a", 1), ("b", 1), ("c", 1),
    }


def test_sum_avg_cast_lexical_to_double(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT ?t (SUM(?v) AS ?s) (AVG(?v) AS ?a) WHERE "
        "{ ?e ex:type ?t . ?e ex:score ?v } GROUP BY ?t",
        prefixes=PFX,
    ).collect()
    by_t = {r.t: (r.s, r.a) for r in got}
    # gene: a=3, b=5 (dup row counts twice in the bag) → sum 13, avg 13/3
    assert by_t["gene"] == (13.0, pytest.approx(13.0 / 3))
    assert by_t["pathway"] == (2.0, 2.0)


def test_min_max_lexicographic_and_sample(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT (MIN(?v) AS ?lo) (MAX(?v) AS ?hi) (SAMPLE(?v) AS ?any) "
        "WHERE { ?e ex:score ?v }",
        prefixes=PFX,
    ).collect()[0]
    assert (got.lo, got.hi) == ("2", "5")  # string compare, DuckDB parity
    assert got.any == "2"  # SAMPLE evaluated as MIN: deterministic


def test_count_star_and_empty_group_sum_is_zero(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT (COUNT(*) AS ?n) WHERE { ?e ex:score ?v }",
        prefixes=PFX,
    ).collect()[0]
    assert got.n == 4
    # SPARQL 1.1 §18.5.1: Sum({}) = 0 and Avg({}) = 0 — NOT SQL's NULL
    got = sparql_select(
        typed_triples,
        "SELECT (SUM(?v) AS ?s) (AVG(?v) AS ?a) (COUNT(?v) AS ?n) "
        "WHERE { ?e ex:missing ?v }",
        prefixes=PFX,
    ).collect()[0]
    assert (got.s, got.a, got.n) == (0.0, 0.0, 0)


def test_grouped_sum_avg_all_unbound_group_is_unbound(typed_triples):
    """A GROUP BY group whose aggregated values are all unbound (an
    OPTIONAL that never matched) leaves SUM/AVG unbound (NULL) — the
    §18.5.1 ``Sum({}) = 0`` rule covers only the empty multiset, and
    rdflib likewise leaves the variable unbound here. Only the global
    no-GROUP-BY empty aggregate coalesces to 0.0 (pinned above)."""
    got = sparql_select(
        typed_triples,
        "SELECT ?e (SUM(?v) AS ?s) (AVG(?v) AS ?a) (COUNT(?v) AS ?n) "
        "WHERE { ?e ex:type ?t . OPTIONAL { ?e ex:score ?v } } "
        "GROUP BY ?e",
        prefixes=PFX,
    ).collect()
    by_e = {_local(r.e): (r.s, r.a, r.n) for r in got}
    assert by_e["d"] == (None, None, 0)  # no score triples at all
    assert by_e["c"] == (2.0, 2.0, 1)


def test_duplicate_plain_projection_rejected(typed_triples):
    for q in (
        "SELECT ?t ?t (COUNT(?v) AS ?n) WHERE "
        "{ ?e ex:type ?t . ?e ex:score ?v } GROUP BY ?t",
        "SELECT ?t ?t WHERE { ?e ex:type ?t } GROUP BY ?t",
    ):
        with pytest.raises(SparqlError, match="duplicate projection alias"):
            sparql_select(typed_triples, q, prefixes=PFX)


def test_aggregate_errors(typed_triples):
    with pytest.raises(SparqlError, match="not GROUP BY keys"):
        sparql_select(
            typed_triples,
            "SELECT ?e (COUNT(?v) AS ?n) WHERE { ?e ex:score ?v } "
            "GROUP BY ?v",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="SELECT \\*"):
        sparql_select(
            typed_triples,
            "SELECT * WHERE { ?e ex:score ?v } GROUP BY ?e",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="collides with a bound"):
        sparql_select(
            typed_triples,
            "SELECT ?e (COUNT(?v) AS ?v) WHERE { ?e ex:score ?v } "
            "GROUP BY ?e",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="duplicate projection alias"):
        sparql_select(
            typed_triples,
            "SELECT ?e (COUNT(?v) AS ?n) (SUM(?v) AS ?n) "
            "WHERE { ?e ex:score ?v } GROUP BY ?e",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="unbound variable"):
        sparql_select(
            typed_triples,
            "SELECT ?e (COUNT(?zz) AS ?n) WHERE { ?e ex:score ?v } "
            "GROUP BY ?e",
            prefixes=PFX,
        )
    # round 13 flips the former SUM(DISTINCT) rejection: it now
    # aggregates the deduped TERM multiset (test_sparql_round13.py
    # pins the values); distinct SAMPLE stays out of the subset
    with pytest.raises(SparqlError, match="DISTINCT"):
        sparql_select(
            typed_triples,
            "SELECT (SAMPLE(DISTINCT ?v) AS ?s) WHERE { ?e ex:score ?v }",
            prefixes=PFX,
        )


# ----------------------------------------------------------------- HAVING


def test_having_on_projected_alias(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT ?t (COUNT(?e) AS ?n) WHERE { ?e ex:type ?t } "
        "GROUP BY ?t HAVING (?n > 1)",
        prefixes=PFX,
    )
    assert [(r.t, r.n) for r in got.collect()] == [("gene", 3)]


def test_having_direct_aggregate_call(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT ?t WHERE { ?e ex:type ?t } GROUP BY ?t "
        "HAVING (COUNT(?e) > 1)",
        prefixes=PFX,
    )
    assert got.columns == ["t"]  # hidden __having_* columns dropped
    assert [r.t for r in got.collect()] == ["gene"]


def test_having_multiple_constraints_conjoin(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT ?t (COUNT(?e) AS ?n) WHERE "
        "{ ?e ex:type ?t . ?e ex:score ?v } "
        "GROUP BY ?t HAVING (?n >= 1) (SUM(?v) < 3)",
        prefixes=PFX,
    )
    # gene sums to 13, pathway to 2 — only pathway passes BOTH constraints
    assert [(r.t, r.n) for r in got.collect()] == [("pathway", 1)]
    # an aggregate over a var unbound anywhere in the pattern is a
    # compile-time error even when it only appears inside HAVING
    with pytest.raises(SparqlError, match="unbound variable"):
        sparql_select(
            typed_triples,
            "SELECT ?t (COUNT(?e) AS ?n) WHERE { ?e ex:type ?t } "
            "GROUP BY ?t HAVING (SUM(?zz) < 3)",
            prefixes=PFX,
        )


def test_having_mixes_alias_key_and_direct_agg(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT ?t (COUNT(?e) AS ?n) WHERE "
        '{ ?e ex:type ?t . ?e ex:score ?v } '
        'GROUP BY ?t HAVING (?n >= 1 && SUM(?v) > 3 && ?t != "x")',
        prefixes=PFX,
    )
    assert {(r.t, r.n) for r in got.collect()} == {("gene", 3)}
    # aggregate calls nested under IN, !, || and function arguments
    for having, want in (
        ("(COUNT(?e) IN (2, 3) && !(SUM(?v) < 10))", {"gene"}),
        ("(COUNT(?e) IN (1) || SUM(?v) > 100)", {"pathway"}),
        ("(STRLEN(STR(MAX(?v))) = 1 && ABS(0 - SUM(?v)) < 5)", {"pathway"}),
    ):
        got = sparql_select(
            typed_triples,
            "SELECT ?t WHERE { ?e ex:type ?t . ?e ex:score ?v } "
            f"GROUP BY ?t HAVING {having}",
            prefixes=PFX,
        )
        assert {r.t for r in got.collect()} == want, having


def test_having_errors(typed_triples):
    with pytest.raises(SparqlError, match="HAVING needs"):
        sparql_select(
            typed_triples,
            "SELECT ?e ?v WHERE { ?e ex:score ?v } HAVING (?v > 1)",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="only valid inside HAVING"):
        sparql_select(
            typed_triples,
            "SELECT ?e WHERE { ?e ex:score ?v . FILTER(COUNT(?v) > 1) }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="parenthesized"):
        sparql_select(
            typed_triples,
            "SELECT ?t (COUNT(?e) AS ?n) WHERE { ?e ex:type ?t } "
            "GROUP BY ?t HAVING ?n > 1",
            prefixes=PFX,
        )


def test_having_keeps_single_aggregation_plan(typed_triples):
    """Direct HAVING aggregates must NOT cost a second shuffle: exactly
    one aggregation subtree (partial+final HashAggregate pair over one
    Exchange) in the physical plan."""
    got = sparql_select(
        typed_triples,
        "SELECT ?t WHERE { ?e ex:type ?t } GROUP BY ?t "
        "HAVING (COUNT(?e) > 1)",
        prefixes=PFX,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 2  # one for the agg (+AQE reuse artifacts)


def test_reserved_having_prefix_rejected(typed_triples):
    """?__having_* is a planner-internal name (HAVING hidden aggregate
    columns) — a user variable with it would collide with a synthesized
    column; rejected at tokenize time like ?__path_*."""
    with pytest.raises(SparqlError, match="reserved"):
        sparql_select(
            typed_triples,
            "SELECT ?t (COUNT(?e) AS ?__having_0) WHERE { ?e ex:type ?t } "
            "GROUP BY ?t HAVING (SUM(?e) > 1)",
            prefixes=PFX,
        )


def test_group_concat_sorted_distinct_and_separator(typed_triples):
    """GROUP_CONCAT joins the group's values in SORTED order (determinism
    across partitions; spec leaves order undefined), honors DISTINCT and
    ``; SEPARATOR=``, and defaults to a single space."""
    got = sparql_select(
        typed_triples,
        "SELECT ?t (GROUP_CONCAT(?v) AS ?vs) WHERE "
        "{ ?e ex:type ?t . ?e ex:score ?v } GROUP BY ?t",
        prefixes=PFX,
    )
    by_t = {r.t: r.vs for r in got.collect()}
    assert by_t == {"gene": "3 5 5", "pathway": "2"}
    got = sparql_select(
        typed_triples,
        'SELECT ?t (GROUP_CONCAT(DISTINCT ?v; SEPARATOR="|") AS ?vs) '
        "WHERE { ?e ex:type ?t . ?e ex:score ?v } GROUP BY ?t",
        prefixes=PFX,
    )
    by_t = {r.t: r.vs for r in got.collect()}
    assert by_t == {"gene": "3|5", "pathway": "2"}
    with pytest.raises(SparqlError, match="SEPARATOR"):
        sparql_select(
            typed_triples,
            'SELECT ?t (COUNT(?v; SEPARATOR=",") AS ?n) WHERE '
            "{ ?e ex:type ?t . ?e ex:score ?v } GROUP BY ?t",
            prefixes=PFX,
        )


# ------------------------------------------------------------------- BIND


def test_bind_scalar_functions_and_join(typed_triples):
    """BIND extends each solution with a computed column; later patterns
    and filters can use it; value functions also work inside FILTER."""
    got = sparql_select(
        typed_triples,
        'SELECT ?e ?k WHERE { ?e ex:type ?t . '
        'BIND (CONCAT(UCASE(?t), ":", STR(STRLEN(?t))) AS ?k) '
        'FILTER(STRLEN(?t) > 4) }',
        prefixes=PFX,
    )
    rows = {(_local(r.e), r.k) for r in got.collect()}
    assert rows == {("c", "PATHWAY:7")}
    got = sparql_select(
        typed_triples,
        'SELECT ?e ?s WHERE { ?e ex:type "gene" . '
        'BIND (REPLACE(SUBSTR(STR(?e), 8, 6), "ex\\\\.", "EX_") AS ?s) }',
        prefixes=PFX,
    )
    # http://ex.org/a -> substr(8,6) = "ex.org" -> regex replace -> EX_org
    assert {r.s for r in got.collect()} == {"EX_org"}


def test_bind_over_optional_unbound_is_null(typed_triples):
    """Spec: an expression error (unbound argument) leaves the BIND var
    unbound — NULL propagation, and BOUND() can test it downstream."""
    got = sparql_select(
        typed_triples,
        "SELECT ?e ?u WHERE { ?e ex:type ?t . "
        "OPTIONAL { ?e ex:score ?v } "
        "BIND (UCASE(?v) AS ?u) }",
        prefixes=PFX,
    )
    by_e = {_local(r.e): r.u for r in got.collect()}
    assert by_e["d"] is None  # d has no score
    assert by_e["a"] == "3"


def test_bind_opens_a_group_and_booleans(typed_triples):
    got = sparql_select(
        typed_triples,
        'SELECT ?v WHERE { BIND ("x" AS ?v) }',
        prefixes=PFX,
    )
    assert [r.v for r in got.collect()] == ["x"]
    got = sparql_select(
        typed_triples,
        'SELECT ?e ?big WHERE { ?e ex:score ?v . '
        'BIND (?v >= "3" AS ?big) }',
        prefixes=PFX,
    )
    # materialized BIND columns are STRING (the binding-table
    # invariant); a BOOLEAN expression materializes as the canonical
    # TYPED term (round 14) so DATATYPE() and §17.2.2 EBV read it by
    # value — not the bare lexical it was before
    xb = "http://www.w3.org/2001/XMLSchema#boolean"
    assert {(_local(r.e), r.big) for r in got.collect()} == {
        ("a", f'"true"^^<{xb}>'), ("b", f'"true"^^<{xb}>'),
        ("c", f'"false"^^<{xb}>'),
    }


def test_bind_column_keeps_string_invariant(spark):
    """A numeric-valued BIND column must stay a STRING column: UNION'd
    or joined with pattern-bound string data, a native int column would
    coerce the string side and crash under ANSI mode (round-10 review
    finding — confirmed live with a bigint-coerced union)."""
    rows = [
        (EX + "a", EX + "label", "x9z"),
        (EX + "b", EX + "type", "gene"),
    ]
    tdf = spark.createDataFrame(rows, "s string, p string, o string")
    got = sparql_select(
        tdf,
        "SELECT ?e ?x WHERE { { ?e ex:label ?x } "
        "UNION { ?e ex:type ?t . BIND (STRLEN(?t) AS ?x) } }",
        prefixes=PFX,
    )
    assert dict(got.dtypes)["x"] == "string"
    assert {(r.e, r.x) for r in got.collect()} == {
        (EX + "a", "x9z"), (EX + "b", "4"),
    }


def test_boolean_functions_as_comparison_operands(typed_triples):
    """BOUND/REGEX/CONTAINS used INSIDE a comparison must evaluate (they
    used to compile to a string literal of the function NAME, making the
    filter vacuously true — round-10 review finding)."""
    got = sparql_select(
        typed_triples,
        "SELECT ?e WHERE { ?e ex:type ?t . OPTIONAL { ?e ex:score ?v } "
        'FILTER(BOUND(?v) = "true") }',
        prefixes=PFX,
    )
    assert sorted(_local(r.e) for r in got.collect()) == ["a", "b", "b", "c"]
    got = sparql_select(
        typed_triples,
        'SELECT ?e WHERE { ?e ex:score ?v . '
        'FILTER(CONTAINS(?v, "5") = "false") }',
        prefixes=PFX,
    )
    assert sorted(_local(r.e) for r in got.collect()) == ["a", "c"]


def test_substr_rejects_nonpositive_start(typed_triples):
    # Spark substr counts negative starts from the END; fn:substring says
    # "from the beginning" — the divergence is rejected, never silent
    with pytest.raises(SparqlError, match="positive"):
        sparql_select(
            typed_triples,
            "SELECT ?k WHERE { ?e ex:type ?t . "
            "BIND (SUBSTR(?t, -1) AS ?k) }",
            prefixes=PFX,
        )


def test_bind_errors(typed_triples):
    with pytest.raises(SparqlError, match="already bound"):
        sparql_select(
            typed_triples,
            "SELECT ?t WHERE { ?e ex:type ?t . BIND (UCASE(?t) AS ?t) }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="unbound variable"):
        sparql_select(
            typed_triples,
            "SELECT ?k WHERE { ?e ex:type ?t . BIND (UCASE(?zz) AS ?k) }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="cannot constrain BIND"):
        sparql_select(
            typed_triples,
            "SELECT ?k WHERE { ?e ex:type ?t . BIND (UCASE(?t) AS ?k) }",
            prefixes=PFX,
            bindings={"k": "GENE"},
        )


# --------------------------------------------- OFFSET / ASK / expr keys


def test_offset_pages_the_ordered_sequence(typed_triples):
    q = ("SELECT ?e WHERE { ?e ex:type ?t } ORDER BY ?e "
         "LIMIT 2 OFFSET 1")
    got = sparql_select(typed_triples, q, prefixes=PFX)
    assert [_local(r.e) for r in got.collect()] == ["b", "c"]
    # OFFSET LIMIT order also parses (the spec allows either)
    q2 = ("SELECT ?e WHERE { ?e ex:type ?t } ORDER BY ?e "
          "OFFSET 3 LIMIT 5")
    got = sparql_select(typed_triples, q2, prefixes=PFX)
    assert [_local(r.e) for r in got.collect()] == ["d"]
    with pytest.raises(SparqlError, match="OFFSET expects"):
        sparql_select(
            typed_triples,
            "SELECT ?e WHERE { ?e ex:type ?t } OFFSET -1",
            prefixes=PFX,
        )


def test_group_by_expression_key(typed_triples):
    got = sparql_select(
        typed_triples,
        "SELECT ?k (COUNT(?e) AS ?n) WHERE { ?e ex:type ?t } "
        "GROUP BY (UCASE(?t) AS ?k) ORDER BY ?k",
        prefixes=PFX,
    )
    assert [(r.k, r.n) for r in got.collect()] == [
        ("GENE", 3), ("PATHWAY", 1),
    ]
    with pytest.raises(SparqlError, match="collides"):
        sparql_select(
            typed_triples,
            "SELECT ?t (COUNT(?e) AS ?n) WHERE { ?e ex:type ?t } "
            "GROUP BY (UCASE(?t) AS ?t)",
            prefixes=PFX,
        )


def test_ask_form(typed_triples):
    from bio2bel_spark.sparql import sparql_ask

    assert sparql_ask(
        typed_triples, 'ASK { ?e ex:type "gene" }', prefixes=PFX
    ) is True
    assert sparql_ask(
        typed_triples, 'ASK WHERE { ?e ex:type "unobtainium" }', prefixes=PFX
    ) is False
    # bindings parameterize exactly like SELECT
    assert sparql_ask(
        typed_triples, "ASK { ?e ex:type ?t }", prefixes=PFX,
        bindings={"t": "pathway"},
    ) is True
    with pytest.raises(SparqlError, match="sparql_ask"):
        sparql_select(typed_triples, "ASK { ?e ex:type ?t }", prefixes=PFX)


# --------------------------------------------------------------- CONSTRUCT


def test_construct_instantiates_template(typed_triples):
    from bio2bel_spark.sparql import sparql_construct

    got = sparql_construct(
        typed_triples,
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?e <http://ex.org/scored> ?v .
                       ?v <http://ex.org/scoreOf> ?e }
           WHERE { ?e ex:type "gene" . ?e ex:score ?v }""",
    )
    assert got.columns == ["s", "p", "o"]
    rows = {(r.s, r.p, r.o) for r in got.collect()}
    # b's duplicate score row dedups: a CONSTRUCT result is a GRAPH
    assert rows == {
        (EX + "a", EX + "scored", "3"),
        (EX + "b", EX + "scored", "5"),
        ("3", EX + "scoreOf", EX + "a"),
        ("5", EX + "scoreOf", EX + "b"),
    }


def test_construct_optional_miss_emits_no_triple(typed_triples):
    from bio2bel_spark.sparql import sparql_construct

    got = sparql_construct(
        typed_triples,
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?e <http://ex.org/hasScore> ?v }
           WHERE { ?e ex:type "gene" . OPTIONAL { ?e ex:score ?v } }""",
    )
    # d has no score -> contributes NO triple (never a NULL object)
    assert {(r.s, r.o) for r in got.collect()} == {
        (EX + "a", "3"), (EX + "b", "5"),
    }


def test_construct_bindings_and_errors(typed_triples):
    from bio2bel_spark.sparql import sparql_construct

    got = sparql_construct(
        typed_triples,
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?e <http://ex.org/is> ?t }
           WHERE { ?e ex:type ?t }""",
        bindings={"t": "pathway"},
    )
    assert {(r.s, r.o) for r in got.collect()} == {(EX + "c", "pathway")}
    with pytest.raises(SparqlError, match="never\\s+bound"):
        sparql_construct(
            typed_triples,
            "PREFIX ex: <http://ex.org/> "
            "CONSTRUCT { ?e <http://ex.org/is> ?zz } "
            "WHERE { ?e ex:type ?t }",
        )
    with pytest.raises(SparqlError, match="template needs"):
        sparql_construct(
            typed_triples,
            "CONSTRUCT { } WHERE { ?e <http://ex.org/type> ?t }",
        )


# -------------------------------------------------- negated property sets


def test_negated_property_set(typed_triples):
    # !ex:type = any predicate but type — here, the score edges
    got = sparql_select(
        typed_triples,
        "SELECT ?e ?v WHERE { ?e !ex:type ?v }",
        prefixes=PFX,
    )
    assert sorted((_local(r.e), r.v) for r in got.collect()) == [
        ("a", "3"), ("b", "5"), ("b", "5"), ("c", "2"),
    ]
    # !(type|score) over this fixture matches nothing
    got = sparql_select(
        typed_triples,
        "SELECT ?e ?v WHERE { ?e !(ex:type|ex:score) ?v }",
        prefixes=PFX,
    )
    assert got.count() == 0


def test_negated_set_composes_with_inverse_and_sequence(typed_triples):
    # ^!ex:score: inverse of "any predicate but score" = type edges seen
    # from the object side
    got = sparql_select(
        typed_triples,
        'SELECT ?e WHERE { "gene" ^!ex:score ?e }',
        prefixes=PFX,
    )
    assert sorted(_local(r.e) for r in got.collect()) == ["a", "b", "d"]
    # inside a sequence: entity -> (anything but score) -> literal
    got = sparql_select(
        typed_triples,
        "SELECT ?e ?v WHERE { ?e !ex:score/!ex:anything ?v }",
        prefixes=PFX,
    )
    assert got.count() == 0  # type objects are literals, no outgoing edges


def test_negated_set_precedence_and_errors(typed_triples):
    with pytest.raises(SparqlError, match="parenthesize"):
        sparql_select(
            typed_triples,
            "SELECT ?e ?v WHERE { ?e !ex:type|ex:score ?v }",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="bad term"):
        sparql_select(
            typed_triples,
            "SELECT ?e ?v WHERE { ?e !(^ex:type) ?v }",
            prefixes=PFX,
        )


def test_parser_never_crashes_on_garbage(typed_triples):
    """Malformed queries must fail with SparqlError, never IndexError —
    incl. queries that truncate mid-clause (the parser clamps at the eof
    sentinel)."""
    import random

    bad = [
        "SELECT ?x WHERE { ?x",
        "SELECT ?x WHERE { ?x <p>",
        "SELECT (COUNT(?x",
        "SELECT ?x WHERE { ?x <p> ?y } GROUP BY (",
        "SELECT ?x WHERE { ?x <p> ?y } HAVING (?n >",
        "CONSTRUCT {",
        "PREFIX ex:",
        "SELECT ?x WHERE { BIND (",
        "SELECT ?x WHERE { ?s !(<a>",
    ]
    rng = random.Random(0)
    soup = "SELECT ?x WHERE { } ( ) . ?v <i> \"s\" OPTIONAL FILTER + * !".split()
    for _ in range(60):
        bad.append(" ".join(rng.choices(soup, k=rng.randint(1, 12))))
    for q in bad:
        with pytest.raises(SparqlError):
            sparql_select(typed_triples, q, prefixes=PFX)


def test_construct_limit_is_coherent_across_template(typed_triples):
    """Under LIMIT, every template triple must instantiate from the SAME
    paged solution set — the solution table is pinned once, so the two
    branches can never page different subsets (round-10 review finding:
    independent GlobalLimits are nondeterministic per branch)."""
    from bio2bel_spark.sparql import sparql_construct

    got = sparql_construct(
        typed_triples,
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?e <http://ex.org/kind> ?t .
                       ?e <http://ex.org/knownAs> ?e }
           WHERE { ?e ex:type ?t } ORDER BY ?e LIMIT 2""",
    ).collect()
    kind_subjects = {r.s for r in got if r.p == EX + "kind"}
    known_subjects = {r.s for r in got if r.p == EX + "knownAs"}
    assert kind_subjects == known_subjects == {EX + "a", EX + "b"}
    # the REAL pin: LIMIT with NO ORDER is a nondeterministic page — the
    # two branches must still see the SAME subset, whichever it is
    # (without the solution-table pin, each branch cuts its own
    # GlobalLimit and can page different solutions)
    got = sparql_construct(
        typed_triples,
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?e <http://ex.org/kind> ?t .
                       ?e <http://ex.org/knownAs> ?e }
           WHERE { ?e ex:type ?t } LIMIT 2""",
    ).collect()
    kind_subjects = {r.s for r in got if r.p == EX + "kind"}
    known_subjects = {r.s for r in got if r.p == EX + "knownAs"}
    assert kind_subjects == known_subjects and len(kind_subjects) == 2


def test_construct_invalid_template_fails_before_any_job(typed_triples):
    """An unbound template variable must raise at BUILD time, before the
    solution table is materialized (the pin would otherwise execute the
    whole WHERE plan just to throw)."""
    from unittest import mock

    from bio2bel_spark.sparql import sparql_construct

    with mock.patch.object(
        type(typed_triples), "localCheckpoint",
        side_effect=AssertionError("materialized before validation"),
    ):
        with pytest.raises(SparqlError, match="never\\s+bound"):
            sparql_construct(
                typed_triples,
                "PREFIX ex: <http://ex.org/> "
                "CONSTRUCT { ?e <http://ex.org/a> ?typo . "
                "?e <http://ex.org/b> ?e } "
                "WHERE { ?e ex:type ?t } LIMIT 1",
            )


def test_construct_binding_on_template_only_var(typed_triples):
    """rdflib initBindings parity: a binding for a variable used ONLY in
    the template becomes a constant in every instantiated triple."""
    from bio2bel_spark.sparql import sparql_construct

    got = sparql_construct(
        typed_triples,
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?e <http://ex.org/source> ?src }
           WHERE { ?e ex:type "pathway" }""",
        bindings={"src": "rhea"},
    )
    assert {(r.s, r.o) for r in got.collect()} == {(EX + "c", "rhea")}
