"""SPARQL-subset planner: pattern joins, OPTIONAL semantics, FILTER, errors."""

from __future__ import annotations

import pytest

from bio2bel_spark.sparql import SparqlError, sparql_select

EX = "http://ex.org/"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        (EX + "a", EX + "type", "gene"),
        (EX + "a", EX + "name", "alpha"),
        (EX + "a", EX + "xref", "chebi:1"),
        (EX + "b", EX + "type", "gene"),
        (EX + "b", EX + "name", "beta"),
        (EX + "c", EX + "type", "pathway"),
        (EX + "c", EX + "name", "gamma"),
        (EX + "c", EX + "member", EX + "a"),
        (EX + "c", EX + "member", EX + "b"),
        # entity with two-tier identifier fallbacks (coalesce via OPTIONAL)
        (EX + "d", EX + "type", "gene"),
        (EX + "d", EX + "name", "delta"),
        (EX + "d", EX + "alt_xref", "chebi:9"),
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


PFX = {"ex": EX}


def test_basic_bgp_join(triples):
    got = sparql_select(
        triples,
        """SELECT ?e ?n WHERE { ?e ex:type "gene" . ?e ex:name ?n }""",
        prefixes=PFX,
    )
    assert got.columns == ["e", "n"]
    assert {(r.e, r.n) for r in got.collect()} == {
        (EX + "a", "alpha"), (EX + "b", "beta"), (EX + "d", "delta"),
    }


def test_inline_prefix_and_full_iri(triples):
    got = sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?n WHERE { <http://ex.org/c> ex:name ?n }""",
    )
    assert [r.n for r in got.collect()] == ["gamma"]


def test_optional_extends_with_nulls(triples):
    got = {
        r.n: r.x
        for r in sparql_select(
            triples,
            """SELECT ?n ?x WHERE {
                 ?e ex:type "gene" . ?e ex:name ?n .
                 OPTIONAL { ?e ex:xref ?x }
               }""",
            prefixes=PFX,
        ).collect()
    }
    assert got == {"alpha": "chebi:1", "beta": None, "delta": None}


def test_chained_optionals_coalesce(triples):
    """Compatible-mapping LeftJoin: an unbound left var takes the later
    optional's binding — the reference's chebi-priority idiom."""
    got = {
        r.n: r.x
        for r in sparql_select(
            triples,
            """SELECT ?n ?x WHERE {
                 ?e ex:type "gene" . ?e ex:name ?n .
                 OPTIONAL { ?e ex:xref ?x }
                 OPTIONAL { ?e ex:alt_xref ?x }
               }""",
            prefixes=PFX,
        ).collect()
    }
    # a: bound by the first optional; d: only by the second; b: neither
    assert got == {"alpha": "chebi:1", "beta": None, "delta": "chebi:9"}


def test_filter_comparison_and_bound(triples):
    got = sparql_select(
        triples,
        """SELECT ?n WHERE {
             ?e ex:type "gene" . ?e ex:name ?n .
             OPTIONAL { ?e ex:xref ?x }
             FILTER(!BOUND(?x) && ?n != "beta")
           }""",
        prefixes=PFX,
    )
    assert [r.n for r in got.collect()] == ["delta"]


def test_filter_inside_optional(triples):
    """A FILTER inside the OPTIONAL group constrains the group, not the
    outer rows: non-matching rows keep NULL instead of dropping."""
    got = {
        r.n: r.x
        for r in sparql_select(
            triples,
            """SELECT ?n ?x WHERE {
                 ?e ex:type "gene" . ?e ex:name ?n .
                 OPTIONAL { ?e ex:xref ?x . FILTER(STRSTARTS(?x, "uniprot:")) }
               }""",
            prefixes=PFX,
        ).collect()
    }
    assert got == {"alpha": None, "beta": None, "delta": None}


def test_filter_regex_contains(triples):
    got = sparql_select(
        triples,
        """SELECT ?n WHERE {
             ?e ex:name ?n . FILTER(REGEX(?n, "^[ad]") || CONTAINS(?n, "mm"))
           }""",
        prefixes=PFX,
    )
    assert sorted(r.n for r in got.collect()) == ["alpha", "delta", "gamma"]


def test_bindings_parameterize(triples):
    """The rdflib initBindings equivalent: constrain a variable."""
    got = sparql_select(
        triples,
        """SELECT ?m WHERE { ?pw ex:member ?m }""",
        prefixes=PFX,
        bindings={"pw": EX + "c"},
    )
    assert sorted(r.m for r in got.collect()) == [EX + "a", EX + "b"]


def test_select_star_and_repeated_var(triples):
    got = sparql_select(
        triples,
        """SELECT * WHERE { ?e ex:member ?m . ?m ex:type ?t }""",
        prefixes=PFX,
    )
    assert sorted(got.columns) == ["e", "m", "t"]
    assert got.count() == 2


def test_planner_plan_is_joins_not_udfs(triples):
    """The compiled plan is pure Catalyst: scan filters + hash joins, no
    Python evaluation anywhere."""
    got = sparql_select(
        triples,
        """SELECT ?e ?n WHERE { ?e ex:type "gene" . ?e ex:name ?n }""",
        prefixes=PFX,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_errors(triples):
    for q, msg in [
        ("ASK { ?a ex:type ?t }", "SELECT"),
        ("SELECT ?a WHERE { OPTIONAL { ?a ex:type ?t } }", "OPTIONAL"),
        ("SELECT ?a WHERE { ?a unknown:p ?b }", "prefix"),
        ("SELECT ?zz WHERE { ?a ex:type ?t }", "never bound"),
        ("SELECT ?a WHERE { ?a ex:type ?t . FILTER(?nope = \"x\") }", "unbound"),
    ]:
        with pytest.raises(SparqlError, match=msg):
            sparql_select(triples, q, prefixes=PFX).collect()


def test_union_branches(triples):
    got = sparql_select(
        triples,
        """SELECT ?e ?x WHERE {
             ?e ex:type "gene" .
             { ?e ex:xref ?x } UNION { ?e ex:alt_xref ?x }
           }""",
        prefixes=PFX,
    )
    assert {(r.e, r.x) for r in got.collect()} == {
        (EX + "a", "chebi:1"), (EX + "d", "chebi:9"),
    }


def test_union_pads_missing_vars(triples):
    got = sparql_select(
        triples,
        """SELECT ?n ?x WHERE {
             { ?e ex:name ?n . ?e ex:type "pathway" }
             UNION { ?e ex:xref ?x . ?e ex:name ?n }
           }""",
        prefixes=PFX,
    )
    assert {(r.n, r.x) for r in got.collect()} == {
        ("gamma", None), ("alpha", "chebi:1"),
    }


def test_union_after_binding_on_partial_var_rejected(triples):
    """A var already bound that only SOME union branches bind would need a
    right-nullable compatible join — rejected, not silently null-dropped."""
    with pytest.raises(SparqlError, match="bound in every branch"):
        sparql_select(
            triples,
            """SELECT ?e WHERE {
                 ?y ex:name ?x .
                 { ?e ex:xref ?x } UNION { ?e ex:type ?t }
               }""",
            prefixes=PFX,
        )


def test_union_then_pattern_rebinds_partial_var(triples):
    """The mirror case IS supported: a union-partial var joined by a LATER
    triple pattern rides the left-nullable compatible join (unbound union
    rows take the pattern's binding)."""
    got = sparql_select(
        triples,
        """SELECT ?e ?x WHERE {
             { ?e ex:xref ?x } UNION { ?e ex:alt_xref ?x }
             ?e ex:type "gene" .
           }""",
        prefixes=PFX,
    )
    assert {(r.e, r.x) for r in got.collect()} == {
        (EX + "a", "chebi:1"), (EX + "d", "chebi:9"),
    }


def test_constant_predicate_pushed_to_parquet_scan(spark, tmp_path, triples):
    """The 100 TB contract: a constant-predicate pattern's filter must reach
    the parquet scan (PushedFilters), so a p-partitioned/bucketed triples
    layout prunes to the predicate slice instead of scanning everything."""
    path = str(tmp_path / "triples.parquet")
    triples.write.parquet(path)
    tdf = spark.read.parquet(path)
    got = sparql_select(
        tdf,
        """SELECT ?e ?n WHERE { ?e ex:type "gene" . ?e ex:name ?n }""",
        prefixes=PFX,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "http://ex.org/type" in plan  # the predicate constant reached the scan
    assert plan.count("BatchEvalPython") == 0


# ------------------------------------------- solution modifiers (round 7)


def test_distinct_dedups_fanout(triples):
    """?p has two members, so plain SELECT repeats the pathway row;
    DISTINCT collapses it."""
    q = """SELECT %s ?p WHERE { ?p ex:member ?m . ?p ex:type "pathway" }"""
    plain = sparql_select(triples, q % "", prefixes=PFX)
    dedup = sparql_select(triples, q % "DISTINCT", prefixes=PFX)
    assert plain.count() == 2 and dedup.count() == 1


def test_order_by_limit_topk(triples):
    got = sparql_select(
        triples,
        """SELECT ?e ?n WHERE { ?e ex:type "gene" . ?e ex:name ?n }
           ORDER BY DESC(?n) LIMIT 2""",
        prefixes=PFX,
    )
    assert [r.n for r in got.collect()] == ["delta", "beta"]
    # TakeOrdered, not a global sort barrier
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan


def test_order_by_unprojected_var(triples):
    """Non-DISTINCT queries may sort on a var the projection drops."""
    got = sparql_select(
        triples,
        """SELECT ?n WHERE { ?e ex:type "gene" . ?e ex:name ?n }
           ORDER BY ?e LIMIT 1""",
        prefixes=PFX,
    )
    assert [r.n for r in got.collect()] == ["alpha"]


def test_values_single_var(triples):
    got = sparql_select(
        triples,
        """SELECT ?e ?n WHERE {
             VALUES ?n { "alpha" "gamma" "nope" }
             ?e ex:name ?n
           }""",
        prefixes=PFX,
    )
    assert {(r.e, r.n) for r in got.collect()} == {
        (EX + "a", "alpha"), (EX + "c", "gamma"),
    }


def test_values_multi_var_undef(triples):
    """UNDEF on a NEW variable leaves it unbound (NULL) on that row."""
    got = sparql_select(
        triples,
        """SELECT ?e ?n ?tag WHERE {
             ?e ex:name ?n .
             VALUES (?n ?tag) { ("alpha" "A") ("beta" UNDEF) }
           }""",
        prefixes=PFX,
    )
    assert {(r.e, r.n, r.tag) for r in got.collect()} == {
        (EX + "a", "alpha", "A"), (EX + "b", "beta", None),
    }


def test_values_is_broadcast_join(triples):
    """The inline data joins as a broadcast hash join — the pattern side
    never shuffles for a VALUES binding table."""
    got = sparql_select(
        triples,
        """SELECT ?e ?n WHERE {
             ?e ex:name ?n . VALUES ?n { "alpha" "beta" }
           }""",
        prefixes=PFX,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert {(r.e, r.n) for r in got.collect()} == {
        (EX + "a", "alpha"), (EX + "b", "beta"),
    }


def test_values_undef_on_bound_var_rejected(triples):
    with pytest.raises(SparqlError, match="UNDEF on already-bound"):
        sparql_select(
            triples,
            """SELECT ?e ?n WHERE {
                 ?e ex:name ?n . VALUES (?n ?z) { (UNDEF "q") }
               }""",
            prefixes=PFX,
        )


def test_values_data_row_var_rejected(triples):
    with pytest.raises(SparqlError, match="cannot contain variables"):
        sparql_select(
            triples,
            """SELECT ?e WHERE { VALUES ?n { ?e } ?e ex:name ?n }""",
            prefixes=PFX,
        )


def test_property_path_chains(triples):
    """?pw ex:member/ex:name ?n desugars into two patterns through an
    anonymous internal variable that never projects."""
    got = sparql_select(
        triples,
        """SELECT ?pw ?n WHERE { ?pw ex:member/ex:name ?n }""",
        prefixes=PFX,
    )
    assert got.columns == ["pw", "n"]
    assert {(r.pw, r.n) for r in got.collect()} == {
        (EX + "c", "alpha"), (EX + "c", "beta"),
    }


def test_property_path_star_hides_internals(triples):
    got = sparql_select(
        triples,
        """SELECT * WHERE { ?pw ex:member/ex:xref ?x }""",
        prefixes=PFX,
    )
    assert sorted(got.columns) == ["pw", "x"]
    assert {(r.pw, r.x) for r in got.collect()} == {(EX + "c", "chebi:1")}


def test_property_path_three_segments(triples):
    got = sparql_select(
        triples,
        """SELECT ?pw ?t WHERE { ?pw ex:member/ex:xref/ex:missing ?t }""",
        prefixes=PFX,
    )
    assert got.count() == 0  # chain breaks at the third hop


def test_property_path_inverse(triples):
    """^p swaps subject/object: members reached from their pathway."""
    got = sparql_select(
        triples,
        """SELECT ?m ?pw WHERE { ?m ^ex:member ?pw }""",
        prefixes=PFX,
    )
    assert {(r.m, r.pw) for r in got.collect()} == {
        (EX + "a", EX + "c"), (EX + "b", EX + "c"),
    }


def test_property_path_alternation(triples):
    """a|b unions the hop scans (the reference's xref-fallback idiom as
    one hop instead of chained OPTIONALs)."""
    got = sparql_select(
        triples,
        """SELECT ?e ?x WHERE { ?e ex:xref|ex:alt_xref ?x }""",
        prefixes=PFX,
    )
    assert {(r.e, r.x) for r in got.collect()} == {
        (EX + "a", "chebi:1"), (EX + "d", "chebi:9"),
    }


@pytest.fixture(scope="module")
def chain_triples(spark):
    rows = (
        [(EX + c, EX + "under", EX + n) for c, n in
         [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("z1", "z2")]]
        + [(EX + "p", EX + "loops", EX + "q"), (EX + "q", EX + "loops", EX + "p")]
        + [(EX + n, EX + "name", n) for n in ["n1", "n2", "n3", "n4"]]
    )
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_property_path_plus_closure(chain_triples):
    got = sparql_select(
        chain_triples,
        """SELECT ?x ?y WHERE { ?x ex:under+ ?y }""",
        prefixes=PFX,
    )
    pairs = {(r.x.rsplit("/", 1)[1], r.y.rsplit("/", 1)[1]) for r in got.collect()}
    assert pairs == {
        ("n1", "n2"), ("n1", "n3"), ("n1", "n4"),
        ("n2", "n3"), ("n2", "n4"), ("n3", "n4"), ("z1", "z2"),
    }


def test_property_path_plus_cycle_terminates(chain_triples):
    """A 2-cycle must close to the 4 distinct pairs (incl. self-reach via
    the cycle) and terminate — the anti-join absorbs revisits."""
    got = sparql_select(
        chain_triples,
        """SELECT ?x ?y WHERE { ?x ex:loops+ ?y }""",
        prefixes=PFX,
    )
    pairs = {(r.x.rsplit("/", 1)[1], r.y.rsplit("/", 1)[1]) for r in got.collect()}
    assert pairs == {("p", "p"), ("p", "q"), ("q", "p"), ("q", "q")}


def test_property_path_plus_in_sequence(chain_triples):
    """p+/name composes: all transitive containers' names of n1."""
    got = sparql_select(
        chain_triples,
        """SELECT ?n WHERE { ?x ex:name "n1" . ?x ex:under+/ex:name ?n }""",
        prefixes=PFX,
    )
    assert sorted(r.n for r in got.collect()) == ["n2", "n3", "n4"]


def test_property_path_plus_depth_exhaustion_raises(chain_triples):
    """Exhausting max_path_depth with the frontier still growing must
    RAISE — a truncated closure is a silently wrong answer."""
    with pytest.raises(SparqlError, match="did not converge"):
        sparql_select(
            chain_triples,
            """SELECT ?x ?y WHERE { ?x ex:under+ ?y }""",
            prefixes=PFX,
            max_path_depth=0,
        ).count()
    # exactly-at-the-bound convergence is NOT an error (chain depth 3
    # needs 2 extension rounds beyond the direct hops)
    got = sparql_select(
        chain_triples,
        """SELECT ?x ?y WHERE { ?x ex:under+ ?y }""",
        prefixes=PFX,
        max_path_depth=2,
    )
    assert got.count() == 7


def test_property_path_plus_constant_seed(chain_triples):
    """<node> p+ ?o runs the reachability BFS (constant-seeded closure),
    and ?s p+ <node> the inverse — results equal the pair-closure slice."""
    got = sparql_select(
        chain_triples,
        """SELECT ?y WHERE { <http://ex.org/n1> ex:under+ ?y }""",
        prefixes=PFX,
    )
    assert sorted(r.y.rsplit("/", 1)[1] for r in got.collect()) == [
        "n2", "n3", "n4"
    ]
    got = sparql_select(
        chain_triples,
        """SELECT ?x WHERE { ?x ex:under+ <http://ex.org/n4> }""",
        prefixes=PFX,
    )
    assert sorted(r.x.rsplit("/", 1)[1] for r in got.collect()) == [
        "n1", "n2", "n3"
    ]


def test_all_constant_pattern_is_existence_guard(triples):
    """A pattern with every term constant (written literally or via
    bindings= substitution) keeps/drops solutions by its existence —
    the rdflib behavior, not an error."""
    # matching guard: no-op
    got = sparql_select(
        triples,
        """SELECT ?n WHERE {
             <http://ex.org/a> ex:type "gene" . ?e ex:name ?n
           }""",
        prefixes=PFX,
    )
    assert got.count() == 4
    # non-matching guard: empties the group
    got = sparql_select(
        triples,
        """SELECT ?n WHERE {
             <http://ex.org/a> ex:type "nope" . ?e ex:name ?n
           }""",
        prefixes=PFX,
    )
    assert got.count() == 0
    # the code-review repro: bindings covering every var of the pattern
    got = sparql_select(
        triples,
        """SELECT ?e ?n WHERE { ?e ex:name ?n }""",
        prefixes=PFX,
        bindings={"e": EX + "a", "n": "alpha"},
    )
    assert [(r.e, r.n) for r in got.collect()] == [(EX + "a", "alpha")]
    got = sparql_select(
        triples,
        """SELECT ?e ?n WHERE { ?e ex:name ?n }""",
        prefixes=PFX,
        bindings={"e": EX + "a", "n": "WRONG"},
    )
    assert got.count() == 0


def test_optional_after_constant_guard(triples):
    """A guards-only prefix leaves the empty solution; OPTIONAL extends
    it (or leaves the var unbound when the guard's subject has none)."""
    got = sparql_select(
        triples,
        """SELECT ?x WHERE {
             <http://ex.org/a> ex:type "gene" .
             OPTIONAL { <http://ex.org/a> ex:xref ?x }
           }""",
        prefixes=PFX,
    )
    assert [r.x for r in got.collect()] == ["chebi:1"]
    got = sparql_select(
        triples,
        """SELECT ?x WHERE {
             <http://ex.org/b> ex:type "gene" .
             OPTIONAL { <http://ex.org/b> ex:xref ?x }
           }""",
        prefixes=PFX,
    )
    assert [r.x for r in got.collect()] == [None]


def test_values_fully_consumed_by_bindings(triples):
    """The code-review repro: a VALUES clause whose every variable is
    bound keeps its row multiplicity (compatible rows) or empties the
    group (no compatible row) — never 'empty group pattern'."""
    got = sparql_select(
        triples,
        """SELECT ?v WHERE { VALUES ?v { "a" "b" } }""",
        prefixes=PFX,
        bindings={"v": "a"},
    )
    assert [r.v for r in got.collect()] == ["a"]
    got = sparql_select(
        triples,
        """SELECT ?v WHERE { VALUES ?v { "a" "b" } }""",
        prefixes=PFX,
        bindings={"v": "zzz"},
    )
    assert got.count() == 0
    # consumed VALUES alongside a live pattern: guard + multiplicity
    got = sparql_select(
        triples,
        """SELECT ?e WHERE { ?e ex:type "gene" . VALUES ?t { "x" } }""",
        prefixes=PFX,
        bindings={"t": "x"},
    )
    assert got.count() == 3


def test_failed_guard_skips_closure_iteration(chain_triples):
    """A group already emptied by a failed constant guard must not pay —
    or spuriously raise from — the p+ closure: the correct answer is the
    empty set even when the graph has paths beyond max_path_depth."""
    got = sparql_select(
        chain_triples,
        """SELECT ?x ?y WHERE {
             <http://ex.org/nope> ex:name "missing" .
             ?x ex:under+ ?y
           }""",
        prefixes=PFX,
        max_path_depth=0,  # would raise 'did not converge' if iterated
    )
    assert got.count() == 0
    assert got.columns == ["x", "y"]  # schema survives the short-circuit


def test_property_path_var_segment_rejected(triples):
    with pytest.raises(SparqlError, match="property paths"):
        sparql_select(
            triples,
            """SELECT ?s ?o WHERE { ?s ex:member/?p ?o }""",
            prefixes=PFX,
        )


def test_filter_not_exists(triples):
    got = sparql_select(
        triples,
        """SELECT ?n WHERE {
             ?e ex:type "gene" . ?e ex:name ?n .
             FILTER NOT EXISTS { ?e ex:xref ?x }
           }""",
        prefixes=PFX,
    )
    assert sorted(r.n for r in got.collect()) == ["beta", "delta"]
    # the anti join is a hash join, never a per-row subquery
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "BroadcastNestedLoopJoin" not in plan


def test_filter_exists_and_minus(triples):
    q = """SELECT ?n WHERE {
             ?e ex:type "gene" . ?e ex:name ?n . %s { ?e ex:alt_xref ?x }
           }"""
    ex = sparql_select(triples, q % "FILTER EXISTS", prefixes=PFX)
    assert sorted(r.n for r in ex.collect()) == ["delta"]
    mi = sparql_select(triples, q % "MINUS", prefixes=PFX)
    assert sorted(r.n for r in mi.collect()) == ["alpha", "beta"]


def test_not_exists_with_inner_filter(triples):
    """The inner group's FILTER constrains what must not exist."""
    got = sparql_select(
        triples,
        """SELECT ?n WHERE {
             ?e ex:type "gene" . ?e ex:name ?n .
             FILTER NOT EXISTS {
                 ?e ex:xref ?x . FILTER(STRSTARTS(?x, "uniprot:"))
             }
           }""",
        prefixes=PFX,
    )
    # nobody has a uniprot xref, so nothing is excluded
    assert sorted(r.n for r in got.collect()) == ["alpha", "beta", "delta"]


def test_not_exists_subset_boundaries(triples):
    with pytest.raises(SparqlError, match="shared"):
        sparql_select(
            triples,
            """SELECT ?n WHERE {
                 ?e ex:name ?n . FILTER NOT EXISTS { ?q ex:xref ?x }
               }""",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="possibly-unbound"):
        sparql_select(
            triples,
            """SELECT ?n WHERE {
                 ?e ex:name ?n .
                 OPTIONAL { ?e ex:xref ?x }
                 FILTER NOT EXISTS { ?y ex:alt_xref ?x }
               }""",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="first pattern"):
        sparql_select(
            triples,
            """SELECT ?n WHERE { MINUS { ?e ex:name ?n } }""",
            prefixes=PFX,
        )


def test_bindings_substitute_into_scan(spark, tmp_path, triples):
    """initBindings constants reach the parquet scan as pushed filters
    (substitution, not a post-join filter)."""
    path = str(tmp_path / "triples_bind.parquet")
    triples.write.parquet(path)
    tdf = spark.read.parquet(path)
    got = sparql_select(
        tdf,
        """SELECT ?m WHERE { ?pw ex:member ?m }""",
        prefixes=PFX,
        bindings={"pw": EX + "c"},
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "http://ex.org/c" in plan
    assert sorted(r.m for r in got.collect()) == [EX + "a", EX + "b"]


def test_bindings_on_optional_var_keeps_unmatched_rows(triples):
    """rdflib parity: binding a variable that only OPTIONAL binds keeps
    left rows whose optional side doesn't match — the binding constrains
    the optional PATTERN and every solution carries the constant."""
    got = sparql_select(
        triples,
        """SELECT ?n ?x WHERE {
             ?e ex:type "gene" . ?e ex:name ?n .
             OPTIONAL { ?e ex:xref ?x }
           }""",
        prefixes=PFX,
        bindings={"x": "chebi:1"},
    )
    rows = {(r.n, r.x) for r in got.collect()}
    # all three gene rows survive; ?x is the bound constant everywhere
    assert rows == {
        ("alpha", "chebi:1"), ("beta", "chebi:1"), ("delta", "chebi:1"),
    }


def test_bindings_filter_values_interplay(triples):
    # binding flows into FILTER comparisons as a literal
    got = sparql_select(
        triples,
        """SELECT ?e WHERE { ?e ex:name ?n . FILTER(?n = ?want) }""",
        prefixes=PFX,
        bindings={"want": "beta", "n": "beta"},
    )
    assert [r.e for r in got.collect()] == [EX + "b"]
    # bindings substitute inside IN lists, arithmetic, function arguments
    # and boolean operators (and only appear there)
    got = sparql_select(
        triples,
        """SELECT ?e WHERE { ?e ex:name ?n .
             FILTER(?n IN (?w1, ?w2))
             FILTER(STRLEN(?n) + ?k > 5)
             FILTER(!(?n = ?bad) && (CONTAINS(?n, ?frag) || ?n = ?bad)) }""",
        prefixes=PFX,
        bindings={"w1": "alpha", "w2": "delta", "k": "1", "bad": "alpha",
                  "frag": "el"},
    )
    assert [r.e for r in got.collect()] == [EX + "d"]
    # binding incompatible with every VALUES row empties the result
    got = sparql_select(
        triples,
        """SELECT ?e WHERE { ?e ex:name ?n . VALUES ?n { "alpha" } }""",
        prefixes=PFX,
        bindings={"n": "zzz"},
    )
    assert got.count() == 0


def test_bindings_unknown_var_rejected(triples):
    with pytest.raises(SparqlError, match="not in the pattern"):
        sparql_select(
            triples,
            """SELECT ?m WHERE { ?pw ex:member ?m }""",
            prefixes=PFX,
            bindings={"nope": "x"},
        )


def test_modifier_errors(triples):
    with pytest.raises(SparqlError, match="LIMIT expects"):
        sparql_select(
            triples, "SELECT ?e WHERE { ?e ex:type ?t } LIMIT 1.5",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="ORDER BY needs"):
        sparql_select(
            triples, "SELECT ?e WHERE { ?e ex:type ?t } ORDER BY",
            prefixes=PFX,
        )
    with pytest.raises(SparqlError, match="not bound here"):
        sparql_select(
            triples,
            "SELECT DISTINCT ?e WHERE { ?e ex:name ?n } ORDER BY ?n",
            prefixes=PFX,
        ).collect()
