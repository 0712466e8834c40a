"""Round-11 SPARQL builtin round-out: STRENDS / STRBEFORE / STRAFTER,
numeric ABS / ROUND / CEIL / FLOOR, term tests isNumeric / isBlank /
sameTerm (and the isLiteral blank-exclusion tightening), REGEX flags, and
the string-model LANG / DATATYPE.

Pins bio2bel_spark/sparql.py:_compile_filter / _value_expr /
_expr_introduces_null — parity target: rdflib evaluation of the same
queries over a simple-literal-only graph (the N-Triples scan strips
@lang/^^dt at ingest, ingest.py:219, so LANG=""/DATATYPE=xsd:string ARE
the exact answers for every term the model can represent; reference
surface: src/bio2bel/sources/rhea.py:38-47 runs arbitrary rdflib SPARQL).
"""

from __future__ import annotations

import pytest

from bio2bel_spark.sparql import SparqlError, sparql_select

EX = "http://ex.org/"
PFX = {"ex": EX}
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


@pytest.fixture(scope="module")
def terms(spark):
    rows = [
        (EX + "a", EX + "name", "alpha"),
        (EX + "a", EX + "score", "-2.5"),
        (EX + "b", EX + "name", "beta"),
        (EX + "b", EX + "score", "3.25"),
        (EX + "c", EX + "name", "Gamma ray"),
        (EX + "c", EX + "score", "n/a"),
        (EX + "d", EX + "name", "_:b7"),          # blank-label-shaped object
        (EX + "d", EX + "link", EX + "a"),        # IRI-valued object
    ]
    return spark.createDataFrame(rows, "s string, p string, o string")


def _rows(df, q, **kw):
    return sparql_select(df, q, prefixes=PFX, **kw).collect()


def _vals(df, q, var="v", **kw):
    return sorted(
        (r.s.rsplit("/", 1)[-1], r[var]) for r in _rows(df, q, **kw)
    )


# ------------------------------------------------------------- string tests


def test_strends(terms):
    got = _rows(
        terms, 'SELECT ?s WHERE { ?s ex:name ?n . FILTER(STRENDS(?n, "a")) }'
    )
    assert sorted(r.s[-1] for r in got) == ["a", "b"]


def test_strbefore_strafter(terms):
    got = _vals(
        terms,
        'SELECT ?s ?v WHERE { ?s ex:name ?n . '
        'BIND(STRBEFORE(?n, "a") AS ?v) }',
    )
    # first occurrence only; no match -> "" (fn:substring-before)
    assert got == [("a", ""), ("b", "bet"), ("c", "G"), ("d", "")]
    got2 = _vals(
        terms,
        'SELECT ?s ?v WHERE { ?s ex:name ?n . '
        'BIND(STRAFTER(?n, "a") AS ?v) }',
    )
    assert got2 == [("a", "lpha"), ("b", ""), ("c", "mma ray"), ("d", "")]


def test_str_before_after_empty_needle(terms):
    # XPath: substring-before(s, "") = "", substring-after(s, "") = s
    got = _vals(
        terms,
        'SELECT ?s ?v WHERE { ?s ex:name ?n . FILTER(?s = "http://ex.org/a") '
        'BIND(STRBEFORE(?n, "") AS ?v) }',
    )
    assert got == [("a", "")]
    got2 = _vals(
        terms,
        'SELECT ?s ?v WHERE { ?s ex:name ?n . FILTER(?s = "http://ex.org/a") '
        'BIND(STRAFTER(?n, "") AS ?v) }',
    )
    assert got2 == [("a", "alpha")]


def test_strbefore_rejects_non_literal_needle(terms):
    with pytest.raises(SparqlError, match="literal"):
        _rows(
            terms,
            "SELECT ?s WHERE { ?s ex:name ?n . "
            "BIND(STRBEFORE(?n, ?n) AS ?v) }",
        )


def test_regex_flags(terms):
    got = _rows(
        terms,
        'SELECT ?s WHERE { ?s ex:name ?n . FILTER(REGEX(?n, "^gamma", "i")) }',
    )
    assert [r.s[-1] for r in got] == ["c"]
    with pytest.raises(SparqlError, match="flags"):
        _rows(
            terms,
            'SELECT ?s WHERE { ?s ex:name ?n . FILTER(REGEX(?n, "a", "q")) }',
        )


# ------------------------------------------------------------ numeric fns


def test_abs_ceil_floor(terms):
    got = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:score ?x . BIND(ABS(?x) AS ?v) }",
    )
    # non-numeric lexical form -> expression error -> unbound (None)
    assert got == [("a", "2.5"), ("b", "3.25"), ("c", None)]
    got2 = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:score ?x . BIND(CEIL(?x) AS ?v) }",
    )
    assert got2 == [("a", "-2"), ("b", "4"), ("c", None)]
    got3 = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:score ?x . BIND(FLOOR(?x) AS ?v) }",
    )
    assert got3 == [("a", "-3"), ("b", "3"), ("c", None)]


def test_round_half_toward_positive_infinity(terms):
    # XPath fn:round: ROUND(-2.5) = -2 (toward +inf), NOT -3 (HALF_UP)
    got = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:score ?x . BIND(ROUND(?x) AS ?v) }",
    )
    assert got == [("a", "-2"), ("b", "3"), ("c", None)]


def test_isnumeric(terms):
    got = _rows(
        terms,
        "SELECT ?s WHERE { ?s ex:score ?x . FILTER(ISNUMERIC(?x)) }",
    )
    assert sorted(r.s[-1] for r in got) == ["a", "b"]
    # negated form keeps only the non-numeric lexical form
    got2 = _rows(
        terms,
        "SELECT ?s WHERE { ?s ex:score ?x . FILTER(!ISNUMERIC(?x)) }",
    )
    assert [r.s[-1] for r in got2] == ["c"]


# ------------------------------------------------------------- term tests


def test_isblank_and_isliteral_exclude_each_other(terms):
    blank = _rows(
        terms, "SELECT ?s ?o WHERE { ?s ex:name ?o . FILTER(ISBLANK(?o)) }"
    )
    assert [(r.s[-1], r.o) for r in blank] == [("d", "_:b7")]
    lits = _rows(
        terms, "SELECT ?s WHERE { ?s ex:name ?o . FILTER(ISLITERAL(?o)) }"
    )
    # the blank-labelled object is NOT a literal (round-11 tightening)
    assert sorted(r.s[-1] for r in lits) == ["a", "b", "c"]


def test_sameterm(terms):
    got = _rows(
        terms,
        "SELECT ?s WHERE { ?s ex:link ?x . ?y ex:name ?n . "
        "FILTER(SAMETERM(?x, ?y)) }",
    )
    assert [r.s[-1] for r in got] == ["d"]
    with pytest.raises(SparqlError, match="two arguments"):
        _rows(terms, "SELECT ?s WHERE { ?s ex:link ?x . FILTER(SAMETERM(?x)) }")


# -------------------------------------------------------- LANG / DATATYPE


def test_lang_simple_literal_is_empty_iri_is_error(terms):
    got = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:name ?n . BIND(LANG(?n) AS ?v) }",
    )
    # simple literals -> ""; the blank-shaped term -> error -> unbound
    assert got == [("a", ""), ("b", ""), ("c", ""), ("d", None)]
    iri = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:link ?x . BIND(LANG(?x) AS ?v) }",
    )
    assert iri == [("d", None)]


def test_datatype_simple_literal_is_xsd_string(terms):
    got = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:score ?x . BIND(DATATYPE(?x) AS ?v) }",
    )
    assert got == [
        ("a", XSD_STRING), ("b", XSD_STRING), ("c", XSD_STRING),
    ]
    iri = _vals(
        terms,
        "SELECT ?s ?v WHERE { ?s ex:link ?x . BIND(DATATYPE(?x) AS ?v) }",
    )
    assert iri == [("d", None)]


# ------------------------------- nullable tracking for error-prone BINDs


def test_bind_introduced_null_keeps_compatible_mapping(spark):
    """ABS over a bound-but-non-numeric value leaves ?n unbound; a later
    OPTIONAL sharing ?n must treat that row as compatible (coalesce), not
    drop it — pins _expr_introduces_null feeding _join_compatible's soft
    (IS NULL OR =) key set."""
    rows = [
        (EX + "a", EX + "val", "-2"),
        (EX + "b", EX + "val", "x"),
        (EX + "a", EX + "abs", "2.0"),
        (EX + "b", EX + "abs", "anything"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    got = sparql_select(
        t,
        "SELECT ?s ?n WHERE { ?s ex:val ?v . BIND(ABS(?v) AS ?n) "
        "OPTIONAL { ?s ex:abs ?n } }",
        prefixes=PFX,
    ).collect()
    by_s = {r.s[-1]: r.n for r in got}
    # a: ?n bound to "2.0" by the BIND, the OPTIONAL row agrees
    # b: ?n unbound by the BIND (error), compatible -> takes "anything"
    assert by_s == {"a": "2.0", "b": "anything"}
    # the error source (ABS, or ?w that only OPTIONAL binds) nested
    # under each boolean operator still makes ?n nullable: b keeps
    # "anything", a keeps its own boolean
    t = spark.createDataFrame(
        rows + [(EX + "a", EX + "opt", "1")], "s string, p string, o string"
    )
    for expr in (
        "!(ABS(?v) > 5)",
        'ABS(?v) > 5 || ?v = "-2"',
        'ABS(?v) > 0 && ?v != "q"',
        "ABS(?v) IN (2)",
        '!(?w = "0")',
        '?w = "1" || ?v = "zz"',
        '?w = "1" && ?v != "q"',
        '?w IN ("1")',
    ):
        got = sparql_select(
            t,
            "SELECT ?s ?n WHERE { ?s ex:val ?v . OPTIONAL { ?s ex:opt ?w } "
            f"BIND({expr} AS ?n) OPTIONAL {{ ?s ex:abs ?n }} }}",
            prefixes=PFX,
        ).collect()
        by_s = {r.s[-1]: r.n for r in got}
        assert by_s["b"] == "anything", expr
        assert by_s["a"] not in (None, "2.0"), expr


def test_nested_null_introducer_detected(spark):
    """The walk must find LANG nested inside CONCAT/IF arguments."""
    rows = [(EX + "a", EX + "link", EX + "b")]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    got = sparql_select(
        t,
        'SELECT ?s ?v WHERE { ?s ex:link ?x . '
        'BIND(CONCAT("t:", LANG(?x)) AS ?v) }',
        prefixes=PFX,
    ).collect()
    # CONCAT over an error is an error -> unbound
    assert [r.v for r in got] == [None]


def test_numeric_fns_domain_is_isnumeric(spark):
    """ROUND/ABS reject exactly what isNumeric rejects: "NaN"/"Infinity"
    parse as doubles in Spark but are NOT xsd numeric lexical forms — they
    must be expression errors (unbound), not a clamped 0 / Long.MAX."""
    rows = [
        (EX + "a", EX + "v", "NaN"),
        (EX + "b", EX + "v", "Infinity"),
        (EX + "c", EX + "v", "-2.5"),
    ]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    got = _vals(
        t, "SELECT ?s ?v WHERE { ?s ex:v ?x . BIND(ROUND(?x) AS ?v) }"
    )
    assert got == [("a", None), ("b", None), ("c", "-2")]
    got2 = _vals(
        t, "SELECT ?s ?v WHERE { ?s ex:v ?x . BIND(ABS(?x) AS ?v) }"
    )
    assert got2 == [("a", None), ("b", None), ("c", "2.5")]


def test_regex_empty_flags_is_two_arg_form(terms):
    got = _rows(
        terms,
        'SELECT ?s WHERE { ?s ex:name ?n . FILTER(REGEX(?n, "^beta", "")) }',
    )
    assert [r.s[-1] for r in got] == ["b"]


def test_coalesce_single_argument(terms):
    got = _vals(
        terms,
        'SELECT ?s ?v WHERE { ?s ex:name ?n . FILTER(?s = "http://ex.org/a") '
        "BIND(COALESCE(?n) AS ?v) }",
    )
    assert got == [("a", "alpha")]
