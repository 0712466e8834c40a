"""Tiny SPARQL-subset planner: SELECT / triple patterns / OPTIONAL / FILTER
compiled into a DataFrame join tree over a ``triples(s, p, o)`` table.

Parity target: the reference runs arbitrary rdflib SPARQL over downloaded RDF
(``reference src/bio2bel/sources/rhea.py:38-47`` — chained triple patterns —
and ``:75-89`` — OPTIONAL clauses with ``initBindings`` parameterization).
Previously each query shape was hand-compiled into joins (sources/rhea.py);
this planner closes the gap generically: a new RDF source writes its SELECT
once instead of hand-writing the join tree.

Supported subset (everything the reference's queries use, plus FILTER)::

    PREFIX rh: <http://rdf.rhea-db.org/>
    SELECT ?a ?b WHERE {
        ?a rh:pred ?b .
        ?b rh:other "literal" .
        OPTIONAL { ?b rh:maybe ?c . FILTER(?c != "x") }
        FILTER(BOUND(?c) || ?b < "m")
    }

* **Triple pattern**: each of s/p/o is ``?var``, ``<iri>``, ``prefix:name``
  or ``"literal"``. A repeated variable inside one pattern adds an equality.
* **OPTIONAL { group }** — SPARQL LeftJoin with COMPATIBLE-MAPPING
  semantics: a shared variable must agree where BOTH sides bind it, and an
  unbound (NULL) left binding is compatible, taking the optional side's
  value. This is what makes the reference's chained
  ``OPTIONAL {?c rh:chebi ?x}`` fallbacks behave as a priority coalesce.
* **FILTER(expr)**: comparisons over variables and literals, ``&&``/``||``/
  ``!``, ``BOUND(?v)``, ``REGEX(?v, "re")``, ``CONTAINS(?v, "s")``,
  ``STRSTARTS(?v, "s")``, parentheses. A FILTER inside a group applies to
  that group (correct whenever it references group-local variables, which
  is the reference's usage).
* **{ A } UNION { B }** — branch schemas are aligned (a var missing from
  a branch is NULL on its rows) and concatenated; joining a UNION result
  on a variable not bound in every branch is rejected rather than
  silently null-dropped.
* **FILTER [NOT] EXISTS { group } / MINUS { group }** — compiled to a
  semi/anti join on the variables shared with the outer pattern (the
  groups must share ≥1 variable, bound in required patterns on both
  sides — within that subset MINUS and NOT EXISTS coincide, and the
  anti join is a hash join, never a per-row subquery).
* **VALUES ?v { ... } / VALUES (?a ?b) { (..) (..) }** — inline data:
  the rows become a tiny broadcast-joined binding table (``UNDEF`` rows
  leave the variable unbound/NULL). ``UNDEF`` on a variable that is
  already bound when the VALUES joins is outside the subset (it would
  need a right-nullable compatible join) and raises.
* **Property paths** — ``/`` sequence (desugared at parse time into
  chained patterns through fresh internal variables, so each hop stays
  one pushable pattern scan), per-hop ``^`` inverse (swapped scan),
  ``(a|b)`` alternation (union of the hop scans), ``p+`` one-or-more
  (DISTINCT transitive-pair closure via POINTER DOUBLING — the covered
  path length doubles per equi-join round, so a depth-D hierarchy
  closes in ``ceil(log2(D))`` rounds, bounded by ``max_path_depth``;
  a constant endpoint instead seeds an O(frontier)-state reachability
  BFS, ``operators.graph.reachable``, which walks a hop relation within
  its size gate on the driver; evaluation of a closing hop is
  eager), ``p*`` zero-or-more (the closure plus the zero-length rows:
  a constant endpoint matches itself, two variables bind every
  subject/object in the graph),
  ``p?`` zero-or-one, and negated property sets ``!p`` / ``!(a|b)``
  (one NOT-IN scan; composes with ``^`` and length modifiers; inverse
  members inside the set are outside the subset). Only constant
  (IRI/prefixed) segments are supported inside paths, and an
  unparenthesized ``|`` mixed with ``/``/``^``/``!``/modifiers is
  rejected — SPARQL gives ``|`` the lowest
  precedence (``a|b/c`` = ``a|(b/c)``) while this hop-level grammar
  would bind it tightest, so the ambiguous forms demand parentheses
  (``(a|b)/c``) rather than silently diverge. Variable names with the
  reserved ``__path_`` prefix are rejected at tokenize time.
* **Aggregates** — ``SELECT ?g (COUNT(?x) AS ?n) ... GROUP BY ?g`` with
  ``COUNT`` (incl. ``*`` and ``DISTINCT``), ``SUM``/``AVG`` (lexical
  form cast to double; only the UNGROUPED global aggregate over an
  empty input coalesces to ``0.0`` per SPARQL 1.1 §18.5.1 ``Sum({}) =
  0`` — a grouped SUM/AVG whose group binds no values stays NULL,
  matching rdflib and SQL), ``MIN``/``MAX`` (§15.1 VALUE ordering:
  xsd-numeric and xsd:dateTime typed literals compare by value, other
  terms lexically — identical to DuckDB over VARCHAR on untyped data),
  ``SAMPLE`` (evaluated as MIN —
  deterministic and spec-valid); ``DISTINCT`` works in COUNT,
  SUM/AVG (term-multiset dedup via collect_set + array fold),
  MIN/MAX (a no-op on extrema) and ``GROUP_CONCAT`` (incl. ``DISTINCT``
  and ``; SEPARATOR="s"``; values join in SORTED order — the spec leaves
  order undefined, sorting makes it deterministic across partitions).
  Compiled to one ``groupBy().agg()`` —
  map-side partial aggregation, so a grouped count shuffles partial
  counts, not solutions. Non-key SELECT vars must go through an
  aggregate; ``GROUP BY`` without aggregates is DISTINCT over the keys;
  duplicate projection aliases are rejected at compile time. Computed
  keys — ``GROUP BY (UCASE(?t) AS ?k)`` — materialize as named columns
  before the single aggregation. ``OFFSET`` pages the ordered sequence
  (either order with ``LIMIT``). The ``ASK`` form is
  :func:`sparql_ask` — same planner, bounded ``limit(1)`` probe.
* **BIND** — ``BIND (expr AS ?v)`` extends every solution of the pattern
  so far with a computed column (a pure ``withColumn`` — zero shuffles;
  the column materializes as STRING — the binding-table invariant — so
  it joins/unions cleanly with pattern-bound data, booleans taking
  their lexical form).
  Expressions: variables, literals, ``CONCAT``/``STR``/``STRLEN``/
  ``UCASE``/``LCASE``/``SUBSTR``/``REPLACE`` (regex, per fn:replace),
  and any boolean filter expression; the same value functions also work
  inside FILTER comparisons (``FILTER(STRLEN(?n) > 4)``). Per spec an
  expression error (e.g. an OPTIONAL-unbound argument) leaves the BIND
  variable unbound — exactly SQL NULL propagation.
* **HAVING** — ``... GROUP BY ?g HAVING (?n > 2) (COUNT(?x) < 9)``:
  constraints reference group keys, projected aggregate aliases, or
  aggregate calls directly; direct calls become hidden columns of the
  SAME single aggregation (no second shuffle) and the constraint is a
  post-aggregation filter. Multiple constraints conjoin, per spec.
* **bindings=** — TRUE rdflib ``initBindings`` semantics: each binding is
  substituted into the parsed patterns/filters/VALUES as a constant
  BEFORE compilation (so Catalyst pushes the equality into the pattern
  scans), and the variable is re-projected as that constant on every
  result row. In particular a binding on a variable only bound under
  OPTIONAL keeps left rows whose optional side doesn't match — exactly
  rdflib's behavior, NOT a post-hoc ``col == value`` filter (which would
  drop the NULL rows).

* **Typed literals (round 12)** — the scan keeps ``"lex"^^<dt>`` /
  ``"lex"@lang`` serializations verbatim (the ENCODED-TERM model, see
  ``_ENC_LIT_SHAPE``); the same forms are legal literal tokens in query
  text. ``LANG``/``DATATYPE`` read the suffix (plain literals stay
  ``""``/``xsd:string``; ``@lang`` literals are ``rdf:langString``),
  the string/numeric functions and SUM/AVG operate on the lexical form,
  ``isNumeric`` demands an xsd-numeric datatype on typed literals, and a
  comparison with an xsd-numeric typed literal on either side compares
  by VALUE per §17.3 ("10"^^xsd:integer > "9"^^xsd:integer). Everything
  else — joins, GROUP BY, DISTINCT, sameTerm — is term identity on the
  serialization, which is exactly RDF's simple-entailment term equality.
  Round-12 round-out: ``STRLANG``/``STRDT`` construct encoded terms (so
  built terms join like loaded ones), ``LANGMATCHES`` does RFC 4647
  basic filtering, ``YEAR``/``MONTH``/``DAY``/``HOURS``/``MINUTES``/
  ``SECONDS`` read xsd:dateTime lexicals (error-as-NULL on non-datetime
  input), ``MD5``/``SHA1``/``SHA256``/``SHA384``/``SHA512`` hash the
  lexical form, and numeric expressions ``+ - * /`` evaluate in double
  with the spec's precedence and type-error-as-NULL.
* **CONSTRUCT / UPDATE templates** — one QUAD path: every template block
  parses to ``(g, s, p, o)`` quads (g None outside a ``GRAPH`` block) and
  instantiates as one projection of the solutions per quad. An UPDATE
  over a plain ``(s, p, o)`` store runs as a quad store whose rows all
  sit in the default graph (g NULL), and drops g again on return; its
  WHERE still sees the plain triples. A CONSTRUCT template without a
  ``GRAPH`` block returns plain ``(s, p, o)``.

Plan shape (Spark-first): each triple pattern is one filtered projection of
the triples table (constant predicates become pushable scan filters); shared
variables become hash-join keys; Catalyst reorders the join tree, prunes
columns, and pushes the per-pattern filters to the parquet scan. With the
triples table partitioned or bucketed by ``p`` (the classic
vertical-partitioning layout for RDF at scale), a constant-predicate pattern
reads only its predicate slice — the property-table plan, derived rather
than hand-written.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bio2bel_spark.operators.graph import reachable

__all__ = [
    "sparql_select", "sparql_ask", "sparql_construct", "sparql_describe",
    "sparql_update", "SparqlError",
]


class SparqlError(ValueError):
    """Raised on a query outside the supported subset."""


# ------------------------------------------------------------------ tokenizer

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>\#[^\n]*)
  | (?P<iri><[^<>\s]*>)
  | (?P<string>"(?:[^"\\]|\\.)*"(?:\^\^<[^<>\s]*>|\^\^[A-Za-z_][\w.-]*:[\w.-]*|@[A-Za-z]+(?:-[A-Za-z0-9]+)*)?)
  | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<number>-?\d+(?:\.\d+)?)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_.-]*:[A-Za-z0-9_.-]*)
  | (?P<keyword>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>&&|\|\||!=|<=|>=|[{}()\[\].,;=<>!*/|^+?-])
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise SparqlError(f"cannot tokenize at: {text[pos:pos + 30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        if kind == "var" and m.group()[1:].startswith(
            ("__path_", "__having_", "__exists_", "__tv_", "__pg_")
        ):
            # reserved for planner internals (property-path desugaring /
            # HAVING hidden aggregate columns / EXISTS filter markers /
            # trailing-VALUES join columns / per-graph paging row
            # numbers) — a user variable with any of these prefixes
            # would be silently dropped by the internals cleanup or
            # collide with a synthesized column; reject it loudly up
            # front
            raise SparqlError(
                f"variable {m.group()!r} uses a reserved '__path_'/"
                "'__having_'/'__exists_'/'__tv_'/'__pg_' prefix "
                "(planner internals); rename it"
            )
        out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


# --------------------------------------------------------------------- parser
#
# query   := PREFIX* SELECT (var+ | '*') WHERE group
# group   := '{' element ( '.'? element )* '.'? '}'
# element := triple | OPTIONAL group | FILTER '(' expr ')'
# triple  := term term term
# expr    := or-expr with && / ! / comparisons / function calls


#: aggregate functions the SELECT clause accepts (SAMPLE is evaluated as
#: MIN — a deterministic, spec-valid choice of representative)
_AGG_FNS = {"COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT"}

#: value-returning scalar functions (BIND expressions; boolean-returning
#: FILTER functions live in _compile_filter)
_VALUE_FNS = {
    "CONCAT", "STR", "STRLEN", "UCASE", "LCASE", "SUBSTR", "REPLACE",
    "IF", "COALESCE", "STRBEFORE", "STRAFTER",
    "ABS", "ROUND", "CEIL", "FLOOR", "LANG", "DATATYPE",
    "STRLANG", "STRDT",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
    "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
    "IRI", "URI", "ENCODE_FOR_URI",
}

#: boolean-returning functions legal in FILTER (and, via _operand, as
#: comparison operands / IF conditions)
_BOOL_FNS = {
    "BOUND", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS",
    "ISIRI", "ISURI", "ISLITERAL", "ISNUMERIC", "ISBLANK", "SAMETERM",
    "LANGMATCHES",
}

#: value functions that can yield NULL (an expression error) even when
#: every input variable is bound: LANG/DATATYPE error on IRI-shaped terms,
#: the numeric functions error (cast-to-NULL) on non-numeric lexical
#: forms. A BIND over one of these must mark its variable nullable so
#: downstream joins keep SPARQL's compatible-mapping (IS NULL OR =) form.
_NULL_INTRODUCING_FNS = {
    "LANG", "DATATYPE", "ABS", "ROUND", "CEIL", "FLOOR",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS", "TZ",
}

#: the xsd:dateTime lexical space (optional fractional seconds and
#: Z / ±hh:mm offset) — groups 1-6 are the YEAR..SECONDS components
_XSD_DATETIME_SHAPE = (
    r"^(-?\d{4,})-(\d{2})-(\d{2})T(\d{2}):(\d{2})"
    r":(\d{2}(?:\.\d+)?)"  # group 6 = "ss[.fff]" — SECONDS reads the
    r"(?:Z|[+-]\d{2}:\d{2})?$"  # fraction too (§17.4.5.6 xsd:decimal)
)

#: functions whose result is ALWAYS numeric (or NULL) — arithmetic over
#: them skips the _num lexical-shape test (one regex per operand saved
#: on the hot path)
_NUMERIC_RESULT_FNS = {
    "ABS", "ROUND", "CEIL", "FLOOR", "STRLEN",
    "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
}

#: the string-valued triples model carries no term-type tags, so isIRI /
#: isLiteral classify by lexical shape: a term is an IRI iff it looks like
#: a scheme'd identifier — ``scheme://...`` or ``urn:...`` (the two forms
#: every graph this engine loads uses for entity identifiers); a blank
#: node keeps its N-Triples ``_:label`` verbatim through the scan
#: (ingest.py:220 ``otherwise(c)``); everything else bound is a literal.
#: A deliberate, documented approximation of rdflib's term typing.
_IRI_SHAPE = r"^([A-Za-z][A-Za-z0-9+.-]*://|urn:).*"
_BLANK_SHAPE = r"^_:"
#: xsd numeric lexical space (integer/decimal/double incl. exponent form) —
#: the isNumeric test for a model that stores every value as its lexical form
_NUMERIC_SHAPE = r"^[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?$"
_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
_RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
#: the Turtle/SPARQL keyword ``a`` desugars to this IRI in verb position
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

#: ENCODED-TERM MODEL (round 12): a typed or language-tagged literal keeps
#: its N-Triples serialization as the term string — ``"1"^^<...#integer>``,
#: ``"chat"@fr`` — while IRIs, blank labels and PLAIN literals stay bare
#: (the pre-round-12 string model, byte-identical). Term identity is still
#: plain string equality, so BGP joins / GROUP BY / DISTINCT / sameTerm
#: need no type awareness ("1"^^xsd:int and "1" are distinct RDF terms —
#: correct); only the value layer (STR/LANG/DATATYPE, string + numeric
#: functions, comparisons, SUM/AVG) decodes the suffix. The scan keeps the
#: serialization verbatim (ingest.py _term_col), and the query grammar
#: accepts the same two suffix forms on string tokens.
#: Groups (see the _ENC_*_G constants): 1 = lexical form, 2 = the whole
#: suffix, 3 = datatype IRI, 4 = lang tag.
#: _LANGTAG is the N-Triples LANGTAG production — ONE definition shared
#: with the tokenizer and the ingest readers (ingest.py imports it), so
#: the three classifiers can never disagree on what counts as encoded.
_LANGTAG = r"[A-Za-z]+(?:-[A-Za-z0-9]+)*"
_ENC_LIT_SHAPE = r'^"(.*)"(\^\^<([^>]*)>|@(' + _LANGTAG + r"))$"
_ENC_LEX_G, _ENC_DT_G, _ENC_LANG_G = 1, 3, 4
#: the xsd numeric datatypes (§17.3 operand category) as a local-name set
_XSD_NUM_LOCAL = (
    "integer|decimal|double|float|int|long|short|byte|negativeInteger|"
    "nonNegativeInteger|nonPositiveInteger|positiveInteger|unsignedLong|"
    "unsignedInt|unsignedShort|unsignedByte"
)
_XSD_NUMERIC_DT_SHAPE = (
    r"^http://www\.w3\.org/2001/XMLSchema#(" + _XSD_NUM_LOCAL + r")$"
)
#: one-regex test: an encoded literal whose datatype is xsd-numeric
_TYPED_NUM_SHAPE = (
    r'^".*"\^\^<http://www\.w3\.org/2001/XMLSchema#('
    + _XSD_NUM_LOCAL + r")>$"
)
#: the xsd INTEGER family (xsd:integer and its derived types) — the
#: §17.3/XPath type-promotion lattice collapsed to three rungs for
#: aggregate OUTPUT typing: integer < decimal < double (float promotes
#: to double; rdflib does the same collapse for op:numeric-add results)
_XSD_INT_DT_SHAPE = (
    r"^http://www\.w3\.org/2001/XMLSchema#(integer|int|long|short|byte|"
    r"negativeInteger|nonNegativeInteger|nonPositiveInteger|"
    r"positiveInteger|unsignedLong|unsignedInt|unsignedShort|"
    r"unsignedByte)$"
)
_XSD_PFX = "http://www.w3.org/2001/XMLSchema#"


def _numeric_const_forms(v: str) -> "list[str]":
    """The term spellings a NUMERIC-shaped constant matches in a triple
    PATTERN position (round 14): its plain lexical AND its canonical
    Turtle-typed encoding — a bare ``42`` in query text is
    ``"42"^^xsd:integer`` per the SPARQL/Turtle grammars (§2.3.2), and
    an N-Triples/Turtle scan stores exactly that serialization, so a
    plain-equality match would silently miss every typed row. The
    category follows the Turtle lexer: no '.'/exponent = integer, '.'
    without exponent = decimal, exponent = double. Canonical form only
    ("042"^^xsd:integer does not match 42 — term-level matching stays
    string equality, documented)."""
    if re.fullmatch(r"[+-]?\d+", v):
        dt = "integer"
    elif "e" not in v and "E" not in v:
        dt = "decimal"
    else:
        dt = "double"
    return [v, f'"{v}"^^<{_XSD_PFX}{dt}>']


#: graph-scoped node encoding for property paths inside ``GRAPH ?var``:
#: a path must stay within ONE graph, so the closure machinery runs over
#: ``g + _GSEP + term`` composite nodes — node identity includes the
#: graph, and the UNCHANGED pointer-doubling/BFS algorithms compute every
#: graph's closure in the same joins (no per-graph loop). U+001F (unit
#: separator) is illegal in IRIs (RFC 3987 forbids C0 controls), so the
#: split-at-first-separator decode is unambiguous for any legal graph
#: name.
_GSEP = "\x1f"


#: one-pass strip patterns for regexp_replace: a matching encoded term
#: is replaced by its quoted content ($1); a NON-matching input passes
#: through UNCHANGED — identity for IRIs, blanks and plain literals with
#: the operand appearing exactly ONCE in the compiled expression. (The
#: earlier when/otherwise formulation repeated the operand subtree 4-16x
#: and, composed through BIND + FILTER inlining, blew whole-stage
#: codegen past the JVM method limit — interpreted-mode fallback.)
_TYPED_NUM_STRIP = (
    r'^"(.*)"\^\^<http://www\.w3\.org/2001/XMLSchema#(?:'
    + _XSD_NUM_LOCAL + r")>$"
)

#: encoded ``^^xsd:dateTime`` / ``^^xsd:date`` literal — shape test and
#: one-pass strip (same regexp_replace identity-on-non-match pattern as
#: the numeric strips, for the same codegen reason). xsd:date joins the
#: temporal category with its midnight instant (``"2020-01-01"`` casts
#: to 00:00:00) — a documented approximation of XPath, which leaves
#: date-vs-dateTime comparison undefined.
_TYPED_DT_SHAPE = (
    r'^".*"\^\^<http://www\.w3\.org/2001/XMLSchema#(?:dateTime|date)>$'
)
_TYPED_DT_STRIP = (
    r'^"(.*)"\^\^<http://www\.w3\.org/2001/XMLSchema#(?:dateTime|date)>$'
)


def _lex(c: Column) -> Column:
    """Lexical form of a term: strips the ``^^<dt>`` / ``@lang`` suffix
    from an encoded typed/lang literal; identity for IRIs, blank labels
    and plain literals. ONE regexp_replace — the operand compiles into
    the plan exactly once."""
    return F.regexp_replace(c, _ENC_LIT_SHAPE, "$1")


def _num(c: Column) -> Column:
    """Numeric value of a term (or NULL = expression error): a typed
    literal contributes its lexical form ONLY when its datatype is
    xsd-numeric — ``"12"^^xsd:string`` (or ``"12"@en``) is NOT a number
    (its serialization fails the numeric shape un-stripped), matching
    ISNUMERIC and §17.3's operand categories — and a plain term
    contributes its lexical form when numeric-shaped (the string model's
    documented approximation). Used by the typed-comparison branch and
    the numeric builtins."""
    stripped = F.regexp_replace(c, _TYPED_NUM_STRIP, "$1")
    return F.when(stripped.rlike(_NUMERIC_SHAPE), stripped).try_cast(
        "double"
    )


def _dt_val(c: Column) -> Column:
    """Timestamp VALUE of a term for ``xsd:dateTime`` comparisons: strips
    a ``^^xsd:dateTime`` encoding (identity for everything else — a bare
    ISO-8601 literal in query text parses too) and try-casts to
    TIMESTAMP, so a non-datetime operand is the spec's type error ->
    NULL. Offsets normalize to the instant — ``...T00:00:00Z`` equals
    ``...T01:00:00+01:00``, which lexical comparison gets wrong; a
    lexical WITHOUT a timezone reads in the session zone (the
    uniform-form contract: compare offset-free values only against
    offset-free values, or set one session zone)."""
    return F.regexp_replace(c, _TYPED_DT_STRIP, "$1").try_cast("timestamp")


def _order_key_cols(c: Column) -> "list[Column]":
    """SPARQL §15.1 value-ordering key for ORDER BY / MIN / MAX: one term
    column expands to ``(bucket, value, raw)`` —

    * bucket 1 = xsd-NUMERIC typed literal, ordered by double value,
    * bucket 2 = ``xsd:dateTime`` typed literal, ordered by instant,
    * bucket 0 = everything else (IRIs, blanks, plain and lang-tagged
      literals, non-value-comparable datatypes), ordered LEXICALLY —
      byte-identical to the pre-round-13 ordering, so queries over
      untyped data keep their exact plan-visible sort keys.

    ``"9"^^xsd:int`` thus sorts before ``"10"^^xsd:int`` (rdflib
    orders by value; lexicographic said "10" < "9"). The bucket gate is
    the TYPED shape only — a plain ``"12"`` keeps the string model's
    lexical ordering (and DuckDB-VARCHAR oracle parity). Cross-bucket
    order (plain < numeric < dateTime under ASC) is a documented
    engine-total-order choice; §15.1 leaves cross-type order mostly
    open. NULL (unbound) rows carry a NULL bucket and keep Spark's
    nulls-first-asc / nulls-last-desc placement, matching §15.1's
    "unbound precedes everything" under ASC."""
    s = c.cast("string")
    # the lexical form must ALSO pass _NUMERIC_SHAPE — the same gate as
    # _num — so ORDER BY/MIN/MAX and FILTER agree on what is numeric
    # ("NaN"^^xsd:double or " 5"^^xsd:integer would slip through a bare
    # try_cast and sort in the numeric bucket while comparisons call
    # them type errors); a malformed typed numeric sorts lexically
    tn_lex = F.when(
        s.startswith('"') & s.rlike(_TYPED_NUM_SHAPE),
        F.regexp_replace(s, _TYPED_NUM_STRIP, "$1"),
    )
    tn = F.when(tn_lex.rlike(_NUMERIC_SHAPE), tn_lex).try_cast("double")
    td = F.when(
        s.startswith('"') & s.rlike(_TYPED_DT_SHAPE), _dt_val(s)
    ).cast("double")
    bucket = (
        F.when(tn.isNotNull(), F.lit(1))
        .when(td.isNotNull(), F.lit(2))
        .when(s.isNotNull(), F.lit(0))
    )
    return [bucket, F.coalesce(tn, td), c]


def _order_key_struct(c: Column) -> Column:
    """The §15.1 key as ONE struct (field-wise comparison) for
    ``min_by``/``max_by``; NULL for an unbound term so the aggregate
    skips it — SQL MIN/MAX-ignores-NULL semantics preserved."""
    bucket, val, raw = _order_key_cols(c)
    return F.when(
        c.isNotNull(),
        F.struct(bucket.alias("b"), val.alias("v"), raw.alias("l")),
    )


class _Parser:
    def __init__(
        self, tokens: list[tuple[str, str]],
        prefixes: "dict[str, str] | None" = None,
    ):
        self.toks = tokens
        self.i = 0
        self.fresh = 0  # fresh internal vars for property-path desugaring
        self.base: "str | None" = None  # BASE <iri> for relative IRIs
        # every prefix visible AT PARSE TIME — the programmatic
        # ``prefixes=`` seed plus each PREFIX declaration as it is
        # consumed. parse_primary resolves prefixed names inside
        # EXPRESSIONS from this (pattern-position pnames keep their
        # later _resolve path, identical result).
        self.declared: dict[str, str] = dict(prefixes or {})
        # blank-node LABEL scoping (§19.6): labels may not recur across
        # basic graph patterns; each parse_group call is one scope
        self._scope_stack: list[int] = [0]
        self._next_scope = 1
        self._bnl_seen: dict[str, int] = {}

    def bnode_label_var(self, term):
        """A ``_:label`` in a query PATTERN is a scoped variable, not a
        reference to any data blank node (SPARQL §4.1.4) — map it to a
        deterministic internal variable (same label = same variable
        within its group, so shared labels join; the ``__path_`` prefix
        keeps it non-projected). Reusing a label across GROUP
        boundaries (OPTIONAL/UNION/MINUS bodies are separate basic
        graph patterns) is the spec's §19.6 syntax error — rejected
        loudly rather than silently compiling a cross-group join.
        Template positions reject labels instead (rdflib MINTS fresh
        bnodes there — out of subset)."""
        if term[0] == "pname" and term[1] == "_":
            scope = self._scope_stack[-1]
            prev = self._bnl_seen.setdefault(term[2], scope)
            if prev != scope:
                raise SparqlError(
                    f"blank-node label _:{term[2]} recurs in a "
                    "different basic graph pattern (SPARQL §19.6 "
                    "syntax error); rename one occurrence"
                )
            return ("var", f"__path_bnl_{term[2]}")
        return term

    def resolve_string_token(self, v: str) -> str:
        """_string_token_value plus BASE resolution of a RELATIVE
        datatype IRI inside the encoded ``"lex"^^<dt>`` form — the
        ``^^<...>`` suffix rides inside the string token, so the plain
        IRI-token resolution sites never see it."""
        val = _string_token_value(v)
        if self.base is not None:
            m = re.fullmatch(r'(".*"\^\^)<(.*)>', val, re.DOTALL)
            if m and not re.match(_IRI_SHAPE, m.group(2)):
                from urllib.parse import urljoin

                return f"{m.group(1)}<{urljoin(self.base, m.group(2))}>"
        return val

    def resolve_iri(self, raw: str) -> str:
        """Content of an ``<...>`` token, resolved against ``BASE`` when
        one is declared and the IRI is relative (RFC 3986 via urljoin —
        identity for absolute inputs, including urn: forms). Without a
        BASE, a relative IRI passes through verbatim (the pre-round-13
        behavior: it simply matches nothing)."""
        v = raw[1:-1]
        if self.base is not None and not re.match(_IRI_SHAPE, v):
            from urllib.parse import urljoin

            return urljoin(self.base, v)
        return v

    def peek(self) -> tuple[str, str]:
        # clamp at the sentinel: a malformed query that consumes past the
        # appended ("eof", "") token must keep reading eof and fail with
        # a SparqlError from the grammar, never an IndexError
        return self.toks[min(self.i, len(self.toks) - 1)]

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, value: str) -> None:
        kind, v = self.next()
        if v.upper() != value and v != value:
            raise SparqlError(f"expected {value!r}, got {v!r}")

    def expect_eof(self) -> None:
        if self.peek()[0] != "eof":
            raise SparqlError(f"trailing input at {self.peek()[1]!r}")

    def parse_as_var(self, missing: str) -> str:
        """``AS ?var )`` — the name that closes a parenthesized SELECT
        expression, GROUP BY key or BIND; ``missing`` is the error when
        the ``AS`` is absent."""
        if not self.at_keyword("AS"):
            raise SparqlError(missing)
        self.next()
        kind, v = self.next()
        if kind != "var":
            raise SparqlError(f"AS expects ?var, got {v!r}")
        self.expect(")")
        return v[1:]

    def at_keyword(self, word: str) -> bool:
        kind, v = self.peek()
        return kind == "keyword" and v.upper() == word

    def at_verb_start(self) -> bool:
        """Can the next token start a VERB (property path) of a triple?
        The closed whitelist of path-unit starters — var / IRI /
        prefixed name / the Turtle ``a`` / '(' '^' '!'. Decides whether
        a bare ``[ po-list ]`` subject takes a following
        predicate-object list or ends its triples block (legal SPARQL
        needs no '.' before the next non-triple element)."""
        kind, v = self.peek()
        return (
            kind in ("var", "iri", "pname")
            or (kind, v) == ("keyword", "a")
            or v in ("(", "^", "!")
        )

    # -- query ----------------------------------------------------------
    def parse_prefixes(self) -> dict:
        """``BASE <iri>`` / ``PREFIX p: <iri>`` declarations, in any
        interleaving; each BASE governs the IRIs that FOLLOW it
        (including later PREFIX expansions), per the SPARQL grammar."""
        prefixes: dict[str, str] = {}
        while self.at_keyword("PREFIX") or self.at_keyword("BASE"):
            is_base = self.at_keyword("BASE")
            self.next()
            if is_base:
                kind, iri = self.next()
                if kind != "iri":
                    raise SparqlError(f"bad BASE iri {iri!r}")
                resolved = self.resolve_iri(iri)
                if not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", resolved):
                    # urljoin is INERT for non-hierarchical schemes
                    # (urn:, mailto:) — relative IRIs would silently
                    # pass through unresolved and match nothing
                    raise SparqlError(
                        f"BASE <{resolved}> is not a hierarchical IRI "
                        "(scheme://...); relative references cannot "
                        "resolve against it"
                    )
                self.base = resolved
                continue
            kind, pname = self.next()
            if kind != "pname" or not pname.endswith(":"):
                raise SparqlError(f"bad PREFIX name {pname!r}")
            kind, iri = self.next()
            if kind != "iri":
                raise SparqlError(f"bad PREFIX iri {iri!r}")
            prefixes[pname[:-1]] = self.resolve_iri(iri)
            self.declared[pname[:-1]] = prefixes[pname[:-1]]
        return prefixes

    def parse_ask(self):
        """``PREFIX* ASK [WHERE] { group }`` — the boolean query form."""
        prefixes = self.parse_prefixes()
        if not self.at_keyword("ASK"):
            raise SparqlError("expected ASK")
        self.next()
        if self.at_keyword("WHERE"):
            self.next()
        group = self.parse_group()
        self.expect_eof()
        return prefixes, group

    def parse_describe(self):
        """``PREFIX* DESCRIBE (?var | <iri> | pname)+ [WHERE { group }]``
        — the resource-description query form."""
        prefixes = self.parse_prefixes()
        if not self.at_keyword("DESCRIBE"):
            raise SparqlError("expected DESCRIBE")
        self.next()
        terms: list = []
        while True:
            kind, v = self.peek()
            if kind == "var":
                self.next()
                terms.append(("var", v[1:]))
            elif kind == "iri":
                self.next()
                terms.append(("const", self.resolve_iri(v)))
            elif kind == "pname":
                self.next()
                pre, _, local = v.partition(":")
                terms.append(("pname", pre, local))
            else:
                break
        if not terms:
            raise SparqlError("DESCRIBE needs at least one ?var or IRI")
        group = None
        if self.at_keyword("WHERE"):
            self.next()
            group = self.parse_group()
        elif self.peek()[1] == "{":
            group = self.parse_group()
        self.expect_eof()
        if group is None and any(t[0] == "var" for t in terms):
            raise SparqlError(
                "DESCRIBE ?var needs a WHERE group that binds it"
            )
        return prefixes, terms, group

    def parse_po_list(self, s, add) -> None:
        """One subject's predicate-object list with the Turtle sugar —
        ``;`` chains verbs, ``,`` chains objects, ``;;`` and a trailing
        ``;`` before ``.``/``}`` are tolerated per Turtle — invoking
        ``add(s, p, o)`` per desugared triple. The grammar of every
        template block (the group-pattern form has its own loop because
        its verbs are property PATHS).
        Blank-node forms are rejected POINTEDLY here: in a template
        they would mint fresh blank nodes per solution (rdflib
        semantics), which this engine does not do."""
        _reject_template_bnode(s)
        while True:
            p = self.parse_verb_term()
            add(s, p, self.parse_template_object())
            while self.peek()[1] == ",":
                self.next()
                add(s, p, self.parse_template_object())
            if self.peek()[1] != ";":
                break
            while self.peek()[1] == ";":
                self.next()
            if self.peek()[1] in (".", "}"):
                break

    def parse_graph_name(self, allow_var: bool = True):
        """``?var`` (when allowed) / ``<iri>`` / ``prefix:name`` — the
        graph-name position of GRAPH / WITH / USING clauses."""
        gkind, gv = self.peek()
        if gkind == "var" and allow_var:
            self.next()
            return ("var", gv[1:])
        if gkind == "iri":
            self.next()
            return ("const", self.resolve_iri(gv))
        if gkind == "pname":
            self.next()
            pre, _, local = gv.partition(":")
            return ("pname", pre, local)
        raise SparqlError(
            "expected a graph name ("
            + ("?var or " if allow_var else "")
            + f"an IRI), got {gv!r}"
        )

    def parse_quad_block(self, what: str, ground: bool = False, graph=None):
        """A braced block of triples and ``GRAPH term { triples }``
        sub-blocks — the QUAD template form shared by CONSTRUCT and the
        UPDATE operations, with the Turtle sugar of
        :meth:`parse_po_list`. Returns ``(g, s, p, o)`` 4-tuples: ``g``
        is None for triples outside any GRAPH (the operation's WITH
        target, else the default graph), a const/pname term for ``GRAPH
        <iri>``, or a var term for ``GRAPH ?g`` (template position —
        bound by the WHERE). ``graph`` is set while parsing a GRAPH
        sub-block, which holds plain triples only. ``ground=True``
        (INSERT DATA / DELETE DATA) additionally rejects variables
        anywhere, including the graph position, per spec."""
        self.expect("{")
        template: list = []

        def add(s, p, o):
            if ground and any(t[0] == "var" for t in (s, p, o)):
                raise SparqlError(
                    f"{what} triples must be ground (no variables)"
                )
            template.append((graph, s, p, o))

        while True:
            kind, v = self.peek()
            if v == "}":
                self.next()
                break
            if v == ".":
                self.next()
                continue
            if graph is None and kind == "keyword" and v.upper() == "GRAPH":
                self.next()
                gterm = self.parse_graph_name(allow_var=not ground)
                template.extend(self.parse_quad_block(what, ground, gterm))
                continue
            if v == "[":
                _reject_template_bnode()
            self.parse_po_list(self.parse_term(), add)
        if not template:
            raise SparqlError(f"{what} needs at least one triple")
        return template

    def parse_construct(self):
        """``PREFIX* CONSTRUCT { template } WHERE { group } [ORDER/
        LIMIT/OFFSET]`` — the graph-building query form. The template is
        a QUAD block (round 13): plain triples, plus ``GRAPH term
        { triples }`` sub-blocks that emit into named graphs — the
        store-to-store transform form over a quad store."""
        prefixes = self.parse_prefixes()
        if not self.at_keyword("CONSTRUCT"):
            raise SparqlError("expected CONSTRUCT")
        self.next()
        template = self.parse_quad_block("CONSTRUCT template")
        if not self.at_keyword("WHERE"):
            raise SparqlError("CONSTRUCT needs WHERE { ... }")
        self.next()
        group = self.parse_group()
        order = self.parse_order()
        limit, offset = self.parse_limit_offset()
        self.expect_eof()
        return prefixes, template, group, order, limit, offset

    #: graph-management / federation forms that cannot mean anything over
    #: a single (s, p, o) DataFrame — rejected with a pointed error
    _UNSUPPORTED_UPDATE = {"GRAPH"}

    def parse_graph_ref(self):
        """``DEFAULT`` or ``[GRAPH] <g>`` — the graph-reference position
        of COPY/MOVE/ADD (the GRAPH keyword is optional per the
        grammar). Returns "default" or ("graph", term)."""
        if self.at_keyword("DEFAULT"):
            self.next()
            return "default"
        if self.at_keyword("GRAPH"):
            self.next()
        return ("graph", self.parse_graph_name(allow_var=False))

    def parse_using(self):
        """``USING <g>`` / ``USING NAMED <g>`` clauses (zero or more) —
        the WHERE dataset of a modify, exactly FROM / FROM NAMED's
        semantics (SPARQL 1.1 Update §3.1.3). Returns (default_terms,
        named_terms) or None when absent."""
        default, named = [], []
        while self.at_keyword("USING"):
            self.next()
            if self.at_keyword("NAMED"):
                self.next()
                named.append(self.parse_graph_name(allow_var=False))
            else:
                default.append(self.parse_graph_name(allow_var=False))
        return (default, named) if (default or named) else None

    def parse_update_op(self):
        """One SPARQL 1.1 Update operation (after any PREFIX decls):
        ``INSERT DATA`` / ``DELETE DATA`` / ``DELETE WHERE`` / the
        general ``[WITH <g>] [DELETE {t}] [INSERT {t}] USING* WHERE
        {group}`` modify form / ``CLEAR|DROP [SILENT] (GRAPH <g> |
        DEFAULT | NAMED | ALL)`` / ``LOAD [SILENT] <src> [INTO GRAPH
        <g>]`` / ``CREATE [SILENT] GRAPH <g>`` / ``COPY|MOVE|ADD
        [SILENT] src TO dst``. Templates are QUAD templates —
        ``GRAPH term { ... }`` sub-blocks target named graphs (round
        12). Returns ("data", delete_quads, insert_quads) — ground —
        ("modify", delete_template, insert_template, group, with_g,
        using), ("clear", target) with target ("graph", term) /
        "default" / "named" / "all", ("load", src, target, silent),
        ("create", gname), or ("gmove", kind, src_ref, dst_ref) with
        refs "default" / ("graph", term)."""
        kind, v = self.peek()
        if kind == "keyword" and v.upper() in self._UNSUPPORTED_UPDATE:
            raise SparqlError(
                f"{v.upper()} is outside the supported UPDATE subset "
                "(supported: INSERT DATA, DELETE DATA, DELETE WHERE, "
                "[WITH] DELETE/INSERT ... [USING] WHERE, CLEAR, DROP, "
                "LOAD, CREATE, COPY, MOVE, ADD)"
            )
        if self.at_keyword("LOAD"):
            # LOAD [SILENT] <source> [INTO GRAPH <g>] — the source is a
            # local N-Triples path (file:// or bare); network IO is out
            # of scope and rejected at apply time. SILENT makes a
            # missing source a no-op instead of an error (§3.1.4).
            self.next()
            silent = False
            if self.at_keyword("SILENT"):
                self.next()
                silent = True
            src = self.parse_graph_name(allow_var=False)
            target = None
            if self.at_keyword("INTO"):
                self.next()
                if not self.at_keyword("GRAPH"):
                    raise SparqlError("LOAD ... INTO needs GRAPH <g>")
                self.next()
                target = self.parse_graph_name(allow_var=False)
            return ("load", src, target, silent)
        if self.at_keyword("CREATE"):
            # CREATE [SILENT] GRAPH <g> — a validated NO-OP: this store
            # keeps no empty-graph bookkeeping (a graph IS its rows), so
            # creating an empty graph changes nothing; the form is
            # accepted so spec-conforming scripts run unmodified
            self.next()
            if self.at_keyword("SILENT"):
                self.next()
            if not self.at_keyword("GRAPH"):
                raise SparqlError("CREATE needs GRAPH <g>")
            self.next()
            return ("create", self.parse_graph_name(allow_var=False))
        for kw in ("COPY", "MOVE", "ADD"):
            if self.at_keyword(kw):
                self.next()
                if self.at_keyword("SILENT"):
                    self.next()
                src = self.parse_graph_ref()
                if not self.at_keyword("TO"):
                    raise SparqlError(f"{kw} needs: {kw} src TO dst")
                self.next()
                return ("gmove", kw, src, self.parse_graph_ref())
        if self.at_keyword("CLEAR") or self.at_keyword("DROP"):
            # DROP == CLEAR here: the store keeps no empty-graph
            # bookkeeping (a graph IS its rows), so removing a graph's
            # rows and dropping the graph coincide
            self.next()
            if self.at_keyword("SILENT"):
                self.next()  # nothing to be loud about: no catalogs
            if self.at_keyword("DEFAULT"):
                self.next()
                return ("clear", "default")
            if self.at_keyword("NAMED"):
                self.next()
                return ("clear", "named")
            if self.at_keyword("ALL"):
                self.next()
                return ("clear", "all")
            if not self.at_keyword("GRAPH"):
                raise SparqlError(
                    "CLEAR/DROP needs GRAPH <g>, DEFAULT, NAMED or ALL"
                )
            self.next()
            return ("clear", ("graph", self.parse_graph_name(False)))
        with_g = None
        if self.at_keyword("WITH"):
            self.next()
            with_g = self.parse_graph_name(allow_var=False)
        if self.at_keyword("INSERT"):
            self.next()
            if self.at_keyword("DATA"):
                if with_g is not None:
                    raise SparqlError("WITH does not apply to INSERT DATA")
                self.next()
                data = self.parse_quad_block("INSERT DATA", ground=True)
                return ("data", None, data)
            ins = self.parse_quad_block("INSERT template")
            using = self.parse_using()
            if not self.at_keyword("WHERE"):
                raise SparqlError(
                    "INSERT { ... } needs WHERE { ... } "
                    "(use INSERT DATA for ground triples)"
                )
            self.next()
            return ("modify", None, ins, self.parse_group(), with_g, using)
        if not self.at_keyword("DELETE"):
            raise SparqlError("expected INSERT, DELETE, CLEAR or DROP")
        self.next()
        if self.at_keyword("DATA"):
            if with_g is not None:
                raise SparqlError("WITH does not apply to DELETE DATA")
            self.next()
            data = self.parse_quad_block("DELETE DATA", ground=True)
            return ("data", data, None)
        if self.at_keyword("WHERE"):
            # DELETE WHERE { quads }: the pattern IS the template; a
            # GRAPH block deletes from (and matches in) that graph
            self.next()
            tmpl = self.parse_quad_block("DELETE WHERE")
            group = [
                ("triple", s, p, o) if g is None
                else ("graph", g, [("triple", s, p, o)])
                for (g, s, p, o) in tmpl
            ]
            return ("modify", tmpl, None, group, with_g, None)
        delete_t = self.parse_quad_block("DELETE template")
        insert_t = None
        if self.at_keyword("INSERT"):
            self.next()
            insert_t = self.parse_quad_block("INSERT template")
        using = self.parse_using()
        if not self.at_keyword("WHERE"):
            raise SparqlError(
                "DELETE { ... } needs WHERE { ... } (use DELETE DATA "
                "for ground triples or DELETE WHERE for the shorthand)"
            )
        self.next()
        return (
            "modify", delete_t, insert_t, self.parse_group(), with_g, using
        )

    def parse_update(self):
        """``PREFIX* op ( ';' PREFIX* op )* ';'?`` — a sequence of update
        operations. Each op is returned with a SNAPSHOT of the prefixes
        declared up to its position (the grammar lets a later op add —
        or re-declare — prefixes; resolution must not be retroactive)."""
        prefixes = self.parse_prefixes()
        ops = [(dict(prefixes), self.parse_update_op())]
        while self.peek()[1] == ";":
            self.next()
            if self.peek()[0] == "eof":
                break  # a trailing ';' is legal in the grammar
            prefixes.update(self.parse_prefixes())
            ops.append((dict(prefixes), self.parse_update_op()))
        self.expect_eof()
        return ops

    def parse_query(self):
        prefixes = self.parse_prefixes()
        if not self.at_keyword("SELECT"):
            raise SparqlError(
                "only SELECT queries are supported here (use sparql_ask "
                "for ASK / sparql_construct for CONSTRUCT)"
            )
        projection, group, modifiers = self.parse_select_body()
        self.expect_eof()
        return prefixes, projection, group, modifiers

    def parse_select_body(self):
        """``SELECT [DISTINCT] proj WHERE group modifiers`` — the body
        shared by the top-level query and ``{ SELECT ... }`` subqueries
        (which stop at their closing ``}`` instead of eof)."""
        self.next()  # SELECT
        distinct = False
        if self.at_keyword("DISTINCT"):
            self.next()
            distinct = True
        projection: "list[tuple] | None"
        if self.peek()[1] == "*":
            self.next()
            projection = None
        else:
            projection = []
            while True:
                kind, v = self.peek()
                if kind == "var":
                    self.next()
                    projection.append(("var", v[1:]))
                elif v == "(":
                    projection.append(self.parse_agg_projection())
                else:
                    break
            if not projection:
                raise SparqlError("SELECT needs ?vars or *")
        from_default: list[tuple] = []  # parser term tuples, _resolve later
        from_named: list[tuple] = []
        while self.at_keyword("FROM"):
            self.next()
            target = from_default
            if self.at_keyword("NAMED"):
                self.next()
                target = from_named
            kind, v = self.next()
            if kind == "iri":
                target.append(("const", self.resolve_iri(v)))
            elif kind == "pname":
                pre, _, local = v.partition(":")
                target.append(("pname", pre, local))
            else:
                raise SparqlError(f"FROM needs an IRI, got {v!r}")
        if not self.at_keyword("WHERE"):
            raise SparqlError("expected WHERE")
        self.next()
        group = self.parse_group()
        group_by = self.parse_group_by()
        having = self.parse_having()
        order = self.parse_order()
        limit, offset = self.parse_limit_offset()
        trailing_values = None
        if self.at_keyword("VALUES"):
            # trailing VALUES clause (legal for the top level AND
            # subselects per the grammar): §18.2.4.3 joins the inline
            # data AFTER Grouping/Aggregation and HAVING — NOT into the
            # WHERE group — so it is carried as a modifier and applied
            # by _finish_select at that pipeline stage
            self.next()
            trailing_values = self.parse_values()
        modifiers = {
            "distinct": distinct,
            "order": order,
            "limit": limit,
            "offset": offset,
            "group_by": group_by,
            "having": having,
            "from_default": from_default,
            "from_named": from_named,
            "trailing_values": trailing_values,
        }
        return projection, group, modifiers

    def parse_agg_projection(self) -> tuple:
        """``( AGG([DISTINCT] ?v|*) AS ?alias )`` — the aggregate
        projection form (GROUP_CONCAT also accepts
        ``; SEPARATOR="s"`` before its closing paren) — or the general
        ``( expr AS ?alias )`` SELECT-expression form, which the caller
        desugars into a trailing BIND. Returns
        ("agg", fn, distinct, arg-or-None, alias, separator) or
        ("expr", expr-tree, alias)."""
        self.expect("(")
        kind0, v0 = self.peek()
        if not (kind0 == "keyword" and v0.upper() in _AGG_FNS):
            expr = self.parse_or()
            alias = self.parse_as_var("projection expression needs AS ?alias")
            return ("expr", expr, alias)
        fn, distinct, arg, sep = self.parse_agg_call()
        alias = self.parse_as_var("aggregate projection needs AS ?alias")
        return ("agg", fn, distinct, arg, alias, sep)

    def parse_agg_call(self) -> tuple:
        """``AGG([DISTINCT] ?v|*[; SEPARATOR="s"])`` — the aggregate call
        shared by SELECT projections and HAVING constraints."""
        kind, fn = self.next()
        if kind != "keyword" or fn.upper() not in _AGG_FNS:
            raise SparqlError(
                f"unsupported projection expression {fn!r} (supported "
                f"aggregates: {sorted(_AGG_FNS)})"
            )
        fn = fn.upper()
        self.expect("(")
        distinct = False
        if self.at_keyword("DISTINCT"):
            self.next()
            distinct = True
        arg: "str | None"
        if self.peek()[1] == "*":
            self.next()
            arg = None
            if fn != "COUNT":
                raise SparqlError(f"{fn}(*) is not valid SPARQL")
            if distinct:
                raise SparqlError("COUNT(DISTINCT *) is outside the subset")
        else:
            kind2, av = self.next()
            if kind2 != "var":
                raise SparqlError(f"{fn} expects ?var or *, got {av!r}")
            arg = av[1:]
        sep = " "  # the spec's default GROUP_CONCAT separator
        if self.peek()[1] == ";":
            if fn != "GROUP_CONCAT":
                raise SparqlError("only GROUP_CONCAT takes a SEPARATOR")
            self.next()
            if not self.at_keyword("SEPARATOR"):
                raise SparqlError("expected SEPARATOR after ';'")
            self.next()
            self.expect("=")
            kind4, lit = self.next()
            if kind4 != "string":
                raise SparqlError(
                    f"SEPARATOR expects a string literal, got {lit!r}"
                )
            sep = _unquote(lit)
        self.expect(")")
        return fn, distinct, arg, sep

    def parse_group_by(self) -> list:
        """``GROUP BY`` conditions: plain ``?var`` keys, or computed keys
        ``( expr AS ?v )`` (the spec's GroupCondition expression form —
        the alias is required in this subset so the key has a stable
        projectable name). Computed entries are ("expr", expr, name)."""
        if not self.at_keyword("GROUP"):
            return []
        self.next()
        if not self.at_keyword("BY"):
            raise SparqlError("expected BY after GROUP")
        self.next()
        keys: list = []
        while True:
            kind, v = self.peek()
            if kind == "var":
                self.next()
                keys.append(v[1:])
            elif v == "(":
                self.next()
                expr = self.parse_or()
                name = self.parse_as_var(
                    "a GROUP BY expression needs (expr AS ?var)"
                )
                keys.append(("expr", expr, name))
            else:
                break
        if not keys:
            raise SparqlError("GROUP BY needs at least one ?var")
        names = [k if isinstance(k, str) else k[2] for k in keys]
        if len(set(names)) != len(names):
            raise SparqlError(f"repeated GROUP BY variable in {names}")
        return keys

    def parse_having(self):
        """``HAVING (expr) [(expr) ...]`` — each constraint is a
        parenthesized filter expression that may additionally contain
        aggregate calls (``HAVING (COUNT(?x) > 2)``); multiple
        constraints are conjoined, per spec."""
        if not self.at_keyword("HAVING"):
            return None
        self.next()
        if self.peek()[1] != "(":
            raise SparqlError("HAVING needs a parenthesized expression")
        expr = None
        while self.peek()[1] == "(":
            self.expect("(")
            e = self.parse_or()
            self.expect(")")
            expr = e if expr is None else ("and", expr, e)
        return expr

    def parse_order(self) -> "list[tuple[tuple, bool]]":
        """ORDER BY keys: plain ?vars, ASC/DESC(expr), or bare value-
        function calls (``ORDER BY STRLEN(?x) ?y``). Each key is an
        expression tree — a plain variable is ("var", name)."""
        if not self.at_keyword("ORDER"):
            return []
        self.next()
        if not self.at_keyword("BY"):
            raise SparqlError("expected BY after ORDER")
        self.next()
        order: list[tuple[tuple, bool]] = []
        while True:
            kind, v = self.peek()
            if kind == "var":
                self.next()
                order.append((("var", v[1:]), True))
            elif kind == "keyword" and v.upper() in ("ASC", "DESC"):
                self.next()
                self.expect("(")
                expr = self.parse_or()
                self.expect(")")
                order.append((expr, v.upper() == "ASC"))
            elif (
                kind == "keyword" and v.upper() in (_BOOL_FNS | _VALUE_FNS)
            ) or v == "(":
                order.append((self.parse_primary(), True))
            else:
                break
        if not order:
            raise SparqlError("ORDER BY needs at least one sort key")
        return order

    def parse_limit_offset(self) -> "tuple[int | None, int]":
        """``LIMIT n`` / ``OFFSET n`` in either order (the spec's
        LimitOffsetClauses). OFFSET skips the first n solutions of the
        (ordered) sequence; LIMIT caps what remains."""
        limit: "int | None" = None
        offset = 0
        seen: set = set()
        while True:
            word = (
                "LIMIT" if self.at_keyword("LIMIT")
                else "OFFSET" if self.at_keyword("OFFSET")
                else None
            )
            if word is None or word in seen:
                break
            seen.add(word)
            self.next()
            kind, v = self.next()
            if kind != "number" or "." in v or int(v) < 0:
                raise SparqlError(
                    f"{word} expects a nonnegative integer, got {v!r}"
                )
            if word == "LIMIT":
                limit = int(v)
            else:
                offset = int(v)
        return limit, offset

    # -- group ----------------------------------------------------------
    def parse_group(self) -> list:
        self._scope_stack.append(self._next_scope)
        self._next_scope += 1
        try:
            return self._parse_group_body()
        finally:
            self._scope_stack.pop()

    def _parse_group_body(self) -> list:
        self.expect("{")
        if self.at_keyword("SELECT"):
            # subquery: { SELECT ... } — a group that IS a nested query.
            # Parsed here so the form works anywhere a group does (a
            # direct element, a UNION branch, an OPTIONAL body); the
            # spec evaluates it bottom-up, projecting only its SELECT
            # variables outward.
            projection, group, modifiers = self.parse_select_body()
            self.expect("}")
            return [("subquery", projection, group, modifiers)]
        elements: list = []
        while True:
            kind, v = self.peek()
            if v == "}":
                self.next()
                return elements
            if v == ".":
                self.next()
                continue
            if v == "{":
                # { A } UNION { B } [ UNION { C } ... ]
                branches = [self.parse_group()]
                while self.at_keyword("UNION"):
                    self.next()
                    branches.append(self.parse_group())
                if (
                    len(branches) == 1
                    and len(branches[0]) == 1
                    and branches[0][0][0] == "subquery"
                ):
                    # a direct { SELECT ... } element: keep it first-class
                    # (its own compile path and error wording) instead of
                    # wrapping it as a one-branch UNION
                    elements.append(branches[0][0])
                else:
                    elements.append(("union", branches))
            elif self.at_keyword("OPTIONAL"):
                self.next()
                elements.append(("optional", self.parse_group()))
            elif self.at_keyword("GRAPH"):
                self.next()
                gterm = self.parse_graph_name()
                elements.append(("graph", gterm, self.parse_group()))
            elif self.at_keyword("FILTER"):
                self.next()
                # FILTER [NOT] EXISTS { group } — the paren-less form
                if self.at_keyword("NOT"):
                    self.next()
                    if not self.at_keyword("EXISTS"):
                        raise SparqlError("expected EXISTS after FILTER NOT")
                    self.next()
                    elements.append(("notexists", self.parse_group()))
                    continue
                if self.at_keyword("EXISTS"):
                    self.next()
                    elements.append(("exists", self.parse_group()))
                    continue
                kindf, vf = self.peek()
                if (
                    kindf == "keyword"
                    and vf.upper() in (_BOOL_FNS | _VALUE_FNS)
                ):
                    # grammar rule [68] Constraint: a bare BuiltInCall
                    # needs no extra parens — ``FILTER regex(?x, "^A")``
                    # is the spec's own §3.1 spelling
                    expr = self.parse_primary()
                else:
                    self.expect("(")
                    expr = self.parse_or()
                    self.expect(")")
                elements.append(("filter", expr))
            elif self.at_keyword("BIND"):
                self.next()
                self.expect("(")
                expr = self.parse_or()
                var = self.parse_as_var("BIND needs (expr AS ?var)")
                elements.append(("bind", expr, var))
            elif self.at_keyword("MINUS"):
                self.next()
                elements.append(("minus", self.parse_group()))
            elif self.at_keyword("VALUES"):
                self.next()
                elements.append(self.parse_values())
            elif self.at_keyword("SERVICE"):
                # without this check the keyword would die deep in
                # subject parsing with a baffling "bad term" error
                raise SparqlError(
                    "SERVICE (federated query) is out of scope for a "
                    "single-store engine; materialize the remote data "
                    "as a local table and join it instead"
                )
            elif self.peek()[1] == "[":
                # blank-node property list as SUBJECT: '[ po-list ]'
                # (optionally followed by its own po-list). A pattern
                # bnode is just a fresh scoped variable (§4.1.4).
                s = self.parse_bnode_property_list(elements)
                if self.at_verb_start():
                    self.parse_group_po_list(s, elements)
            else:
                s = self.parse_term() if self.peek()[1] != "^" else None
                if s is None:
                    raise SparqlError(
                        "a triple pattern must start with a subject term"
                    )
                self.parse_group_po_list(
                    self.bnode_label_var(s), elements
                )

    def parse_bnode_property_list(self, elements) -> tuple:
        """``[ po-list ]`` — an anonymous blank node in a PATTERN is a
        fresh non-projected variable (SPARQL §4.1.4 scopes pattern
        bnodes as variables); the property list inside desugars against
        it with the full path/sugar grammar, its triples appended to
        ``elements``. ``[]`` alone is just the fresh variable. The
        ``__path_`` prefix rides the existing internals cleanup, so the
        variable never projects."""
        self.expect("[")
        b = ("var", f"__path_bn{self.fresh}")
        self.fresh += 1
        if self.peek()[1] != "]":
            self.parse_group_po_list(b, elements)
        self.expect("]")
        return b

    def parse_group_po_list(self, s, elements) -> None:
        """One subject's predicate-object list inside a GROUP pattern:
        verbs are property PATHS (hence separate from the template-form
        parse_po_list), objects may be nested ``[ po-list ]`` blank
        nodes, and the Turtle ``;``/``,`` sugar applies — pure
        desugaring to repeated-subject triples, so every sugared form
        compiles to exactly the plan its spelled-out form does."""

        def emit(o, segs):
            plain = (
                len(segs) == 1
                and not segs[0]["inverse"]
                and not segs[0]["negated"]
                and not segs[0]["plus"]
                and not segs[0]["star"]
                and not segs[0]["qmark"]
                and segs[0]["range"] is None
                and len(segs[0]["preds"]) == 1
            )
            if plain:
                elements.append(("triple", s, segs[0]["preds"][0], o))
                return
            # property path — desugar into chained per-hop elements
            # through fresh internal variables (each plain hop stays
            # one pushable scan + hash join; modified hops compile to
            # a derived (s, o) relation; SPARQL path-internal bindings
            # are anonymous, so the vars never project)
            for seg in segs:
                for p in seg["preds"]:
                    if p[0] == "var":
                        raise SparqlError(
                            "variable predicates are not supported "
                            "inside property paths"
                        )
            cur = s
            for idx, seg in enumerate(segs):
                if idx == len(segs) - 1:
                    nxt = o
                else:
                    nxt = ("var", f"__path_{self.fresh}")
                    self.fresh += 1
                modified = (
                    seg["plus"] or seg["star"] or seg["qmark"]
                    or seg["negated"] or seg["range"] is not None
                )
                if (
                    not seg["inverse"] and not modified
                    and len(seg["preds"]) == 1
                ):
                    elements.append(
                        ("triple", cur, seg["preds"][0], nxt)
                    )
                elif (
                    seg["inverse"] and not modified
                    and len(seg["preds"]) == 1
                ):
                    # pure inverse: just a swapped pattern scan
                    elements.append(
                        ("triple", nxt, seg["preds"][0], cur)
                    )
                else:
                    elements.append(("pathhop", cur, seg, nxt))
                cur = nxt

        while True:
            segs = [self.parse_path_unit()]
            while self.peek()[1] == "/":
                self.next()
                segs.append(self.parse_path_unit())
            if len(segs) > 1 and any(sg["bare_alt"] for sg in segs):
                # SPARQL gives '|' lower precedence than '/': 'a|b/c'
                # means 'a|(b/c)', not the hop-level '(a|b)/c' this
                # desugaring would produce — demand parentheses
                raise SparqlError(
                    "unparenthesized '|' inside a '/' sequence "
                    "diverges from SPARQL precedence ('a|b/c' means "
                    "'a|(b/c)'); parenthesize — e.g. '(a|b)/c'"
                )
            emit(self.parse_pattern_object(elements), segs)
            while self.peek()[1] == ",":
                self.next()
                emit(self.parse_pattern_object(elements), segs)
            if self.peek()[1] != ";":
                break
            while self.peek()[1] == ";":  # ';;' is legal Turtle
                self.next()
            if not self.at_verb_start():
                break  # trailing ';' before whatever ends the triples
                # block: '.', '}', ']' (a blank-node property list —
                # grammar rule [77] allows the trailing ';' there too),
                # or a keyword like FILTER/OPTIONAL — GroupGraphPatternSub
                # allows a non-triples element with NO '.' after the ';'

    def parse_template_object(self):
        """An OBJECT in a TEMPLATE position: a plain term; blank-node
        forms reject pointedly (see _reject_template_bnode)."""
        if self.peek()[1] == "[":
            _reject_template_bnode()
        o = self.parse_term()
        _reject_template_bnode(o)
        return o

    def parse_pattern_object(self, elements):
        """An OBJECT inside a group pattern: a plain term, a nested
        ``[ po-list ]`` blank-node property list (fresh scoped
        variable, inner triples appended to ``elements``), or a
        ``_:label`` blank-node label (scoped variable)."""
        if self.peek()[1] == "[":
            return self.parse_bnode_property_list(elements)
        return self.bnode_label_var(self.parse_term())

    def parse_path_unit(self) -> dict:
        """One path hop: ``['^'] ( pred | '(' pred ('|' pred)* ')' )
        ['+'|'*'|'?']``.

        SPARQL's path grammar gives ``|`` the LOWEST precedence (``a|b/c``
        is ``a|(b/c)``, ``a|b+`` is ``a|(b+)``, ``^a|b`` is ``(^a)|b``)
        while this hop-level parser would bind it tightest — so an
        UNPARENTHESIZED alternation combined with ``/``, ``^`` or a
        length modifier is REJECTED rather than silently evaluated with
        the wrong grouping; write ``(a|b)/c`` / ``(a|b)+`` / ``^(a|b)``
        to state the hop-level intent explicitly."""
        inverse = False
        if self.peek()[1] == "^":
            self.next()
            inverse = True
        negated = False
        if self.peek()[1] == "!":
            # negated property set: !pred or !(a|b) — any predicate NOT
            # in the set. '^' INSIDE the set (inverse members) is outside
            # the subset and fails as a bad term below.
            self.next()
            negated = True
        paren = self.peek()[1] == "("
        if paren:
            self.next()
        preds = [self.parse_verb_term()]
        while self.peek()[1] == "|":
            self.next()
            preds.append(self.parse_verb_term())
        if paren:
            self.expect(")")
        mod = None
        rng = None
        if self.peek()[1] in ("+", "*", "?"):
            mod = self.next()[1]
        elif self.peek()[1] == "{":
            # bounded length quantifier {n} / {n,m} / {n,} — in the
            # SPARQL 1.1 drafts (and most engines' extensions), dropped
            # from the final grammar; supported here because bounded
            # reachability is what ontology QC actually asks for
            self.next()
            kind_n, vn = self.next()
            if kind_n != "number" or "." in vn or int(vn) < 0:
                raise SparqlError(
                    f"path quantifier expects a nonnegative integer, "
                    f"got {vn!r}"
                )
            lo = int(vn)
            hi: "int | None" = lo
            if self.peek()[1] == ",":
                self.next()
                if self.peek()[1] == "}":
                    hi = None  # {n,} — unbounded
                else:
                    kind_m, vm = self.next()
                    if kind_m != "number" or "." in vm or int(vm) < lo:
                        raise SparqlError(
                            f"path quantifier upper bound must be an "
                            f"integer >= {lo}, got {vm!r}"
                        )
                    hi = int(vm)
            self.expect("}")
            rng = (lo, hi)
        bare_alt = len(preds) > 1 and not paren
        if bare_alt and (inverse or negated or mod is not None or rng):
            raise SparqlError(
                "unparenthesized '|' combined with '^'/'!' or a length "
                "modifier diverges from SPARQL precedence ('a|b+' means "
                "'a|(b+)', '!a|b' means '(!a)|b'); parenthesize the "
                "alternation — e.g. '(a|b)+', '^(a|b)' or '!(a|b)'"
            )
        return {
            "inverse": inverse,
            "negated": negated,
            "preds": preds,
            "plus": mod == "+",
            "star": mod == "*",
            "qmark": mod == "?",
            "range": rng,
            "bare_alt": bare_alt,
        }

    def parse_values(self):
        """VALUES ?v { t1 t2 } or VALUES (?a ?b) { (t t) (t UNDEF) }."""
        kind, v = self.peek()
        paren = v == "("
        if paren:
            self.next()
            names = []
            while self.peek()[0] == "var":
                names.append(self.next()[1][1:])
            self.expect(")")
            if not names:
                raise SparqlError("VALUES needs at least one variable")
        elif kind == "var":
            names = [self.next()[1][1:]]
        else:
            raise SparqlError(f"VALUES expects ?var or (?vars), got {v!r}")
        if len(set(names)) != len(names):
            raise SparqlError(f"repeated variable in VALUES {names}")
        self.expect("{")
        rows: list[list] = []
        while self.peek()[1] != "}":
            if paren:
                self.expect("(")
                row = [self.parse_values_term() for _ in names]
                self.expect(")")
            else:
                row = [self.parse_values_term()]
            rows.append(row)
        self.next()  # consume '}'
        return ("values", names, rows)

    def parse_values_term(self):
        if self.at_keyword("UNDEF"):
            self.next()
            return None
        term = self.parse_term()
        if term[0] == "var":
            raise SparqlError("VALUES data rows cannot contain variables")
        return term

    def parse_term(self):
        kind, v = self.next()
        if kind == "var":
            return ("var", v[1:])
        if kind == "iri":
            return ("const", self.resolve_iri(v))
        if kind == "pname":
            pre, _, local = v.partition(":")
            return ("pname", pre, local)
        if kind == "string":
            return ("const", self.resolve_string_token(v))
        if kind == "number":
            return ("const", v)
        raise SparqlError(f"bad term {v!r}")

    def parse_verb_term(self):
        """A term in PREDICATE position: ``parse_term`` plus the Turtle
        keyword ``a`` = ``rdf:type`` (case-SENSITIVE per the Turtle/
        SPARQL grammars — ``A`` stays an error)."""
        if self.peek() == ("keyword", "a"):
            self.next()
            return ("const", _RDF_TYPE)
        return self.parse_term()

    # -- filter expressions ---------------------------------------------
    def parse_or(self):
        left = self.parse_and()
        while self.peek()[1] == "||":
            self.next()
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_not()
        while self.peek()[1] == "&&":
            self.next()
            left = ("and", left, self.parse_not())
        return left

    def parse_not(self):
        if self.peek()[1] == "!":
            self.next()
            return ("not", self.parse_not())
        return self.parse_cmp()

    def parse_cmp(self):
        left = self.parse_additive()
        op = self.peek()[1]
        if op in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return ("cmp", op, left, self.parse_additive())
        negated = False
        if self.at_keyword("NOT"):
            # NOT here can only start NOT IN (FILTER negation is '!')
            self.next()
            if not self.at_keyword("IN"):
                raise SparqlError("expected IN after NOT")
            negated = True
        if self.at_keyword("IN"):
            self.next()
            self.expect("(")
            items = []
            if self.peek()[1] != ")":
                items.append(self.parse_or())
                while self.peek()[1] == ",":
                    self.next()
                    items.append(self.parse_or())
            self.expect(")")
            return ("in", left, items, negated)
        return left

    # -- numeric expressions (round 12): SPARQL AdditiveExpression ----
    def parse_additive(self):
        """``a + b - c`` with the spec's precedence (* and / bind
        tighter). A NUMBER token with a leading '-' right after an
        operand is the grammar's NumericLiteralNegative juxtaposition
        (``?x -1`` means ``?x - 1``)."""
        left = self.parse_multiplicative()
        while True:
            kind, v = self.peek()
            if kind == "op" and v in ("+", "-"):
                self.next()
                left = ("arith", v, left, self.parse_multiplicative())
            elif kind == "number" and v.startswith("-"):
                # the juxtaposed negative literal heads its own
                # multiplicative tail (grammar rule [116]: ``?a -1 * 2``
                # is ``?a + ((-1) * 2)``)
                self.next()
                num = float(v) if "." in v else int(v)
                right: tuple = ("lit", num)
                while self.peek() in (("op", "*"), ("op", "/")):
                    mop = self.next()[1]
                    right = ("arith", mop, right, self.parse_unary())
                left = ("arith", "+", left, right)
            else:
                return left

    def parse_multiplicative(self):
        left = self.parse_unary()
        while self.peek() in (("op", "*"), ("op", "/")):
            op = self.next()[1]
            left = ("arith", op, left, self.parse_unary())
        return left

    def parse_unary(self):
        if self.peek() == ("op", "-"):
            self.next()
            return ("arith", "-", ("lit", 0), self.parse_unary())
        if self.peek() == ("op", "+"):
            self.next()
            return self.parse_unary()
        return self.parse_primary()

    def parse_primary(self):
        kind, v = self.peek()
        if kind == "keyword" and v.upper() == "EXISTS":
            self.next()
            return ("exists_expr", self.parse_group())
        if kind == "keyword" and v.upper() == "NOT":
            # NOT EXISTS { ... } as an expression operand; plain NOT
            # backtracks so parse_cmp's NOT IN handling still sees it
            save = self.i
            self.next()
            if self.at_keyword("EXISTS"):
                self.next()
                return ("not", ("exists_expr", self.parse_group()))
            self.i = save
        if v == "(":
            self.next()
            e = self.parse_or()
            self.expect(")")
            return e
        if kind == "keyword" and v.upper() in _AGG_FNS:
            # aggregate call inside an expression — HAVING constraints
            # and SELECT expressions accept these (compile-time
            # rejected in FILTER/BIND/ORDER value positions)
            fn, distinct, arg, sep = self.parse_agg_call()
            return ("agg_expr", fn, distinct, arg, sep)
        if kind == "keyword" and v.upper() in (_BOOL_FNS | _VALUE_FNS):
            fn = v.upper()
            self.next()
            self.expect("(")
            # full expressions per argument: IF's condition is typically a
            # comparison, and nesting (REGEX(CONCAT(...), ...)) is legal
            args = [self.parse_or()]
            while self.peek()[1] == ",":
                self.next()
                args.append(self.parse_or())
            self.expect(")")
            return ("call", fn, args)
        if kind == "var":
            self.next()
            return ("var", v[1:])
        if kind == "string":
            self.next()
            return ("lit", self.resolve_string_token(v))
        if kind == "number":
            self.next()
            return ("lit", float(v) if "." in v else int(v))
        if kind == "iri":
            # the string model stores IRIs as their plain string — an
            # <iri> in an expression is exactly that string literal
            self.next()
            return ("lit", self.resolve_iri(v))
        if kind == "pname":
            # round 14: resolve from the parse-time prefix table (the
            # programmatic seed + every PREFIX consumed so far) — the
            # string model stores IRIs as plain strings, so xsd:integer
            # in STRDT(...) is exactly the expanded-IRI string literal
            pre, _, local = v.partition(":")
            if pre in self.declared:
                self.next()
                return ("lit", self.declared[pre] + local)
            raise SparqlError(
                f"prefixed name {v!r} uses a prefix not declared "
                "before this expression; add the PREFIX declaration "
                "or write the full <...> IRI"
            )
        raise SparqlError(f"bad filter primary {v!r}")


def _unquote(s: str) -> str:
    body = s[1:-1]
    return body.replace('\\"', '"').replace("\\\\", "\\")


def _string_token_value(v: str) -> str:
    """Value of a ``string`` token: a PLAIN ``"..."`` unquotes to its bare
    lexical form (the string model), while a typed/lang-tagged literal —
    ``"..."^^<dt>`` / ``"..."@lang`` — keeps its N-Triples serialization
    verbatim, matching what the scan stores (encoded-term model). The
    prefixed-name datatype spelling (``"5"^^xsd:integer``) is captured
    by the tokenizer ONLY to reject it with a pointed error — datatype
    resolution would need a prefix table the expression layer doesn't
    carry, and without this check the ``^`` tokens would fail deep in
    path parsing with a baffling message.

    Language tags canonicalize to LOWERCASE here (RDF 1.1 §3.3: the
    value space of language tags is lowercase), matching the same
    normalization in the scan (ingest._term_col) and in STRLANG — so a
    query's ``"chat"@FR`` term-equals loaded data however either side
    spelled the tag."""
    if v.endswith('"'):
        return _unquote(v)
    # classify the lang-tagged form FIRST: a lang-tagged literal whose
    # CONTENT contains '^^' ("a^^b"@en) must not trip the prefixed-
    # datatype rejection below
    m = re.fullmatch(r'(".*")@(' + _LANGTAG + r")", v, re.DOTALL)
    if m:
        return m.group(1) + "@" + m.group(2).lower()
    if "^^" in v and not v.endswith(">"):
        raise SparqlError(
            f"typed literal {v!r} uses a prefixed datatype name; write "
            "the datatype as a full <...> IRI (prefixes are not in "
            "scope for datatype resolution)"
        )
    return v


# ------------------------------------------------------------------- compiler


def _reject_template_bnode(term=None) -> None:
    """Loud, pointed rejection of blank-node forms (``_:label``, or the
    ``[ ... ]`` bracket form signalled by ``term=None``) in TEMPLATE
    positions — per spec they mint a FRESH blank node per solution,
    which the string-term engine does not model; without this check a
    ``_:label`` dies later with a baffling "undeclared prefix '_'"
    error."""
    if term is None or (term[0] == "pname" and term[1] == "_"):
        raise SparqlError(
            "blank nodes in CONSTRUCT/UPDATE templates would mint a "
            "fresh blank node per solution (out of subset); use an "
            "explicit IRI or variable instead"
        )


def _resolve(term, prefixes: dict[str, str]):
    if term[0] == "pname":
        _, pre, local = term
        if pre not in prefixes:
            raise SparqlError(f"undeclared prefix {pre!r}")
        return ("const", prefixes[pre] + local)
    return term


def _compile_triple(triples: DataFrame, s, p, o, g=None) -> DataFrame:
    """One pattern = one filtered projection of the triples scan. ``g``
    (a term over the source's ``g`` column) extends the pattern to a
    QUAD inside ``GRAPH ?var`` — the graph name rides as one more
    projected/filtered position, so same-graph scoping across patterns
    is ordinary equi-join on the graph variable."""
    terms = list(zip(("s", "p", "o"), (s, p, o)))
    if g is not None:
        terms.append(("g", g))
    cols, filters, seen = [], [], {}
    for pos, term in terms:
        if term[0] == "const":
            v = term[1]
            if isinstance(v, str) and re.match(_NUMERIC_SHAPE, v):
                # a numeric-shaped constant matches its plain AND its
                # canonical typed spelling (see _numeric_const_forms) —
                # still a pushable isin scan predicate
                filters.append(F.col(pos).isin(_numeric_const_forms(v)))
            else:
                filters.append(F.col(pos) == F.lit(v))
        else:
            var = term[1]
            if var in seen:  # repeated var: equality within the pattern
                filters.append(F.col(pos) == F.col(seen[var]))
            else:
                seen[var] = pos
                cols.append(F.col(pos).alias(var))
    out = triples
    for f in filters:
        out = out.filter(f)
    return out.select(*cols)


def _unconverged(max_depth: int) -> SparqlError:
    """Truncating a ``p+`` closure would return silently WRONG results —
    make exhaustion loud instead (the caller raises ``max_path_depth``)."""
    return SparqlError(
        f"p+ closure did not converge within max_path_depth="
        f"{max_depth} rounds — the graph has longer paths; raise "
        "sparql_select(max_path_depth=...)"
    )


class _ClosureStats(threading.local):
    """Observability for scale tests: join-round counts of the last
    closure evaluations (reset per call; read-only for callers).
    Thread-LOCAL so concurrent ``sparql_select`` calls from different
    threads each see their own counts instead of interleaved ones —
    the stats exist to verify the doubling-round bound, and a shared
    dict would let a neighbor's closure corrupt that measurement."""

    def __init__(self):
        self.pair_rounds = 0

    def __getitem__(self, key: str) -> int:
        return getattr(self, key)

    def __setitem__(self, key: str, value: int) -> None:
        setattr(self, key, value)


_closure_stats = _ClosureStats()


def _compose(a: DataFrame, b: DataFrame) -> DataFrame:
    """Relational composition ``a ∘ b`` of two ``(__ps, __po)`` relations:
    one equi-join on the middle node, set semantics."""
    return (
        a.select(F.col("__ps"), F.col("__po").alias("__pm"))
        .join(b.select(F.col("__ps").alias("__pm"), F.col("__po")), "__pm")
        .select("__ps", "__po")
        .distinct()
    )


def _pair_closure(rel: DataFrame, max_depth: int) -> DataFrame:
    """DISTINCT one-or-more transitive closure of a ``(__ps, __po)`` hop
    relation — the SPARQL ``p+``/``p*`` ArbitraryLengthPath (set
    semantics; ``*`` adds the zero-length rows outside this function).

    Pointer doubling: each round joins the known closure WITH ITSELF
    (``P ← P ∪ P∘P``), so the covered path length doubles per round — a
    depth-1000 hierarchy converges in ~10 equi-join rounds instead of
    1000 (sequential job-launch latency is the dominant cost of deep
    closures on a cluster). The final closure is the same size either
    way, so unlike the seeded BFS (:func:`reachable`) nothing is
    saved by keeping per-round state small — halving round count is pure
    win. Each round anti-joins against the known set and checkpoints
    (lineage stays O(1) deep). ``max_depth`` bounds the reachable path
    LENGTH: ``ceil(log2(max_depth + 1))`` doubling rounds cover it, and
    a final probe round distinguishes converged-at-the-bound from
    truncated — truncation raises rather than returning a silently
    wrong closure. Cycles are handled by the anti-join.
    """
    import math

    rel = rel.distinct().localCheckpoint(eager=True)
    paths = rel
    rounds = math.ceil(math.log2(max_depth + 1)) if max_depth > 0 else 0
    _closure_stats["pair_rounds"] = 0
    for _ in range(rounds):
        _closure_stats["pair_rounds"] += 1
        new = (
            _compose(paths, paths)
            .join(paths, ["__ps", "__po"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if new.limit(1).count() == 0:
            return paths
        # union of two ALREADY-checkpointed frames: no re-checkpoint — the
        # plan stays a flat union of O(rounds) checkpointed leaves, and the
        # per-round materialization job (a full copy of the growing closure)
        # is saved. The delta (`new`) is what must be pinned, and is.
        paths = paths.union(new)
    # one more probe round decides converged-exactly-at-the-bound vs not
    _closure_stats["pair_rounds"] += 1
    final = _compose(paths, paths).join(paths, ["__ps", "__po"], "left_anti")
    if final.limit(1).count() != 0:
        raise _unconverged(max_depth)
    return paths


def _range_paths(
    rel: DataFrame,
    lo: int,
    hi: "int | None",
    max_depth: int,
    zero_rows,
) -> DataFrame:
    """``(__ps, __po)`` pairs connected by a path of length in
    ``[lo, hi]`` (``hi=None`` = unbounded) — the ``{n,m}`` quantifier,
    desugared onto the existing closure plumbing:

    * bounded ``{n,m}``: one LAZY declarative plan — ``hi`` repeated
      self-compositions (equi-join + distinct per power, so each power
      stays a set and growth is bounded by the true path count), union
      of the powers in ``[lo, hi]``. No driver-side iteration or
      convergence probes: the bound is user-given, Catalyst sees the
      whole plan.
    * unbounded ``{n,}``: paths of length >= n = ``rel^(n-1)`` composed
      with the eager ``p+`` pointer-doubling closure (``{0,}`` is ``*``,
      ``{1,}`` is ``+``).
    * ``lo == 0`` unions the zero-length rows exactly like ``*``/``?``
      (``zero_rows``: a thunk, so the caller supplies the right node
      encoding — plain or graph-scoped — and no job runs unless needed).

    Set semantics throughout (distinct after the final union — powers
    of different lengths can connect the same pair)."""
    rel = rel.distinct()
    if hi is None:
        if lo > max_depth:
            # the floor shift below is lo-1 chained equi-joins built on
            # the driver PLUS the full closure — strictly more work than
            # the bounded form, so the cap must be at least as strict as
            # the bounded branch's (hi > max_depth)
            raise SparqlError(
                f"path quantifier lower bound {lo} exceeds "
                f"max_path_depth={max_depth}; raise "
                "sparql_select(max_path_depth=...)"
            )
        acc = _pair_closure(rel, max_depth)  # all lengths >= 1
        cur = None
        for _ in range(lo - 1):  # shift the floor up: rel^(lo-1) ∘ (+)
            cur = rel if cur is None else _compose(cur, rel)
        if cur is not None:
            acc = _compose(cur, acc)
    else:
        if hi > max_depth:
            raise SparqlError(
                f"path quantifier upper bound {hi} exceeds "
                f"max_path_depth={max_depth}; raise "
                "sparql_select(max_path_depth=...)"
            )
        acc, cur = None, None
        for k in range(1, hi + 1):
            cur = rel if cur is None else _compose(cur, rel)
            if k >= lo:
                acc = cur if acc is None else acc.unionByName(cur)
        # {0,0} (or a group whose hops are all zero-length): no powers
        if acc is None:
            acc = rel.filter(F.lit(False))
    if lo == 0:
        acc = acc.unionByName(zero_rows())
    return acc.distinct()


def _compile_pathhop(
    triples: DataFrame,
    s,
    seg: dict,
    o,
    prefixes: dict,
    max_path_depth: int,
    eager: bool = True,
    gvar: "str | None" = None,
) -> DataFrame:
    """One modified path hop (inverse / alternation / ``+``/``*``/``?``)
    as a derived binding table: build the hop's ``(__ps, __po)`` relation
    from per-predicate pattern scans (each pushable), close it if
    ``+``/``*``, union the zero-length rows if ``*``/``?``, then bind the
    endpoint terms exactly like a triple pattern.

    Inside ``GRAPH ?var`` (``gvar`` set, ``triples`` = all named graphs
    with their ``g`` column): a path must stay within one graph, so the
    relation is built over GRAPH-SCOPED composite nodes (``g + _GSEP +
    term``) — the closure algorithms run unchanged and compute every
    graph's closure in the same distributed joins; the endpoints (and
    the graph variable) decode back out of the composite at binding
    time. A constant endpoint seeds one pooled BFS from its one-hop
    successors in every named graph: graph-scoped nodes of different
    graphs never reach each other, so each reached node's seed is its
    own graph prefix plus the constant."""
    scoped = gvar is not None

    def _node(c: Column) -> Column:
        return F.concat(F.col("g"), F.lit(_GSEP), c) if scoped else c

    def _dec(col: str) -> Column:
        # the term part of a graph-scoped composite node
        c = F.col(col)
        return c.substr(
            F.length(F.substring_index(c, _GSEP, 1)) + 2, F.length(c)
        )

    if seg.get("negated"):
        # negated property set: ONE scan keeping every predicate outside
        # the set. Inherently broader than an equality scan — with a
        # predicate-partitioned triples layout this is the partition
        # complement, still a single pushable NOT-IN filter.
        consts = [str(_resolve(p, prefixes)[1]) for p in seg["preds"]]
        rel = triples.filter(~F.col("p").isin(consts)).select(
            _node(F.col("s")).alias("__ps"), _node(F.col("o")).alias("__po")
        )
    else:
        rel = None
        for p in seg["preds"]:
            pr = _resolve(p, prefixes)
            r = triples.filter(F.col("p") == F.lit(pr[1])).select(
                _node(F.col("s")).alias("__ps"),
                _node(F.col("o")).alias("__po"),
            )
            rel = r if rel is None else rel.unionByName(r)
    if seg["inverse"]:
        rel = rel.select(
            F.col("__po").alias("__ps"), F.col("__ps").alias("__po")
        )

    def _zero_length_rows() -> DataFrame:
        """The zero-length-path solutions a ``*``/``?``/``{0,m}`` hop
        adds, in the hop's node encoding: a constant endpoint matches
        ITSELF (the spec's zero-length path relates every term to
        itself, whether or not it appears in the graph; inside ``GRAPH
        ?var`` once per named graph), and two variable endpoints bind
        every subject/object term (of each named graph)."""
        if s[0] == "const" or o[0] == "const":
            const = s[1] if s[0] == "const" else o[1]
            if not scoped:
                # one local row: no scan of the triples
                return triples.sparkSession.createDataFrame(
                    [(const, const)], "`__ps` string, `__po` string"
                )
            nodes = triples.select("g").distinct().select(
                _node(F.lit(const)).alias("__ps")
            )
        else:
            nodes = (
                triples.select(_node(F.col("s")).alias("__ps"))
                .unionByName(triples.select(_node(F.col("o")).alias("__ps")))
                .distinct()
            )
        return nodes.select("__ps", F.col("__ps").alias("__po"))

    def _seeded(r: DataFrame, const: str) -> DataFrame:
        """``(const, reached)`` pairs of the one-or-more closure FROM a
        constant subject: a BFS whose per-round state is the frontier,
        never the relation's pair closure (pointer doubling would
        materialize exactly that O(nodes × depth) state). ``r`` is not
        pinned here: :func:`reachable` collects it under its size gate
        and pins it once above."""
        subject = _dec("__ps") if scoped else F.col("__ps")
        starts = r.filter(subject == F.lit(const)).select(
            F.col("__po").alias("node")
        )
        reached, converged = reachable(
            r.select(F.col("__ps").alias("src"), F.col("__po").alias("dst")),
            starts,
            max_path_depth,
        )
        if not converged:
            raise _unconverged(max_path_depth)
        seed = (
            F.concat(
                F.substring_index("node", _GSEP, 1), F.lit(_GSEP), F.lit(const)
            )
            if scoped
            else F.lit(const)
        )
        return reached.select(seed.alias("__ps"), F.col("node").alias("__po"))

    rng = seg.get("range")
    if rng is not None and eager:
        # {n,m} quantifier — mutually exclusive with +/*/? by the
        # parser. The composition joins run on whatever node encoding
        # the relation carries; only the zero-length rows (lo == 0) are
        # encoding-aware, supplied here.
        rel = _range_paths(
            rel, rng[0], rng[1], max_path_depth, _zero_length_rows
        )
    closing = seg["plus"] or seg["star"]
    if not eager:
        # the enclosing group is already known-empty: skip the closure
        # iteration (and the zero-length union) entirely — the raw hop
        # relation has the same schema and every row is filtered out
        # downstream
        pass
    elif closing:
        # a constant endpoint seeds a plain reachability BFS instead of
        # the whole relation's pair closure — per-round state is the
        # seed's frontier, never the graph's all-pairs closure
        if s[0] == "const":
            rel = _seeded(rel, s[1])
        elif o[0] == "const":
            inv = rel.select(
                F.col("__po").alias("__ps"), F.col("__ps").alias("__po")
            )
            rel = _seeded(inv, o[1]).select(
                F.col("__po").alias("__ps"), F.col("__ps").alias("__po")
            )
        else:
            rel = _pair_closure(rel, max_path_depth)
    if eager and (seg["star"] or seg["qmark"]):
        # zero-or-more / zero-or-one: union the zero-length solutions;
        # both forms are set semantics, so de-dup after the union (the
        # closure may already contain (x, x) cycle pairs)
        rel = rel.unionByName(_zero_length_rows()).distinct()
    if scoped:
        # decode the composite nodes: graph prefix -> the GRAPH
        # variable (both endpoints carry the same graph by
        # construction), remainder -> the endpoint term
        gcol = F.substring_index(F.col("__ps"), _GSEP, 1)
        cols, filters = [gcol.alias(gvar)], []
        seen: dict = {gvar: gcol}
        terms = ((_dec("__ps"), s), (_dec("__po"), o))
    else:
        cols, filters, seen = [], [], {}
        terms = ((F.col("__ps"), s), (F.col("__po"), o))
    for expr, term in terms:
        if term[0] == "const":
            filters.append(expr == F.lit(term[1]))
        else:
            var = term[1]
            if var in seen:  # ?x p+ ?x — same-node cycles
                filters.append(expr == seen[var])
            else:
                seen[var] = expr
                cols.append(expr.alias(var))
    out = rel
    for f in filters:
        out = out.filter(f)
    return out.select(*cols)


def _compile_filter(expr, bound: set[str], markers=None) -> Column:
    kind = expr[0]
    if kind == "or":
        return _compile_filter(expr[1], bound, markers) | _compile_filter(
            expr[2], bound, markers
        )
    if kind == "and":
        return _compile_filter(expr[1], bound, markers) & _compile_filter(
            expr[2], bound, markers
        )
    if kind == "not":
        return ~_compile_filter(expr[1], bound, markers)
    if kind == "exists_expr":
        # inside a FILTER the enclosing group pre-joins one boolean
        # marker column per EXISTS node (see _apply_filter); reaching
        # here without markers means EXISTS in a value context (BIND /
        # IF / comparison operand) — out of subset, loud error
        if markers is None or id(expr) not in markers:
            raise SparqlError(
                "EXISTS { ... } is only supported in BOOLEAN positions "
                "of a FILTER (combined with ||/&&/!) — not as a "
                "comparison operand, IN member, or BIND/IF value"
            )
        return F.coalesce(F.col(markers[id(expr)]), F.lit(False))
    if kind == "cmp":
        _, op, l, r = expr
        lc, rc = _operand(l, bound), _operand(r, bound)
        raw = {
            "=": lc == rc, "!=": lc != rc, "<": lc < rc,
            "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc,
        }[op]
        if not (_maybe_encoded(l) or _maybe_encoded(r)):
            # neither operand can hold an encoded typed literal — keep
            # the pre-round-12 plan (zero typed-model overhead)
            return raw
        # §17.3 numeric operand category: when either side is an xsd-
        # numeric typed literal, compare by VALUE ("10"^^xsd:integer >
        # "9"^^xsd:integer); the other side contributes its numeric
        # value or NULL (a non-numeric operand is the spec's type
        # error -> NULL -> effective false). Plain-vs-plain rows keep
        # the raw (lexical, DuckDB-VARCHAR-matching) comparison, so the
        # untyped path is byte-identical to the string model. The
        # startswith guard short-circuits the regex off ordinary terms.
        ls, rs = lc.cast("string"), rc.cast("string")
        ln, rn = _num(ls), _num(rs)
        num = {
            "=": ln == rn, "!=": ln != rn, "<": ln < rn,
            "<=": ln <= rn, ">": ln > rn, ">=": ln >= rn,
        }[op]
        if any(
            t[0] == "lit" and isinstance(t[1], (int, float))
            for t in (l, r)
        ):
            # a bare NUMBER token forces the numeric category outright:
            # the other side contributes its numeric value (typed
            # encoding stripped) or NULL — the spec's type-error-is-
            # false, where the legacy raw path would ANSI-throw on the
            # first non-castable row. Castable rows are value-identical
            # to the legacy implicit double coercion.
            return num
        typed = (ls.startswith('"') & ls.rlike(_TYPED_NUM_SHAPE)) | (
            rs.startswith('"') & rs.rlike(_TYPED_NUM_SHAPE)
        )
        # xsd:dateTime operand category: when either side is a typed
        # dateTime literal, compare INSTANTS (timezone offsets
        # normalize — "…T00:00:00Z" = "…T01:00:00+01:00", which lexical
        # comparison gets wrong); the other side contributes its
        # timestamp value (a bare ISO-8601 literal in the query parses
        # directly) or NULL = the spec's type error -> false. Checked
        # AFTER the numeric category, so numeric-vs-dateTime is a type
        # error via the numeric branch.
        ldt, rdt = _dt_val(ls), _dt_val(rs)
        dtc = {
            "=": ldt == rdt, "!=": ldt != rdt, "<": ldt < rdt,
            "<=": ldt <= rdt, ">": ldt > rdt, ">=": ldt >= rdt,
        }[op]
        typed_dt = (ls.startswith('"') & ls.rlike(_TYPED_DT_SHAPE)) | (
            rs.startswith('"') & rs.rlike(_TYPED_DT_SHAPE)
        )
        return F.when(typed, num).when(typed_dt, dtc).otherwise(raw)
    if kind == "in":
        # §17.4.1.9: IN = equality against each member ('||'-chained).
        # A plain-string-literal list compiles to isin — a PUSHABLE scan
        # predicate over the string term column. A list with NUMERIC or
        # encoded-literal members desugars to the '='-cmp chain instead:
        # isin([1]) would cast the string term column to BIGINT (ANSI
        # runtime crash on encoded typed literals like "1"^^xsd:integer,
        # silent never-match otherwise), while the cmp node carries the
        # §17.3 typed-numeric value branch — so ?x IN (1, 2) matches
        # "1"^^xsd:integer by VALUE, consistent with FILTER(?x = 1).
        # Empty list: the empty disjunction is FALSE without evaluating
        # the operand (§17.4.1.9-10), so IN () is FALSE and NOT IN () is
        # TRUE even for an UNBOUND left side. Non-empty list + unbound
        # left -> error (NULL) -> effective false either way after the
        # NOT (SQL three-valued ~NULL = NULL matches).
        _, term, items, negated = expr
        if not items:
            c = F.lit(False)
        elif all(
            i[0] == "lit"
            and isinstance(i[1], str)
            and not i[1].startswith('"')
            # a NUMERIC-SHAPED plain member ("5") must take the cmp
            # chain too: FILTER(?v = "5") matches "1"^^xsd:integer
            # terms by VALUE via the typed-numeric branch, and
            # §17.4.1.9 defines IN as exactly that chained '=' — the
            # isin fast-path would match only the plain term "5"
            and not re.match(_NUMERIC_SHAPE, i[1])
            for i in items
        ):
            # ... but the fast-path must still agree with the cmp chain
            # on TYPED data rows (round-14 differential finding): the
            # chain calls "40"^^xsd:integer = "eta" a §17.4.1.7 type
            # error (NULL -> the row drops under IN AND under NOT IN),
            # while a bare isin answered False (NOT IN kept the row).
            # Typed-numeric / typed-dateTime shaped rows — exactly the
            # shapes the chain's value branches fire on — short-circuit
            # to NULL; everything else keeps the raw isin (for positive
            # IN the two forms are observably identical: error and
            # false both drop).
            opc = _operand(term, bound)
            s = opc.cast("string")
            typed_err = s.startswith('"') & (
                s.rlike(_TYPED_NUM_SHAPE) | s.rlike(_TYPED_DT_SHAPE)
            )
            c = F.when(
                typed_err, F.lit(None).cast("boolean")
            ).otherwise(opc.isin([i[1] for i in items]))
        else:
            c = None
            for i in items:
                e = _compile_filter(("cmp", "=", term, i), bound, markers)
                c = e if c is None else (c | e)
        return ~c if negated else c
    if kind == "call":
        _, fn, args = expr
        if fn == "SAMETERM":
            # the string model carries exactly one lexical form per term,
            # so sameTerm degenerates to plain equality (an unbound
            # argument is an error -> NULL -> effective false in FILTER)
            if len(args) != 2:
                raise SparqlError("sameTerm takes exactly two arguments")
            return _operand(args[0], bound) == _operand(args[1], bound)
        a0 = _operand(args[0], bound)
        if fn == "BOUND":
            return a0.isNotNull()
        if fn in ("ISIRI", "ISURI"):
            # IRI-by-lexical-shape (see _IRI_SHAPE); an unbound argument
            # is an expression error -> NULL, which FILTER treats as false
            return a0.rlike(_IRI_SHAPE)
        if fn == "ISBLANK":
            return a0.rlike(_BLANK_SHAPE)
        if fn == "ISLITERAL":
            # bound, not IRI-shaped, not a blank label (the string
            # model's literal test)
            return (
                a0.isNotNull()
                & ~a0.rlike(_IRI_SHAPE)
                & ~a0.rlike(_BLANK_SHAPE)
            )
        if fn == "ISNUMERIC":
            # encoded typed literal: numeric iff the datatype is xsd-
            # numeric AND the lexical form is in the numeric space (an
            # @lang or xsd:string literal is NOT numeric even when its
            # content looks like a number); plain terms keep the string
            # model's lexical-shape test (documented approximation: a
            # plain "12" answers true)
            return F.when(
                a0.startswith('"') & a0.rlike(_ENC_LIT_SHAPE),
                F.regexp_extract(a0, _ENC_LIT_SHAPE, _ENC_DT_G).rlike(
                    _XSD_NUMERIC_DT_SHAPE
                )
                & F.regexp_extract(a0, _ENC_LIT_SHAPE, _ENC_LEX_G).rlike(
                    _NUMERIC_SHAPE
                ),
            ).otherwise(a0.rlike(_NUMERIC_SHAPE))
        if fn == "REGEX" and len(args) == 3:
            # REGEX(?x, "pat", "flags") — XPath flags i/s/m/x map 1:1 to
            # Java inline flags, so prefix the pattern; 'q' (literal
            # match) has no inline form and is rejected loudly
            pat = str(_lit_arg("REGEX", args[1]))
            flags = str(_lit_arg("REGEX", args[2]))
            if not set(flags) <= set("ismx"):
                raise SparqlError(
                    f"unsupported REGEX flags {flags!r} (supported: ismx)"
                )
            if not flags:
                # flags="" is legal fn:matches and means the 2-arg form
                # ("(?)" would be a Java regex syntax error)
                return _lex(a0).rlike(pat)
            return _lex(a0).rlike(f"(?{flags}){pat}")
        if fn in _VALUE_FNS:
            # a VALUE function in boolean position — §17.2.2 effective
            # boolean value of its result (FILTER(STRLEN(?s)) etc.)
            return _ebv(_value_expr(expr, bound))
        if len(args) != 2 or args[1][0] != "lit":
            raise SparqlError(f"{fn} needs (?var, \"literal\")")
        lit = str(args[1][1])
        if fn == "LANGMATCHES":
            # RFC 4647 BASIC filtering (§17.4.3.2): "*" matches any
            # non-empty tag; otherwise case-insensitive exact match or a
            # prefix match at a subtag boundary ("en" matches "en-US").
            # The first argument is typically LANG(?x).
            if lit == "*":
                return a0.isNotNull() & (a0 != "")
            low = F.lower(a0)
            return (low == lit.lower()) | low.startswith(lit.lower() + "-")
        # string tests run over the LEXICAL form (typed/lang-tagged
        # literals match by their content, not their serialization)
        if fn == "REGEX":
            return _lex(a0).rlike(lit)
        if fn == "CONTAINS":
            return _lex(a0).contains(lit)
        if fn == "STRSTARTS":
            return _lex(a0).startswith(lit)
        if fn == "STRENDS":
            return _lex(a0).endswith(lit)
    if kind == "agg_expr":
        raise SparqlError(
            "aggregate calls are only valid inside HAVING constraints "
            "and SELECT expressions"
        )
    if kind in ("var", "lit", "call", "arith"):
        # §17.2.2 effective boolean value: FILTER(?x) / FILTER(expr)
        # over a VALUE — booleans by their lexical value, numerics by
        # != 0, other literals by non-emptiness; an IRI or blank term
        # is the spec's type error -> NULL -> effective false
        return _ebv(_value_expr(expr, bound))
    raise SparqlError(f"unsupported filter expression {expr!r}")


def _ebv(c: Column) -> Column:
    """§17.2.2 effective boolean value of a term/value column: a TYPED
    ``xsd:boolean`` literal by VALUE (lexical space true/false/1/0;
    an ill-formed lexical is the spec's false), numerics (typed or
    numeric-shaped plain — the string model's documented approximation)
    by ``!= 0``, any other literal by non-emptiness of its lexical
    form; IRIs and blank nodes are the spec's type error (NULL ->
    effective false in FILTER). Round 14 closed the plain-``"false"``
    deviation: BIND'd boolean expressions now materialize as typed
    ``"false"^^xsd:boolean`` terms (see :func:`_materialize_value`), so
    a PLAIN ``"false"`` string is just a non-empty string literal —
    EBV true, exactly what a spec engine tracking xsd:string answers."""
    s = c.cast("string")
    lex = _lex(s)
    dt = F.regexp_extract(s, _ENC_LIT_SHAPE, _ENC_DT_G)
    num = _num(s)
    return (
        F.when(
            s.rlike(_IRI_SHAPE) | s.rlike(_BLANK_SHAPE),
            F.lit(None).cast("boolean"),
        )
        .when(dt == _XSD_PFX + "boolean", lex.isin(["true", "1"]))
        .when(num.isNotNull(), num != 0)
        .otherwise(F.length(lex) != 0)
    )


def _maybe_encoded(term) -> bool:
    """Parse-time test: can this comparison operand's VALUE be an encoded
    typed literal at runtime? Variables can hold anything the scan
    loaded; a quoted literal node is encoded iff its payload carries the
    serialization; numbers / IRIs-as-strings / function results never
    are. Gates the typed-comparison branch so literal-only comparisons
    keep their original (pushdown-friendly) plan."""
    if term[0] == "var":
        return True
    if term[0] == "lit":
        return isinstance(term[1], str) and term[1].startswith('"')
    if term[0] == "call":
        # IF/COALESCE pass term VALUES through, and STRDT/STRLANG
        # CONSTRUCT encoded terms; every other function returns a plain
        # lexical/numeric/boolean result
        return term[1] in ("IF", "COALESCE", "STRDT", "STRLANG")
    return False  # boolean trees (and/or/not/cmp/in/exists) never are


def _operand(term, bound: set[str]) -> Column:
    if term[0] == "var":
        if term[1] not in bound:
            raise SparqlError(f"FILTER references unbound variable ?{term[1]}")
        return F.col(term[1])
    if term[0] == "agg_expr":
        raise SparqlError(
            "aggregate calls are only valid inside HAVING constraints "
            "and SELECT expressions"
        )
    if term[0] == "lit":
        return F.lit(term[1])
    # calls compile to their value; boolean trees (BOUND/REGEX/IN/
    # comparisons/&&...) compile to their boolean via _value_expr's
    # fallback — NEVER to a literal of the node's payload
    return _value_expr(term, bound)


def _lit_arg(fn: str, term):
    if term[0] != "lit":
        raise SparqlError(f"{fn} expects a literal here, got {term!r}")
    return term[1]


def _is_boolean_expr(expr) -> bool:
    """Is this expression BOOLEAN-valued (a comparison, &&/||/!, IN, or
    a boolean builtin)? Static and exact: the grammar gives every node
    kind a fixed result category (IF/COALESCE pass term values through
    and are NOT boolean)."""
    return expr[0] in ("cmp", "and", "or", "not", "in", "exists_expr") or (
        expr[0] == "call" and expr[1] in _BOOL_FNS
    )


def _materialize_value(expr, bound: set[str]) -> Column:
    """Compile an expression INTO the binding table (BIND / SELECT
    expressions / computed GROUP BY keys): a BOOLEAN-valued expression
    materializes as the canonical typed literal ``"true"^^xsd:boolean``
    / ``"false"^^xsd:boolean`` (round 14) — DATATYPE() answers
    xsd:boolean and §17.2.2 EBV reads it by VALUE, while a PLAIN data
    literal ``"false"`` keeps the spec's non-empty-string EBV (the
    pre-round-14 plain-"false" deviation is gone). A NULL (error)
    condition stays NULL = unbound. Everything else keeps the plain
    string cast (the all-string binding-table invariant: a native
    int/boolean column joined with pattern-bound string data would
    coerce the string side and crash under ANSI mode)."""
    val = _value_expr(expr, bound)
    if _is_boolean_expr(expr):
        return F.when(
            val, F.lit(f'"true"^^<{_XSD_PFX}boolean>')
        ).otherwise(
            F.when(~val, F.lit(f'"false"^^<{_XSD_PFX}boolean>'))
        )
    return val.cast("string")


def _value_expr(expr, bound: set[str]) -> Column:
    """Compile a VALUE-returning expression (the BIND subset): variables,
    literals, CONCAT/STR/STRLEN/UCASE/LCASE/SUBSTR/REPLACE/IF/COALESCE/
    STRBEFORE/STRAFTER/ABS/ROUND/CEIL/FLOOR/LANG/DATATYPE,
    and any boolean expression (comparisons, &&/||/!, BOUND/REGEX/
    isIRI/isLiteral/isNumeric/isBlank/sameTerm/...). Per spec
    an expression ERROR (e.g. an OPTIONAL-unbound argument) leaves the
    BIND variable unbound — which is exactly SQL NULL propagation, so no
    special-casing: NULL in → NULL out."""
    kind = expr[0]
    if kind == "var":
        if expr[1] not in bound:
            raise SparqlError(
                f"BIND expression references unbound variable ?{expr[1]}"
            )
        return F.col(expr[1])
    if kind == "lit":
        return F.lit(expr[1])
    if kind == "arith":
        # §17.3 numeric operators, evaluated in DOUBLE (rdflib would
        # keep xsd:integer for integer operands — a documented
        # approximation; oracles cast). A non-numeric operand is the
        # spec's type error -> NULL (via _num, which also strips the
        # ^^xsd-numeric encoding); division by zero likewise NULLs
        # (try_divide) instead of tripping an ANSI exception.
        # Statically-numeric operands (literals, nested arithmetic,
        # numeric-result functions) skip the _num regex entirely —
        # only term-valued operands pay the shape test.
        def _arith_operand(t) -> Column:
            if t[0] == "lit" and isinstance(t[1], (int, float)):
                return F.lit(float(t[1]))
            if t[0] == "arith" or (
                t[0] == "call" and t[1] in _NUMERIC_RESULT_FNS
            ):
                return _value_expr(t, bound).cast("double")
            return _num(_value_expr(t, bound).cast("string"))

        _, aop, l, r = expr
        ln, rn = _arith_operand(l), _arith_operand(r)
        if aop == "+":
            return ln + rn
        if aop == "-":
            return ln - rn
        if aop == "*":
            return ln * rn
        return F.try_divide(ln, rn)
    if kind == "call" and expr[1] in _VALUE_FNS:
        fn, args = expr[1], expr[2]
        if fn == "CONCAT":
            return F.concat(
                *[
                    _lex(_value_expr(a, bound).cast("string"))
                    for a in args
                ]
            )
        if fn == "IF":
            # IF(cond, then, else) — cond must be a boolean expression
            # (comparison / &&,||,! / boolean function); branches are
            # string-cast so mixed-type arms stay inside the all-string
            # binding-table model. A NULL (error) condition yields the
            # else branch via ``otherwise`` — matching the spec's "IF
            # with an error condition is an error" only approximately,
            # but deterministically.
            if len(args) != 3:
                raise SparqlError("IF takes (condition, then, else)")
            if args[0][0] in ("var", "lit"):
                raise SparqlError(
                    "IF condition must be a boolean expression "
                    "(comparison, &&/||/!, or a boolean function)"
                )
            cond = _compile_filter(args[0], bound)
            return F.when(
                cond, _materialize_value(args[1], bound)
            ).otherwise(_materialize_value(args[2], bound))
        if fn == "COALESCE":
            # spec §17.4.1.3: any number of arguments, one included
            if len(args) < 1:
                raise SparqlError("COALESCE takes at least one argument")
            return F.coalesce(
                *[_materialize_value(a, bound) for a in args]
            )
        a0 = _value_expr(args[0], bound)
        if fn in ("IRI", "URI"):
            # §17.4.2.8: defined ONLY for IRIs, simple literals and
            # xsd:string — a blank node, lang-tagged or non-string
            # typed literal is the spec's expression error (NULL,
            # matching rdflib leaving the variable unbound). The
            # constructed term is the lexical form (the string model
            # stores IRIs as plain strings); no base resolution —
            # relative IRIs need a BASE, out of subset.
            s_ = a0.cast("string")
            enc = s_.startswith('"') & s_.rlike(_ENC_LIT_SHAPE)
            return F.when(
                ~s_.rlike(_BLANK_SHAPE)
                & (
                    ~enc
                    | (
                        F.regexp_extract(s_, _ENC_LIT_SHAPE, _ENC_DT_G)
                        == _XSD_STRING
                    )
                ),
                _lex(s_),
            )
        if fn in (
            "STR", "STRLEN", "UCASE", "LCASE", "SUBSTR", "REPLACE",
            "STRBEFORE", "STRAFTER", "STRLANG", "STRDT",
            "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
            "TZ", "MD5", "SHA1", "SHA256", "SHA384", "SHA512",
            "ENCODE_FOR_URI",
        ):
            # the string functions operate on the LEXICAL form — a typed
            # or lang-tagged literal contributes its quoted content, not
            # its serialization (encoded-term model). Their outputs are
            # plain strings (UCASE/etc. dropping an input's lang tag is a
            # documented approximation of the spec's tag-preserving rule).
            a0 = _lex(a0)
        if fn == "LANG":
            # encoded-term model: a lang-tagged literal carries its tag
            # in the serialization (@tag -> group _ENC_LANG_G); typed and
            # plain literals answer "" (regexp_extract's no-match value —
            # the exact spec answer); LANG of an IRI or blank node is an
            # expression error -> NULL (unbound)
            return F.when(
                a0.isNotNull()
                & ~a0.rlike(_IRI_SHAPE)
                & ~a0.rlike(_BLANK_SHAPE),
                F.regexp_extract(a0, _ENC_LIT_SHAPE, _ENC_LANG_G),
            )
        if fn == "DATATYPE":
            # encoded-term model: ^^<dt> answers dt, an @lang literal is
            # rdf:langString (RDF 1.1), a plain literal xsd:string;
            # error (NULL) on IRI / blank terms
            dt = F.regexp_extract(a0, _ENC_LIT_SHAPE, _ENC_DT_G)
            lang = F.regexp_extract(a0, _ENC_LIT_SHAPE, _ENC_LANG_G)
            return F.when(
                a0.isNotNull()
                & ~a0.rlike(_IRI_SHAPE)
                & ~a0.rlike(_BLANK_SHAPE),
                F.when(dt != "", dt)
                .when(lang != "", F.lit(_RDF_LANGSTRING))
                .otherwise(F.lit(_XSD_STRING)),
            )
        if fn in ("ABS", "CEIL", "FLOOR", "ROUND"):
            # numeric fns operate on the lexical form, and their domain
            # is exactly the isNumeric lexical space: anything else —
            # words, but also "NaN"/"Infinity", which Spark's double
            # parser would otherwise ACCEPT and the long cast would
            # clamp to 0 / Long.MAX — is the spec's expression error
            # (NULL). try_cast (not cast) keeps ANSI mode from throwing.
            # Magnitudes beyond the long range still clamp at the long
            # extremes (Spark's primitive floor/ceil-to-long cast) — a
            # documented approximation at astronomical lexical forms.
            # Typed numerics contribute their LEXICAL form (_num strips
            # the ^^<dt> encoding before the shape test + cast).
            num = _num(a0)
            if fn == "ABS":
                return F.abs(num)
            if fn == "CEIL":
                return F.ceil(num).cast("long")
            if fn == "FLOOR":
                return F.floor(num).cast("long")
            # XPath fn:round: a half value rounds toward POSITIVE infinity
            # (ROUND(-2.5) = -2) — not Spark round()'s HALF_UP
            # (away-from-zero) mode; floor(x + 0.5) is the exact rule
            return F.floor(num + F.lit(0.5)).cast("long")
        if fn in ("STRBEFORE", "STRAFTER"):
            if len(args) != 2:
                raise SparqlError(f'{fn} takes (?s, "needle")')
            lit = _lit_arg(fn, args[1])
            if not isinstance(lit, str):
                raise SparqlError(f"{fn} needle must be a string literal")
            if lit == "":
                # fn:substring-before(s, "") = ""; -after(s, "") = s
                target = F.lit("") if fn == "STRBEFORE" else a0
                return F.when(a0.isNotNull(), target)
            found = a0.contains(lit)
            if fn == "STRBEFORE":
                # substring_index(_, lit, 1) = everything before the FIRST
                # occurrence; the when() guard supplies the no-match -> ""
                # case (substring_index would return the whole string)
                return F.when(
                    found, F.substring_index(a0, lit, 1)
                ).otherwise(F.when(a0.isNotNull(), F.lit("")))
            return F.when(
                found,
                a0.substr(
                    F.instr(a0, lit) + F.lit(len(lit)), F.length(a0)
                ),
            ).otherwise(F.when(a0.isNotNull(), F.lit("")))
        if fn == "STR":
            return a0.cast("string")
        if fn == "ENCODE_FOR_URI":
            # §17.4.2.10 = XPath fn:encode-for-uri: percent-encode all
            # but the RFC 3986 unreserved set [A-Za-z0-9_.~-]. Spark's
            # url_encode is java.net.URLEncoder (form encoding), whose
            # three divergences are fixed up literally: '+' (its space
            # spelling; a literal '+' in the input was already encoded
            # to %2B) -> %20, bare '*' -> %2A, '%7E' -> '~'.
            enc = F.url_encode(a0.cast("string"))
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
            return F.replace(enc, F.lit("%7E"), F.lit("~"))
        if fn in ("STRLANG", "STRDT"):
            # constructors for the ENCODED-TERM model: the lexical form
            # (first arg, encoding stripped above) re-wrapped with a
            # lang tag / datatype suffix, yielding exactly the term the
            # scan would have produced — so constructed terms join and
            # LANG()/DATATYPE() like canonically-written loaded ones
            if len(args) != 2:
                raise SparqlError(f"{fn} takes (lexical, tag-or-iri)")
            tag = str(_lit_arg(fn, args[1]))
            if fn == "STRLANG":
                if not re.fullmatch(_LANGTAG, tag):
                    raise SparqlError(
                        f"STRLANG tag {tag!r} is not a legal LANGTAG"
                    )
                # RDF 1.1: the language-tag value space is lower case —
                # the same normalization the scan (ingest._term_col)
                # and the query grammar apply, so constructed and
                # loaded terms use ONE convention and term-equal
                # regardless of how the source spelled the tag
                return F.concat(
                    F.lit('"'), a0.cast("string"),
                    F.lit(f'"@{tag.lower()}'),
                )
            if not re.match(_IRI_SHAPE, tag):
                # same loud-error policy as STRLANG's LANGTAG check —
                # a non-IRI datatype would construct a malformed term
                # that silently joins nothing
                raise SparqlError(
                    f"STRDT datatype {tag!r} is not an IRI; write it "
                    "as <...>"
                )
            return F.concat(
                F.lit('"'), a0.cast("string"), F.lit(f'"^^<{tag}>')
            )
        if fn in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
            # xsd:dateTime accessors: components are read from the
            # LEXICAL form itself (typed ^^xsd:dateTime encodings strip
            # above), NOT from a timestamp cast — a cast would
            # normalize a timezone-offset lexical to the session zone
            # and shift HOURS/DAY (XPath reads the value's own
            # components). Non-datetime input is the expression error
            # -> NULL. SECONDS carries the spec's xsd:decimal FRACTION
            # ("...:13.815-05:00" -> 13.815, §17.4.5.6) — its capture
            # group includes it, and it casts double where the integer
            # components cast int.
            idx = {
                "YEAR": 1, "MONTH": 2, "DAY": 3,
                "HOURS": 4, "MINUTES": 5, "SECONDS": 6,
            }[fn]
            part = F.when(
                a0.rlike(_XSD_DATETIME_SHAPE),
                F.regexp_extract(a0, _XSD_DATETIME_SHAPE, idx),
            )
            return part.try_cast(
                "double" if fn == "SECONDS" else "int"
            )
        if fn == "TZ":
            # §17.4.5.8: the timezone PART of the dateTime lexical form
            # — "Z", "+hh:mm"/"-hh:mm", or "" when absent; a
            # non-dateTime argument is the expression error -> NULL
            return F.when(
                a0.rlike(_XSD_DATETIME_SHAPE),
                F.regexp_extract(a0, r"(Z|[+-]\d{2}:\d{2})$", 1),
            )
        if fn in ("MD5", "SHA1", "SHA256", "SHA384", "SHA512"):
            h = a0.cast("string")
            if fn == "MD5":
                return F.md5(h)
            if fn == "SHA1":
                return F.sha1(h)
            return F.sha2(h, int(fn[3:]))
        if fn == "STRLEN":
            return F.length(a0)
        if fn == "UCASE":
            return F.upper(a0)
        if fn == "LCASE":
            return F.lower(a0)
        if fn == "SUBSTR":
            if len(args) not in (2, 3):
                raise SparqlError("SUBSTR takes (?s, start[, length])")
            start = _lit_arg("SUBSTR", args[1])
            if not isinstance(start, int) or start < 1:
                # XPath fn:substring treats start < 1 as "from the
                # beginning"; Spark's substr counts from the END — a
                # silent divergence, so reject the ambiguous form loudly
                raise SparqlError(
                    "SUBSTR start must be a positive (1-based) integer "
                    "literal"
                )
            if len(args) == 3:
                ln = _lit_arg("SUBSTR", args[2])
                if not isinstance(ln, int):
                    raise SparqlError(
                        "SUBSTR length must be an integer literal"
                    )
                return F.substring(a0, start, ln)
            return a0.substr(F.lit(start), F.length(a0))
        if fn == "REPLACE":
            if len(args) != 3:
                raise SparqlError('REPLACE takes (?s, "pattern", "repl")')
            pat = _lit_arg("REPLACE", args[1])
            rep = _lit_arg("REPLACE", args[2])
            if not isinstance(pat, str) or not isinstance(rep, str):
                raise SparqlError("REPLACE pattern/replacement must be "
                                  "string literals")
            # spec REPLACE is regex-based (XPath fn:replace)
            return F.regexp_replace(a0, pat, rep)
    # boolean expression as a value (SPARQL booleans are first-class)
    return _compile_filter(expr, bound)


def _join_compatible(
    left: DataFrame,
    right: DataFrame,
    how: str,
    left_nullable: set[str],
) -> DataFrame:
    """Join two binding tables on their shared variables.

    SPARQL's compatible-mapping rule: per shared var, the bindings agree
    where BOTH are bound; an unbound (NULL) left binding is compatible and
    takes the right side's value (``coalesce``). Scale-critical split: a
    variable the left side binds from a REQUIRED pattern is never NULL, so
    its condition is pure equality — a hash-join key. Only variables first
    bound under an earlier OPTIONAL (``left_nullable``) need the
    ``IS NULL OR =`` form, which rides as a residual predicate on the
    hash join as long as ONE equi key remains (the usual case: the
    optional group shares the required entity variable). A join whose
    shared vars are ALL nullable degrades to a nested-loop — the planner
    raises instead of silently shipping that plan.
    """
    shared = [c for c in left.columns if c in set(right.columns)]
    if not shared:
        if how == "inner":
            return left.crossJoin(right)
        return left.join(right, F.lit(True), "left")
    hard = [c for c in shared if c not in left_nullable]
    soft = [c for c in shared if c in left_nullable]
    if not hard:
        raise SparqlError(
            f"pattern joins only on OPTIONAL-bound variables {soft} — "
            "this cannot hash-join; bind at least one shared variable in "
            "a required pattern first"
        )
    if not soft:
        return left.join(right, hard, how if how == "inner" else "left")
    r = right
    for c in shared:
        r = r.withColumnRenamed(c, f"__opt_{c}")
    cond = F.lit(True)
    for c in hard:
        cond = cond & (F.col(c) == F.col(f"__opt_{c}"))
    for c in soft:
        cond = cond & (
            F.col(c).isNull() | (F.col(c) == F.col(f"__opt_{c}"))
        )
    joined = left.join(r, cond, "inner" if how == "inner" else "left")
    for c in hard:
        joined = joined.drop(f"__opt_{c}")
    for c in soft:
        joined = joined.withColumn(
            c, F.coalesce(F.col(c), F.col(f"__opt_{c}"))
        ).drop(f"__opt_{c}")
    return joined


def _join_element(
    current: "DataFrame | None",
    nullable: "set[str]",
    df: DataFrame,
    df_nullable: "set[str]" = frozenset(),
    error: str = "",
) -> "tuple[DataFrame, set[str]]":
    """Join one group element's bindings ``df`` (a triple/path hop, a
    UNION, a subquery, a GRAPH group or a VALUES block) into the group
    so far, ``current`` (None before the first element, which becomes
    the binding table). A shared variable the element may leave unbound
    (``df_nullable``) would need a RIGHT-nullable compatible join —
    outside the subset — so it raises ``error`` with the variables
    formatted in as ``{bad}``. The inner join re-binds the shared
    variables to the element's non-null values; the element's other
    variables keep its nullability.

    Returns the group's new (bindings, nullable-vars)."""
    if current is None:
        return df, nullable | df_nullable
    shared = [c for c in current.columns if c in df.columns]
    bad = [v for v in shared if v in df_nullable]
    if bad:
        raise SparqlError(error.format(bad=bad))
    joined = _join_compatible(current, df, "inner", nullable)
    return joined, (nullable | df_nullable) - set(shared)


def _empty_mapping(spark) -> DataFrame:
    """The single EMPTY solution mapping: one zero-column row."""
    return spark.range(1).select()


def _compile_subquery(
    triples: DataFrame,
    el: tuple,
    prefixes: dict[str, str],
    max_path_depth: int,
    skip_eager: bool = False,
    quads: "DataFrame | None" = None,
    gvar: "str | None" = None,
) -> "tuple[DataFrame, set[str]]":
    """Compile a ``{ SELECT ... }`` subquery bottom-up (the spec's
    evaluation order): inner WHERE group, then the full SELECT pipeline
    (aggregation / DISTINCT / ORDER / LIMIT / projection), exactly as
    the top level via :func:`_finish_select`. Only the projected
    variables are visible outward. Every output column is cast to
    string — subquery values re-enter the binding table, and aggregates
    come out native BIGINT/DOUBLE, so the cast keeps the all-string
    binding-table invariant (a COUNT joins/compares by its lexical
    form, consistent with the engine's string-valued triples model).

    Returns (bindings, nullable-vars): the projected variables the
    subquery can leave unbound, as :func:`_finish_select` derives
    them."""
    _, projection, group, modifiers = el
    if modifiers.get("from_default") or modifiers.get("from_named"):
        raise SparqlError(
            "FROM/FROM NAMED are only legal at the top level, not "
            "inside a subquery (SPARQL 1.1 grammar)"
        )
    if gvar is not None:
        # a subquery inside GRAPH ?var evaluates PER NAMED GRAPH with
        # ?var bound alongside (SPARQL §18.2.2.3 active-graph
        # semantics): the inner patterns already bind the g column as
        # ?var (gvar threads into _compile_group), so the pipeline only
        # needs ?var projected outward and — in an aggregate subquery —
        # added to the GROUP BY keys (a global aggregate becomes the
        # correct per-graph aggregate). LIMIT/OFFSET page PER GRAPH
        # (round 13): _order_page switches to a row_number window
        # partitioned by ?var — one shuffle cuts every graph's page
        # (a plain df.limit would page the UNION of graphs).
        modifiers = dict(modifiers)
        if modifiers["limit"] is not None or modifiers["offset"]:
            modifiers["graph_partition"] = gvar
        if projection is not None and not any(
            it[0] == "var" and it[1] == gvar for it in projection
        ):
            projection = list(projection) + [("var", gvar)]
        embedded: list = []
        for it in projection or []:
            if it[0] == "expr":
                _having_aggs(it[1], embedded)
        has_aggs = (
            bool(modifiers["group_by"])
            or any(it[0] == "agg" for it in projection or [])
            or bool(embedded)
        )
        if has_aggs and gvar not in [
            g for g in modifiers["group_by"] if isinstance(g, str)
        ]:
            modifiers["group_by"] = list(modifiers["group_by"]) + [gvar]
    out, inner_nullable = _compile_group(
        triples, group, prefixes, max_path_depth, skip_eager=skip_eager,
        quads=quads, gvar=gvar,
    )
    internals = [c for c in out.columns if c.startswith("__path_")]
    if internals:
        out = out.drop(*internals)
    out, nullable = _finish_select(
        out, projection, modifiers, prefixes, inner_nullable,
        # subquery values re-enter the binding table as TERMS: SUM/AVG
        # over all-typed-numeric groups come out as canonical typed
        # literals (see _agg_term_form) so CONSTRUCT/UPDATE templates
        # fed from an aggregated subquery round-trip losslessly
        term_form=True,
    )
    out = out.select(
        *[F.col(c).cast("string").alias(c) for c in out.columns]
    )
    return out, nullable


def _compile_group(
    triples: DataFrame,
    elements: list,
    prefixes: dict[str, str],
    max_path_depth: int = 12,
    skip_eager: bool = False,
    quads: "DataFrame | None" = None,
    gvar: "str | None" = None,
) -> "tuple[DataFrame, set[str]]":
    """Compile a group pattern; returns (bindings, nullable-vars) where
    nullable-vars are those that may be NULL (first bound under an
    OPTIONAL that may not match). ``skip_eager`` marks a group whose
    output is already known-empty (an enclosing constant guard failed):
    compilation still runs — the SCHEMA must come out right — but eager
    work (existence probes, p+ closure iteration) is skipped; the raw hop
    relation stands in for a closure since every row is filtered out
    anyway.

    Named-graph context: ``quads`` is the full (g, s, p, o) table when
    the input is a quad store (None for a plain triples input) — only
    ``GRAPH`` elements read it; ``triples`` is always the source the
    CURRENT context's patterns scan (the default graph at the top
    level, a named-graph filter inside ``GRAPH <iri>``, all named
    graphs inside ``GRAPH ?g``). ``gvar`` is the graph variable when
    compiling inside ``GRAPH ?g``: every triple pattern then also
    binds/joins the ``g`` column as that variable."""
    current: DataFrame | None = None
    nullable: set[str] = set()
    pending_filters: list = []
    group_unsat = False  # a constant pattern with no match empties the group
    saw_guard = False  # the group contained all-constant existence guards
    for el in elements:
        if el[0] in ("triple", "pathhop"):
            if el[0] == "triple":
                s, p, o = (_resolve(t, prefixes) for t in el[1:])
                pat = _compile_triple(
                    triples, s, p, o,
                    g=None if gvar is None else ("var", gvar),
                )
            else:
                pat = _compile_pathhop(
                    triples,
                    _resolve(el[1], prefixes),
                    el[2],
                    _resolve(el[3], prefixes),
                    prefixes,
                    max_path_depth,
                    eager=not (group_unsat or skip_eager),
                    gvar=gvar,
                )
            if not pat.columns:
                # all-constant pattern (written literally, or every var
                # consumed by bindings= substitution): an existence guard
                # — rdflib keeps solutions iff it matches. Evaluated
                # eagerly; bounded (limit 1). Once the group is already
                # known-empty the probe is skipped — its outcome cannot
                # matter.
                saw_guard = True
                if not (group_unsat or skip_eager):
                    if pat.limit(1).count() == 0:
                        group_unsat = True
                continue
            current, nullable = _join_element(current, nullable, pat)
        elif el[0] == "optional":
            if current is None:
                if not saw_guard:
                    raise SparqlError("OPTIONAL cannot be the first pattern")
                # constant guards preceded it: OPTIONAL extends the single
                # empty solution mapping
                current = _empty_mapping(triples.sparkSession)
            sub, sub_nullable = _compile_group(
                triples, el[1], prefixes, max_path_depth,
                skip_eager=group_unsat or skip_eager,
                quads=quads, gvar=gvar,
            )
            new_vars = set(sub.columns) - set(current.columns)
            soft_shared = set(sub.columns) & set(current.columns) & nullable
            current = _join_compatible(current, sub, "optional", nullable)
            # everything the optional introduces may be NULL on no-match;
            # a shared var that was already nullable stays nullable
            nullable |= new_vars | sub_nullable | soft_shared
        elif el[0] == "union":
            branches = [
                _compile_group(
                    triples, b, prefixes, max_path_depth,
                    skip_eager=group_unsat or skip_eager,
                    quads=quads, gvar=gvar,
                )
                for b in el[1]
            ]
            all_vars: list[str] = []
            for bdf, _ in branches:
                for c in bdf.columns:
                    if c not in all_vars:
                        all_vars.append(c)
            in_all = set(all_vars)
            u_nullable: set[str] = set()
            for bdf, bnull in branches:
                in_all &= set(bdf.columns)
                u_nullable |= bnull
            # vars not bound in EVERY branch are unbound (NULL) on the
            # other branches' rows
            u_nullable |= set(all_vars) - in_all
            padded = None
            for bdf, _ in branches:
                out = bdf.select(
                    *[
                        F.col(v) if v in bdf.columns
                        else F.lit(None).cast("string").alias(v)
                        for v in all_vars
                    ]
                )
                padded = out if padded is None else padded.unionByName(out)
            current, nullable = _join_element(
                current, nullable, padded, u_nullable,
                "joining a UNION on variables {bad} that are not bound in "
                "every branch is not supported; bind them in all branches "
                "or restructure the query",
            )
        elif el[0] == "subquery":
            sub, sub_nullable = _compile_subquery(
                triples, el, prefixes, max_path_depth,
                skip_eager=group_unsat or skip_eager, quads=quads,
                gvar=gvar,
            )
            current, nullable = _join_element(
                current, nullable, sub, sub_nullable,
                "joining a subquery on variables {bad} it may leave "
                "unbound is not supported; bind them in required patterns "
                "inside the subquery",
            )
        elif el[0] in ("exists", "notexists", "minus"):
            if current is None:
                raise SparqlError(
                    f"{el[0].upper()} cannot be the first pattern"
                )
            sub, sub_nullable = _compile_group(
                triples, el[1], prefixes, max_path_depth,
                skip_eager=group_unsat or skip_eager,
                quads=quads, gvar=gvar,
            )
            shared = [c for c in current.columns if c in sub.columns]
            if not shared:
                raise SparqlError(
                    f"{el[0].upper()} needs at least one variable shared "
                    "with the outer pattern"
                )
            # compatible-mapping with an UNBOUND side (outer var under an
            # earlier OPTIONAL, or the inner group binding the var under
            # its own OPTIONAL) would need null-tolerant anti semantics —
            # outside the subset; both sides must bind the shared vars
            bad = sorted(
                set(shared) & (nullable | sub_nullable)
            )
            if bad:
                raise SparqlError(
                    f"{el[0].upper()} on possibly-unbound shared "
                    f"variables {bad} is not supported; bind them in "
                    "required patterns on both sides"
                )
            # EXISTS = semi join, NOT EXISTS / MINUS = anti join on the
            # shared binding (equivalent within this subset: the groups
            # always share a variable and bind it non-null)
            how = "left_semi" if el[0] == "exists" else "left_anti"
            current = current.join(sub.select(*shared), shared, how)
        elif el[0] == "graph":
            _, gterm_raw, sub_elements = el
            if quads is None:
                raise SparqlError(
                    "GRAPH needs a quad input (a 'g' column — see "
                    "ingest.read_nquads); this query runs over plain "
                    "triples"
                )
            if gvar is not None:
                # per spec the outer ?g would range over ALL named-graph
                # names crossed with the inner results — a cartesian
                # nobody means; reject like paths/subqueries in GRAPH ?var
                raise SparqlError(
                    "a GRAPH clause nested inside GRAPH ?var is not "
                    "supported; use GRAPH <iri> as the outer context"
                )
            gt = _resolve(gterm_raw, prefixes)
            if gt[0] == "const":
                # a named GRAPH <iri> group compiles against that one
                # graph's triples — the filter pushes into the scan and
                # EVERY feature (paths, OPTIONAL, subqueries) works
                # inside, because the subgroup sees an ordinary triples
                # source
                sub_src = quads.filter(
                    F.col("g") == F.lit(str(gt[1]))
                ).drop("g")
                sub, sub_nullable = _compile_group(
                    sub_src, sub_elements, prefixes, max_path_depth,
                    skip_eager=group_unsat or skip_eager, quads=quads,
                )
            else:
                # GRAPH ?g: patterns inside scan ALL named graphs and
                # additionally bind/join the g column as ?g — same-graph
                # scoping is ordinary equi-join on the graph variable
                named = quads.filter(F.col("g").isNotNull())
                sub, sub_nullable = _compile_group(
                    named, sub_elements, prefixes, max_path_depth,
                    skip_eager=group_unsat or skip_eager,
                    quads=quads, gvar=gt[1],
                )
                if gt[1] not in sub.columns:
                    # only triple patterns bind ?g; a BIND/VALUES-only
                    # body would silently drop the graph-membership
                    # constraint — fail loudly instead
                    raise SparqlError(
                        f"GRAPH ?{gt[1]} group binds the graph variable "
                        "only through triple patterns — add at least one"
                    )
            current, nullable = _join_element(
                current, nullable, sub, sub_nullable,
                "joining a GRAPH group on variables {bad} it may leave "
                "unbound is not supported; bind them in required patterns "
                "inside the GRAPH group",
            )
        elif el[0] == "values":
            _, names, rows = el
            undef = {
                names[i]
                for row in rows
                for i, t in enumerate(row)
                if t is None
            }
            data = [
                tuple(
                    None if t is None else str(_resolve(t, prefixes)[1])
                    for t in row
                )
                for row in rows
            ]
            schema = ", ".join(f"`{n}` string" for n in names)
            vdf = triples.sparkSession.createDataFrame(data, schema=schema)
            current, nullable = _join_element(
                current, nullable,
                # inline data is tiny by construction — broadcast it so
                # the binding join never shuffles the pattern side
                vdf if current is None else F.broadcast(vdf), undef,
                "UNDEF on already-bound VALUES variables {bad} would need "
                "a right-nullable compatible join — outside the subset; "
                "move the VALUES before the patterns that bind them",
            )
        elif el[0] == "bind":
            _, expr, var = el
            if current is None:
                # BIND may open a group: it extends the single empty
                # solution mapping (spec: BIND over the pattern so far)
                current = _empty_mapping(triples.sparkSession)
            if var in current.columns:
                raise SparqlError(
                    f"BIND target ?{var} is already bound in scope"
                )
            # cast("string"): a materialized binding column must keep the
            # all-string binding-table invariant — a native int/boolean
            # column joined or UNION'd with pattern-bound string data
            # would coerce the string side and crash under ANSI mode
            # (and break the VARCHAR lexicographic oracle parity)
            current = current.withColumn(
                var,
                _materialize_value(expr, set(current.columns)),
            )
            # an expression over possibly-unbound sources can itself be
            # unbound (spec: expression error -> var unbound = NULL); so
            # can LANG/DATATYPE/numeric fns over BOUND inputs (error on
            # IRI-shaped / non-numeric terms)
            if _expr_nullable(expr, nullable):
                nullable.add(var)
        elif el[0] == "filter":
            pending_filters.append(el[1])
    if current is None:
        if not saw_guard:
            raise SparqlError("empty group pattern")
        # only constant existence guards: the group yields the single
        # EMPTY solution mapping (one zero-column row) when they all
        # match — bindings= re-projects the constants over it
        current = _empty_mapping(triples.sparkSession)
    if group_unsat:
        current = current.filter(F.lit(False))
    # filters apply to the completed group (correct for group-local vars)
    for expr in pending_filters:
        current = _apply_filter(
            current, expr, triples, prefixes, max_path_depth, nullable,
            group_unsat or skip_eager, quads, gvar,
        )
    return current, nullable


def _collect_exists_nodes(expr, acc: list) -> None:
    """Collect EXISTS nodes in BOOLEAN positions only (or/and/not) —
    an EXISTS in a value position (comparison operand, IN member, call
    argument) is out of subset and must hit _compile_filter's loud
    rejection WITHOUT first building marker joins or running the
    uncorrelated probe job."""
    kind = expr[0]
    if kind == "exists_expr":
        acc.append(expr)
        return  # nested EXISTS inside its group compiles with the group
    if kind in ("or", "and"):
        _collect_exists_nodes(expr[1], acc)
        _collect_exists_nodes(expr[2], acc)
    elif kind == "not":
        _collect_exists_nodes(expr[1], acc)


def _apply_filter(
    current: DataFrame,
    expr,
    triples: DataFrame,
    prefixes,
    max_path_depth: int,
    nullable: set,
    skip_eager: bool,
    quads,
    gvar,
) -> DataFrame:
    """Apply one FILTER to the completed group. An ``EXISTS { ... }``
    inside the expression compiles to a correlated membership test:
    the inner group's shared-variable projection becomes a DISTINCT
    marker table LEFT-joined onto the solutions, and the expression
    reads the marker as a boolean (coalesce NULL -> false). Plan shape:
    one hash join per EXISTS node, a pushable filter otherwise — never
    a per-row subquery. An uncorrelated EXISTS is a constant: one
    bounded limit(1) probe. The standalone ``FILTER EXISTS`` /
    ``FILTER NOT EXISTS`` statement forms keep their cheaper semi/anti
    join compilation (group elements, not expressions)."""
    nodes: list = []
    _collect_exists_nodes(expr, nodes)
    if not nodes:
        return current.filter(_compile_filter(expr, set(current.columns)))
    markers: dict[int, str] = {}
    added: list[str] = []
    for i, node in enumerate(nodes):
        sub, sub_nullable = _compile_group(
            triples, node[1], prefixes, max_path_depth,
            skip_eager=skip_eager, quads=quads, gvar=gvar,
        )
        mcol = f"__exists_{i}"
        shared = [c for c in current.columns if c in sub.columns]
        if not shared:
            val = False if skip_eager else sub.limit(1).count() > 0
            current = current.withColumn(mcol, F.lit(val))
        else:
            bad = sorted(set(shared) & (nullable | sub_nullable))
            if bad:
                # same restriction as the statement forms: compatible
                # mapping with an unbound side needs null-tolerant
                # semantics — outside the subset
                raise SparqlError(
                    f"EXISTS on possibly-unbound shared variables {bad} "
                    "is not supported; bind them in required patterns "
                    "on both sides"
                )
            marker = (
                sub.select(*shared).distinct().withColumn(mcol, F.lit(True))
            )
            current = current.join(marker, shared, "left")
        markers[id(node)] = mcol
        added.append(mcol)
    out = current.filter(
        _compile_filter(expr, set(current.columns), markers)
    )
    return out.drop(*added)


def _agg_column(
    out: DataFrame, fn: str, distinct: bool, arg: "str | None",
    sep: str = " ", grouped: bool = False,
) -> Column:
    """One aggregate expression over the binding table's string-valued
    columns. Typing follows the string-valued triples model: COUNT is
    BIGINT; SUM/AVG cast the lexical form to DOUBLE and, for the global
    (no GROUP BY) aggregate only, coalesce the empty input to ``0.0`` —
    SPARQL 1.1 §18.5.1 defines ``Sum({}) = 0`` / ``Avg({}) = 0`` for the
    empty multiset, while a GROUP BY group whose values are all unbound
    is an aggregation error leaving the variable unbound (NULL), which
    is also rdflib's behavior; MIN/MAX order by the §15.1 VALUE key
    (_order_key_cols: xsd-numeric / xsd:dateTime typed literals by
    value, everything else lexically — identical to DuckDB-over-VARCHAR
    on untyped data) via min_by/max_by over the key struct, SAMPLE is
    evaluated as MIN (a
    deterministic, spec-valid representative), and GROUP_CONCAT joins
    the group's values in SORTED order (the spec leaves concatenation
    order undefined; sorting makes it deterministic across partitions
    and replayable as DuckDB ``string_agg(... ORDER BY ...)``)."""
    if arg is None:  # COUNT(*)
        return F.count(F.lit(1))
    if arg not in out.columns:
        raise SparqlError(f"aggregate over unbound variable ?{arg}")
    col = F.col(arg)
    if fn == "COUNT":
        return F.countDistinct(col) if distinct else F.count(col)
    if fn == "GROUP_CONCAT":
        bag = F.collect_set(col) if distinct else F.collect_list(col)
        return F.array_join(F.array_sort(bag), sep)
    if distinct and fn in ("SUM", "AVG"):
        # §18.5.1 Distinct: dedup the TERM multiset, then aggregate —
        # collect_set (bounded by distinct terms per group, exactly
        # like GROUP_CONCAT DISTINCT) then an array fold over the
        # numeric values; non-numeric terms contribute NULL and are
        # skipped (try_cast — consistent with the engine's
        # sum-ignores-bad-values reading), an all-skipped group is
        # NULL (grouped) / 0.0 (the global empty-input rule below)
        nums = F.filter(
            F.transform(
                F.collect_set(col),
                lambda x: _lex(x).try_cast("double"),
            ),
            lambda x: x.isNotNull(),
        )
        total = F.when(
            F.size(nums) > 0,
            F.aggregate(nums, F.lit(0.0), lambda a, x: a + x),
        )
        if fn == "AVG":
            total = total / F.size(nums)
        return total if grouped else F.coalesce(total, F.lit(0.0))
    if distinct and fn in ("MIN", "MAX"):
        distinct = False  # Distinct never changes an extremum
    if distinct:
        raise SparqlError(
            f"{fn}(DISTINCT ...) is outside the subset "
            "(COUNT, SUM, AVG, MIN, MAX and GROUP_CONCAT)"
        )
    if fn == "SUM":
        # _lex: a typed numeric ("5"^^xsd:integer) sums by its lexical
        # form; plain terms are untouched (identity). try_cast (NOT
        # cast): a non-numeric term is SKIPPED rather than an ANSI
        # CAST_INVALID_INPUT runtime crash — the same
        # sum-ignores-bad-values reading the DISTINCT branch above
        # implements, so SUM and SUM(DISTINCT) agree on mixed columns
        # (rdflib's unbound-on-error is approximated by both).
        s = F.sum(_lex(col).try_cast("double"))
        return s if grouped else F.coalesce(s, F.lit(0.0))
    if fn == "AVG":
        a = F.avg(_lex(col).try_cast("double"))
        return a if grouped else F.coalesce(a, F.lit(0.0))
    if fn == "MIN" or fn == "SAMPLE":
        return F.min_by(col, _order_key_struct(col))
    return F.max_by(col, _order_key_struct(col))  # MAX


def _agg_type_bucket(col: Column) -> Column:
    """Numeric-TYPE bucket of one term, for aggregate OUTPUT typing
    (§17.3 / XPath op:numeric-add promotion, collapsed to three rungs):
    NULL = the term does not contribute to SUM/AVG (its lexical form
    fails the numeric try_cast — the same contribution gate as
    :func:`_agg_column`), 1 = xsd:integer family, 2 = xsd:decimal,
    3 = xsd:double/xsd:float, 0 = everything else that still sums
    (a PLAIN numeric-shaped term, or a non-numeric datatype whose
    lexical form casts — the string model's documented reading)."""
    dt = F.regexp_extract(col, _ENC_LIT_SHAPE, _ENC_DT_G)
    return (
        F.when(_lex(col).try_cast("double").isNull(), F.lit(None))
        .when(dt.rlike(_XSD_INT_DT_SHAPE), F.lit(1))
        .when(dt == _XSD_PFX + "decimal", F.lit(2))
        .when(
            (dt == _XSD_PFX + "double") | (dt == _XSD_PFX + "float"),
            F.lit(3),
        )
        .otherwise(F.lit(0))
    )


def _agg_term_form(val: Column, fn: str, col: Column) -> Column:
    """Wrap a SUM/AVG value into its TERM form for results that re-enter
    the term world (subquery projections — and through them CONSTRUCT /
    UPDATE templates): when EVERY contributing term was a TYPED numeric
    literal, the result is a canonical typed literal — ``"10"^^
    xsd:integer`` for an all-integer SUM, ``xsd:decimal`` when decimals
    join in (AVG of integers is decimal, per XPath's op:numeric-divide),
    ``xsd:double`` once a double/float contributes — so a CONSTRUCTed
    aggregate re-loads and re-aggregates losslessly instead of decaying
    to a plain ``"10.0"``. Any PLAIN contributor keeps the plain
    double-lexical output (byte-identical to the pre-round-14 cast, so
    queries over untyped data keep their oracle hashes). The bucket
    min/max ride the SAME groupBy().agg() — no extra shuffle. The
    integer lexical try_casts to BIGINT; a magnitude past 2^63 falls
    back to the double form (the value was double-approximate anyway).
    Decimal/double lexicals are Spark's double-to-string — value-
    preserving and re-parseable, not XSD-canonical ("10.0", "2.5";
    scientific notation past 1e16)."""
    bucket = _agg_type_bucket(col)
    bmin, bmax = F.min(bucket), F.max(bucket)
    ival = val.try_cast("bigint")
    int_lex = F.concat(
        F.lit('"'), ival.cast("string"),
        F.lit(f'"^^<{_XSD_PFX}integer>'),
    )
    dec_lex = F.concat(
        F.lit('"'), val.cast("string"),
        F.lit(f'"^^<{_XSD_PFX}decimal>'),
    )
    dbl_lex = F.concat(
        F.lit('"'), val.cast("string"),
        F.lit(f'"^^<{_XSD_PFX}double>'),
    )
    if fn == "AVG":
        typed = F.when(bmax <= 2, dec_lex).otherwise(dbl_lex)
    else:  # SUM
        typed = (
            F.when((bmax == 1) & ival.isNotNull(), int_lex)
            .when(bmax == 2, dec_lex)
            .otherwise(dbl_lex)
        )
    return (
        F.when(val.isNull(), F.lit(None).cast("string"))
        .when(bmin >= 1, typed)
        .otherwise(val.cast("string"))
    )


def _operands(expr) -> list:
    """The sub-expressions of an expression node, left to right. Leaves
    (``var``, ``lit``, ``agg_expr`` — its argument is a variable name —
    and ``exists_expr`` — its operand is a group pattern) have none."""
    kind = expr[0]
    if kind in ("or", "and", "not"):
        return list(expr[1:])
    if kind in ("cmp", "arith"):
        return [expr[2], expr[3]]
    if kind == "in":
        return [expr[1], *expr[2]]
    if kind == "call":
        return list(expr[2])
    return []


def _rebuild(expr, operands: list):
    """``expr`` with its sub-expressions replaced by ``operands`` (same
    order as :func:`_operands`); a leaf comes back unchanged."""
    kind = expr[0]
    if kind in ("or", "and", "not"):
        return (kind, *operands)
    if kind in ("cmp", "arith"):
        return (kind, expr[1], *operands)
    if kind == "in":
        return ("in", operands[0], operands[1:], expr[3])
    if kind == "call":
        return ("call", expr[1], operands)
    return expr


def _having_aggs(expr, found: list) -> None:
    """Collect ``("agg_expr", fn, distinct, arg, sep)`` nodes from a
    HAVING expression tree in deterministic left-to-right order."""
    if expr[0] == "agg_expr" and expr[1:] not in found:
        found.append(expr[1:])
    for sub in _operands(expr):
        _having_aggs(sub, found)


def _rewrite_having(expr, aliases: dict):
    """Replace aggregate calls with references to their synthesized
    post-aggregation columns, leaving a plain filter expression."""
    if expr[0] == "agg_expr":
        return ("var", aliases[expr[1:]])
    return _rebuild(
        expr, [_rewrite_having(sub, aliases) for sub in _operands(expr)]
    )


def _agg_nullable(fn: str, arg, nullable: set) -> bool:
    """Whether an aggregate's output can be unbound: SUM/AVG always (an
    all-unbound group aggregates to NULL, and the lexical-form cast can
    NULL a group of BOUND non-numeric values), MIN/MAX/SAMPLE when their
    argument can be; COUNT/GROUP_CONCAT never."""
    return fn in ("SUM", "AVG") or (
        fn in ("MIN", "MAX", "SAMPLE") and arg in nullable
    )


def _apply_aggregation(
    out: DataFrame, projection, group_by: list, having=None,
    extend_specs=None, term_form: bool = False,
) -> "tuple[DataFrame, dict]":
    """GROUP BY / aggregate SELECT / HAVING over the compiled binding
    table — ONE ``groupBy().agg()`` (map-side partial aggregation for
    free; a grouped COUNT never shuffles raw solutions, only partial
    counts). Aggregate typing lives in :func:`_agg_column`.

    HAVING constraints may reference group keys, projected aggregate
    aliases, or contain aggregate calls directly
    (``HAVING (COUNT(?x) > 2)``) — direct calls are synthesized as
    hidden ``__having_N`` columns in the same single aggregation, the
    constraint compiles to a post-aggregation filter (Catalyst folds it
    into the aggregate's output — no second shuffle), and the hidden
    columns are dropped after the filter.

    ``extend_specs`` are aggregate calls appearing inside SELECT
    expressions (``(ROUND(AVG(?v)) AS ?a)``): they ride the SAME single
    aggregation as hidden ``__having_xN`` columns (string-cast — the
    Extend step computes over lexical forms) and are returned as a
    spec->alias map for the caller to rewrite with and drop afterwards.

    Returns ``(aggregated, extend_alias_map)``.
    """
    if projection is None:
        raise SparqlError(
            "SELECT * cannot be combined with aggregates or GROUP BY; "
            "list the variables explicitly"
        )
    plain = [it[1] for it in projection if it[0] == "var"]
    if len(set(plain)) != len(plain):
        dup = next(v for v in plain if plain.count(v) > 1)
        raise SparqlError(
            f"duplicate projection alias ?{dup} — each SELECT "
            "column needs a distinct name"
        )
    agg_items = [it for it in projection if it[0] == "agg"]
    # computed GROUP BY keys materialize as named columns first, then
    # everything below sees plain key names
    keys: list = []
    for g in group_by:
        if isinstance(g, str):
            keys.append(g)
            continue
        _, gexpr, gname = g
        if gname in out.columns:
            raise SparqlError(
                f"GROUP BY key ?{gname} collides with a bound variable"
            )
        # string-cast for the same binding-table invariant as BIND
        out = out.withColumn(
            gname, _materialize_value(gexpr, set(out.columns))
        )
        keys.append(gname)
    group_by = keys
    missing = [v for v in group_by if v not in out.columns]
    if missing:
        raise SparqlError(f"GROUP BY vars never bound: {missing}")
    stray = [v for v in plain if v not in group_by]
    if stray:
        raise SparqlError(
            f"SELECT vars {stray} are not GROUP BY keys — project them "
            "through an aggregate (e.g. SAMPLE) or group by them"
        )
    having_specs: list = []
    if having is not None:
        _having_aggs(having, having_specs)
    extend_specs = extend_specs or []
    if not agg_items and not having_specs and not extend_specs:
        # GROUP BY with only key projections = DISTINCT over the keys
        grouped = out.select(*group_by).dropDuplicates()
        if having is not None:
            grouped = grouped.filter(
                _compile_filter(having, set(grouped.columns))
            )
        return grouped, {}

    def agg_column(fn, distinct, arg, sep) -> Column:
        return _agg_column(out, fn, distinct, arg, sep, bool(group_by))

    exprs = []
    seen = set(plain)
    for _, fn, distinct, arg, alias, sep in agg_items:
        if alias in out.columns:
            raise SparqlError(
                f"aggregate alias ?{alias} collides with a bound variable"
            )
        if alias in seen:
            raise SparqlError(
                f"duplicate projection alias ?{alias} — each SELECT "
                "column needs a distinct name"
            )
        seen.add(alias)
        agg = agg_column(fn, distinct, arg, sep)
        if term_form and fn in ("SUM", "AVG") and arg is not None:
            # subquery results re-enter the term world: emit the typed
            # term form (see _agg_term_form) instead of a bare DOUBLE
            agg = _agg_term_form(agg, fn, F.col(arg))
        exprs.append(agg.alias(alias))
    # direct aggregate calls inside HAVING ride the SAME aggregation as
    # hidden columns (dropped post-filter)
    having_aliases = {
        spec: f"__having_{i}" for i, spec in enumerate(having_specs)
    }
    exprs += [agg_column(*s).alias(a) for s, a in having_aliases.items()]
    # aggregate calls inside SELECT expressions: same single
    # aggregation, string-cast (the Extend computes on lexical forms —
    # e.g. ROUND's isNumeric-shape guard needs a string), kept until
    # the caller's Extend step consumes them
    extend_aliases = {
        spec: f"__having_x{i}" for i, spec in enumerate(extend_specs)
    }
    exprs += [
        agg_column(*s).cast("string").alias(a)
        for s, a in extend_aliases.items()
    ]
    grouped = out.groupBy(*group_by).agg(*exprs) if group_by else out.agg(*exprs)
    if having is not None:
        plainified = _rewrite_having(having, having_aliases)
        grouped = grouped.filter(
            _compile_filter(plainified, set(grouped.columns))
        )
    if having_aliases:
        grouped = grouped.drop(*having_aliases.values())
    return grouped, extend_aliases


def _expr_introduces_null(expr) -> bool:
    """True when the expression tree contains a call that can return NULL
    even over fully-bound inputs (see _NULL_INTRODUCING_FNS). COALESCE is
    deliberately NOT exempted — treating its result as possibly-null is
    conservative and only costs the IS-NULL-OR-= residual form downstream."""
    if expr[0] == "arith":
        return True  # a non-numeric operand / division by zero NULLs
    if expr[0] == "call" and expr[1] in _NULL_INTRODUCING_FNS:
        return True
    return any(_expr_introduces_null(sub) for sub in _operands(expr))


def _expr_nullable(expr, nullable: set) -> bool:
    """Whether a computed value (BIND, computed GROUP BY key, SELECT
    expression) can be unbound: it reads a variable in ``nullable``,
    calls a null-introducing function, or embeds an aggregate whose
    output can be unbound (:func:`_agg_nullable`)."""
    specs: list = []
    _having_aggs(expr, specs)
    return (
        bool(_expr_vars(expr) & nullable)
        or _expr_introduces_null(expr)
        or any(_agg_nullable(fn, arg, nullable) for fn, _d, arg, _s in specs)
    )


def _expr_vars(expr) -> set:
    kind = expr[0]
    if kind == "var":
        return {expr[1]}
    if kind == "agg_expr":
        return {expr[3]} if expr[3] is not None else set()
    if kind == "exists_expr":
        return _collect_vars(expr[1])
    return set().union(*map(_expr_vars, _operands(expr)))


def _collect_vars(elements) -> set:
    """Every variable a group pattern mentions (patterns, filters, VALUES,
    nested groups) — the domain ``bindings=`` may constrain."""
    out: set = set()
    for el in elements:
        if el[0] == "triple":
            out |= {t[1] for t in el[1:] if t[0] == "var"}
        elif el[0] == "pathhop":
            out |= {t[1] for t in (el[1], el[3]) if t[0] == "var"}
        elif el[0] in ("optional", "exists", "notexists", "minus"):
            out |= _collect_vars(el[1])
        elif el[0] == "graph":
            if el[1][0] == "var":
                out.add(el[1][1])
            out |= _collect_vars(el[2])
        elif el[0] == "union":
            for b in el[1]:
                out |= _collect_vars(b)
        elif el[0] == "values":
            out |= set(el[1])
        elif el[0] == "filter":
            out |= _expr_vars(el[1])
        elif el[0] == "bind":
            out |= _expr_vars(el[1]) | {el[2]}
        elif el[0] == "subquery":
            # only the PROJECTED names are visible outward (SELECT * =
            # everything the inner group mentions)
            _, projection, grp, _mods = el
            names = _projected_names(projection)
            out |= _collect_vars(grp) if names is None else set(names)
    return out


def _projected_names(projection) -> "list[str] | None":
    """The names a SELECT projection exports, in projection order: each
    ``?var``, and the alias of each ``(expr AS ?alias)`` and
    ``(AGG(...) AS ?alias)`` item. None for ``SELECT *``."""
    if projection is None:
        return None
    return [
        it[1] if it[0] == "var" else it[2] if it[0] == "expr" else it[4]
        for it in projection
    ]


def _subst_expr(expr, binds: dict, prefixes: dict):
    kind = expr[0]
    if kind == "var":
        return ("lit", binds[expr[1]]) if expr[1] in binds else expr
    if kind == "exists_expr":
        return ("exists_expr", _substitute(expr[1], binds, prefixes))
    return _rebuild(
        expr, [_subst_expr(sub, binds, prefixes) for sub in _operands(expr)]
    )


def _substitute(elements, binds: dict, prefixes: dict) -> list:
    """rdflib initBindings semantics: rewrite each bound variable into the
    parsed algebra as a constant (patterns, filters, VALUES, recursively
    through OPTIONAL/UNION groups) before compilation."""
    out = []
    for el in elements:
        if el[0] == "triple":
            out.append(
                ("triple",)
                + tuple(
                    ("const", binds[t[1]])
                    if t[0] == "var" and t[1] in binds
                    else t
                    for t in el[1:]
                )
            )
        elif el[0] == "pathhop":
            sub = tuple(
                ("const", binds[t[1]])
                if t[0] == "var" and t[1] in binds
                else t
                for t in (el[1], el[3])
            )
            out.append(("pathhop", sub[0], el[2], sub[1]))
        elif el[0] in ("optional", "exists", "notexists", "minus"):
            out.append((el[0], _substitute(el[1], binds, prefixes)))
        elif el[0] == "graph":
            gt = el[1]
            if gt[0] == "var" and gt[1] in binds:
                gt = ("const", binds[gt[1]])
            out.append(("graph", gt, _substitute(el[2], binds, prefixes)))
        elif el[0] == "union":
            out.append(
                ("union", [_substitute(b, binds, prefixes) for b in el[1]])
            )
        elif el[0] == "filter":
            out.append(("filter", _subst_expr(el[1], binds, prefixes)))
        elif el[0] == "bind":
            if el[2] in binds:
                # a binding on a COMPUTED variable would need post-hoc
                # equality semantics over the expression — outside the
                # subset; constrain a pattern variable instead
                raise SparqlError(
                    f"bindings= cannot constrain BIND target ?{el[2]}"
                )
            out.append(("bind", _subst_expr(el[1], binds, prefixes), el[2]))
        elif el[0] == "values":
            _, names, rows = el
            keep = [i for i, n in enumerate(names) if n not in binds]
            kept_rows = [
                row
                for row in rows
                if all(
                    row[i] is None  # UNDEF is compatible with any binding
                    or str(_resolve(row[i], prefixes)[1]) == str(binds[n])
                    for i, n in enumerate(names)
                    if n in binds
                )
            ]
            if keep:
                out.append((
                    "values",
                    [names[i] for i in keep],
                    [[row[i] for i in keep] for row in kept_rows],
                ))
            else:
                # every VALUES var is bound: keep ONE column so the clause
                # still contributes its row multiplicity (SPARQL bag
                # semantics — n compatible rows multiply solutions by n)
                # and an unsatisfiable clause becomes an EMPTY table, which
                # empties the group instead of erroring; the kept column's
                # data is irrelevant — sparql_select re-projects the bound
                # constant over it
                out.append((
                    "values", [names[0]], [[row[0]] for row in kept_rows]
                ))
        elif el[0] == "subquery":
            # substituting a constant INTO a subquery would change its
            # evaluation scope (grouping keys, projections, aggregation
            # domains) in ways initBindings semantics don't define —
            # reject rather than silently cross-joining or corrupting;
            # constrain the subquery's OUTPUT with VALUES/FILTER instead
            _, projection, grp, _mods = el
            inner = _collect_vars(grp) | set(_projected_names(projection) or ())
            hit = sorted(set(binds) & inner)
            if hit:
                raise SparqlError(
                    f"bindings= cannot constrain variables used inside a "
                    f"subquery: {hit}; filter the subquery's output with "
                    "VALUES or FILTER instead"
                )
            out.append(el)
        else:  # pragma: no cover — parser emits no other element kinds
            out.append(el)
    return out


def _default_graph(triples: DataFrame) -> DataFrame:
    """The default graph of the input as plain ``(s, p, o)``: per SPARQL
    dataset semantics, what patterns OUTSIDE any GRAPH clause match is
    a quad store's (g, s, p, o) g-IS-NULL rows; GRAPH clauses read the
    named graphs. A plain triple store is its own default graph."""
    if "g" not in triples.columns:
        return triples
    return triples.filter(F.col("g").isNull()).drop("g")


def _solutions(
    triples: DataFrame,
    group: list,
    pfx: dict,
    bindings: "dict[str, str] | None",
    max_path_depth: int,
    extra_bindable: "set | None" = None,
) -> "tuple[DataFrame, set[str]]":
    """The shared WHERE pipeline of every query form (SELECT / ASK /
    CONSTRUCT): validate + substitute ``initBindings`` into the parsed
    group, compile it, re-project each binding as its constant (a
    binding extends every solution), and drop the anonymous
    property-path internals. ``extra_bindable`` admits binding names
    that are legal even though the pattern never mentions them (e.g.
    variables used only in a CONSTRUCT template).

    Returns ``(solutions, nullable)`` where ``nullable`` is the set of
    variables the group can leave unbound (OPTIONAL-bound etc.) — the
    trailing-VALUES join needs it to pick the compatible-mapping form."""
    binds = {k: str(v) for k, v in (bindings or {}).items()}
    if binds:
        known = _collect_vars(group) | (extra_bindable or set())
        missing = sorted(v for v in binds if v not in known)
        if missing:
            raise SparqlError(
                f"bindings for variables not in the pattern: {missing}"
            )
        group = _substitute(group, binds, pfx)
    quads = triples if "g" in triples.columns else None
    out, nullable = _compile_group(
        _default_graph(triples), group, pfx, max_path_depth, quads=quads
    )
    for var, value in binds.items():
        out = out.withColumn(var, F.lit(value))
    internals = [c for c in out.columns if c.startswith("__path_")]
    if internals:
        out = out.drop(*internals)
    # an initBindings constant is never NULL — it overwrites the column
    return out, (nullable - set(binds)) & set(out.columns)


def _order_page(
    df: DataFrame, order: list, limit: "int | None", offset: int,
    partition: "str | None" = None,
) -> DataFrame:
    """ORDER BY → OFFSET → LIMIT over a solution table. With a LIMIT the
    plan is TakeOrdered (map-side partial heaps); without one a range-
    partition sort — the standard distributed total order. Keys are
    expression trees; a plain ("var", v) key gets the pointed
    not-bound-here error, anything else compiles through _value_expr.

    ``partition`` (round 13) switches LIMIT/OFFSET to PER-GROUP paging —
    the SPARQL §18.2.2.3 semantics of a paged subquery inside ``GRAPH
    ?var``, which evaluates per named graph: a row_number window
    partitioned by the graph variable, ordered by the same §15.1 keys,
    cuts each graph's page in ONE shuffle (no per-graph loop). An
    unordered per-graph page would be nondeterministic across runs, so
    it demands an ORDER BY."""
    from pyspark.sql.types import NumericType

    cols = []
    for key, asc in order:
        if key[0] == "var":
            if key[1] not in df.columns:
                raise SparqlError(f"ORDER BY var ?{key[1]} not bound here")
            c = F.col(key[1])
            if isinstance(df.schema[key[1]].dataType, NumericType):
                # a NATIVE numeric column — a COUNT/SUM/AVG aggregate
                # alias — orders by VALUE (round-14 differential
                # finding: the string-key expansion sorted counts
                # lexically, "10" < "9"); NULLS FIRST asc / LAST desc
                # keeps the unbound placement of the term keys
                cols.append(c.asc() if asc else c.desc())
                continue
        else:
            # an expression key referencing an unbound (or projected-out,
            # under DISTINCT) variable gets the same pointed error as a
            # plain ?var key, not a raw Spark AnalysisException
            missing = sorted(_expr_vars(key) - set(df.columns))
            if missing:
                raise SparqlError(
                    "ORDER BY expression references variable(s) not "
                    f"bound here: {['?' + v for v in missing]}"
                )
            c = _value_expr(key, set(df.columns))
        # §15.1 value ordering: each key expands to its (bucket, value,
        # raw) triple so xsd-numeric / xsd:dateTime typed literals order
        # by VALUE; untyped data sees the identical lexical order as
        # before (bucket constant, value NULL)
        for k in _order_key_cols(c):
            cols.append(k.asc() if asc else k.desc())
    if partition is not None and (limit is not None or offset):
        if not order:
            raise SparqlError(
                "LIMIT/OFFSET inside a GRAPH ?var subquery pages PER "
                "GRAPH and needs an ORDER BY to be deterministic"
            )
        rn = F.row_number().over(
            Window.partitionBy(partition).orderBy(*cols)
        )
        df = df.withColumn("__pg_rn", rn)
        cond = F.col("__pg_rn") > F.lit(offset or 0)
        if limit is not None:
            cond = cond & (F.col("__pg_rn") <= F.lit((offset or 0) + limit))
        return df.filter(cond).drop("__pg_rn")
    if order:
        df = df.orderBy(*cols)
    if offset:
        df = df.offset(offset)
    if limit is not None:
        df = df.limit(limit)
    return df


def _parse(query: str, prefixes: "dict[str, str] | None", form) -> tuple:
    """Tokenize ``query`` and parse it with ``form``, a ``_Parser``
    query-form method whose result starts with the query's PREFIX
    declarations. Returns the prefixes in effect (``prefixes`` merged
    under the declared ones) followed by the rest of that result."""
    declared, *parsed = form(_Parser(_tokenize(query), prefixes))
    return ({**(prefixes or {}), **declared}, *parsed)


def sparql_select(
    triples: DataFrame,
    query: str,
    prefixes: "dict[str, str] | None" = None,
    bindings: "dict[str, str] | None" = None,
    max_path_depth: int = 12,
) -> DataFrame:
    """Evaluate a SPARQL-subset SELECT over a ``(s, p, o)`` DataFrame.

    ``prefixes`` pre-declares namespace prefixes (merged under any
    ``PREFIX`` clauses in the query text); ``bindings`` follows rdflib
    ``initBindings``: each entry is substituted into the parsed patterns
    as a constant BEFORE compilation (Catalyst pushes the equality into
    the pattern scans) and the variable is returned as that constant —
    so a binding on an OPTIONAL-bound variable keeps left rows whose
    optional side doesn't match, exactly like rdflib. Returns one column
    per projected variable, named after the variable.
    """
    pfx, projection, group, modifiers = _parse(
        query, prefixes, _Parser.parse_query
    )
    triples = _apply_dataset_clauses(triples, modifiers, pfx)
    out, nullable = _solutions(triples, group, pfx, bindings, max_path_depth)
    return _finish_select(out, projection, modifiers, pfx, nullable)[0]


def _apply_dataset_clauses(triples: DataFrame, modifiers, pfx) -> DataFrame:
    """``FROM`` / ``FROM NAMED`` rewrite a quad store into the described
    dataset in CANONICAL form — default graph as g-IS-NULL rows — so the
    rest of the planner needs no dataset awareness at all:

    * ``FROM <g>...``: those graphs' triples become the default graph
      (their union is the spec's RDF merge — set semantics, so a
      multi-graph FROM dedups); graphs not mentioned disappear.
    * ``FROM NAMED <g>...``: exactly those named graphs stay addressable
      by GRAPH clauses.
    * any dataset clause present = the dataset is EXACTLY what's
      described (FROM only -> no named graphs; FROM NAMED only -> empty
      default graph), per SPARQL 1.1 §13.2.
    """
    from_d = [str(_resolve(t, pfx)[1]) for t in modifiers.get("from_default", [])]
    from_n = [str(_resolve(t, pfx)[1]) for t in modifiers.get("from_named", [])]
    if not from_d and not from_n:
        return triples
    if "g" not in triples.columns:
        raise SparqlError(
            "FROM/FROM NAMED need a quad input (a 'g' column — see "
            "ingest.read_nquads); this query runs over plain triples"
        )
    parts = []
    if from_d:
        d = triples.filter(F.col("g").isin(from_d)).withColumn(
            "g", F.lit(None).cast("string")
        )
        if len(from_d) > 1:
            # the default graph is the MERGE of the FROM graphs — a
            # triple present in two of them must not double solutions
            d = d.dropDuplicates()
        parts.append(d)
    if from_n:
        parts.append(triples.filter(F.col("g").isin(from_n)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _finish_select(
    out: DataFrame, projection, modifiers: dict, pfx=None,
    nullable: "set[str] | None" = None, term_form: bool = False,
) -> "tuple[DataFrame, set[str]]":
    """The post-WHERE SELECT pipeline (shared by the top-level query and
    subqueries), in the spec's stage order: aggregation + HAVING
    (§18.2.4.1-2), trailing VALUES join (§18.2.4.3), SELECT-expression
    Extend (§18.2.4.4), then the solution modifiers —
    project -> DISTINCT -> ORDER -> OFFSET/LIMIT. ``nullable`` is the
    WHERE group's can-be-unbound variable set; the trailing-VALUES join
    uses it (re-derived through the aggregation stage) to pick the
    compatible-mapping join form for unbound shared variables.

    Returns ``(solutions, nullable-out)``: the output columns that can
    be unbound — a plain variable or group key the WHERE can leave
    unbound, an aggregate per :func:`_agg_nullable`, a computed GROUP BY
    key or SELECT expression per :func:`_expr_nullable`, and a
    trailing-VALUES variable with an ``UNDEF`` row."""
    group_by = modifiers["group_by"]
    having = modifiers["having"]
    agg_items = [it for it in (projection or []) if it[0] == "agg"]
    expr_items = [it for it in (projection or []) if it[0] == "expr"]
    # aggregate calls inside SELECT expressions — (ROUND(AVG(?v)) AS
    # ?a), or a bare ((COUNT(?m)) AS ?n) global aggregate — ride the
    # single aggregation as hidden string columns (see
    # _apply_aggregation) that the Extend below consumes
    extend_specs: list = []
    for it in expr_items:
        _having_aggs(it[1], extend_specs)
    if having is not None and not (agg_items or group_by or extend_specs):
        raise SparqlError(
            "HAVING needs a GROUP BY or an aggregate projection"
        )
    extend_aliases: dict = {}
    where_nullable = set(nullable or ())
    if agg_items or group_by or extend_specs:
        out, extend_aliases = _apply_aggregation(
            out, projection, group_by, having, extend_specs, term_form
        )
        # re-derive nullability through the aggregation stage: a plain
        # group key stays nullable (grouping keeps a NULL-keyed group)
        out_nullable = set()
        for g in group_by:
            if isinstance(g, str):
                if g in where_nullable:
                    out_nullable.add(g)
            elif _expr_nullable(g[1], where_nullable):
                out_nullable.add(g[2])
        for _, fn, _d, arg, alias, _sep in agg_items:
            if _agg_nullable(fn, arg, where_nullable):
                out_nullable.add(alias)
    else:
        out_nullable = set(where_nullable)
    out, out_nullable = _apply_trailing_values(
        out, modifiers, pfx, out_nullable
    )
    if expr_items:
        # the spec's Extend step: evaluated over the COMPLETED (and,
        # in an aggregate query, GROUPED) solutions, after the
        # trailing-VALUES join, before projection/DISTINCT — the alias
        # is NOT in scope inside the WHERE group (a FILTER there
        # referencing it keeps raising the loud unbound-variable
        # error, matching SPARQL §18.2.1 in-scope rules). In an
        # aggregate query the expression may reference group keys and
        # aggregate calls; anything else is unbound -> loud error.
        for _, expr, alias in expr_items:
            if alias in out.columns:
                raise SparqlError(
                    f"projection alias ?{alias} is already bound"
                )
            rewritten = _rewrite_having(expr, extend_aliases)
            out = out.withColumn(
                alias,
                _materialize_value(rewritten, set(out.columns)),
            )
            if _expr_nullable(expr, where_nullable):
                out_nullable.add(alias)
        if extend_aliases:
            out = out.drop(*extend_aliases.values())
    projection_names = _projected_names(projection)
    if projection_names is not None:
        if len(set(projection_names)) != len(projection_names):
            dups = sorted(
                {v for v in projection_names
                 if projection_names.count(v) > 1}
            )
            # the SPARQL grammar forbids repeating a variable in SELECT,
            # and a duplicate-named output column would break any
            # column-keyed consumer downstream
            raise SparqlError(f"duplicate SELECT projection: {dups}")
        missing = [v for v in projection_names if v not in out.columns]
        if missing:
            raise SparqlError(f"projected vars never bound: {missing}")

    def _apply_order_limit(df: DataFrame) -> DataFrame:
        return _order_page(
            df, modifiers["order"], modifiers["limit"],
            modifiers["offset"],
            partition=modifiers.get("graph_partition"),
        )

    if modifiers["distinct"]:
        # SPARQL solution-modifier order: project -> DISTINCT -> ORDER ->
        # LIMIT, so sort keys must survive the projection
        if projection_names is not None:
            out = out.select(*projection_names)
        out = out.dropDuplicates()
        return _apply_order_limit(out), out_nullable & set(out.columns)
    out = _apply_order_limit(out)
    if projection_names is not None:
        out = out.select(*projection_names)
    return out, out_nullable & set(out.columns)


def _apply_trailing_values(
    out: DataFrame, modifiers: dict, pfx, nullable: set
) -> "tuple[DataFrame, set[str]]":
    """§18.2.4.3: join the trailing VALUES data AFTER aggregation and
    HAVING, with the spec's compatible-mapping semantics: per shared
    variable the bindings agree where BOTH are bound; a solution row
    with the variable UNBOUND (NULL — e.g. OPTIONAL-bound) is compatible
    with every inline row and takes the inline value (``coalesce``),
    exactly like :func:`_join_compatible`. Scale-critical split: never-
    null shared variables are pure equi keys (hash join); only variables
    in ``nullable`` ride the ``IS NULL OR =`` form as a residual
    predicate — and a clause whose shared variables are ALL nullable
    would degrade to a nested loop, so the planner raises instead.
    Subset restrictions (each a loud error, never a silent divergence):
    the inline data must share at least one variable with the result (a
    no-shared-vars clause would cross-extend every solution), and UNDEF
    is not allowed on a shared variable (the inline side of the join
    must be fully bound). The join compares lexical forms — the result
    side is cast to string so a native aggregate alias (BIGINT COUNT)
    matches its lexical spelling instead of tripping an ANSI cast.

    Returns ``(joined, nullable)``: ``nullable`` grows by the (new)
    variables an ``UNDEF`` row leaves unbound."""
    tv = modifiers.get("trailing_values")
    if not tv:
        return out, nullable
    _, names, rows = tv
    undef = {
        names[i] for row in rows for i, t in enumerate(row) if t is None
    }
    shared = [n for n in names if n in out.columns]
    if not shared:
        raise SparqlError(
            "trailing VALUES sharing no variable with the result would "
            "cross-extend every solution — share at least one variable"
        )
    bad = sorted(set(shared) & undef)
    if bad:
        raise SparqlError(
            f"UNDEF on shared trailing-VALUES variables {bad} would "
            "need a null-tolerant join — outside the subset"
        )
    soft = [n for n in shared if n in nullable]
    hard = [n for n in shared if n not in nullable]
    if not hard:
        raise SparqlError(
            f"trailing VALUES shares only nullable variables {soft} "
            "with the result — the compatible join cannot hash-join; "
            "share at least one always-bound variable"
        )
    data = [
        tuple(
            None if t is None else str(_resolve(t, pfx or {})[1])
            for t in row
        )
        for row in rows
    ]
    schema = ", ".join(f"`__tv_{n}` string" for n in names)
    vdf = out.sparkSession.createDataFrame(data, schema=schema)
    cond = None
    for c in hard:
        e = F.col(c).cast("string") == F.col(f"__tv_{c}")
        cond = e if cond is None else cond & e
    for c in soft:
        e = F.col(c).isNull() | (
            F.col(c).cast("string") == F.col(f"__tv_{c}")
        )
        cond = cond & e
    joined = out.join(F.broadcast(vdf), cond, "inner")
    for n in names:
        if n in soft:
            # the merged solution takes the inline value where the
            # solution side was unbound (lexical/string domain)
            joined = joined.withColumn(
                n,
                F.coalesce(F.col(n).cast("string"), F.col(f"__tv_{n}")),
            ).drop(f"__tv_{n}")
        elif n in shared:
            joined = joined.drop(f"__tv_{n}")
        else:
            joined = joined.withColumnRenamed(f"__tv_{n}", n)
    return joined, nullable | undef


def sparql_ask(
    triples: DataFrame,
    query: str,
    prefixes: "dict[str, str] | None" = None,
    bindings: "dict[str, str] | None" = None,
    max_path_depth: int = 12,
) -> bool:
    """Evaluate a SPARQL ``ASK`` over a ``(s, p, o)`` DataFrame: True iff
    the pattern has at least one solution. Compiles through the same
    planner as :func:`sparql_select`; the existence probe is bounded
    (``limit(1)``), so it costs one short-circuiting job, never a full
    materialization. ``prefixes``/``bindings`` behave exactly as in
    :func:`sparql_select` (rdflib ``initBindings`` parity —
    reference src/bio2bel/sources/rhea.py:38-47 runs arbitrary rdflib
    query forms, ASK included)."""
    pfx, group = _parse(query, prefixes, _Parser.parse_ask)
    out, _ = _solutions(triples, group, pfx, bindings, max_path_depth)
    return out.limit(1).count() > 0


def sparql_describe(
    triples: DataFrame,
    query: str,
    prefixes: "dict[str, str] | None" = None,
    bindings: "dict[str, str] | None" = None,
    max_path_depth: int = 12,
) -> DataFrame:
    """Evaluate a SPARQL ``DESCRIBE`` over a ``(s, p, o)`` DataFrame:
    the distinct triples whose SUBJECT is one of the described
    resources. DESCRIBE's result form is implementation-defined by the
    spec (§16.4); this is the blank-node-free Concise Bounded
    Description — exactly what rdflib's evaluator returns for a graph
    without blank nodes, and the only self-consistent reading of CBD in
    a model that has none.

    Resources are the explicit IRIs plus, for each ``DESCRIBE ?v``, the
    distinct bindings of ``?v`` in the WHERE solutions. Scale shape:
    the resource set is a distinct projection (small by construction —
    it's a description request), so the final filter is a broadcast
    semi join against the triples scan; an IRI-only DESCRIBE compiles
    to a pushable ``isin`` scan filter with no join at all.

    Over a QUAD input the description comes from the DEFAULT graph
    (g IS NULL) — the same dataset rule as every pattern outside a
    GRAPH clause, and the WHERE group may still use GRAPH clauses to
    find the resources (round 12; previously rejected)."""
    default = _default_graph(triples)
    pfx, terms, group = _parse(query, prefixes, _Parser.parse_describe)
    consts = [str(_resolve(t, pfx)[1]) for t in terms if t[0] != "var"]
    varnames = [t[1] for t in terms if t[0] == "var"]
    if group is None:
        if bindings:
            raise SparqlError(
                "DESCRIBE bindings= need a WHERE group to constrain"
            )
        return default.filter(F.col("s").isin(consts)).distinct()
    sol, _ = _solutions(triples, group, pfx, bindings, max_path_depth)
    missing = [v for v in varnames if v not in sol.columns]
    if missing:
        raise SparqlError(f"DESCRIBE vars never bound: {missing}")
    res = None
    for v in varnames:
        r = (
            sol.select(F.col(v).alias("s"))
            .filter(F.col("s").isNotNull())
            .distinct()
        )
        res = r if res is None else res.unionByName(r)
    if consts:
        cdf = triples.sparkSession.createDataFrame(
            [(c,) for c in consts], "`s` string"
        )
        res = cdf if res is None else res.unionByName(cdf)
    return default.join(F.broadcast(res.distinct()), "s", "left_semi").distinct()


def sparql_construct(
    triples: DataFrame,
    query: str,
    prefixes: "dict[str, str] | None" = None,
    bindings: "dict[str, str] | None" = None,
    max_path_depth: int = 12,
) -> DataFrame:
    """Evaluate a SPARQL ``CONSTRUCT`` over a ``(s, p, o)`` DataFrame,
    returning the derived graph as a DISTINCT ``(s, p, o)`` DataFrame —
    the subgraph-derivation form the reference's rdflib pipelines use to
    reshape downloaded RDF (reference src/bio2bel/sources/rhea.py runs
    arbitrary rdflib query forms over the parsed graph).

    Per spec: each solution of the WHERE pattern instantiates every
    template triple; a solution leaving any template position unbound
    (an OPTIONAL miss) contributes no triple for that template row; the
    result is a GRAPH, i.e. set semantics — one DISTINCT over the
    unioned instantiations. Plan shape: the solution table is computed
    ONCE, each template triple is a projection of it, and the union +
    dropDuplicates is the only added shuffle. ``ORDER BY``/``LIMIT``/
    ``OFFSET`` page the solution sequence before instantiation.

    QUAD templates (round 13): ``GRAPH term { triples }`` sub-blocks in
    the template emit into named graphs — the result is then a
    ``(g, s, p, o)`` DataFrame (g NULL = default graph for triples
    outside any GRAPH block), a store-to-store transform whose output
    feeds straight back into the quad-store query/UPDATE forms. A
    template with no GRAPH block keeps the plain ``(s, p, o)``
    schema."""
    pfx, template, group, order, limit, offset = _parse(
        query, prefixes, _Parser.parse_construct
    )
    # _solutions re-projects every binding as a constant column
    out, _ = _solutions(
        triples, group, pfx, bindings, max_path_depth,
        extra_bindable=_template_vars(template),
    )
    out = _order_page(out, order, limit, offset)
    # fail fast on an invalid template BEFORE any materialization below
    # can execute the (possibly expensive) WHERE plan
    _validate_template(template, out.columns, "CONSTRUCT")
    if len(template) > 1:
        # each template triple is a consumer of the solution table, and
        # without sharing every branch re-executes the WHERE plan. When a
        # page was cut (LIMIT/OFFSET), independent GlobalLimits could even
        # pick DIFFERENT solution subsets per branch — an incoherent graph
        # — so the paged table is pinned EAGERLY (checkpoint). Unpaged,
        # re-execution is deterministic and merely wasteful, so a lazy
        # persist shares the one scan without running a job at build time.
        if limit is not None or offset:
            out = out.localCheckpoint(eager=True)
        else:
            from bio2bel_spark.operators.caching import tracked_persist

            out = tracked_persist(out)

    # outside-GRAPH triples target the default graph (with_g None -> g
    # NULL); a template with no GRAPH block emits plain triples
    built = _instantiate_quads(out, template, pfx, with_g=None)
    if all(g is None for g, _s, _p, _o in template):
        built = built.drop("g")
    return built.dropDuplicates()


def _template_vars(*templates) -> set:
    """The variables of quad templates (None for an absent one). A
    binding may target a variable used ONLY in a template (rdflib emits
    the constant into every instantiated triple), so these names are
    bindable even when the WHERE never mentions them."""
    return {
        t[1]
        for tmpl in templates
        if tmpl
        for quad in tmpl
        for t in quad
        if t is not None and t[0] == "var"
    }


def _validate_template(template, columns, label: str) -> None:
    """Reject a template referencing a variable the WHERE pattern never
    binds — at compile time, before any job can run. A quad's graph
    position is None for outside-GRAPH triples."""
    cols = set(columns)
    for tri in template:
        for term in tri:
            if term is not None and term[0] == "var" and term[1] not in cols:
                raise SparqlError(
                    f"{label} template variable ?{term[1]} is never "
                    "bound by the WHERE pattern"
                )


def sparql_update(
    triples: DataFrame,
    query: str,
    prefixes: "dict[str, str] | None" = None,
    bindings: "dict[str, str] | None" = None,
    max_path_depth: int = 12,
) -> DataFrame:
    """Evaluate SPARQL 1.1 Update operations over a ``(s, p, o)``
    DataFrame and return the UPDATED graph as a NEW DataFrame — the
    Spark-first reading of a mutating protocol over immutable data: the
    input is never modified; each operation contributes the lazy plan
    ``(G \\ D) ∪ I``, and ``;``-separated operations apply left to right
    with each WHERE evaluated against the graph state the previous
    operation produced (the spec's evaluation order).

    Supported operations: ``INSERT DATA { ... }`` / ``DELETE DATA
    { ... }`` (ground triples/quads), ``DELETE WHERE { quads }`` (the
    pattern is the template), the general modify form ``[WITH <g>]
    DELETE { t } INSERT { t } [USING [NAMED] <g>]* WHERE { group }``
    with either template optional, ``CLEAR`` / ``DROP``
    ``(GRAPH <g> | DEFAULT | NAMED | ALL)``, ``LOAD <path> [INTO GRAPH
    <g>]`` (local N-Triples via :func:`ingest.read_ntriples` — network
    sources rejected), ``CREATE GRAPH <g>`` (a validated no-op: a graph
    IS its rows), and ``COPY`` / ``MOVE`` / ``ADD`` ``src TO dst``
    (NULL-aware filters + a retargeting union; ``src = dst`` is the
    spec's no-op; COPY/MOVE overwrite dst).

    GRAPH TARGETING (round 12): over a QUAD input (a ``g`` column, see
    :func:`bio2bel_spark.ingest.read_nquads`) templates may contain
    ``GRAPH term { triples }`` sub-blocks (constants or WHERE-bound
    variables), ``WITH <g>`` makes g both the template target for
    non-GRAPH triples and the WHERE's default graph, ``USING`` /
    ``USING NAMED`` build the WHERE dataset exactly like FROM / FROM
    NAMED, and CLEAR/DROP remove graphs (DROP == CLEAR: a graph IS its
    rows — no empty-graph bookkeeping exists to distinguish them).
    A plain TRIPLE input runs through the same quad path as one default
    graph (g NULL on every row, dropped again on return; its WHERE sees
    the plain triples). Over it the graph-targeted forms raise (CLEAR
    DEFAULT / ALL empty the store, CLEAR NAMED is a no-op).

    Set semantics: the input is assumed to be a graph (a SET of
    triples — dropDuplicates first if unsure) and the result is a
    DISTINCT graph. Membership through anti-join / union is unaffected
    by intermediate multiplicity, so the final dedup is the only
    unconditional one — BUT a later operation's WHERE can OBSERVE
    multiplicity (a COUNT inside a subquery would double-count a triple
    an earlier op re-inserted), so the solution graph is deduped for
    ops that follow an insert; delete-only prefixes stay shuffle-free.

    ``bindings=`` (rdflib initBindings) are validated against the UNION
    of all operations' variables, then each operation receives the
    subset its own pattern/templates mention — a binding consumed by op
    1 must not make op 2 raise.

    Scale shape: deletes are hash anti-joins on ``(g, s, p, o)`` with a
    NULL-SAFE g key (the default graph is g IS NULL; EqualNullSafe is
    still a hash-join key, never a nested loop); CLEAR/DROP are pushed
    scan filters; DATA
    payloads are driver-literal by construction and broadcast; a modify
    carrying BOTH templates computes its solution table once and shares
    it across the two instantiations (tracked_persist — the same
    multi-consumer policy as CONSTRUCT's multi-template sharing). Both
    D and I are evaluated against the PRE-operation graph, so inserts
    win over deletes on overlap, per spec.

    Reference parity: the reference's rdflib pipelines hold graphs that
    expose ``Graph.update()`` (src/bio2bel/sources/rhea.py loads RDF
    with rdflib); this engine returns the new graph instead of mutating
    in place — callers re-assign, exactly like every other DataFrame op.
    """
    has_g = "g" in triples.columns
    toks = _tokenize(query)
    ops = _Parser(toks, prefixes).parse_update()
    per_op_vars = [_update_op_vars(op) for _, op in ops]
    if bindings:
        unknown = sorted(set(bindings) - set().union(*per_op_vars))
        if unknown:
            raise SparqlError(
                "bindings for variables not in any operation's pattern "
                f"or template: {unknown}"
            )
    # every operation runs over quads: a plain triple store is one
    # default graph, g NULL on every row (dropped again on return)
    graph = triples if has_g else triples.withColumn(
        "g", F.lit(None).cast("string")
    )
    dirty = False  # an earlier op inserted rows -> graph may be a bag
    for (declared, op), opvars in zip(ops, per_op_vars):
        pfx = dict(prefixes or {})
        pfx.update(declared)
        op_bindings = (
            {k: v for k, v in bindings.items() if k in opvars} or None
            if bindings
            else None
        )
        # the WHERE of a plain store sees the plain triples, so GRAPH
        # clauses over it keep their loud error
        sol_graph = graph if has_g else graph.drop("g")
        if not has_g:
            _reject_graph_targeting(op)
        if dirty:
            sol_graph = sol_graph.dropDuplicates()
        graph = _apply_update_op(
            graph, op, pfx, op_bindings, max_path_depth, sol_graph
        )
        if (
            (op[0] in ("data", "modify") and op[2])
            or op[0] == "load"
            or (op[0] == "gmove" and op[1] == "ADD")
        ):
            # the op can introduce DUPLICATE rows -> later WHEREs need a
            # deduped solution graph. COPY/MOVE cannot: their output is
            # a disjoint-by-graph union of set inputs.
            dirty = True
    return (graph if has_g else graph.drop("g")).dropDuplicates()


def _reject_graph_targeting(op) -> None:
    """Over a plain TRIPLE input the graph-targeted forms have nothing
    to target — loud error, never a silent no-op. (CLEAR DEFAULT / ALL
    stay legal: a triple store IS one default graph; CLEAR NAMED is a
    legal no-op — there are no named graphs to clear.)"""
    msg = (
        "graph-targeted UPDATE ({}) needs a quad input (a 'g' column — "
        "see ingest.read_nquads); this store is plain (s, p, o) triples"
    )
    if op[0] == "clear":
        if isinstance(op[1], tuple):
            raise SparqlError(msg.format("CLEAR/DROP GRAPH"))
        return
    if op[0] == "create":
        raise SparqlError(msg.format("CREATE GRAPH"))
    if op[0] == "gmove":
        if op[2] == "default" and op[3] == "default":
            return  # the spec's self-copy no-op touches only the default
        raise SparqlError(msg.format(op[1] + " ... TO"))
    if op[0] == "load":
        if op[2] is not None:
            raise SparqlError(msg.format("LOAD ... INTO GRAPH"))
        return
    if op[0] == "data":
        _, dels, ins = op
        if any(q[0] is not None for q in (dels or []) + (ins or [])):
            raise SparqlError(msg.format("GRAPH block in DATA"))
        return
    _, delete_t, insert_t, _group, with_g, using = op
    if with_g is not None:
        raise SparqlError(msg.format("WITH"))
    if using is not None:
        raise SparqlError(msg.format("USING"))
    for tmpl in (delete_t, insert_t):
        if tmpl and any(q[0] is not None for q in tmpl):
            raise SparqlError(msg.format("GRAPH block in a template"))


def _update_op_vars(op) -> set:
    """Every variable an update operation can mention — its WHERE group
    plus its templates (a binding may target a template-only variable,
    like CONSTRUCT's extra_bindable)."""
    if op[0] != "modify":
        return set()
    delete_t, insert_t, group = op[1], op[2], op[3]
    return _collect_vars(group) | _template_vars(delete_t, insert_t)


def _apply_clear(graph: DataFrame, target, pfx) -> DataFrame:
    """CLEAR / DROP as a pushed scan filter over the store. The NULL-
    aware forms: the default graph is the g-IS-NULL rows, so CLEAR
    GRAPH <g> must KEEP them (plain ``g != iri`` would three-value-NULL
    them away)."""
    if target == "all":
        return graph.limit(0)
    if target == "default":
        return graph.filter(F.col("g").isNotNull())
    if target == "named":
        return graph.filter(F.col("g").isNull())
    iri = str(_resolve(target[1], pfx)[1])
    return graph.filter(F.col("g").isNull() | (F.col("g") != F.lit(iri)))


def _anti_join_quads(graph: DataFrame, dels: DataFrame) -> DataFrame:
    """``G \\ D`` over quads: hash anti-join on (g, s, p, o) with a
    NULL-SAFE g key — default-graph rows carry g NULL on both sides and
    must still match (EqualNullSafe is a legal hash-join key, so the
    plan stays a BroadcastHashJoin/SortMergeJoin, never a nested
    loop)."""
    d = dels.select(
        *[F.col(c).alias(f"__del_{c}") for c in ("g", "s", "p", "o")]
    )
    cond = (
        F.col("g").eqNullSafe(F.col("__del_g"))
        & (F.col("s") == F.col("__del_s"))
        & (F.col("p") == F.col("__del_p"))
        & (F.col("o") == F.col("__del_o"))
    )
    return graph.join(d, cond, "left_anti")


def _instantiate_quads(
    out: DataFrame, template, pfx, with_g: "str | None"
) -> DataFrame:
    """Instantiate QUAD templates over a solution table (shared by
    CONSTRUCT and the UPDATE modify forms): each template quad is a
    projection of the solutions; triples outside any GRAPH block target
    the WITH graph (or the default graph — g NULL); a solution leaving
    s/p/o (or a variable graph position) unbound (an OPTIONAL miss)
    emits no quad, per spec. Returns the unioned instantiations WITHOUT
    dedup — callers decide (CONSTRUCT dedups to a graph; UPDATE's
    anti-join/union don't care about multiplicity)."""

    def _pos(term) -> Column:
        if term[0] == "var":
            return F.col(term[1])
        return F.lit(str(_resolve(term, pfx)[1]))

    built = None
    for g, s, p, o in template:
        gcol = F.lit(with_g).cast("string") if g is None else _pos(g)
        row = out.select(
            gcol.alias("g"), _pos(s).alias("s"),
            _pos(p).alias("p"), _pos(o).alias("o"),
        )
        # g NULL is a legitimate target (the default graph) — only an
        # unbound VARIABLE graph position suppresses the quad
        subset = ["s", "p", "o"] + (
            ["g"] if g is not None and g[0] == "var" else []
        )
        row = row.na.drop(subset=subset)
        built = row if built is None else built.unionByName(row)
    return built


def _apply_update_op(
    graph: DataFrame,
    op,
    pfx,
    bindings,
    max_path_depth: int,
    sol_graph: DataFrame,
) -> DataFrame:
    """Apply one operation to the quad store ``graph``: templates
    instantiate (g, s, p, o), deletes null-safe-join on g, and WITH /
    USING shape the WHERE dataset. ``sol_graph`` is the graph the WHERE
    pattern evaluates over — plain triples for a plain store, and
    deduped by the caller when an earlier op may have introduced
    duplicates (multiplicity is invisible to anti-join/union but NOT to
    aggregates inside the pattern); deletes/inserts still apply to the
    raw ``graph``."""
    spark = graph.sparkSession
    if op[0] == "clear":
        return _apply_clear(graph, op[1], pfx)
    if op[0] == "create":
        return graph  # validated no-op: a graph IS its rows
    if op[0] == "load":
        import os as _os

        from bio2bel_spark.ingest import read_ntriples

        src = str(_resolve(op[1], pfx)[1])
        m = re.match(r"^file://([^/]*)(/.*)$", src)
        if m:
            # RFC 8089: file://<authority><path> — the authority (empty
            # or localhost) is not part of the filesystem path
            src = m.group(2)
        elif "://" in src:
            raise SparqlError(
                "LOAD only reads local N-Triples paths (file:// or "
                "bare); network sources are out of scope"
            )
        if not _os.path.exists(src):
            if op[3]:  # SILENT: a failed load is a no-op (§3.1.4)
                return graph
            raise SparqlError(
                f"LOAD source not found: {src} (use LOAD SILENT to "
                "treat a missing source as a no-op)"
            )
        target = None if op[2] is None else str(_resolve(op[2], pfx)[1])
        loaded = read_ntriples(spark, src).select(
            F.lit(target).cast("string").alias("g"), "s", "p", "o"
        )
        return graph.unionByName(loaded)
    if op[0] == "gmove":
        # COPY/MOVE/ADD src TO dst over the quad store: retarget src's
        # rows to dst (COPY/MOVE overwrite dst first; MOVE then drops
        # src); src == dst is the spec's no-op. Pure filters + unions.
        _, kind, src, dst = op

        def _gval(ref):
            return None if ref == "default" else str(_resolve(ref[1], pfx)[1])

        sv, dv = _gval(src), _gval(dst)
        if sv == dv:
            return graph

        def _in(ref_val):
            c = F.col("g")
            return c.isNull() if ref_val is None else c == F.lit(ref_val)

        def _not_in(ref_val):
            # NULL-aware complement: plain != would three-value-NULL the
            # default graph's rows away
            c = F.col("g")
            if ref_val is None:
                return c.isNotNull()
            return c.isNull() | (c != F.lit(ref_val))

        moved = graph.filter(_in(sv)).withColumn(
            "g", F.lit(dv).cast("string")
        )
        out = graph
        if kind in ("COPY", "MOVE"):
            out = out.filter(_not_in(dv))  # dst is OVERWRITTEN, per spec
        if kind == "MOVE":
            out = out.filter(_not_in(sv))
        return out.unionByName(moved)
    if op[0] == "data":
        _, dels, ins = op

        def _ground(quads):
            return [
                (
                    None if g is None else str(_resolve(g, pfx)[1]),
                    str(_resolve(s, pfx)[1]),
                    str(_resolve(p, pfx)[1]),
                    str(_resolve(o, pfx)[1]),
                )
                for (g, s, p, o) in quads
            ]

        schema = "g string, s string, p string, o string"
        if dels:
            ddf = spark.createDataFrame(_ground(dels), schema)
            graph = _anti_join_quads(graph, F.broadcast(ddf))
        if ins:
            graph = graph.unionByName(
                spark.createDataFrame(_ground(ins), schema)
            )
        return graph
    _, delete_t, insert_t, group, with_g, using = op
    wg = None if with_g is None else str(_resolve(with_g, pfx)[1])
    where_graph = sol_graph
    if using is not None:
        # USING / USING NAMED are FROM / FROM NAMED for the WHERE
        where_graph = _apply_dataset_clauses(
            sol_graph,
            {"from_default": using[0], "from_named": using[1]},
            pfx,
        )
    elif wg is not None:
        # WITH: the WHERE's default graph is g's contents; named
        # graphs stay addressable (g itself included), per §3.1.3
        where_graph = sol_graph.filter(F.col("g") == wg).withColumn(
            "g", F.lit(None).cast("string")
        ).unionByName(sol_graph.filter(F.col("g").isNotNull()))
    sol, _ = _solutions(
        where_graph, group, pfx, bindings, max_path_depth,
        extra_bindable=_template_vars(delete_t, insert_t),
    )
    for tmpl, label in ((delete_t, "DELETE"), (insert_t, "INSERT")):
        if tmpl:
            _validate_template(tmpl, sol.columns, label)
    if delete_t and insert_t:
        from bio2bel_spark.operators.caching import tracked_persist

        sol = tracked_persist(sol)
    out = graph
    if delete_t:
        out = _anti_join_quads(out, _instantiate_quads(sol, delete_t, pfx, wg))
    if insert_t:
        out = out.unionByName(_instantiate_quads(sol, insert_t, pfx, wg))
    return out
