"""Ingestion utilities: cached acquisition + readers for every source format.

Spark-first mapping of the reference's download/parse layer:

* S1/S2 cached download — ``make_downloader``
  (``/root/reference/src/bio2bel/downloading.py:24-45``) and ``ensure_path``
  (``/root/reference/src/bio2bel/utils.py:48-117``): driver-side cache; at
  cluster scale you skip this entirely and ``spark.read`` the remote path.
* S3 CSV/TSV scan — ``make_df_getter`` (``downloading.py:68-92``) with the
  per-source knobs observed in the reference (``sep='\\t'``, ``usecols``,
  ``dtype=str``, ``na_values={'-'}``): ``spark.read.csv`` with an explicit
  schema (never inference in production paths — SURVEY §1.3).
* S4 zipped CSV — ``make_zipped_df_getter`` (``downloading.py:95-122``):
  Spark has no zip codec, so members are pre-extracted once into the cache
  dir, then read natively (gzip needs no extraction).
* S5 JSON — ``make_json_getter`` (``downloading.py:48-65``): ``spark.read.json``.
* S8 OBO ontology — ``make_obo_getter`` (``/root/reference/src/bio2bel/obo.py:
  27-62``): a minimal driver-side parser of the public OBO flat-file format
  into ``terms``/``edges`` DataFrames (parquet-cacheable, replacing gpickle).
* S7 RDF — rhea's rdflib graph (``sources/rhea.py:36-47``): an N-Triples line
  parser into a ``triples(s, p, o)`` DataFrame; SPARQL SELECTs become
  self-joins on that table (see sources/rhea.py here).
* S9 NDEx CX — ``iterate_aspect`` (``sources/pid.py:66-105``): CX JSON →
  per-aspect DataFrames via ``spark.read.json`` + explode.
"""

from __future__ import annotations

import json
import os
import re
import urllib.request
import zipfile
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the N-Triples LANGTAG production — ONE definition shared with the
# SPARQL layer so the scan and the query engine can never disagree on
# what counts as an encoded (typed/lang-tagged) literal
from bio2bel_spark.sparql import _LANGTAG

DEFAULT_CACHE_ROOT = os.path.join(os.path.expanduser("~"), ".bio2bel_spark", "cache")


def cache_dir(module: str, root: Optional[str] = None) -> str:
    """Per-module cache directory (``utils.py:48-66`` ``get_data_dir``)."""
    path = os.path.join(root or DEFAULT_CACHE_ROOT, module)
    os.makedirs(path, exist_ok=True)
    return path


def cached_download(url: str, path: str, force: bool = False) -> str:
    """Download ``url`` to ``path`` unless already cached
    (``downloading.py:24-45``)."""
    if os.path.exists(path) and not force:
        return path
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    urllib.request.urlretrieve(url, path)  # noqa: S310 — explicit source URL
    return path


def clear_cache(module: str, root: Optional[str] = None) -> None:
    """``clear_cache`` (``utils.py:170-186``)."""
    import shutil

    path = os.path.join(root or DEFAULT_CACHE_ROOT, module)
    if os.path.isdir(path):
        shutil.rmtree(path)


def extract_zip_member(zip_path: str, member: str, out_dir: Optional[str] = None) -> str:
    """Pre-extract one member of a zip so Spark can read it natively (S4)."""
    out_dir = out_dir or os.path.dirname(zip_path)
    target = os.path.join(out_dir, os.path.basename(member))
    if not os.path.exists(target):
        with zipfile.ZipFile(zip_path) as zf, zf.open(member) as src, open(
            target, "wb"
        ) as dst:
            dst.write(src.read())
    return target


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: str,
    usecols: Optional[Sequence[str]] = None,
    sep: str = "\t",
    null_value: Optional[str] = None,
    header: bool = True,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Schema-pinned delimited scan (S3).

    ``schema`` is a DDL string; pass all-STRING schemas to mirror
    ``dtype=str`` reads (``biogrid.py:224``). ``null_value`` mirrors
    ``na_values={'-'}`` (``intact.py:519``). Column pruning via ``usecols``
    reaches the scan through Catalyst.
    """
    reader = (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("header", str(header).lower())
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
    )
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    df = reader.csv(path)
    if usecols:
        df = df.select(*usecols)
    return df


def read_json(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """JSON scan (S5)."""
    return spark.read.option("multiLine", str(multiline).lower()).json(path)


# --------------------------------------------------------------------- OBO (S8)

_OBO_TAG = re.compile(r"^([A-Za-z_]+):\s*(.*?)\s*(?:!.*)?$")


def parse_obo(text: str) -> tuple[list[dict], list[dict]]:
    """Parse OBO flat-file text into term dicts + edge dicts.

    Public OBO 1.2/1.4 format. Produces the same logical content the
    reference gets from ``obonet.read_obo`` (``obo.py:27-62``): term id/name/
    namespace/obsolete plus ``is_a`` / ``relationship`` edges.
    """
    terms: list[dict] = []
    edges: list[dict] = []
    current: Optional[dict] = None
    in_term = False
    for raw_line in text.splitlines():
        line = raw_line.strip()
        if line.startswith("["):
            if current is not None and in_term:
                terms.append(current)
            in_term = line == "[Term]"
            current = {"id": None, "name": None, "namespace": None, "is_obsolete": False}
            continue
        if not line or current is None or not in_term:
            continue
        m = _OBO_TAG.match(line)
        if not m:
            continue
        tag, value = m.group(1), m.group(2)
        if tag == "id":
            current["id"] = value
        elif tag == "name":
            current["name"] = value
        elif tag == "namespace":
            current["namespace"] = value
        elif tag == "is_obsolete":
            current["is_obsolete"] = value.lower() == "true"
        elif tag == "is_a":
            edges.append({"child": current["id"], "relation": "is_a", "parent": value.split()[0]})
        elif tag == "relationship":
            parts = value.split()
            if len(parts) >= 2:
                edges.append({"child": current["id"], "relation": parts[0], "parent": parts[1]})
    if current is not None and in_term:
        terms.append(current)
    return terms, edges


def read_obo(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """OBO file → (terms, edges) DataFrames.

    Driver-side parse is fine at ontology scale (OBO files are MBs); the
    resulting DataFrames are the parquet-cacheable replacement for the
    reference's gpickle cache (``obo.py:48-58``).
    """
    with open(path, encoding="utf-8") as f:
        terms, edges = parse_obo(f.read())
    terms_df = spark.createDataFrame(
        terms, schema="id string, name string, namespace string, is_obsolete boolean"
    )
    edges_df = spark.createDataFrame(
        edges or [], schema="child string, relation string, parent string"
    )
    return terms_df, edges_df


# ---------------------------------------------------------------- N-Triples (S7)

#: group separator for the one-pass line parse — U+001F cannot appear in a
#: well-formed IRI and is only LEGALLY raw inside literal bodies, which the
#: fallback guard below detects per line
_GSEP = "\x1f"


def _grouped_lines(lines: DataFrame, pat: str, n: int) -> tuple:
    """Parse ``n`` capture groups of anchored ``pat`` with ONE regex
    execution per line: rewrite the matched line to its groups joined by
    ``_GSEP``, split, and return ``(projected_lines, [group_cols])`` — vs
    ``n`` separate ``regexp_extract`` calls, each a full match of the
    same pattern (the parse is the per-byte cost of the read path, so at
    100 TB this cuts the regex work n-fold).

    Two shape constraints learned by measurement (round 14):

    - The split array is materialized as its OWN projected column
      (``__parts``), NOT inlined per group column: ``CollapseProject``
      refuses to inline a non-cheap alias referenced more than once, so
      the replace+split runs once per line per operator, while Spark's
      codegen subexpression elimination would NOT have deduplicated it —
      it skips everything under a ``CASE WHEN`` branch, and an inlined
      variant re-ran the full pattern for every downstream reference
      (2x slower on the .nq path).
    - The raw-0x1F fallback (legal inside literal bodies, pathological)
      is a per-GROUP ``regexp_extract`` inside the rare branch of a tiny
      per-column conditional, so expression trees stay small enough for
      whole-stage codegen's 64 KB method limit.

    Non-matching lines pass through ``regexp_replace`` unchanged, so
    group 1 is the raw line and groups 2+ are '' — the callers'
    ``p_raw != ''`` guard drops them exactly as with ``regexp_extract``.
    A non-participating optional group renders as '' in the replacement,
    matching ``regexp_extract``'s '' for the same group."""
    value = F.col("value")
    tmpl = _GSEP.join(f"${i}" for i in range(1, n + 1))
    parts = F.split(F.regexp_replace(value, pat, tmpl), _GSEP)
    # Always-true monotonically_increasing_id() guard = a PUSHDOWN
    # BARRIER, not real branching: __parts never depends on it (the id is
    # nonnegative, so >= -1 always holds), but a non-deterministic
    # projection field stops Catalyst from (a) collapsing this project
    # into consumers and (b) pushing consumer predicates below it — both
    # of which would INLINE the replace+split into every downstream
    # reference (measured: a SPARQL consumer's plan carried 30 copies,
    # each a full pattern execution per line). With the barrier the parse
    # is one regex execution per line, and consumer filters evaluate
    # against the cheap parsed columns above it. rand()-based guards do
    # NOT work here: Spark 4's optimizer strips them and re-inlines.
    projected = lines.select(
        "value",
        F.when(
            F.monotonically_increasing_id() >= F.lit(-1).cast("long"),
            parts,
        ).alias("__parts"),
    )
    cols = [
        F.when(
            value.contains(_GSEP), F.regexp_extract(value, pat, i)
        ).otherwise(F.try_element_at(F.col("__parts"), F.lit(i)))
        for i in range(1, n + 1)
    ]
    return projected, cols


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """N-Triples file → ``triples(s, p, o)`` DataFrame (S7).

    SPARQL SELECT patterns over the rhea RDF (``sources/rhea.py:75-89``)
    become self-joins on this table; ``OPTIONAL`` clauses become left joins.
    Parsing is distributed: each line is independent, so we read as text and
    extract with JVM-side regexps — no driver bottleneck at 100 TB.
    """
    # no repartition: the one-pass parse costs less per line than a
    # round-robin exchange; parallelism comes from the file's splits
    lines = spark.read.text(path)
    pat = r"^\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+(.*?)\s*\.\s*$"
    grouped, (s_raw, p_raw, o_raw) = _grouped_lines(lines, pat, 3)
    df = grouped.select(
        s_raw.alias("s_raw"), p_raw.alias("p_raw"), o_raw.alias("o_raw")
    ).filter(F.col("p_raw") != "")
    return df.select(
        _term_col(F.col("s_raw")).alias("s"),
        _term_col(F.col("p_raw")).alias("p"),
        _term_col(F.col("o_raw")).alias("o"),
    )


def _term_col(c):
    """Unwrap one raw N-Triples/N-Quads term column: ``<iri>`` -> iri,
    plain ``"lexical"`` -> bare lexical form, while a TYPED or LANG-
    TAGGED literal — ``"1"^^<...#int>`` / ``"chat"@fr`` — keeps its
    N-Triples serialization verbatim (the round-12 encoded-term model:
    sparql.py reads the suffix in LANG/DATATYPE/STR, numeric comparisons
    and aggregates; term identity stays plain string equality, and
    ``"1"^^xsd:int`` is correctly a DIFFERENT term from ``"1"``). Blank
    labels pass through verbatim. LANGUAGE TAGS canonicalize to
    LOWERCASE (RDF 1.1 §3.3: the tag value space is lowercase, so
    ``"x"@EN`` and ``"x"@en`` are the SAME literal — normalizing at
    every construction point keeps term identity = string equality);
    the query grammar (sparql._string_token_value) and STRLANG apply
    the same rule. ONE definition shared by both line readers so the
    unwrapping rules can never diverge between them."""
    lang_shape = r'^(".*")@(' + _LANGTAG + r")$"
    return (
        F.when(c.startswith("<"), F.regexp_extract(c, r"^<(.*)>$", 1))
        .when(
            c.startswith('"') & c.rlike(lang_shape),
            F.concat(
                F.regexp_extract(c, lang_shape, 1),
                F.lit("@"),
                F.lower(F.regexp_extract(c, lang_shape, 2)),
            ),
        )
        .when(
            c.startswith('"') & c.rlike(r'^".*"\^\^<[^>]*>$'),
            c,
        )
        .when(c.rlike(r'^"(.*)"$'), F.regexp_extract(c, r'^"(.*)"$', 1))
        # anything else (blank labels; a quoted token with a suffix the
        # strict LANGTAG grammar rejects) passes through verbatim rather
        # than collapsing to an empty term
        .otherwise(c)
    )


def read_nquads(spark: SparkSession, path: str) -> DataFrame:
    """N-Quads file → ``quads(g, s, p, o)`` DataFrame (S7, named-graph
    extension): a line's optional fourth term is its graph label; lines
    without one belong to the DEFAULT graph (``g`` NULL) — exactly the
    dataset the SPARQL planner's ``GRAPH`` clause expects (patterns
    outside GRAPH match the default graph, ``GRAPH ?g``/``GRAPH <iri>``
    match the named graphs). Parsing is distributed line-regex, same as
    :func:`read_ntriples`."""
    lines = spark.read.text(path)
    pat = (
        r"^\s*(<[^>]*>|_:\S+)\s+(<[^>]*>)\s+"
        r"(<[^>]*>|_:\S+|\".*\"(?:\^\^<[^>]*>|@" + _LANGTAG + r")?)"
        r"(?:\s+(<[^>]*>|_:\S+))?\s*\.\s*$"
    )
    grouped, (s_raw, p_raw, o_raw, g_raw) = _grouped_lines(lines, pat, 4)
    df = grouped.select(
        s_raw.alias("s_raw"), p_raw.alias("p_raw"),
        o_raw.alias("o_raw"), g_raw.alias("g_raw"),
    ).filter(F.col("p_raw") != "")
    return df.select(
        F.when(F.col("g_raw") == "", F.lit(None)).otherwise(
            _term_col(F.col("g_raw"))
        ).alias("g"),
        _term_col(F.col("s_raw")).alias("s"),
        _term_col(F.col("p_raw")).alias("p"),
        _term_col(F.col("o_raw")).alias("o"),
    )


# --------------------------------------------------------------------- CX (S9)


def read_cx_aspect(spark: SparkSession, path: str, aspect: str) -> DataFrame:
    """NDEx CX JSON → one aspect's rows as a DataFrame
    (``iterate_aspect``, ``sources/pid.py:66-105``).

    CX is a list of single-key dicts; we locate the aspect at the driver
    (files are small) and parallelize its element list.
    """
    with open(path, encoding="utf-8") as f:
        cx = json.load(f)
    elements: list = []
    for entry in cx:
        if aspect in entry:
            elements.extend(entry[aspect])
    if not elements:
        raise KeyError(f"aspect {aspect!r} not found in {path}")
    return spark.createDataFrame(elements)
