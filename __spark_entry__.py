"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship ComPath-style enrichment query at
sf0.001. ``queries()`` maps operator names (SURVEY.md §2) to callables
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB-
equivalent SQL the driver cross-checks at sf0.01.

Conventions for oracle parity:
* every aggregate/computed column is aliased identically on both sides;
* double-typed aggregates are rounded (2dp money, 6dp ratios) so
  floating-point summation order can't flip the value hash;
* counts are BIGINT on both sides (DuckDB sums are cast explicitly);
* timestamps are reduced to BIGINT epoch seconds on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SEED_PART_NAMES = ["cold widget", "small widget", "large bolt"]
_SEED_SQL = "('cold widget', 'small widget', 'large bolt')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from bio2bel_spark.tables import load_table

    return load_table(spark, sf_dir, name)


def _arr_str(col) -> F.Column:
    """Encode an array column as a ','-joined string for the driver compare.

    The driver canonicalizer sorts result rows with pandas, which raises
    ``unhashable type: 'list'`` on array cells — so every query that returns
    an array encodes it as a string on BOTH sides (Spark ``array_join`` ↔
    DuckDB ``array_to_string``). Elements are cast to string first so
    integer/long arrays work too (Spark's array_join is string-only).
    """
    return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")


def _pathway_store(spark: SparkSession, sf_dir: str):
    """Bind the ComPath operators to the driver's M2M trio:
    orders (pathways) ↔ part (proteins) via lineitem (membership)."""
    from bio2bel_spark.operators.pathways import PathwayStore

    return PathwayStore(
        _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey"), F.col("o_orderpriority"), F.col("o_totalprice")
        ),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("l_partkey").alias("p_partkey"),
        ),
        pathway_key="o_orderkey",
        protein_key="p_partkey",
        symbol_col="p_name",
        pathway_name_col="o_orderpriority",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the enrichment query (§3.2) at sf0.001."""
    return q_pathway_enrichment(spark, "/root/testdata/sf0.001")


# --------------------------------------------------------------------- queries


def q_pathway_enrichment(spark, sf_dir):
    """SURVEY §3.2 / J1-J3 + A5-A6: single-plan enrichment."""
    df = _pathway_store(spark, sf_dir).query_symbols(SEED_PART_NAMES)
    return df.withColumn("gene_set", _arr_str("gene_set"))


def q_pathway_size_distribution(spark, sf_dir):
    """A4: GROUP BY + HAVING."""
    return _pathway_store(spark, sf_dir).pathway_size_distribution()


def q_gene_pathway_counts(spark, sf_dir):
    """A4/A5: per-gene pathway-count distribution."""
    return _pathway_store(spark, sf_dir).gene_pathway_count_distribution()


def q_pathway_to_symbols(spark, sf_dir):
    """A6: grouped multidict (collect_set)."""
    df = _pathway_store(spark, sf_dir).pathway_to_symbols()
    return df.withColumn("symbols", _arr_str("symbols"))


def q_substring_search(spark, sf_dir):
    """P11: case-insensitive disjunctive substring search."""
    return _pathway_store(spark, sf_dir).search_genes("WIDGET")


def q_in_set_lookup(spark, sf_dir):
    """P7: IN-set filter."""
    return _pathway_store(spark, sf_dir).get_proteins_by_symbols(SEED_PART_NAMES)


def q_pricing_summary(spark, sf_dir):
    """A4 + P10 on the fact table (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_region(spark, sf_dir):
    """J1-chain over all dims (TPC-H Q5 shape): broadcast dims, one shuffle."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(orders.select("o_orderkey", "o_custkey")),
                li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_latest_event_per_user(spark, sf_dir):
    """O1: latest-per-key via row_number window (provenance `ls` pattern)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_timestamp("ts").alias("ts_epoch"),
        )
    )


def q_upsert_anti(spark, sf_dir):
    """A7/U1: insert-if-absent left-anti join (namespace update semantics)."""
    part = _t(spark, sf_dir, "part")
    existing = part.filter(F.col("p_partkey") < 100).select("p_partkey")
    incoming = part.filter(F.col("p_partkey") < 150).select("p_partkey", "p_name")
    return incoming.join(existing, "p_partkey", "left_anti")


def q_distinct_segments(spark, sf_dir):
    """A3: DISTINCT."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


def q_nation_segments(spark, sf_dir):
    """A6 + J1: per-nation sorted set of customer segments."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            _arr_str(F.sort_array(F.collect_set("c_mktsegment"))).alias("segments")
        )
    )


def q_content_hash(spark, sf_dir):
    """F11/A9: order-sensitive dataset content hash (namespace md5 contract,
    reference src/bio2bel/utils.py:189-199)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            F.concat_ws(":", F.col("p_partkey").cast("string"), "p_name").alias("kv")
        )
        .agg(
            F.md5(F.concat_ws("|", F.sort_array(F.collect_list("kv")))).alias(
                "content_hash"
            )
        )
    )


def q_content_hash_tree(spark, sf_dir):
    """F11/A9 at scale: tree-folded content digest (namespace_hash shape).
    Lines bucket by a pure hash of the line; each bucket folds in parallel;
    the final fold sees only 64 bucket digests — no full-table single
    reducer, unlike the flat `content_hash` baseline."""
    part = _t(spark, sf_dir, "part")
    kv = F.concat_ws(":", F.col("p_partkey").cast("string"), "p_name")
    h32 = F.conv(F.substring(F.md5(kv), 1, 8), 16, 10).cast("long")
    per_bucket = (
        part.select(kv.alias("kv"), F.pmod(h32, F.lit(64)).alias("b"))
        .groupBy("b")
        .agg(F.md5(F.concat_ws("\n", F.sort_array(F.collect_list("kv")))).alias("h"))
    )
    return per_bucket.agg(
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("b", "h"))),
                    lambda s: s["h"],
                ),
            )
        ).alias("content_hash")
    )


def q_events_hourly(spark, sf_dir):
    """Windowed temporal rollup (batch form of the streaming agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_json_props(spark, sf_dir):
    """Semi-structured extraction from the events.props JSON column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .filter(F.col("k") > 50)
    )


def q_word_counts(spark, sf_dir):
    """UDTF-style explode fan-out (J6): token frequencies over documents."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_first_prefixed_token(spark, sf_dir):
    """F2/F3: higher-order-function extractor — first token with a prefix
    (the pubmed:/intact-miscore: pattern, reference intact.py:408-433)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("get(filter(split(text, ' '), x -> x like 's%'), 0)").alias(
            "first_s_token"
        ),
    )


#: synthesized MITAB interaction-type codes for the F9 dispatch query —
#: covers increases+pmod, regulates, association, decreases (plain and
#: Gene-target), binds, decreases+pmod, and an unmapped code (reject path)
_DISPATCH_CODES = [
    'psi-mi:"MI:0217"(phosphorylation reaction)',
    'psi-mi:"MI:0407"(direct interaction)',
    'psi-mi:"MI:0915"(physical association)',
    'psi-mi:"MI:0194"(cleavage reaction)',
    'psi-mi:"MI:0195"(covalent binding)',
    'psi-mi:"MI:0203"(dephosphorylation reaction)',
    'psi-mi:"MI:0701"(dna strand elongation)',
    'psi-mi:"MI:9999"(unmapped reaction)',
]

#: synthesized raw identifier tokens for the F1 normalization query —
#: prefix synonyms, canonical prefixes, and a no-colon token (null path)
_CURIE_PREFIXES = [
    "uniprotkb",
    "Entrez Gene/LocusLink",
    "CHEBI",
    "uniprot/swiss-prot",
    "ec-code",
]


def q_curie_normalize(spark, sf_dir):
    """F1: CURIE normalization (prefix synonym fold + split) over a
    synthesized raw-identifier column — hash-level evidence for the
    reference's densest parse logic (intact.py:458-510)."""
    from bio2bel_spark.functions.curie import normalize_curie_cols

    part = _t(spark, sf_dir, "part")
    pre = F.element_at(
        F.array(*[F.lit(p) for p in _CURIE_PREFIXES]),
        (F.pmod(F.col("p_partkey"), F.lit(5)) + 1).cast("int"),
    )
    raw = F.when(
        F.pmod(F.col("p_partkey"), F.lit(7)) == 0,
        F.concat(F.lit("token"), F.col("p_partkey").cast("string")),
    ).otherwise(F.concat_ws(":", pre, F.col("p_partkey").cast("string")))
    with_raw = part.select("p_partkey", raw.alias("raw"))
    prefix, identifier = normalize_curie_cols("raw")
    return with_raw.select(
        "p_partkey", "raw", prefix.alias("prefix"), identifier.alias("identifier")
    )


def q_relation_dispatch(spark, sf_dir):
    """F9: the reference's ~280-line if/elif relation cascade
    (intact.py:595-875) as ONE broadcast join against the relation table —
    dispatch counts per (relation, variant_kind) including the reject path."""
    from bio2bel_spark.sources.intact import relation_table

    # no _spread: the dispatch-code projection is cheap arithmetic — the
    # r14 interleaved A/B read 1.49s with the local round-robin exchange
    # vs 1.32s without (plans/r14/ab_spread_results.log)
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    psi = F.element_at(
        F.array(*[F.lit(c) for c in _DISPATCH_CODES]),
        (F.pmod(F.col("l_orderkey") + F.col("l_partkey"), F.lit(8)) + 1).cast("int"),
    )
    keyed = li.withColumn("psi_mi", psi)
    joined = keyed.join(F.broadcast(relation_table(spark)), "psi_mi", "left")
    return joined.groupBy(
        F.coalesce("relation", F.lit("unhandled_relation")).alias("relation"),
        F.coalesce("variant_kind", F.lit("none")).alias("variant_kind"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def _fixture_path(name: str, content: str) -> str:
    """Write a deterministic scan-format fixture under the system temp dir
    and return its path. Content is fixed per name, so rewriting on every
    call is idempotent; fixtures let the driver hash-check the OBO/RDF/CX
    scan surface (S7-S9), which has no parquet twin in the test tables."""
    import os
    import tempfile

    d = os.path.join(tempfile.gettempdir(), "bio2bel_entry_fixtures")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, name)
    # atomic replace: a concurrent harness process re-writing the same
    # fixture must never expose a torn file to a reader
    tmp = p + f".{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(content)
    os.replace(tmp, p)
    return p


_OBO_FIXTURE = """format-version: 1.2

[Term]
id: GO:0001
name: alpha process
namespace: biological_process

[Term]
id: GO:0002
name: beta process
namespace: biological_process
is_a: GO:0001 ! alpha process

[Term]
id: GO:0003
name: gamma part
namespace: cellular_component
relationship: part_of GO:0001 ! alpha process

[Term]
id: GO:0004
name: old thing
is_obsolete: true

[Typedef]
id: part_of
"""


_PR_ITERS = 5
_PR_DAMPING = 0.85


def q_pagerank(spark, sf_dir):
    """Distributed PageRank over the symmetrized pathway-membership
    bipartite graph (order o:<id> ↔ part p:<id>); ranks scaled by N so the
    6dp round carries signal."""
    from bio2bel_spark.operators.graph import pagerank

    # bipartite ids ride as LONGS (order 2k, part 2k+1) through all ten
    # power-iteration shuffles — 8-byte keys instead of 'o:<id>' strings
    # (guide §2.3 narrower types; same trick as the k_core peel). The
    # string node labels are rebuilt only on the final rank table.
    m = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 2).alias("a"),
            (F.col("l_partkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    edges = m.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        m.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    pr = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMPING)
    n = F.lit(pr.count())
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("o:"), F.expr("CAST(node DIV 2 AS STRING)")),
    ).otherwise(
        F.concat(F.lit("p:"), F.expr("CAST(node DIV 2 AS STRING)"))
    )
    return pr.select(
        node_str.alias("node"), F.round(F.col("rank") * n, 6).alias("rank_scaled")
    )


def _pagerank_sql(iters: int = _PR_ITERS, damping: float = _PR_DAMPING) -> str:
    """Unrolled power iteration: one CTE per round (recursive CTEs can't
    aggregate in the recursive term, so the loop is spelled out)."""
    ctes = [
        """m AS (
            SELECT DISTINCT 'o:' || l_orderkey::VARCHAR AS a,
                            'p:' || l_partkey::VARCHAR AS b
            FROM lineitem
        )""",
        """edges AS (
            SELECT a AS src, b AS dst FROM m
            UNION ALL SELECT b AS src, a AS dst FROM m
        )""",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        """nodes AS (
            SELECT DISTINCT src AS node FROM edges
            UNION SELECT DISTINCT dst FROM edges
        )""",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS (
            SELECT nd.node,
                   (1 - {damping}) / (SELECT n FROM nn)
                       + {damping} * coalesce(s.s, 0) AS rank
            FROM nodes nd LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / d.deg) AS s
                FROM edges e
                JOIN deg d ON e.src = d.src
                JOIN r{i - 1} r ON r.node = e.src
                GROUP BY e.dst
            ) s ON nd.node = s.node
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + "\nSELECT node, round(rank * (SELECT n FROM nn), 6) AS rank_scaled"
        + f" FROM r{iters}"
    )


_KCORE_K = 4


def q_k_hop_profile(spark, sf_dir):
    """Per-seed BFS frontier growth over the membership graph (3 hops from
    three part nodes) — the expansion-rate feature for sampling curricula."""
    from bio2bel_spark.operators.graph import k_hop_profile

    # long-encoded bipartite ids (order 2k, part 2k+1) through the 3 BFS
    # hops — 8-byte keys in every frontier shuffle instead of 'o:<id>'
    # strings; seed labels are rebuilt on the tiny 9-row result
    m = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    seeds = spark.createDataFrame([(3,), (5,), (7,)], "seed long")
    prof = k_hop_profile(m, seeds, max_hops=3)
    return prof.select(
        F.concat(F.lit("p:"), F.expr("CAST(seed DIV 2 AS STRING)")).alias("seed"),
        "hop",
        "n_new_nodes",
    )


def q_k_core(spark, sf_dir):
    """k-core of the symmetrized pathway-membership bipartite graph:
    iterative peeling to the unique fixpoint; (node, core degree)."""
    from bio2bel_spark.operators.graph import k_core

    # peel on LONG node ids (o -> 2*key, p -> 2*key+1) and rebuild the
    # "o:"/"p:" strings only on the k-core result: every shuffle inside the
    # peel loop (degree agg, anti-joins, per-round checkpoints) then moves
    # 8-byte longs instead of variable-width strings, and the input distinct
    # is left to k_core's own canonicalize+distinct (one exchange, not two).
    # Bijective encoding, so the peeled node set and degrees are identical.
    m = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey").cast("long") * 2).alias("src"),
        (F.col("l_partkey").cast("long") * 2 + 1).alias("dst"),
    )
    core = k_core(m, k=_KCORE_K)
    return core.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("o:"), (F.col("node") / 2).cast("long")),
        )
        .otherwise(F.concat(F.lit("p:"), ((F.col("node") - 1) / 2).cast("long")))
        .alias("node"),
        "degree",
    )


def _k_core_sql(k: int = _KCORE_K, rounds: int = 12) -> str:
    """Unrolled peeling twin: one (degree, keep, filter) CTE trio per round.

    The k-core fixpoint is unique, so as long as ``rounds`` covers the peel
    depth at the oracle's scale the unrolled chain equals Spark's
    early-stopping loop; extra rounds past the fixpoint are no-ops.
    """
    # AS MATERIALIZED is load-bearing: each round references the previous
    # round ~5 times, so inlined CTEs would expand the plan exponentially
    # (DuckDB runs out of file handles re-opening the scan)
    ctes = [
        """e0 AS MATERIALIZED (
            SELECT DISTINCT 'o:' || l_orderkey::VARCHAR AS u,
                            'p:' || l_partkey::VARCHAR AS v
            FROM lineitem
        )"""
    ]
    for i in range(rounds):
        ctes.append(f"""k{i} AS MATERIALIZED (
            SELECT n FROM (
                SELECT n, count(*) AS d FROM (
                    SELECT u AS n FROM e{i} UNION ALL SELECT v AS n FROM e{i}
                ) GROUP BY n
            ) WHERE d >= {k}
        )""")
        ctes.append(f"""e{i + 1} AS MATERIALIZED (
            SELECT u, v FROM e{i}
            WHERE u IN (SELECT n FROM k{i}) AND v IN (SELECT n FROM k{i})
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT n AS node, count(*)::BIGINT AS degree FROM (
            SELECT u AS n FROM e{rounds} UNION ALL SELECT v AS n FROM e{rounds}
        ) GROUP BY n HAVING count(*) >= {k}
    """
    )


def q_obo_scan(spark, sf_dir):
    """S8: OBO ontology scan — hierarchy edges joined with both endpoint
    names (non-obsolete children only)."""
    from bio2bel_spark.ingest import read_obo

    terms, edges = read_obo(spark, _fixture_path("mini.obo", _OBO_FIXTURE))
    live = terms.filter(~F.col("is_obsolete"))
    return (
        edges.join(
            live.select(F.col("id").alias("child"), F.col("name").alias("child_name")),
            "child",
        )
        .join(
            live.select(F.col("id").alias("parent"), F.col("name").alias("parent_name")),
            "parent",
        )
        .select("child", "relation", "parent", "child_name", "parent_name")
    )


_NT_FIXTURE = """\
<http://rdf.rhea-db.org/10001> <http://rdf.rhea-db.org/equation> "A + B = C" .
<http://rdf.rhea-db.org/10001> <http://rdf.rhea-db.org/bidirectionalReaction> <http://rdf.rhea-db.org/10003> .
<http://rdf.rhea-db.org/10001> <http://rdf.rhea-db.org/id> "10001"^^<http://www.w3.org/2001/XMLSchema#long> .
<http://rdf.rhea-db.org/10005> <http://rdf.rhea-db.org/equation> "D = E" .
<http://rdf.rhea-db.org/10005> <http://rdf.rhea-db.org/bidirectionalReaction> <http://rdf.rhea-db.org/10007> .
<http://rdf.rhea-db.org/10005> <http://rdf.rhea-db.org/id> "10005" .
<http://rdf.rhea-db.org/10009> <http://rdf.rhea-db.org/equation> "orphan without id" .
"""


def q_rdf_reactions(spark, sf_dir):
    """S7: N-Triples scan + SPARQL-SELECT-as-joins (rhea reaction query);
    the orphan reaction without an id drops out of the inner join."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sources.rhea import reactions

    triples = read_ntriples(spark, _fixture_path("mini.nt", _NT_FIXTURE))
    return reactions(triples)


_SPARQL_FIXTURE = """\
<http://ex.org/e1> <http://ex.org/type> "gene" .
<http://ex.org/e1> <http://ex.org/name> "alpha" .
<http://ex.org/e1> <http://ex.org/xref> "chebi:100" .
<http://ex.org/e2> <http://ex.org/type> "gene" .
<http://ex.org/e2> <http://ex.org/name> "beta" .
<http://ex.org/e2> <http://ex.org/xref> "uniprot:200" .
<http://ex.org/e3> <http://ex.org/type> "gene" .
<http://ex.org/e3> <http://ex.org/name> "gamma" .
<http://ex.org/e4> <http://ex.org/type> "pathway" .
<http://ex.org/e4> <http://ex.org/name> "delta" .
<http://ex.org/e4> <http://ex.org/xref> "chebi:400" .
"""


def q_sparql_optional_filter(spark, sf_dir):
    """The SPARQL-subset planner's OPTIONAL-with-FILTER shape (the round-6
    verdict's one named reference-surface gap): a generic SELECT with a
    filtered OPTIONAL group compiles to scan-filtered projections +
    compatible-mapping left join — the oracle replays the SPARQL algebra
    independently in SQL (left join against the pre-filtered optional
    side), so the planner's semantics are hash-checked, not just its
    rhea usage."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql.nt", _SPARQL_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?e ?n ?x WHERE {
               ?e ex:type "gene" .
               ?e ex:name ?n .
               OPTIONAL { ?e ex:xref ?x . FILTER(STRSTARTS(?x, "chebi:")) }
               FILTER(?n != "zeta")
           }""",
    )


def q_sparql_union(spark, sf_dir):
    """The planner's UNION algebra driver-checked: two branch BGPs with
    partially-overlapping variables aligned (missing vars NULL-padded per
    branch) and concatenated, then joined against a later pattern through
    the nullable-variable compatible join. Oracle replays the algebra as
    two SQL SELECTs UNION ALL'd against the same fixture triples."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql.nt", _SPARQL_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?e ?n ?x WHERE {
               { ?e ex:xref ?x . FILTER(STRSTARTS(?x, "chebi:")) }
               UNION { ?e ex:type "pathway" }
               ?e ex:name ?n
           }""",
    )


def q_sparql_topk(spark, sf_dir):
    """The planner's solution modifiers driver-checked: DISTINCT collapses
    the multi-xref fan-out, ORDER BY DESC(?n) + LIMIT 3 plans as
    TakeOrdered. Oracle replays project→distinct→order→limit in SQL."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql.nt", _SPARQL_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT DISTINCT ?e ?n WHERE {
               ?e ex:type "gene" . ?e ex:name ?n
           }
           ORDER BY DESC(?n) ?e LIMIT 3""",
    )


_SPARQL_PATH_FIXTURE = """\
<http://ex.org/e1> <http://ex.org/name> "alpha" .
<http://ex.org/e1> <http://ex.org/partOf> <http://ex.org/e4> .
<http://ex.org/e1> <http://ex.org/xref> "chebi:100" .
<http://ex.org/e2> <http://ex.org/name> "beta" .
<http://ex.org/e2> <http://ex.org/partOf> <http://ex.org/e5> .
<http://ex.org/e2> <http://ex.org/xref> "uniprot:200" .
<http://ex.org/e3> <http://ex.org/name> "gamma" .
<http://ex.org/e3> <http://ex.org/partOf> <http://ex.org/e6> .
<http://ex.org/e4> <http://ex.org/name> "delta" .
<http://ex.org/e5> <http://ex.org/name> "epsilon" .
"""


def q_sparql_values(spark, sf_dir):
    """The planner's VALUES inline-data clause driver-checked: the literal
    rows become a broadcast-joined binding table constraining ?x, with an
    UNDEF row leaving the paired ?tag unbound (NULL). Oracle replays the
    algebra as a SQL join against the same literal rows."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_path.nt", _SPARQL_PATH_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?e ?n ?x ?tag WHERE {
               ?e ex:name ?n .
               ?e ex:xref ?x .
               VALUES (?x ?tag) {
                   ("chebi:100" "curated")
                   ("uniprot:200" UNDEF)
                   ("chebi:999" "missing")
               }
           }""",
    )


def q_sparql_path(spark, sf_dir):
    """The planner's property-path ``/`` driver-checked: ?e
    ex:partOf/ex:name ?pn desugars into two chained patterns through an
    anonymous internal variable (e3's container has no name, so it drops
    out of the inner chain). Oracle replays the two-hop join in SQL."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_path.nt", _SPARQL_PATH_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?e ?n ?pn WHERE {
               ?e ex:name ?n .
               ?e ex:partOf/ex:name ?pn
           }""",
    )


def q_sparql_not_exists(spark, sf_dir):
    """The planner's FILTER NOT EXISTS driver-checked: genes with NO xref
    triple survive the anti join on the shared entity variable (e3 only —
    e1/e2 both carry xrefs). Oracle replays with a SQL NOT EXISTS."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql.nt", _SPARQL_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?e ?n WHERE {
               ?e ex:type "gene" .
               ?e ex:name ?n .
               FILTER NOT EXISTS { ?e ex:xref ?x }
           }""",
    )


_SPARQL_PLUS_FIXTURE = """\
<http://ex.org/n1> <http://ex.org/under> <http://ex.org/n2> .
<http://ex.org/n2> <http://ex.org/under> <http://ex.org/n3> .
<http://ex.org/n3> <http://ex.org/under> <http://ex.org/n4> .
<http://ex.org/z1> <http://ex.org/under> <http://ex.org/z2> .
<http://ex.org/n1> <http://ex.org/name> "one" .
<http://ex.org/n2> <http://ex.org/name> "two" .
<http://ex.org/n3> <http://ex.org/name> "three" .
<http://ex.org/n4> <http://ex.org/name> "four" .
"""


def q_sparql_path_plus(spark, sf_dir):
    """The planner's one-or-more property path (``p+``) driver-checked:
    the transitive ``under`` closure of every named node paired with the
    reached node's name — a 3-deep chain plus a disconnected edge, so the
    closure does real multi-hop work. Compiles to the semi-naive
    frontier iteration (kg_descendants BFS shape); oracle replays the
    closure with WITH RECURSIVE."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_plus.nt", _SPARQL_PLUS_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?n ?rn WHERE {
               ?x ex:name ?n .
               ?x ex:under+/ex:name ?rn
           }""",
    )


def q_sparql_path_star(spark, sf_dir):
    """The planner's zero-or-more property path (``p*``) driver-checked:
    like sparql_path_plus but the zero-length path keeps each named node
    paired with its OWN name too (spec: the zero-length path relates
    every term to itself). Oracle = the p+ WITH RECURSIVE closure
    UNION'd with the identity relation over all graph terms."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_plus.nt", _SPARQL_PLUS_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?n ?rn WHERE {
               ?x ex:name ?n .
               ?x ex:under*/ex:name ?rn
           }""",
    )


_SPARQL_AGG_FIXTURE = """\
<http://ex.org/e1> <http://ex.org/type> "gene" .
<http://ex.org/e1> <http://ex.org/xref> "chebi:100" .
<http://ex.org/e1> <http://ex.org/xref> "chebi:101" .
<http://ex.org/e2> <http://ex.org/type> "gene" .
<http://ex.org/e2> <http://ex.org/xref> "uniprot:200" .
<http://ex.org/e3> <http://ex.org/type> "gene" .
<http://ex.org/e4> <http://ex.org/type> "pathway" .
<http://ex.org/e4> <http://ex.org/xref> "chebi:400" .
<http://ex.org/e5> <http://ex.org/type> "pathway" .
<http://ex.org/e6> <http://ex.org/type> "anatomy" .
"""


def q_sparql_group_count(spark, sf_dir):
    """The planner's GROUP BY aggregates driver-checked: COUNT(*) counts
    solutions (incl. OPTIONAL misses), COUNT(?x) skips the unbound rows,
    COUNT(DISTINCT ?e) collapses the xref fan-out — all in ONE
    groupBy().agg(). Oracle replays the left join + grouped counts in
    SQL over the same fixture triples."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_agg.nt", _SPARQL_AGG_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?t (COUNT(*) AS ?n_rows) (COUNT(?x) AS ?n_x)
                  (COUNT(DISTINCT ?e) AS ?n_e) WHERE {
               ?e ex:type ?t .
               OPTIONAL { ?e ex:xref ?x }
           }
           GROUP BY ?t ORDER BY ?t""",
    )


def q_sparql_group_having(spark, sf_dir):
    """The planner's HAVING driver-checked with BOTH constraint forms —
    a projected-alias reference (?n > 1) and a direct aggregate call
    (MIN(?x), synthesized as a hidden column of the same single
    aggregation and dropped post-filter). Oracle replays GROUP BY +
    HAVING in SQL."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_agg.nt", _SPARQL_AGG_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?t (COUNT(DISTINCT ?e) AS ?n) WHERE {
               ?e ex:type ?t .
               ?e ex:xref ?x
           }
           GROUP BY ?t HAVING (?n > 1) (STRSTARTS(MIN(?x), "chebi:"))
           ORDER BY ?t""",
    )


def q_sparql_group_concat(spark, sf_dir):
    """The planner's GROUP_CONCAT driver-checked: values join in SORTED
    order (deterministic across partitions — the spec leaves order
    undefined), with DISTINCT and a custom SEPARATOR. Oracle replays as
    DuckDB string_agg(DISTINCT ... ORDER BY ...)."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_agg.nt", _SPARQL_AGG_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?t (GROUP_CONCAT(DISTINCT ?x; SEPARATOR="|") AS ?xs)
                  (COUNT(?x) AS ?n) WHERE {
               ?e ex:type ?t .
               ?e ex:xref ?x
           }
           GROUP BY ?t ORDER BY ?t""",
    )


def q_sparql_bind(spark, sf_dir):
    """The planner's BIND driver-checked: computed columns from the value
    functions (CONCAT/UCASE/SUBSTR/STR/REPLACE), plus a value function
    inside a FILTER comparison — all pure withColumn/filter expressions,
    zero extra shuffles. Oracle replays the string functions in SQL."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_agg.nt", _SPARQL_AGG_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?e ?t ?label ?short WHERE {
               ?e ex:type ?t .
               BIND (CONCAT(UCASE(?t), "/", SUBSTR(STR(?e), 15)) AS ?label)
               BIND (REPLACE(?t, "way$", "") AS ?short)
               FILTER(STRLEN(?t) > 4)
           }""",
    )


def q_sparql_modifiers(spark, sf_dir):
    """The solution-modifier tail driver-checked end-to-end: a COMPUTED
    GROUP BY key (UCASE expression materialized pre-aggregation), grouped
    count, ORDER BY, then OFFSET+LIMIT paging. Oracle replays with SQL
    GROUP BY upper() ... ORDER BY ... LIMIT/OFFSET."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_agg.nt", _SPARQL_AGG_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?k (COUNT(?e) AS ?n) WHERE {
               ?e ex:type ?t
           }
           GROUP BY (UCASE(?t) AS ?k) ORDER BY ?k LIMIT 2 OFFSET 1""",
    )


def q_sparql_ask_probe(spark, sf_dir):
    """The ASK query form driver-checked: two existence probes (one
    satisfiable, one not) evaluated through the planner's bounded
    limit(1) probe and returned as a tiny boolean table. Oracle replays
    with SQL EXISTS."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_ask

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_agg.nt", _SPARQL_AGG_FIXTURE)
    )
    yes = sparql_ask(
        triples,
        'PREFIX ex: <http://ex.org/> ASK { ?e ex:type "gene" . '
        "?e ex:xref ?x }",
    )
    no = sparql_ask(
        triples,
        'PREFIX ex: <http://ex.org/> ASK { ?e ex:type "unobtainium" }',
    )
    return spark.createDataFrame(
        [("gene_with_xref", yes), ("unobtainium", no)],
        "probe string, ask boolean",
    )


def q_sparql_negated_path(spark, sf_dir):
    """Negated property sets driver-checked: ``!(type)`` keeps every
    edge whose predicate is NOT in the set — ONE NOT-IN pattern scan,
    composed here with a ``/`` sequence hop. Oracle replays the NOT-IN
    filter + join in SQL."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_select

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_path.nt", _SPARQL_PATH_FIXTURE)
    )
    return sparql_select(
        triples,
        """PREFIX ex: <http://ex.org/>
           SELECT ?e ?pn WHERE {
               ?e !(ex:name|ex:xref)/ex:name ?pn
           }""",
    )


def q_sparql_construct_graph(spark, sf_dir):
    """The CONSTRUCT query form driver-checked: the WHERE solutions
    (with an OPTIONAL whose misses must emit NO triple) instantiate a
    two-triple template into a DISTINCT derived graph — the solution
    table computes once, each template triple is a projection of it.
    Oracle = UNION of per-template SELECTs, DISTINCT."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.sparql import sparql_construct

    triples = read_ntriples(
        spark, _fixture_path("mini_sparql_agg.nt", _SPARQL_AGG_FIXTURE)
    )
    return sparql_construct(
        triples,
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?e <http://ex.org/kind> ?t .
                       ?e <http://ex.org/ref> ?x }
           WHERE { ?e ex:type ?t . OPTIONAL { ?e ex:xref ?x } }""",
    )


def _scale_triples(spark, sf_dir):
    """The SPARQL-at-bench-scale substrate (round-11 verdict ask): ONE
    ``(s, p, o)`` triples table synthesized deterministically from the
    TPC-H parquet — ~1.4M triples at sf0.1, ~77k at the sf0.01 oracle
    gate — so BGP joins, property-path closures, and aggregates run over
    a graph whose size scales with the benchmark instead of a 10-triple
    literal fixture. Predicates:

    * ``order://K  ex:hasPart   part://K``   (one per lineitem row — bag
      semantics preserved: a part twice in an order is two solutions)
    * ``part://K   ex:returnedAs R``          (one per lineitem row)
    * ``part://K   ex:inBrand   Brand#N``    (one per part)
    * ``part://K   ex:childOf   part://K/10`` (K >= 10: a forest of
      depth ~log10(|part|) rooted at keys 1-9 — the path substrate)
    * ``part://K   ex:isRoot    "true"``     (K in 1..9)
    * ``order://K  ex:status    F|O|P``      (one per order)
    * ``part://K   ex:retailPrice "<lexical double>"`` (one per part —
      the numeric-literal substrate for ABS/ROUND/isNumeric)

    Every SPARQL pattern compiles to a predicate-equality scan of this
    union — the filter pushes into the parquet reads, which is exactly
    the predicate-partitioned layout a 100 TB triple store would use."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ex = "http://ex.org/"

    def t(s, p, o):
        return F.concat(F.lit(s[0]), F.col(s[1]).cast("string")).alias(
            "s"
        ), F.lit(ex + p).alias("p"), o.alias("o")

    has_part = li.select(
        *t(("order://", "l_orderkey"), "hasPart",
           F.concat(F.lit("part://"), F.col("l_partkey").cast("string")))
    )
    shipped = li.select(
        *t(("part://", "l_partkey"), "returnedAs", F.col("l_returnflag"))
    )
    in_brand = part.select(
        *t(("part://", "p_partkey"), "inBrand", F.col("p_brand"))
    )
    child_of = part.filter(F.col("p_partkey") >= 10).select(
        *t(("part://", "p_partkey"), "childOf",
           F.concat(F.lit("part://"),
                    F.expr("CAST(p_partkey DIV 10 AS STRING)")))
    )
    is_root = part.filter(F.col("p_partkey").between(1, 9)).select(
        *t(("part://", "p_partkey"), "isRoot", F.lit("true"))
    )
    status = orders.select(
        *t(("order://", "o_orderkey"), "status", F.col("o_orderstatus"))
    )
    price = part.select(
        *t(("part://", "p_partkey"), "retailPrice",
           F.col("p_retailprice").cast("string"))
    )
    # no _spread: the plain-triple term pipelines are cheap concat/cast
    # work — the r14 interleaved A/B showed the local round-robin exchange
    # LOSES for every `_scale_triples` consumer (sparql_scale_bgp 1.85s →
    # 1.23s without, scale_builtins 6.0 → 3.8, arith 2.2 → 1.1,
    # update_graph 2.5 → 1.3; plans/r14/ab_spread_results.log). The
    # heavy-regex datetime substrate keeps its spread
    # (`_scale_datetime_triples`), where the A/B goes the other way.
    return (
        has_part.unionByName(shipped).unionByName(in_brand)
        .unionByName(child_of).unionByName(is_root).unionByName(status)
        .unionByName(price)
    )


#: the same synthesized triples as DuckDB CTEs, one per predicate (the
#: oracle replays each SPARQL pattern scan as its CTE)
_SCALE_TRIPLES_SQL = """
    hp AS (SELECT 'order://'||l_orderkey AS s, 'part://'||l_partkey AS o
           FROM lineitem),
    ib AS (SELECT 'part://'||p_partkey AS s, p_brand AS o FROM part),
    co AS (SELECT 'part://'||p_partkey AS s,
                  'part://'||(p_partkey//10) AS o
           FROM part WHERE p_partkey >= 10),
    rt AS (SELECT 'part://'||p_partkey AS s FROM part
           WHERE p_partkey BETWEEN 1 AND 9),
    st AS (SELECT 'order://'||o_orderkey AS s, o_orderstatus AS o
           FROM orders),
    pr AS (SELECT 'part://'||p_partkey AS s, p_retailprice AS o FROM part)
"""


def q_sparql_scale_bgp(spark, sf_dir):
    """SPARQL at bench scale #1: a three-pattern BGP + FILTER + grouped
    COUNT over the ~1.4M-triple synthesized graph (sf0.1) — the first
    driver row where the planner's joins and aggregation run at
    benchmark size instead of a literal fixture. Each pattern is a
    pushed predicate-equality scan; the plan is two hash joins + one
    aggregation exchange. Oracle replays the BGP as CTE self-joins.
    Spelled with the round-13 Turtle ';' sugar (the ?ord patterns share
    one subject) — pure parser desugaring, hash-identical to the
    spelled-out form that ran rounds 8-12."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand (COUNT(?ord) AS ?n) WHERE {
               ?ord ex:hasPart ?part ;
                    ex:status "F" .
               ?part ex:inBrand ?brand .
               FILTER(STRSTARTS(?brand, "Brand#1"))
           } GROUP BY ?brand""",
    )


def q_sparql_scale_path(spark, sf_dir):
    """SPARQL at bench scale #2: ``childOf+`` pointer-doubling closure
    over the part forest (~20k edges, depth ~5 at sf0.1), grouped per
    root — descendant counts for the nine depth-1 roots. Oracle is a
    DuckDB recursive CTE over the same edges."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?root (COUNT(?d) AS ?n) WHERE {
               ?d ex:childOf+ ?root .
               ?root ex:isRoot "true"
           } GROUP BY ?root""",
    )


def _rdf_lines_write(df, path):
    """Shared N-Triples/N-Quads line serializer (round 13 — one copy
    for both file formats): IRIs bracket, retailPrice rides as a TYPED
    ``^^xsd:decimal`` literal, every other object is a quoted literal
    with N-Triples ECHAR escaping — backslash first, then quote and
    newline; without it a value containing '"' would emit a line the
    read-back regex silently drops (a hash mismatch with no error
    anywhere). Escapes survive the round trip AS escapes
    (read_ntriples/read_nquads keep raw bodies), lossless for the
    quote-free TPC-H values proven here. A ``g`` column, when present,
    emits as the N-Quads fourth term — default-graph rows (g NULL)
    stay plain triple lines. Written DISTRIBUTED as a text dataset (a
    directory of part files; both readers scan directories)."""
    esc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("o"), r"\\", r"\\\\"),
            '"', '\\\\"',
        ),
        "\n", r"\\n",
    )
    obj = F.when(
        F.col("o").rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"),
        F.concat(F.lit("<"), F.col("o"), F.lit(">")),
    ).when(
        F.col("p") == "http://ex.org/retailPrice",
        F.concat(
            F.lit('"'), esc,
            F.lit('"^^<http://www.w3.org/2001/XMLSchema#decimal>'),
        ),
    ).otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
    parts = [
        F.lit("<"), F.col("s"), F.lit("> <"), F.col("p"),
        F.lit("> "), obj,
    ]
    if "g" in df.columns:
        parts.append(
            F.when(
                F.col("g").isNotNull(),
                F.concat(F.lit(" <"), F.col("g"), F.lit(">")),
            ).otherwise(F.lit(""))
        )
    parts.append(F.lit(" ."))
    line = F.concat(*parts)
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def _ntriples_file(spark, sf_dir):
    """Serialize the scale graph to an actual on-disk N-Triples dataset
    (round-12 verdict ask #7) via :func:`_rdf_lines_write`.
    Deterministic content keyed by sf_dir and cached under /tmp, so
    repeat runs pay only the read path being proven."""
    import hashlib
    import os

    path = "/tmp/bio2bel_nt_v2_{}".format(
        hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _rdf_lines_write(_scale_triples(spark, sf_dir), path)
    return path


def q_sparql_ntriples_file(spark, sf_dir):
    """The distributed N-Triples PARSE path proven at bench scale: the
    ~1.4M-triple scale graph round-trips through an actual .nt dataset
    on disk — write once (cached), then ``read_ntriples`` line-regex
    parse (JVM-side regexp_extract over spark.read.text, no driver
    bottleneck) feeding a two-pattern BGP aggregate. retailPrice rides
    as a TYPED ``^^xsd:decimal`` literal, so isNumeric must classify by
    datatype through the file-parsed encoding. A mis-parse of any IRI
    bracket, literal quote, or typed suffix would shift the brand
    counts; the oracle replays the counts from the parquet the file was
    derived from, so the file layer must be lossless to hash-match."""
    from bio2bel_spark.ingest import read_ntriples
    from bio2bel_spark.operators.caching import tracked_persist
    from bio2bel_spark.sparql import sparql_select

    # pin the PARSED triple table so the two BGP patterns share ONE text
    # scan + line parse (un-pinned, each self-join side re-reads and
    # re-parses the whole file — 2 full parses for 2 patterns, N for N)
    return sparql_select(
        read_ntriples(spark, _ntriples_file(spark, sf_dir)).transform(
            tracked_persist
        ),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand (COUNT(?part) AS ?n) WHERE {
               ?part ex:inBrand ?brand .
               ?part ex:retailPrice ?pr .
               FILTER(ISNUMERIC(?pr))
           } GROUP BY ?brand""",
    )


def q_sparql_graph_path(spark, sf_dir):
    """Property paths AND subqueries inside ``GRAPH ?var`` at bench
    scale (round-12 verdict ask #5): the ``childOf+`` pointer-doubling
    closure runs over GRAPH-SCOPED composite nodes (g + U+001F + term),
    so ONE set of distributed joins computes every named graph's closure
    with ?g bound alongside — no per-graph loop; the embedded aggregate
    subquery evaluates per graph (?g rides its GROUP BY), its root
    count joining back on ?g. All part facts live in graph://part, so
    the oracle replays the recursive CTE once and tags the graph."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_quads(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?g ?root (COUNT(?d) AS ?n) (SAMPLE(?tot) AS ?roots)
           WHERE {
               GRAPH ?g {
                   ?d ex:childOf+ ?root .
                   ?root ex:isRoot "true" .
                   { SELECT (COUNT(?rr) AS ?tot)
                     WHERE { ?rr ex:isRoot "true" } }
               }
           } GROUP BY ?g ?root""",
    )


def q_sparql_tz_histogram(spark, sf_dir):
    """TZ() + blank-node LABELS at bench scale (round 13): the timezone
    spelling histogram of the per-order typed instants — the _:o label
    is a scoped variable (SPARQL §4.1.4) joining the two patterns, TZ
    reads each lexical's timezone part ("Z" for odd order keys,
    "+02:00" for even — the two spelling families of
    _scale_datetime_triples), grouped with a per-family MIN instant.
    The oracle replays the parity split."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_datetime_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?z (COUNT(?t) AS ?n) (MIN(?t) AS ?first) WHERE {
               _:o ex:placedAt ?t ;
                   ex:status ?st .
               BIND(TZ(?t) AS ?z)
           } GROUP BY ?z""",
    )


def q_sparql_distinct_agg(spark, sf_dir):
    """SUM/AVG(DISTINCT) at bench scale (round 13): per-brand sum and
    mean over the DISTINCT typed size terms — collect_set + array fold
    (bounded by <=50 distinct sizes per brand, the same state shape as
    GROUP_CONCAT DISTINCT), one aggregation exchange. Canonical integer
    lexicals make term-distinct == value-distinct, so the oracle is
    DuckDB's SUM(DISTINCT)/AVG(DISTINCT) directly."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_typed_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand (SUM(DISTINCT ?sz) AS ?tot)
                  (AVG(DISTINCT ?sz) AS ?mean) (COUNT(?sz) AS ?n)
           WHERE { [ ex:inBrand ?brand ; ex:size ?sz ] . }
           GROUP BY ?brand""",
    )


def q_sparql_agg_roundtrip(spark, sf_dir):
    """Typed aggregate OUTPUT lexicals (round-14): CONSTRUCT per-brand
    size totals from an aggregated subquery — SUM over ``"N"^^
    xsd:integer`` terms re-enters the term world as the canonical
    ``"T"^^xsd:integer`` literal (sparql.py _agg_term_form), not a lossy
    plain ``"T.0"`` — then RE-LOAD the constructed graph and
    re-aggregate per leading brand digit. The DATATYPE guard WITNESSES
    the typed form: plain-lexical totals would fail the filter and
    empty the result. Oracle: DuckDB replays both aggregation levels
    straight off part (integer SUM is associative, so the two-level
    rollup equals the direct per-digit sum)."""
    from bio2bel_spark.sparql import sparql_construct, sparql_select

    derived = sparql_construct(
        _scale_typed_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT { ?brand ex:sizeTotal ?tot }
           WHERE { { SELECT ?brand (SUM(?sz) AS ?tot) WHERE {
               ?part ex:inBrand ?brand . ?part ex:size ?sz
           } GROUP BY ?brand } }""",
    )
    return sparql_select(
        derived,
        """PREFIX ex: <http://ex.org/>
           SELECT ?g (SUM(?t) AS ?grand) (COUNT(?t) AS ?nbrands)
           WHERE {
               ?brand ex:sizeTotal ?t .
               FILTER(DATATYPE(?t) =
                   <http://www.w3.org/2001/XMLSchema#integer>)
               BIND(SUBSTR(?brand, 7, 1) AS ?g)
           } GROUP BY ?g""",
    )


def q_sparql_bnode_iri(spark, sf_dir):
    """Round-13 grammar/builtin round-out at bench scale: a blank-node
    property list subject (``[ a ex:Part ; ... ]`` — a fresh scoped
    variable per SPARQL §4.1.4, never projected) over the typed
    substrate, a typed-numeric FILTER, and IRI(CONCAT(...,
    ENCODE_FOR_URI(?brand))) constructing groupable IRI terms ('#' in
    the brand percent-encodes to %23 per XPath fn:encode-for-uri). The
    oracle replays the encode with replace(brand, '#', '%23') — the
    only non-unreserved byte in TPC-H brand strings."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_typed_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?u (COUNT(?sz) AS ?n) WHERE {
               [ a ex:Part ; ex:inBrand ?brand ; ex:size ?sz ] .
               FILTER(?sz > 45)
               BIND(IRI(CONCAT("http://ex.org/brand/",
                               ENCODE_FOR_URI(?brand))) AS ?u)
           } GROUP BY ?u""",
    )


def q_sparql_construct_quads(spark, sf_dir):
    """CONSTRUCT with GRAPH templates at bench scale (round-13 verdict
    ask #8): a store-to-store transform over the ~1.4M-quad store — the
    variable-graph template ``GRAPH ?g {...}`` scatters each solution's
    derived quad into the graph its own binding names, while the
    outside-GRAPH template triple lands in the DEFAULT graph (g NULL).
    One solution scan feeds both templates (persist-shared projections,
    union + dedup = the only added shuffle). The oracle replays both
    template instantiations from the part table."""
    from bio2bel_spark.sparql import sparql_construct

    return sparql_construct(
        _scale_quads(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           CONSTRUCT {
               GRAPH ?g { ?part ex:tierBrand ?brand . }
               ?part ex:audited "true" .
           }
           WHERE {
               GRAPH ?g { ?part ex:inBrand ?brand }
               FILTER(STRSTARTS(?brand, "Brand#1"))
           }""",
    )


def _nquads_file(spark, sf_dir):
    """Serialize the scale QUAD store to an actual on-disk N-Quads
    dataset (round-13 verdict ask #7) via :func:`_rdf_lines_write` —
    named-graph lines carry their ``<g>`` fourth term, DEFAULT-graph
    rows (g NULL) emit plain triple lines; same caching scheme as
    :func:`_ntriples_file`."""
    import hashlib
    import os

    path = "/tmp/bio2bel_nq_v1_{}".format(
        hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _rdf_lines_write(_scale_quads(spark, sf_dir), path)
    return path


def q_sparql_nquads_file(spark, sf_dir):
    """The distributed N-Quads PARSE path proven at bench scale (round-13
    verdict ask #7): the ~1.4M-quad store round-trips through an actual
    .nq dataset on disk — write once (cached), then ``read_nquads``
    line-regex parse feeding a per-graph, per-predicate count, UNIONed
    with the DEFAULT graph's counts (lines WITHOUT a fourth term must
    land in the default graph — a mis-tagged line moves a count between
    rows and breaks the hash). The oracle replays every predicate
    family's count from the parquet the file was derived from."""
    from bio2bel_spark.ingest import read_nquads
    from bio2bel_spark.operators.caching import tracked_persist
    from bio2bel_spark.sparql import sparql_select

    # pin the PARSED quad table: the two UNION branches otherwise each
    # re-read and re-parse the whole .nq file (see q_sparql_ntriples_file)
    return sparql_select(
        read_nquads(spark, _nquads_file(spark, sf_dir)).transform(
            tracked_persist
        ),
        """PREFIX ex: <http://ex.org/>
           SELECT ?g ?p (COUNT(?s) AS ?n) WHERE {
               { GRAPH ?g { ?s ?p ?o } }
               UNION
               { ?s ?p ?o . BIND("default" AS ?g) }
           } GROUP BY ?g ?p""",
    )


def q_sparql_graph_topk(spark, sf_dir):
    """Per-graph paging driver-checked at bench scale (round-13 verdict
    ask #3, flipping the round-12 rejection): a DISTINCT + ORDER BY +
    LIMIT subquery inside ``GRAPH ?var`` returns each named graph's OWN
    top-5 objects — compiled as one row_number window partitioned by the
    graph variable over the ~1.4M-quad store (ONE shuffle cuts every
    graph's page; a plain limit would page the union and starve the
    small graphs). The oracle replays with QUALIFY row_number() OVER
    (PARTITION BY g ORDER BY o DESC) <= 5 on the distinct (g, o)
    pairs."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_quads(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?g ?o WHERE {
               GRAPH ?g {
                   { SELECT DISTINCT ?o WHERE { ?s ?p ?o }
                     ORDER BY DESC(?o) LIMIT 5 }
               }
           }""",
    )


def q_sparql_path_range(spark, sf_dir):
    """The round-11 ``{n,m}`` path quantifier at bench scale: ancestors
    exactly 2-3 levels up the part forest, counted per ancestor, HAVING
    trimming the tail — one lazy plan of two bounded self-compositions.
    Oracle composes the edge CTE twice/thrice and UNIONs (set
    semantics both sides)."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?anc (COUNT(?x) AS ?n) WHERE {
               ?x ex:childOf{2,3} ?anc .
           } GROUP BY ?anc HAVING (COUNT(?x) >= 20)""",
    )


def q_sparql_subquery(spark, sf_dir):
    """Round-11 subqueries driver-checked at scale: the aggregate-then-
    join idiom — an inner ``{ SELECT ... GROUP BY ... ORDER BY ... LIMIT
    5 }`` picks the top-5 brands by part count (deterministic ?brand
    tie-break), the outer pattern fans each back out to its orders and
    re-aggregates per status. The inner COUNT re-enters the binding
    table as its lexical string (engine invariant); the oracle casts the
    same way via str-equal hashing."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand ?n ?status (COUNT(?ord) AS ?m) WHERE {
               { SELECT ?brand (COUNT(?p) AS ?n) WHERE {
                     ?p ex:inBrand ?brand
                 } GROUP BY ?brand ORDER BY DESC(?n) ?brand LIMIT 5 }
               ?part ex:inBrand ?brand .
               ?ord ex:hasPart ?part .
               ?ord ex:status ?status .
           } GROUP BY ?brand ?n ?status""",
    )


def q_sparql_scale_fns(spark, sf_dir):
    """Round-11 value functions (IF / COALESCE / isIRI / isLiteral /
    BOUND) driver-checked over the scale graph: per-part brand-bucket ×
    root/child classification via BINDs over an OPTIONAL, grouped. The
    oracle replays IF as CASE WHEN and COALESCE/isIRI by shape."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?k ?r (COUNT(?part) AS ?n) WHERE {
               ?part ex:inBrand ?brand .
               OPTIONAL { ?part ex:childOf ?anc }
               BIND(IF(STRSTARTS(?brand, "Brand#1"), "b1", "rest") AS ?k)
               BIND(COALESCE(?anc, "root") AS ?c)
               BIND(IF(ISIRI(?c), "child", "root") AS ?r)
               FILTER(ISLITERAL(?brand) && ISIRI(?part))
           } GROUP BY ?k ?r""",
    )


def q_sparql_scale_builtins(spark, sf_dir):
    """Round-11 builtin round-out driver-checked at bench scale:
    STRENDS / STRAFTER / STRBEFORE (first-occurrence semantics —
    "33" -> ""), isNumeric over lexical forms, and the numeric fns
    ROUND (XPath half-toward-+inf = floor(x+0.5)) and FLOOR over the
    per-part retailPrice literals, re-aggregated per leading brand
    digit. The oracle replays STRAFTER/STRBEFORE with strpos/substr
    and the numeric fns with the same floor() forms (sums cast to
    DOUBLE so both sides hash as %.6f floats)."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?digit (COUNT(?part) AS ?n) (SUM(?r) AS ?tot)
                  (SUM(?f) AS ?flo) (ROUND(AVG(?r)) AS ?avgr) WHERE {
               ?part ex:inBrand ?brand .
               ?part ex:retailPrice ?price .
               FILTER(STRENDS(?brand, "3"))
               BIND(STRAFTER(?brand, "#") AS ?bno)
               FILTER(ISNUMERIC(?bno))
               BIND(STRBEFORE(?bno, "3") AS ?digit)
               BIND(ROUND(?price) AS ?r)
               BIND(FLOOR(?price) AS ?f)
           } GROUP BY ?digit""",
    )


def _scale_typed_triples(spark, sf_dir):
    """Typed-literal substrate (round-12 verdict ask #3): the part slice
    of the scale graph re-emitted with ENCODED typed/lang literals (the
    round-12 term model, sparql.py _ENC_LIT_SHAPE):

    * ``part://K ex:price "<p_retailprice>"^^xsd:decimal`` — a typed
      numeric per part (~20k at sf0.1)
    * ``part://K ex:size  "<p_size>"^^xsd:integer`` — typed integers
      1..50, MIXED magnitudes so lexical and value order diverge
      ("10" < "9" lexically) — the §15.1 ordering substrate (round 13)
    * ``part://K ex:name  "<p_name>"@en`` for EVEN part keys, plain
      ``p_name`` for odd — a mixed lang-tagged/plain literal column
    * ``part://K ex:inBrand Brand#N`` — plain (unchanged model)
    * ``part://K rdf:type ex:Part`` — the class triple the Turtle ``a``
      sugar resolves against (round 13)

    The serialization is built with one concat per column — the typed
    model costs nothing at scan time, and every pattern is still a
    pushed predicate-equality scan."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    ex = "http://ex.org/"
    xsd = "http://www.w3.org/2001/XMLSchema#"
    s = F.concat(
        F.lit("part://"), F.col("p_partkey").cast("string")
    ).alias("s")
    price = part.select(
        s, F.lit(ex + "price").alias("p"),
        F.concat(
            F.lit('"'), F.col("p_retailprice").cast("string"),
            F.lit(f'"^^<{xsd}decimal>'),
        ).alias("o"),
    )
    size = part.select(
        s, F.lit(ex + "size").alias("p"),
        F.concat(
            F.lit('"'), F.col("p_size").cast("string"),
            F.lit(f'"^^<{xsd}integer>'),
        ).alias("o"),
    )
    name = part.select(
        s, F.lit(ex + "name").alias("p"),
        F.when(
            F.col("p_partkey") % 2 == 0,
            F.concat(F.lit('"'), F.col("p_name"), F.lit('"@en')),
        ).otherwise(F.col("p_name")).alias("o"),
    )
    in_brand = part.select(
        s, F.lit(ex + "inBrand").alias("p"), F.col("p_brand").alias("o")
    )
    rdf_type = part.select(
        s,
        F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias("p"),
        F.lit(ex + "Part").alias("o"),
    )
    # no _spread: see _scale_triples — the typed-term pipelines lose with
    # the local exchange too (distinct_agg 0.85s → 0.61 without,
    # typed_literals 2.84 → 2.09, bnode_iri 1.10 → 0.79;
    # plans/r14/ab_spread_results.log)
    return (
        price.unionByName(size)
        .unionByName(name)
        .unionByName(in_brand)
        .unionByName(rdf_type)
    )


def q_sparql_typed_literals(spark, sf_dir):
    """Typed-literal SPARQL driver-checked at bench scale (round-12
    verdict ask #3): a numeric FILTER against a typed-decimal literal
    token (value comparison per §17.3 — the encoded ``^^xsd:decimal``
    suffix is stripped and both sides compare as doubles), a lang-tag
    FILTER (only the @en half of the names survives), a DATATYPE guard
    projection, and FLOOR over the typed lexical form re-aggregated per
    brand. The oracle replays all four directly against the part table
    (the encoding round-trips: double -> lexical -> double is exact).
    Parity: rdflib preserves datatype/lang on the reference's rhea load
    (src/bio2bel/sources/rhea.py:36-47)."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_typed_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand (COUNT(?part) AS ?n) (SUM(?f) AS ?tot) WHERE {
               ?part ex:inBrand ?brand .
               ?part ex:price ?pr .
               ?part ex:name ?nm .
               FILTER(?pr >
                   "950.0"^^<http://www.w3.org/2001/XMLSchema#decimal>)
               FILTER(LANG(?nm) = "en")
               FILTER(DATATYPE(?pr) =
                   <http://www.w3.org/2001/XMLSchema#decimal>)
               BIND(FLOOR(?pr) AS ?f)
           } GROUP BY ?brand""",
    )


def q_sparql_arith(spark, sf_dir):
    """SPARQL numeric expressions at bench scale (round 12): BIND with
    * / - and the spec's precedence over the per-part retailPrice
    lexicals, an arithmetic FILTER band, and grouped COUNT/SUM of the
    derived column. Arithmetic evaluates in double with type-error-as-
    NULL (sparql.py ``("arith", ...)`` nodes -> plain Catalyst numeric
    expressions — whole-stage codegen, no UDFs); FLOOR keeps the summed
    values integer-valued so the DuckDB replay is float-order-exact."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand (COUNT(?part) AS ?n) (SUM(?d) AS ?tot) WHERE {
               ?part ex:inBrand ?brand .
               ?part ex:retailPrice ?price .
               BIND(FLOOR(?price * 0.9) - 10 AS ?d)
               FILTER(?d > 850)
           } GROUP BY ?brand""",
    )


def q_sparql_typed_order(spark, sf_dir):
    """SPARQL §15.1 VALUE ordering driver-checked at bench scale (round
    13 verdict ask #1): MIN/MAX over ``"N"^^xsd:integer`` part sizes
    (1..50 — mixed magnitudes, so the lexicographic answer differs:
    lexical MAX is "9", value MAX is "50") and an outer ORDER BY over a
    typed aggregate result with LIMIT, so value-vs-lexical ordering also
    decides WHICH rows survive. MIN/MAX compile to min_by/max_by over
    the (bucket, value, raw) §15.1 key struct; ORDER BY expands each key
    to the same triple (sparql._order_key_cols). The oracle replays
    numeric MIN/MAX from the part table and re-encodes the terms.

    The inner pattern is spelled with the round-13 TURTLE SUGAR — ``a``
    for rdf:type and a ``;`` predicate-object list — and hashes
    identically to the spelled-out form (pure parser desugaring; the
    added rdf:type pattern matches every part, a no-op join the oracle
    ignores)."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_typed_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand ?lo ?hi ?n WHERE {
               { SELECT ?brand (MIN(?sz) AS ?lo) (MAX(?sz) AS ?hi)
                        (COUNT(?part) AS ?n)
                 WHERE { ?part a ex:Part ;
                               ex:inBrand ?brand ;
                               ex:size ?sz . }
                 GROUP BY ?brand }
           } ORDER BY DESC(?hi) ?lo ?brand LIMIT 10""",
    )


def _scale_datetime_triples(spark, sf_dir):
    """xsd:dateTime substrate (round-13 verdict ask #4): per-order typed
    instants with MIXED timezone spellings of the SAME timeline —
    ``order://K ex:placedAt "<ts>Z"^^xsd:dateTime`` for odd keys, the
    identical instant re-spelled two hours later with a ``+02:00``
    offset for even keys — so lexical comparison misorders rows across
    the spelling families and only instant normalization answers
    correctly. Plus ``ex:status`` for the grouping dimension. Rendering
    is date_format in the session zone (Etc/UTC here), matching the
    oracle's naive-UTC strftime."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ex = "http://ex.org/"
    xsd = "http://www.w3.org/2001/XMLSchema#"
    s = F.concat(
        F.lit("order://"), F.col("o_orderkey").cast("string")
    ).alias("s")
    inst = F.timestamp_add(
        "HOUR", (F.col("o_orderkey") % 24).cast("int"),
        F.col("o_orderdate"),
    )
    fmt = "yyyy-MM-dd'T'HH:mm:ss"
    ser = F.when(
        F.col("o_orderkey") % 2 == 1,
        F.concat(F.date_format(inst, fmt), F.lit("Z")),
    ).otherwise(
        F.concat(
            F.date_format(F.timestamp_add("HOUR", F.lit(2), inst), fmt),
            F.lit("+02:00"),
        )
    )
    placed = orders.select(
        s, F.lit(ex + "placedAt").alias("p"),
        F.concat(F.lit('"'), ser, F.lit(f'"^^<{xsd}dateTime>')).alias("o"),
    )
    status = orders.select(
        s, F.lit(ex + "status").alias("p"),
        F.col("o_orderstatus").alias("o"),
    )
    # _spread: see _scale_triples — the TZ()/dateTime regex parse and the
    # typed-MIN sort-aggregate downstream otherwise run on the single
    # partition the orders.parquet scan produces. No-op at scale.
    return _spread(spark, placed.unionByName(status))


def q_sparql_datetime(spark, sf_dir):
    """xsd:dateTime VALUE comparisons driver-checked at bench scale
    (round-13 verdict ask #4): a typed-dateTime FILTER boundary over
    ~15k per-order instants spelled in TWO timezone families (Z and
    +02:00 — the even-key spellings are lexically two hours later but
    denote the SAME instants), grouped per status with MIN(?t) picking
    each group's earliest instant under the §15.1 dateTime bucket.
    Lexical comparison would misclassify every even-key row within two
    hours of the boundary and pick per-group minima from the wrong
    spelling family. The oracle replays instants as naive-UTC
    timestamps and re-encodes the winning serialization (instant
    tie-break = raw serialization, the key struct's third field)."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_datetime_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?st (COUNT(?ord) AS ?n) (MIN(?t) AS ?first) WHERE {
               ?ord ex:placedAt ?t .
               ?ord ex:status ?st .
               FILTER(?t >=
        "1997-06-15T12:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>)
           } GROUP BY ?st""",
    )


def _scale_quads(spark, sf_dir):
    """The named-graph substrate: the scale triples tagged into a quad
    store by predicate family — lineitem-derived facts in
    ``graph://lineitem``, part-derived in ``graph://part``, order status
    in ``graph://orders``, and retailPrice left in the DEFAULT graph
    (g NULL) so default-graph semantics are exercised too."""
    ex = "http://ex.org/"
    t = _scale_triples(spark, sf_dir)
    g = (
        F.when(
            F.col("p").isin([ex + "hasPart", ex + "returnedAs"]),
            "graph://lineitem",
        )
        .when(
            F.col("p").isin(
                [ex + "inBrand", ex + "childOf", ex + "isRoot"]
            ),
            "graph://part",
        )
        .when(F.col("p") == ex + "status", "graph://orders")
    )
    return t.select(g.alias("g"), "s", "p", "o")


def q_sparql_update_quads(spark, sf_dir):
    """Graph-targeted SPARQL 1.1 UPDATE driver-checked at bench scale
    (round-12 verdict ask #4): op 1 is a ``WITH <graph://part>`` modify
    that re-files every Brand#1x part — the DELETE template removes its
    ex:inBrand row from the WITH graph, one INSERT template writes an
    ex:brandTier marker back into the WITH graph, and a second
    ``GRAPH <graph://audit>`` template block writes the old brand into a
    NEW named graph; op 2 is ``CLEAR GRAPH <graph://orders>``. Deletes
    are null-safe hash anti-joins on (g, s, p, o); CLEAR is a pushed
    scan filter. The result is projected to the four touched predicates
    (status must come back EMPTY — its graph was cleared; lineitem and
    default-graph rows are untouched by construction). The oracle
    replays (G \\ D) ∪ I per graph as SQL set ops."""
    from bio2bel_spark.sparql import sparql_update

    ex = "http://ex.org/"
    out = sparql_update(
        _scale_quads(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           WITH <graph://part>
           DELETE { ?p ex:inBrand ?b }
           INSERT { ?p ex:brandTier "tier1" .
                    GRAPH <graph://audit> { ?p ex:wasBrand ?b } }
           WHERE { ?p ex:inBrand ?b . FILTER(STRSTARTS(?b, "Brand#1")) } ;
           CLEAR GRAPH <graph://orders>""",
    )
    return out.filter(
        F.col("p").isin(
            [ex + "inBrand", ex + "brandTier", ex + "wasBrand",
             ex + "status"]
        )
    )


def q_sparql_graph_scale(spark, sf_dir):
    """Named graphs driver-checked at bench scale: GRAPH ?g binds the
    graph label per solution (all-named-graphs scan + g projected as a
    join column), GRAPH <iri> scopes its pattern to one graph (filter
    pushed into the scan), and the retailPrice pattern runs against the
    DEFAULT graph (g IS NULL) — three dataset contexts joined in one
    plan. Oracle replays the contexts as their per-predicate CTEs with
    the graph labels as literals."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_quads(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?g ?brand (COUNT(?ord) AS ?n) WHERE {
               GRAPH ?g { ?part ex:inBrand ?brand }
               GRAPH <graph://lineitem> { ?ord ex:hasPart ?part }
               ?part ex:retailPrice ?price .
               FILTER(STRSTARTS(?brand, "Brand#2"))
           } GROUP BY ?g ?brand""",
    )


def q_sparql_expr_suite(spark, sf_dir):
    """The round-11 expression round-out at bench scale: FILTER with an
    all-literal IN (compiles to a pushable isin scan predicate) OR an
    embedded EXISTS (correlated marker join against the isRoot facts),
    grouped, then ORDER BY over a mix of a native aggregate, a STRLEN
    expression key, and a var tie-break, LIMIT-paged. The oracle replays
    IN/EXISTS as IN + left-join-IS-NOT-NULL and the sort keys verbatim
    (the compare is order-insensitive, so the LIMIT page only needs the
    same SET — the three-key sort is total, making the page
    deterministic on both sides)."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand (COUNT(?part) AS ?n) WHERE {
               ?part ex:inBrand ?brand .
               FILTER(?brand IN ("Brand#11", "Brand#22", "Brand#13")
                      || EXISTS { ?part ex:isRoot "true" })
           } GROUP BY ?brand
           ORDER BY DESC(?n) STRLEN(?brand) ?brand LIMIT 10""",
    )


def q_sparql_from_dataset(spark, sf_dir):
    """FROM / FROM NAMED dataset construction at bench scale: FROM
    promotes the part-facts graph to the default graph, FROM NAMED
    keeps only the lineitem graph addressable by GRAPH clauses, and the
    orders graph drops out of the dataset entirely (SPARQL 1.1 §13.2:
    an explicit dataset is exactly what's described). The rewrite is a
    canonicalizing filter+union BEFORE planning, so the plan below it
    is the ordinary pushed-scan/hash-join shape. Oracle replays the
    dataset as the per-predicate CTEs."""
    from bio2bel_spark.sparql import sparql_select

    return sparql_select(
        _scale_quads(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           SELECT ?brand ?g (COUNT(?ord) AS ?n)
           FROM <graph://part>
           FROM NAMED <graph://lineitem>
           WHERE {
               ?part ex:inBrand ?brand .
               GRAPH ?g { ?ord ex:hasPart ?part }
               FILTER(STRSTARTS(?brand, "Brand#1"))
           } GROUP BY ?brand ?g""",
    )


def q_sparql_update_graph(spark, sf_dir):
    """SPARQL 1.1 Update driver-checked at bench scale: a two-operation
    sequence over the synthesized graph — a modify that re-files every
    Brand#1x part under ex:brandGroup (+ an ex:rebranded marker) while
    deleting the old ex:inBrand triples, then a DELETE WHERE stripping
    'P'-status orders. Returns the updated graph filtered to the four
    touched predicates (the full update plan executes; the projection
    just keeps the driver compare compact). The oracle replays
    (G \\ D) ∪ I as SQL set ops per predicate."""
    from bio2bel_spark.sparql import sparql_update

    ex = "http://ex.org/"
    updated = sparql_update(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           DELETE { ?p ex:inBrand ?b }
           INSERT { ?p ex:brandGroup ?b . ?p ex:rebranded "true" }
           WHERE { ?p ex:inBrand ?b . FILTER(STRSTARTS(?b, "Brand#1")) } ;
           DELETE WHERE { ?o ex:status "P" }""",
    )
    return updated.filter(
        F.col("p").isin(
            [ex + "inBrand", ex + "brandGroup", ex + "rebranded",
             ex + "status"]
        )
    )


def q_sparql_describe(spark, sf_dir):
    """Round-11 DESCRIBE query form over the scale graph: describe every
    forest root bound by the WHERE group plus one explicit IRI — the
    distinct triples whose subject is a described resource (blank-node-
    free Concise Bounded Description, rdflib parity). The resource set
    is 10 rows -> broadcast semi join against the triples scan. Oracle
    replays the union-filter in SQL."""
    from bio2bel_spark.sparql import sparql_describe

    return sparql_describe(
        _scale_triples(spark, sf_dir),
        """PREFIX ex: <http://ex.org/>
           DESCRIBE ?root <order://1>
           WHERE { ?root ex:isRoot "true" }""",
    )


_CX_FIXTURE = """\
[{"nodes": [{"@id": 1, "n": "TP53", "r": "uniprot:P04637"},
            {"@id": 2, "n": "complex X", "r": "cx:2"}]},
 {"nodeAttributes": [{"po": 1, "n": "type", "v": "protein"},
                     {"po": 2, "n": "type", "v": "complex"},
                     {"po": 2, "n": "member", "v": "TP53"},
                     {"po": 1, "n": "alias", "v": "p53"}]}]
"""


def q_cx_pivot(spark, sf_dir):
    """S9: NDEx CX aspect scan + node-attribute pivot joined to node names."""
    from bio2bel_spark.ingest import read_cx_aspect
    from bio2bel_spark.sources.pid import pivot_node_attributes

    path = _fixture_path("mini.cx", _CX_FIXTURE)
    nodes = read_cx_aspect(spark, path, "nodes")
    attrs = read_cx_aspect(spark, path, "nodeAttributes")
    return (
        pivot_node_attributes(attrs)
        .join(nodes.select(F.col("@id").alias("po"), F.col("n").alias("name")), "po")
        .select("po", "name", "type", "alias", "member")
    )


def q_kg_union_dedup(spark, sf_dir):
    """U2: multigraph union + qualified-edge dedup (BELGraph add-edge
    semantics, reference sources/rhea.py:50-62). Exact duplicates collapse
    by edge identity; a differently-cited copy of the same endpoints
    survives. Digest of the sorted edge keys pins the sha2 identity."""
    from bio2bel_spark.operators.graph import KnowledgeGraph, edge_key

    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")

    def _edges(df, key, nkey, ns, citation):
        return df.select(
            F.lit(ns).alias("source_ns"),
            F.col(key).cast("string").alias("source_id"),
            F.lit("memberOf").alias("relation"),
            F.lit("nation").alias("target_ns"),
            F.col(nkey).cast("string").alias("target_id"),
            F.lit(citation).alias("citation"),
        )

    e1 = _edges(customer, "c_custkey", "c_nationkey", "customer", "pubmed:1")
    e_dup = _edges(customer, "c_custkey", "c_nationkey", "customer", "pubmed:1")
    e_recited = _edges(
        customer.filter(F.pmod(F.col("c_custkey"), F.lit(10)) == 0),
        "c_custkey", "c_nationkey", "customer", "pubmed:2",
    )
    e_sup = _edges(supplier, "s_suppkey", "s_nationkey", "supplier", "pubmed:1")
    g = KnowledgeGraph(
        None, e1.unionByName(e_dup).unionByName(e_recited).unionByName(e_sup)
    )
    deduped = edge_key(g.dedup_edges().edges)
    return deduped.groupBy("source_ns").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.md5(F.concat_ws("\n", F.sort_array(F.collect_list("edge_key")))).alias(
            "keys_digest"
        ),
    )


def _kg(spark, sf_dir):
    """Knowledge graph from the driver tables: customer/supplier → nation
    'partOf'-style edges (bipartite star graph, deterministic)."""
    from bio2bel_spark.operators.graph import KnowledgeGraph

    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    c_edges = customer.select(
        F.lit("customer").alias("source_ns"),
        F.col("c_custkey").cast("string").alias("source_id"),
        F.lit("memberOf").alias("relation"),
        F.lit("nation").alias("target_ns"),
        F.col("c_nationkey").cast("string").alias("target_id"),
    )
    s_edges = supplier.select(
        F.lit("supplier").alias("source_ns"),
        F.col("s_suppkey").cast("string").alias("source_id"),
        F.lit("memberOf").alias("relation"),
        F.lit("nation").alias("target_ns"),
        F.col("s_nationkey").cast("string").alias("target_id"),
    )
    edges = c_edges.unionByName(s_edges)
    kg = KnowledgeGraph(None, edges)
    kg.nodes = kg.induced_nodes()
    return kg


def q_indra_statements(spark, sf_dir):
    """G6 FULL-export tier (closes the round-6 capped-adapter gap): the KG
    edge table routed through the distributed INDRA statement dispatch —
    literal-map relation→statement-type lookup in codegen, unconvertible
    relations dropped (pybel.to_indra's skip semantics), no driver
    collection anywhere. Customer edges are partOf (→Complex), supplier
    edges increases (→Activation), nation→region edges ride an
    unconvertible relation and must vanish."""
    from bio2bel_spark.io.indra import indra_statements_df

    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    c_edges = customer.select(
        F.lit("customer").alias("source_ns"),
        F.col("c_custkey").cast("string").alias("source_id"),
        F.lit("partOf").alias("relation"),
        F.lit("nation").alias("target_ns"),
        F.col("c_nationkey").cast("string").alias("target_id"),
        F.lit("pubmed:1").alias("citation"),
    )
    s_edges = supplier.select(
        F.lit("supplier").alias("source_ns"),
        F.col("s_suppkey").cast("string").alias("source_id"),
        F.lit("increases").alias("relation"),
        F.lit("nation").alias("target_ns"),
        F.col("s_nationkey").cast("string").alias("target_id"),
        F.lit("pubmed:2").alias("citation"),
    )
    n_edges = nation.select(
        F.lit("nation").alias("source_ns"),
        F.col("n_nationkey").cast("string").alias("source_id"),
        F.lit("memberOf").alias("relation"),  # unconvertible -> dropped
        F.lit("region").alias("target_ns"),
        F.col("n_regionkey").cast("string").alias("target_id"),
        F.lit("pubmed:3").alias("citation"),
    )
    edges = c_edges.unionByName(s_edges).unionByName(n_edges)
    return indra_statements_df(edges).select(
        "stmt_type", "subj_db", "subj_id", "obj_db", "obj_id", "pmid"
    )


def q_kg_triples(spark, sf_dir):
    """G1/S16: edges → (h, r, t) triples export shape."""
    return _kg(spark, sf_dir).triples()


def q_kg_edge_list(spark, sf_dir):
    """S15/J8: integer edge list via sorted node enumeration."""
    return _kg(spark, sf_dir).edge_list()


def q_kg_components(spark, sf_dir):
    """G4: connected components (distributed min-label propagation). Oracle
    by graph theory: each referenced nation forms exactly one component."""
    comp = _kg(spark, sf_dir).connected_components()
    return comp.agg(F.countDistinct("component").alias("n_components"))


def q_kg_summary(spark, sf_dir):
    """G4: one-row graph summary (nodes, edges, density) — the reference's
    published BEL-graph statistics (intact.py:174-190) as a single plan."""
    kg = _kg(spark, sf_dir)
    n_nodes = kg.nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = kg.edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_nodes.crossJoin(n_edges).select(
        "n_nodes",
        "n_edges",
        F.round(
            F.col("n_edges") / (F.col("n_nodes") * (F.col("n_nodes") - 1)), 6
        ).alias("density"),
    )


def q_kg_pathway_edges(spark, sf_dir):
    """G3: pathway→graph expansion — one partOf edge per distinct membership
    pair, as a single join plan (no per-pathway loop)."""
    from bio2bel_spark.operators.graph import pathway_membership_to_edges

    membership = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("pathway_id"),
            F.col("l_partkey").alias("protein_id"),
        )
        .distinct()
    )
    pathway = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("pathway_id"),
        F.lit("orders").alias("prefix"),
        F.col("o_orderkey").cast("string").alias("identifier"),
    )
    protein = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("protein_id"),
        F.col("p_partkey").cast("string").alias("hgnc_id"),
    )
    edges = pathway_membership_to_edges(membership, pathway, protein)
    return edges.select(
        "source_ns", "source_id", "relation", "target_ns", "target_id"
    )


def q_kg_descendants(spark, sf_dir):
    """G5: hierarchy BFS — all nodes under region 0 in the
    region←nation←customer containment hierarchy."""
    from bio2bel_spark.operators.graph import KnowledgeGraph

    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    hier = nation.select(
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("child"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")).alias("parent"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("child"),
            F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("parent"),
        )
    )
    roots = spark.createDataFrame([("r0",)], "node string")
    return KnowledgeGraph.descendants(hier, roots, "child", "parent")


# ---------------------------------------------------- training-data operators


def _spread(spark, df):
    """Repartition an expression-heavy input to full parallelism — only
    when the input actually arrives with fewer partitions than cores.

    The driver's small tables arrive as single-row-group parquet files → 1-2
    scan partitions, which would run the per-row hash pipelines on 1-2 of the
    32 cores. At production scale inputs arrive in many splits, the
    partition count already exceeds defaultParallelism, and this returns the
    input untouched — no shuffle of the large side is ever added at scale
    (which matters for probe-before-exchange patterns like the Bloom
    prefilter). The tiny local shuffle expresses the requirement (heavy map
    stages need partitions ≈ cores) without touching global scan config.
    """
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def _docs_augmented(spark, sf_dir):
    """documents ∪ perturbed copies of doc_id<50 (case/whitespace variants):
    a deterministic input that actually contains duplicates."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    # no _spread here: most consumers' per-row work is too light to pay for
    # the local round-robin exchange (dedup_exact 0.63s → 0.30 without,
    # lsh_fast 1.70 → 0.93, split_leakage 2.02 → 1.34;
    # plans/r14/ab_spread_results.log). The two consumers the A/B showed
    # gaining (ngram_jaccard_pairs, lsh_recall) spread at their call site.
    return docs.unionByName(dups)


_AUG_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, upper(text) AS text
    FROM documents WHERE doc_id < 50
"""

#: DuckDB twins of the portable hashing pipeline in operators/dedup.py
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_H32_SQL = "('0x' || substr(md5({x}), 1, 8))::BIGINT"

#: DuckDB twin of operators/similarity.ivf_assign: seed centroids are the 8
#: lowest-id vectors; every vector joins its argmax-cosine centroid (first
#: index wins ties, matching Spark's array_position). Parametrized by the
#: vector source so the near-pair query can run over the augmented table.
_IVF_SRC = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"


def _ivf_cte(src: str = _IVF_SRC, k: int = 8, recursive: bool = False) -> str:
    return f"""
    WITH {"RECURSIVE " if recursive else ""}e AS ({src}),
    c AS (
        SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cidx, v AS cv
        FROM (SELECT * FROM e ORDER BY vec_id LIMIT {k})
    ),
    sims AS (
        SELECT e.vec_id,
               list(list_dot_product(e.v, c.cv)
                    / (sqrt(list_dot_product(e.v, e.v))
                       * sqrt(list_dot_product(c.cv, c.cv)))
                    ORDER BY c.cidx) AS s
        FROM e CROSS JOIN c GROUP BY e.vec_id
    ),
    assigned AS (
        SELECT e.vec_id, e.v,
               (list_position(s, list_max(s)) - 1)::INT AS cluster
        FROM e JOIN sims USING (vec_id)
    )
"""


_IVF_CTE = _ivf_cte()

#: multi-probe verified cosine pairs (k=16 lists, nprobe=2, thr 0.9) —
#: appended after an _ivf_cte(...) chain; ends with the `vp` CTE consumed by
#: the probe2 and embedding_dedup oracles
_EMB_PAIR_CTES = """
    ranked AS (
        SELECT vec_id, (u.i - 1)::INT AS cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s[u.i] DESC, u.i ASC) AS rk
        FROM sims, unnest(range(1, len(s) + 1)) AS u(i)
    ),
    probes AS (SELECT vec_id, cluster FROM ranked WHERE rk <= 2),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM probes a JOIN probes b USING (cluster)
        WHERE a.vec_id < b.vec_id
    ),
    vp AS (
        SELECT id_a, id_b,
               round(list_dot_product(ea.v, eb.v)
                   / (sqrt(list_dot_product(ea.v, ea.v))
                      * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_sim
        FROM cand
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE round(list_dot_product(ea.v, eb.v)
                  / (sqrt(list_dot_product(ea.v, ea.v))
                     * sqrt(list_dot_product(eb.v, eb.v))), 6) >= 0.9
    )
"""

#: exact n-gram Jaccard pairs over the augmented corpus (threshold 0.5) —
#: oracle for both the inverted-index operator and the LSH+verify pipeline
#: shared CTE chain: augmented docs → portable shingle hashes → verified
#: near-dup pairs at jaccard >= 0.5 (the exact twin of LSH+verify)
_JACCARD_CTES = f"""
    aug AS ({_AUG_SQL}),
    norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM aug),
    w AS (SELECT doc_id, t, string_split(t, ' ') AS words FROM norm),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(words) >= 3
                    THEN list_transform(range(1, len(words) - 1),
                         i -> array_to_string(words[i:i+2], ' '))
                    ELSE [t] END AS shingles
        FROM w
    ), hs AS (
        SELECT doc_id,
               list_distinct(list_transform(shingles,
                   s -> {_H32_SQL.format(x='s')})) AS hashes
        FROM sh
    ), ex AS (
        SELECT doc_id, unnest(hashes) AS h FROM hs
    ), sizes AS (
        SELECT doc_id, len(hashes) AS n FROM hs
    ), pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b,
               count(*)::BIGINT AS shared
        FROM ex x JOIN ex y USING (h)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2
    ), vpairs AS (
        SELECT id_a, id_b,
               round(shared::DOUBLE / (sa.n + sb.n - shared), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.5
    )
"""

_EXACT_JACCARD_SQL = f"""
    WITH {_JACCARD_CTES}
    SELECT id_a, id_b, jaccard FROM vpairs
"""

#: shared CTE chain for the line-dedup stage: boilerplate-wrapped docs →
#: exploded lines → cross-doc frequent-line set → surviving lines → rebuilt
#: text (consumed by line_dedup and the composed training_pipeline oracle)
_LINE_DEDUP_CTES = """
    ml AS (
        SELECT doc_id,
               'promo header line' || chr(10) || text || chr(10) ||
               CASE WHEN doc_id % 2 = 0 THEN 'subscribe footer'
                    ELSE 'unique tail ' || doc_id::VARCHAR END AS text
        FROM documents
    ), lines AS (
        SELECT doc_id,
               unnest(string_split(text, chr(10))) AS line,
               unnest(range(len(string_split(text, chr(10))))) AS pos
        FROM ml
    ), freq AS (
        SELECT k FROM (
            SELECT DISTINCT doc_id, trim(line) AS k
            FROM lines WHERE trim(line) <> ''
        ) GROUP BY k HAVING count(*) >= 2
    ), kept AS (
        SELECT l.doc_id, l.pos, l.line
        FROM lines l LEFT JOIN freq f ON trim(l.line) = f.k
        WHERE f.k IS NULL
    ), reb AS (
        SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS clean,
               count(*)::BIGINT AS n_kept
        FROM kept GROUP BY doc_id
    )
"""

#: cluster-dedup twin: connected components over the verified pairs via a
#: recursive reachability CTE (label L reaches node n ⇒ same component;
#: min reachable label = cluster id), then every doc joins its cluster
_FUZZY_CLUSTER_SQL = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    edges AS (
        SELECT id_a AS a, id_b AS b FROM vpairs
        UNION
        SELECT id_b AS a, id_a AS b FROM vpairs
    ),
    reach(node, label) AS (
        SELECT a AS node, a AS label FROM edges
        UNION
        SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS cluster,
           coalesce(c.component, d.doc_id) = d.doc_id AS keep
    FROM aug d LEFT JOIN comp c ON d.doc_id = c.node
"""


#: shared CTE chain for the duplicate-span (substring dedup) queries:
#: planted-span docs → normalized word arrays → per-position 8-gram hashes →
#: cross-doc frequent spans → duplicated positions. Consumed by the
#: dup_span_profile and dup_span_scrub oracles.
_SPAN_CTES = f"""
    sp AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN 'shared preamble alpha beta gamma delta epsilon zeta eta theta. '
                    ELSE '' END
               || text ||
               CASE WHEN doc_id % 5 = 0
                    THEN ' closing boilerplate one two three four five six seven eight'
                    ELSE '' END AS text
        FROM documents
    ),
    spnorm AS (SELECT doc_id, {_NORM_SQL} AS t FROM sp),
    spw AS (SELECT doc_id, string_split(t, ' ') AS words FROM spnorm),
    spbase AS (
        SELECT doc_id, len(words)::BIGINT AS n_tokens,
               greatest(0, len(words) - 7)::BIGINT AS n_spans, words
        FROM spw
    ),
    sppos AS (
        SELECT doc_id, unnest(range(0, n_spans)) AS pos, words FROM spbase
    ),
    sph AS (
        SELECT doc_id, pos,
               {_H32_SQL.format(x="array_to_string(words[pos+1:pos+8], ' ')")} AS h
        FROM sppos
    ),
    spfreq AS (
        SELECT h FROM (
            SELECT h, count(DISTINCT doc_id) AS nd FROM sph GROUP BY h
        ) WHERE nd >= 2
    ),
    spdup AS (
        SELECT doc_id, pos FROM sph WHERE h IN (SELECT h FROM spfreq)
    )
"""


#: exact cross-table Jaccard twin of q_fuzzy_join. The right side uppercases
#: its text, but normalization lowercases, so {_NORM_SQL} applies unchanged.
_FUZZY_JOIN_SQL = f"""
    WITH ln AS (SELECT doc_id AS lid, {_NORM_SQL} AS t FROM documents),
    rn AS (SELECT doc_id + 50000 AS rid, {_NORM_SQL} AS t
           FROM documents WHERE doc_id % 7 = 0),
    lw AS (SELECT lid, t, string_split(t, ' ') AS words FROM ln),
    rw AS (SELECT rid, t, string_split(t, ' ') AS words FROM rn),
    lsh AS (
        SELECT lid,
               CASE WHEN len(words) >= 3
                    THEN list_transform(range(1, len(words) - 1),
                         i -> array_to_string(words[i:i+2], ' '))
                    ELSE [t] END AS shingles
        FROM lw
    ), rsh AS (
        SELECT rid,
               CASE WHEN len(words) >= 3
                    THEN list_transform(range(1, len(words) - 1),
                         i -> array_to_string(words[i:i+2], ' '))
                    ELSE [t] END AS shingles
        FROM rw
    ), lh AS (
        SELECT lid, list_distinct(list_transform(shingles,
                   s -> {_H32_SQL.format(x='s')})) AS hashes FROM lsh
    ), rh AS (
        SELECT rid, list_distinct(list_transform(shingles,
                   s -> {_H32_SQL.format(x='s')})) AS hashes FROM rsh
    ), exl AS (SELECT lid, unnest(hashes) AS h FROM lh),
    exr AS (SELECT rid, unnest(hashes) AS h FROM rh),
    lsz AS (SELECT lid, len(hashes) AS n FROM lh),
    rsz AS (SELECT rid, len(hashes) AS n FROM rh),
    pairs AS (
        SELECT exl.lid, exr.rid, count(*)::BIGINT AS shared
        FROM exl JOIN exr USING (h)
        GROUP BY 1, 2
    )
    SELECT lid, rid,
           round(shared::DOUBLE / (la.n + rb.n - shared), 6) AS jaccard
    FROM pairs
    JOIN lsz la USING (lid)
    JOIN rsz rb USING (rid)
    WHERE shared::DOUBLE / (la.n + rb.n - shared) >= 0.5
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups (hash-groupBy on normalized text)."""
    from dataops.dedup import exact_duplicates

    df = exact_duplicates(_docs_augmented(spark, sf_dir))
    return df.withColumn("all_ids", _arr_str("all_ids"))


def q_dedup_drop_exact(spark, sf_dir):
    """Surviving corpus after exact dedup (min-id representative kept)."""
    from dataops.dedup import drop_exact_duplicates

    return drop_exact_duplicates(_docs_augmented(spark, sf_dir)).select("doc_id")


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (16 perms over word-3-gram portable hashes)."""
    from dataops.dedup import minhash_signature

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.select("doc_id", _arr_str(minhash_signature("text", 16)).alias("sig"))


def q_dedup_lsh_verified(spark, sf_dir):
    """MinHash-LSH candidates filtered by true n-gram Jaccard ≥ 0.5."""
    from dataops.dedup import jaccard_verify, lsh_candidate_pairs

    docs = _docs_augmented(spark, sf_dir)
    cand = lsh_candidate_pairs(docs, n_hashes=16, bands=8)
    return jaccard_verify(cand, docs, threshold=0.5)


def q_dedup_lsh_fast(spark, sf_dir):
    """Production speed tier of dedup_lsh_verified: identical operator
    shapes, xxhash64 backend instead of portable md5 (~order cheaper per
    hash). Verified output is hash-invariant — candidate recall may differ,
    but the exact-Jaccard verify step keeps precision exact, so the exact
    inverted-index pairs remain its oracle (equality asserted at
    sf0.001/0.01/0.1; fixed data + deterministic pipeline keep it stable)."""
    from dataops.dedup import jaccard_verify, lsh_candidate_pairs

    docs = _docs_augmented(spark, sf_dir)
    cand = lsh_candidate_pairs(docs, n_hashes=16, bands=8, backend="xxhash64")
    return jaccard_verify(cand, docs, threshold=0.5, backend="xxhash64")


def q_dedup_fuzzy_clusters(spark, sf_dir):
    """Cluster-level fuzzy dedup: LSH pairs → connected components → one
    survivor (min id) per near-dup cluster; one row per input doc."""
    from dataops.dedup import dedup_fuzzy

    docs = _docs_augmented(spark, sf_dir)
    return dedup_fuzzy(docs, n_hashes=16, bands=8, threshold=0.5)


def q_hll_grouped(spark, sf_dir):
    """Per-group portable HLL: distinct parts per returnflag — the
    distinct-users-per-day shape, O(m) registers per group."""
    from dataops.sketch import (
        hll_estimate_grouped,
        hll_state_grouped,
    )

    # _spread: the per-row md5 register hash otherwise runs on the single
    # sf scan partition; no-op at scale.
    state = hll_state_grouped(
        _spread(spark, _t(spark, sf_dir, "lineitem")),
        "l_partkey", by="l_returnflag",
    )
    return hll_estimate_grouped(state, by="l_returnflag")


def q_validate_lineitem(spark, sf_dir):
    """Declarative data-quality report over lineitem: five row-level
    constraints compiled into ONE scan + one reduce, plus a uniqueness
    check. The l_discount <= 0.05 rule genuinely fails (discounts reach
    0.10), so the report exercises real violation counting."""
    from dataops.validation import check_constraints

    return check_constraints(
        _t(spark, sf_dir, "lineitem"),
        [
            {"type": "not_null", "col": "l_orderkey"},
            {"type": "range", "col": "l_quantity", "min": 1, "max": 50},
            {"type": "range", "col": "l_discount", "min": 0.0, "max": 0.05},
            {"type": "in_set", "col": "l_returnflag", "values": ["A", "N", "R"]},
            {"type": "regex", "col": "l_linestatus", "pattern": "^[OF]$"},
            {"type": "unique", "cols": ["l_orderkey", "l_linenumber"]},
        ],
    )


def q_corpus_report(spark, sf_dir):
    """One-row corpus health report over the augmented (duplicate-bearing)
    documents table: volumes, shortness, token mass, exact-dup rate."""
    from dataops.textquality import corpus_report

    return corpus_report(_docs_augmented(spark, sf_dir))


def q_lm_perplexity(spark, sf_dir):
    """Bigram-LM perplexity per document (CCNet/KenLM-style quality filter),
    self-trained on the corpus with add-1 smoothing."""
    from dataops.textquality import lm_perplexity

    return lm_perplexity(_spread(spark, _t(spark, sf_dir, "documents")))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    bag-of-words models fit on the English slice (target) vs the whole
    corpus (raw); per-doc log importance weight = sum of bucket log-ratios.
    The selection tilt a 100 TB crawl toward a curated target domain."""
    from dataops.textquality import dsir_log_weights

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return dsir_log_weights(
        docs, docs.where(F.col("lang") == "en"), buckets=512, alpha=1.0
    )


def q_perplexity_buckets(spark, sf_dir):
    """CCNet-style head/middle/tail perplexity bucketing per language
    (Wenzek et al. 2020) — self-trained bigram LM, discrete integer
    milli-perplexity thresholds at the 33/67 % order stats."""
    from dataops.textquality import ccnet_perplexity_buckets

    return ccnet_perplexity_buckets(
        _spread(spark, _t(spark, sf_dir, "documents"))
    )


def q_dsir_select(spark, sf_dir):
    """DSIR's selection step: Gumbel top-40 by perturbed log-weight
    (deterministic portable-hash Gumbel, seed 0) — sampling without
    replacement proportional to the importance weight, as TakeOrdered."""
    from dataops.textquality import dsir_select

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return dsir_select(
        docs, docs.where(F.col("lang") == "en"), k=40, seed=0,
        buckets=512, alpha=1.0,
    ).select("doc_id", "log_weight", "gumbel_key")


def q_dsir_maintenance(spark, sf_dir):
    """Batch-replay twin of the streaming DSIR maintainer: three
    micro-batches (doc_id % 3) folded through dsir_bucket_state +
    dsir_merge (counter summing — batch-order-invariant, so the one-pass
    DuckDB fit is the truth), then the sub-100 doc ids scored against the
    accumulated state."""
    from dataops.textquality import (
        dsir_bucket_state,
        dsir_merge,
        dsir_weights_from_state,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    state = None
    for k in range(3):
        bs = dsir_bucket_state(
            docs.filter(F.col("doc_id") % 3 == k),
            F.col("lang") == "en",
            buckets=512,
        )
        state = bs if state is None else dsir_merge([state, bs])
    return dsir_weights_from_state(
        docs.where(F.col("doc_id") < 100), state, buckets=512, alpha=1.0
    )


def q_perplexity_maintenance(spark, sf_dir):
    """Batch-replay twin of the streaming CCNet histogram maintainer:
    three micro-batches (doc_id % 3) scored against the FROZEN reference
    LM (the full corpus) and folded through perplexity_histogram_state +
    perplexity_hist_merge, then every doc bucketed against the
    accumulated state. Counter summing is batch-order-invariant, so the
    result equals the one-pass ccnet_perplexity_buckets fit — the same
    DuckDB oracle as perplexity_buckets."""
    from dataops.textquality import (
        lm_model,
        perplexity_buckets_from_state,
        perplexity_hist_merge,
        perplexity_histogram_state,
    )

    # no _spread (r14 A/B: 2.63s with vs 2.23 without — the per-increment
    # slices are too small to pay for the exchange)
    docs = _t(spark, sf_dir, "documents")
    # the frozen reference LM is fit ONCE (persisted) and shared by every
    # increment and the final bucketing — the maintainer's cost shape
    model = lm_model(docs, persist=True)
    state = None
    for k in range(3):
        bs = perplexity_histogram_state(
            docs.filter(F.col("doc_id") % 3 == k), model=model
        )
        state = bs if state is None else perplexity_hist_merge([state, bs])
    return perplexity_buckets_from_state(docs, state, model=model)


def q_selection_pipeline(spark, sf_dir):
    """The round-7 curation chain as ONE plan: Gopher quality gate (drop
    with reasons) → DSIR fit on the SURVIVING corpus (en slice as target)
    → deterministic Gumbel top-40 — gate-then-tilt, the selection stack a
    training-data pipeline runs end-to-end before packing."""
    from dataops.cleaning import quality_gate
    from dataops.textquality import dsir_select

    from bio2bel_spark.operators.caching import tracked_persist

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # the gated id set feeds every downstream consumer of `kept` (the DSIR
    # raw fit, the en-slice target fit, the doc-gram scoring stream and the
    # final enrichment join) — pinned so the Gopher gate's corpus pass runs
    # once, not once per consumer (r14 plan audit: 170-340 Exchanges here)
    kept_ids = (
        quality_gate(docs, min_tokens=40)
        .where(F.col("keep"))
        .select("doc_id")
    ).transform(tracked_persist)
    kept = docs.join(kept_ids, "doc_id")
    return dsir_select(
        kept, kept.where(F.col("lang") == "en"), k=40, seed=0,
        buckets=512, alpha=1.0,
    ).select("doc_id", "log_weight", "gumbel_key")


def q_selection_pipeline_packed(spark, sf_dir):
    """The full pre-training data path as ONE plan: Gopher quality gate →
    DSIR fit on survivors → deterministic Gumbel top-40 → concat-then-
    chunk packing of the selected docs into 2048-char context windows per
    source — selection feeding packing, the composition a real
    training-data pipeline always runs before tokenization."""
    from dataops.cleaning import quality_gate
    from dataops.packing import pack_concat_chunks
    from dataops.textquality import dsir_select

    from bio2bel_spark.operators.caching import tracked_persist

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # the gated id set feeds every downstream consumer of `kept` (the DSIR
    # raw fit, the en-slice target fit, the doc-gram scoring stream and the
    # final enrichment join) — pinned so the Gopher gate's corpus pass runs
    # once, not once per consumer (r14 plan audit: 170-340 Exchanges here)
    kept_ids = (
        quality_gate(docs, min_tokens=40)
        .where(F.col("keep"))
        .select("doc_id")
    ).transform(tracked_persist)
    kept = docs.join(kept_ids, "doc_id")
    sel = dsir_select(
        kept, kept.where(F.col("lang") == "en"), k=40, seed=0,
        buckets=512, alpha=1.0,
    )
    packed = pack_concat_chunks(
        sel, "n_chars", budget=2048, by="source", order="doc_id"
    )
    return packed.select(
        "doc_id", "log_weight", "gumbel_key", "source",
        F.col("n_chars").cast("long").alias("n_chars"), "pack_id",
    )


def q_selection_pipeline_tokens(spark, sf_dir):
    """The packed selection pipeline with a REAL token budget: gate →
    DSIR top-40 → BPE-encode the selected docs with merges learned over
    the full corpus → pack by cumulative SUBWORD tokens (budget 256)
    instead of raw chars — what a pre-training pipeline actually packs
    by. Still ONE plan: the merges are the only driver scalars (6 rows,
    the k-means-seed convention); encoding is the map-only chained
    rewrite; packing is the same per-source running-sum window."""
    from dataops.bpe import bpe_apply, bpe_learn_merges
    from dataops.cleaning import quality_gate
    from dataops.dedup import normalize_text
    from dataops.packing import pack_concat_chunks
    from dataops.textquality import dsir_select

    from bio2bel_spark.operators.caching import tracked_persist

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    # the gated id set feeds every downstream consumer of `kept` (the DSIR
    # raw fit, the en-slice target fit, the doc-gram scoring stream and the
    # final enrichment join) — pinned so the Gopher gate's corpus pass runs
    # once, not once per consumer (r14 plan audit: 170-340 Exchanges here)
    kept_ids = (
        quality_gate(docs, min_tokens=40)
        .where(F.col("keep"))
        .select("doc_id")
    ).transform(tracked_persist)
    kept = docs.join(kept_ids, "doc_id")
    # sel (40 rows) feeds the BPE word stream AND the final token join —
    # pinned so the whole gate→DSIR→top-k head executes once, not twice
    sel = dsir_select(
        kept, kept.where(F.col("lang") == "en"), k=40, seed=0,
        buckets=512, alpha=1.0,
    ).transform(tracked_persist)
    merges = bpe_learn_merges(docs, n_merges=6)
    words = sel.select(
        "doc_id",
        F.explode(F.split(normalize_text("text"), " ")).alias("__w"),
    ).where(F.col("__w") != "")
    tok = (
        words.select("doc_id", bpe_apply("__w", merges).alias("__sym"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.size(F.split("__sym", " "))).cast("long")
            .alias("n_tokens")
        )
    )
    seld = sel.join(tok, "doc_id", "left").withColumn(
        "n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    )
    packed = pack_concat_chunks(
        seld, "n_tokens", budget=256, by="source", order="doc_id"
    )
    return packed.select(
        "doc_id", "log_weight", "gumbel_key", "source", "n_tokens",
        "pack_id",
    )


def q_dedup_quality_survivor(spark, sf_dir):
    """Fuzzy dedup with quality-aware survivorship: within each near-dup
    cluster the LONGEST text survives (ties: lower id) — the curation rule
    that keeps the best version of a duplicated page rather than whichever
    id happens to be smallest."""
    from dataops.dedup import dedup_fuzzy

    docs = _docs_augmented(spark, sf_dir).withColumn(
        "score", F.length("text")
    )
    return dedup_fuzzy(
        docs, n_hashes=16, bands=8, threshold=0.5, score_col="score"
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (shingle inverted index)."""
    from dataops.dedup import ngram_jaccard_pairs

    # _spread: the shingle md5 pipeline is heavy enough to want all cores
    # (r14 A/B: 1.35s spread vs 1.80 without)
    return ngram_jaccard_pairs(
        _spread(spark, _docs_augmented(spark, sf_dir)), threshold=0.5
    )


def q_simhash_docs(spark, sf_dir):
    """32-bit SimHash fingerprint per document."""
    from dataops.dedup import simhash

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.select("doc_id", simhash("text", 32).alias("fp"))


def _docs_multiline(spark, sf_dir):
    """documents wrapped with deterministic boilerplate lines: a shared promo
    header on every doc and a footer shared by the even half — the input a
    C4-style line-dedup stage expects."""
    # no _spread: line-splitting consumers lose with the local exchange
    # (line_dedup 1.06s → 0.67 without, training_pipeline 1.52 → 1.16;
    # plans/r14/ab_spread_results.log)
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("promo header line"),
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("subscribe footer")).otherwise(
                F.concat(F.lit("unique tail "), F.col("doc_id"))
            ),
        ).alias("text"),
    )


def q_line_dedup(spark, sf_dir):
    """C4-style cross-document line dedup: drop lines present in >= 2 docs,
    reassemble surviving lines in order; one row per doc."""
    from dataops.cleaning import drop_boilerplate_lines

    return drop_boilerplate_lines(_docs_multiline(spark, sf_dir), min_docs=2)


def q_quality_gate(spark, sf_dir):
    """Gopher-style composite quality gate: keep/drop per doc with the
    array of violated rule names (auditable drops — rerunnable threshold
    decisions without re-scoring)."""
    from dataops.cleaning import quality_gate

    out = quality_gate(
        _spread(spark, _t(spark, sf_dir, "documents")), min_tokens=40
    )
    return out.select(
        "doc_id", _arr_str("reasons").alias("reasons"), "keep"
    )


def q_repetition_metrics(spark, sf_dir):
    """Gopher-style within-doc repetition fractions (lines/words/2-grams)."""
    from dataops.cleaning import repetition_features

    return repetition_features(_t(spark, sf_dir, "documents"))


def q_top_word_fraction(spark, sf_dir):
    """Most frequent word per doc and its share of the doc's words."""
    from dataops.cleaning import top_word_fraction

    return top_word_fraction(_t(spark, sf_dir, "documents"))


def q_pii_scrub(spark, sf_dir):
    """PII redaction audit over docs with planted emails/IPs/phones."""
    from dataops.cleaning import pii_counts

    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(F.lit(" from 10.0.0."), (F.col("doc_id") % 250)),
            )
            .otherwise(F.lit(" call +1 555 867 5309")),
        ).alias("text"),
    )
    return pii_counts(planted)


def q_training_pipeline(spark, sf_dir):
    """End-to-end corpus pipeline in ONE plan: boilerplate-line removal →
    token-count quality gate → exact dedup (min-id survivor) → context-window
    chunk spans. The composition a training-data job actually runs; every
    stage is the same operator the standalone queries check."""
    from dataops.cleaning import drop_boilerplate_lines
    from dataops.dedup import drop_exact_duplicates
    from dataops.packing import chunk_spans
    from dataops.textquality import whitespace_token_count

    cleaned = drop_boilerplate_lines(
        _docs_multiline(spark, sf_dir), min_docs=2
    ).select("doc_id", "text")
    quality = cleaned.withColumn(
        "n_tokens", whitespace_token_count(F.col("text")).cast("long")
    ).filter(F.col("n_tokens") >= 5)
    survivors = drop_exact_duplicates(quality)
    return chunk_spans(survivors, "n_tokens", budget=40).select(
        "doc_id", "chunk_idx", "chunk_start", "chunk_tokens"
    )


def q_curation_pipeline_v2(spark, sf_dir):
    """Round-5 operators composed as ONE plan (the ``training_pipeline``
    pattern): exact n-gram contamination scan → hash-split + LSH
    split-leakage gate (drop the TRAIN side of cross-split near-dups) →
    winnowing substring overlap vs the benchmark → deterministic A-ES
    weighted mixture sample favoring low-overlap docs. Every stage is the
    same operator the standalone queries check; no materialization
    barriers between stages (localCheckpoint-free — the LSH banding's
    tracked_persist is the only cache, as in the standalone query)."""
    from dataops.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        ngram_contamination,
        winnowing_fingerprints,
    )
    from dataops.sketch import (
        split_column,
        weighted_sample_per_group,
    )

    docs = _docs_augmented(spark, sf_dir)
    bench = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 30)
        .select((F.col("doc_id") + 800_000).alias("doc_id"), "text")
    )
    from bio2bel_spark.operators.caching import tracked_persist

    # 1. contamination scan: drop training docs that heavily overlap bench
    cont = ngram_contamination(docs, bench, n=8)
    # pin the TINY contaminated-id list before the anti-join: the optimizer
    # pushes LeftAnti below the augmented corpus's union, so without the pin
    # each union branch builds its own broadcast of the whole 8-gram md5
    # contamination sweep — the sweep runs once per branch (r14 stage
    # profile: two ~7s broadcast-build stages for one logical sweep)
    cont_ids = (
        cont.where(F.col("hit_frac") >= 0.5).select("doc_id")
    ).transform(tracked_persist)
    # the gated corpus feeds FOUR consumers (split projection, LSH
    # banding, verify shingles, the train assembly) — without persistence
    # each one would re-run the 8-gram md5 contamination sweep
    clean = docs.join(cont_ids, "doc_id", "left_anti").transform(
        tracked_persist
    )
    # 2. split-leakage gate: cross-split verified near-dups poison eval,
    # so the TRAIN side of each leaky pair drops
    splits = clean.select(
        "doc_id",
        split_column(
            F.col("doc_id").cast("string"), {"train": 0.8, "test": 0.2}
        ).alias("split"),
    )
    pairs = jaccard_verify(
        lsh_candidate_pairs(clean, n_hashes=16, bands=8),
        clean,
        threshold=0.5,
    )
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("__sa")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("__sb")
    )
    leaky = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("__sa") != F.col("__sb"))
        .select(
            F.when(F.col("__sa") == "train", F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    train = (
        clean.join(splits.where(F.col("split") == "train"), "doc_id", "left_semi")
        .join(leaky, "doc_id", "left_anti")
    )
    # 3. winnowing substring overlap vs bench (residual local overlap the
    # whole-doc gates cannot see)
    fp_t = winnowing_fingerprints(train)
    fp_b = (
        winnowing_fingerprints(bench).select("fp").distinct()
        .withColumn("__hit", F.lit(1))
    )
    overlap = (
        fp_t.join(fp_b, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fps"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_shared"),
        )
    )
    # 4. deterministic weighted mixture: 4 pseudo-sources, weight inverse
    # to benchmark overlap, 50 survivors per source
    mix = overlap.select(
        (F.col("doc_id") % 4).cast("int").alias("src"),
        "doc_id",
        "n_fps",
        "n_shared",
        (F.lit(1.0) / (F.lit(1.0) + F.col("n_shared"))).alias("__w"),
    )
    return weighted_sample_per_group(
        mix, by="src", key="doc_id", weight_col="__w", n=50
    ).drop("__w")


def q_temperature_mixture(spark, sf_dir):
    """Temperature mixture flattening (α = 0.5) over the language column:
    per-language share → sampling rate ∝ share^(α-1) normalized to the
    rarest group, applied with the deterministic hash mixture — output is
    the rate table plus the kept count per language. The bounded collect
    is one row per language (the weighted_mixture dict contract)."""
    from bio2bel_spark.operators.caching import tracked_persist
    from dataops.sketch import (
        temperature_mixture_rates,
        weighted_mixture,
    )

    docs = _t(spark, sf_dir, "documents")
    rates_df = tracked_persist(temperature_mixture_rates(docs, "lang", alpha=0.5))
    rates = {r["lang"]: float(r["rate"]) for r in rates_df.collect()}
    kept = (
        weighted_mixture(docs, "lang", "doc_id", rates)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    return rates_df.join(kept, "lang", "left").select(
        "lang",
        "n_rows",
        "share",
        "rate",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def q_cluster_split(spark, sf_dir):
    """Leakage-free splitting: hash-split on the near-dup CLUSTER key so
    a doc and its near-duplicates land on one side by construction —
    (doc_id, cluster, split) over the augmented corpus; same LSH/verify
    parameters as the green dedup_fuzzy_clusters twin."""
    from dataops.dedup import cluster_split

    docs = _docs_augmented(spark, sf_dir)
    return cluster_split(
        docs,
        {"train": 0.8, "test": 0.2},
        n_hashes=16,
        bands=8,
        threshold=0.5,
    ).select("doc_id", "cluster", "split")


def q_join_strategy(spark, sf_dir):
    """The join planner's decision table over three canonical shapes:
    fact⋈dim (broadcast), fact⋈fact balanced (plain), hot-key self-shape
    (salted) — one engine-side report row per scenario, value-oracled so
    the planner's thresholds can never silently drift."""
    from dataops.skew import join_strategy_report

    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("k"))
    part = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))
    lo = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    hot = ev.select(
        F.when(F.col("user_id") <= 2, F.col("user_id"))
        .otherwise(F.lit(0))
        .alias("k")
    )
    evk = ev.select(F.col("user_id").alias("k"))
    r1 = join_strategy_report(li, part, "k").withColumn(
        "scenario", F.lit("dim_broadcast")
    )
    r2 = join_strategy_report(lo, orders, "k", broadcast_rows=1000).withColumn(
        "scenario", F.lit("fact_fact_plain")
    )
    r3 = join_strategy_report(
        hot, evk, "k", broadcast_rows=10, skew_ratio=2.0
    ).withColumn("scenario", F.lit("hot_key_salted"))
    return r1.unionByName(r2).unionByName(r3)


def q_cms_maintenance(spark, sf_dir):
    """Batch-replay twin of the streaming CMS maintainer: three
    micro-batches (event_id % 3) folded through cms_state + cms_merge —
    the exact foreachBatch state transition (counter summing is
    batch-order-invariant, so the one-pass DuckDB grid is the truth) —
    probed for the sub-20 user ids."""
    from dataops.sketch import (
        cms_estimate,
        cms_merge,
        cms_state,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    state = None
    for k in range(3):
        bs = cms_state(
            ev.filter(F.col("event_id") % 3 == k), "user_id",
            width=1024, depth=4,
        )
        state = bs if state is None else cms_merge([state, bs])
    keys = ev.where(F.col("user_id") < 20).select("user_id").distinct()
    return cms_estimate(state, keys, "user_id", width=1024, depth=4)


def q_hll_maintenance(spark, sf_dir):
    """Batch-replay twin of the streaming HLL maintainer: three
    micro-batches folded through hll_state + hll_merge (register-wise max
    — idempotent and order-invariant), read with the standard
    small-range-corrected estimator."""
    from dataops.sketch import (
        hll_estimate,
        hll_merge,
        hll_state,
    )

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    state = None
    for k in range(3):
        bs = hll_state(ev.filter(F.col("event_id") % 3 == k), "user_id", b=9)
        state = bs if state is None else hll_merge([state, bs])
    return hll_estimate(state, b=9)


def q_token_budget_select(spark, sf_dir):
    """Exact quality-ranked selection under a global token budget (half
    the corpus's tokens): range-partitioned distributed prefix-sum — the
    'take the best N tokens' data-selection step without a
    single-reducer global window. Deterministic total order
    (n_chars desc, doc_id asc)."""
    from dataops.packing import select_token_budget
    from dataops.textquality import whitespace_token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        whitespace_token_count("text").cast("long").alias("toks"),
    )
    total = docs.agg(F.sum("toks")).collect()[0][0]
    return select_token_budget(
        docs, "n_chars", "toks", budget=int(total) // 2
    ).select("doc_id", "n_chars", "toks", "cum_tokens")


def q_text_quality(spark, sf_dir):
    """C4/Gopher-style quality signals + composite score per document."""
    from dataops.textquality import quality_features

    return quality_features(_t(spark, sf_dir, "documents"))


def q_language_confusion(spark, sf_dir):
    """Labeled lang × detected lang contingency counts (n-gram heuristic)."""
    from dataops.textquality import detect_language

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", detect_language("text").alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_token_stats(spark, sf_dir):
    """Whitespace + BPE-ish token counts per document."""
    from dataops.textquality import (
        bpe_token_count,
        whitespace_token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count("text").cast("long").alias("ws_tokens"),
        bpe_token_count("text").alias("bpe_tokens"),
    )


def q_doc_fingerprints(spark, sf_dir):
    """Order-sensitive rolling fingerprint per document."""
    from dataops.textquality import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def _docs_spanned(spark, sf_dir):
    """documents with deterministic cross-document duplicate spans planted:
    every 7th doc shares a 10-word preamble, every 5th doc shares a 10-word
    closing sentence — the input a substring-level (span) dedup stage
    expects. Docs not in either class carry only their own text, so their
    spans stay unique."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("shared preamble alpha beta gamma delta epsilon zeta eta theta. "),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" closing boilerplate one two three four five six seven eight"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_dup_span_profile(spark, sf_dir):
    """Exact duplicate-span audit (Lee et al. 2022): per-doc count and
    union-coverage of 8-token spans repeated across >= 2 documents."""
    from dataops.dedup import duplicate_span_profile

    return duplicate_span_profile(_docs_spanned(spark, sf_dir), n=8, min_docs=2)


def q_dup_span_scrub(spark, sf_dir):
    """Destructive substring dedup: cut every cross-doc duplicated 8-token
    span, reassemble surviving tokens in order."""
    from dataops.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_docs_spanned(spark, sf_dir), n=8, min_docs=2)


def q_dup_span_scrub_keep_first(spark, sf_dir):
    """Keep-one-canonical-copy substring scrub: the smallest (doc, pos)
    occurrence of each duplicated 8-token span survives."""
    from dataops.dedup import remove_duplicate_spans

    return remove_duplicate_spans(
        _docs_spanned(spark, sf_dir), n=8, min_docs=2, keep_first=True
    )


def q_embedding_quantize(spark, sf_dir):
    """Int8 quantization fidelity per vector: cosine between each original
    embedding and its dequantized max-abs/127 twin plus the max component
    error — the acceptance gate before swapping an ANN index onto the 4×
    smaller quantized store."""
    from dataops.similarity import quantization_report

    # _spread: per-row array quantize/dequantize folds; no-op at scale.
    return quantization_report(_spread(spark, _t(spark, sf_dir, "embeddings")))


def q_quantized_recall(spark, sf_dir):
    """Recall@10 of cosine search over the dequantized int8 corpus vs the
    exact float corpus for query vec 0 — the acceptance gate before an ANN
    index switches onto the quantized store."""
    from dataops.similarity import quantized_recall

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    # _spread: quantize + two cosine passes are per-row array folds that
    # otherwise run on the single sf scan partition; no-op at scale.
    return quantized_recall(_spread(spark, emb), query, k=10)


def q_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-10 against vec 0 (ANN baseline)."""
    from dataops.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return cosine_topk(emb, query, k=10)


def _emb_augmented(spark, sf_dir):
    """embeddings ∪ deterministic near-duplicates of vec_id<20 (affine
    perturbation x*0.9 + 0.01, cosine ≈ 0.99) — so the near-pair oracles
    return nonzero rows and actually discriminate (round-1 review: a 0-vs-0
    match is a powerless test)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dups = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 0.9 + 0.01).alias("embedding"),
    )
    return emb.unionByName(dups)


_EMB_AUG_SQL = """
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           list_transform(embedding::DOUBLE[], x -> x * 0.9 + 0.01) AS v
    FROM embeddings WHERE vec_id < 20
"""


def q_embedding_near_pairs_exact(spark, sf_dir):
    """All-pairs cosine ≥ 0.9 — exact correctness baseline for the IVF path,
    evaluated as a B×B block-matrix grid (one Arrow matmul per grid cell)
    rather than a cartesian HOF join: every pair is still scored, but the
    plan is a single grid-keyed shuffle with no CartesianProduct node."""
    from dataops.similarity import exact_near_pairs_blocked

    emb = _emb_augmented(spark, sf_dir)
    return exact_near_pairs_blocked(emb, threshold=0.9, n_blocks=8)


def q_ivf_topk(spark, sf_dir):
    """Approximate top-10 via IVF: probe the 2 nearest of 8 clusters.
    The scale path — with the table partitioned by cluster, the probe
    filter prunes partitions at scan time."""
    from dataops.similarity import ivf_assign, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    assigned = ivf_assign(emb, n_clusters=8)  # r14 A/B: 0.92s → 0.77 unspread
    # centroids stay a DataFrame end-to-end: ranking happens via the same
    # cosine column expr (no Python loop; the window is over 8 rows)
    cents = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("cidx"),
            F.col("embedding").cast("array<double>").alias("cv"),
        )
    )
    return ivf_topk(assigned, cents, query, k=10, nprobe=2)


def q_embedding_near_pairs_ivf(spark, sf_dir):
    """Near-dup pairs (cosine ≥ 0.9) via the cluster-bucketed self-join —
    the approximation whose exact twin is embedding_near_pairs_exact."""
    from dataops.similarity import embedding_near_pairs

    emb = _spread(spark, _emb_augmented(spark, sf_dir))
    return embedding_near_pairs(emb, threshold=0.9, n_clusters=8)


def q_embedding_near_pairs_probe2(spark, sf_dir):
    """Multi-probe IVF near-pairs (nprobe=2): recovers pairs split across a
    cluster boundary — recall strictly above the single-probe query."""
    from dataops.similarity import embedding_near_pairs_multiprobe

    emb = _spread(spark, _emb_augmented(spark, sf_dir))
    # 16 IVF lists, not 8: more lists = smaller buckets (quadratic win on the
    # per-bucket self-join) AND more join-key parallelism — the standard
    # lists ~ sqrt(N) scaling; nprobe keeps the recall
    return embedding_near_pairs_multiprobe(
        emb, threshold=0.9, n_clusters=16, nprobe=2
    )


def q_kmeans_assign(spark, sf_dir):
    """IVF index refinement: 2 Lloyd iterations from the deterministic seed
    centroids, then the final map-only assignment (vec_id, cluster)."""
    from dataops.similarity import ivf_assign, kmeans_refine

    emb = _spread(
        spark,
        _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ),
    )
    cents = kmeans_refine(emb, n_clusters=8, iterations=2)
    return ivf_assign(emb, centroids=cents).select("vec_id", "cluster")


def _kmeans_sql(iters: int = 2, k: int = 8) -> str:
    """Unrolled Lloyd twin: per round, cosine-argmax assignment against the
    current centroids, then per-dimension means rounded to 9dp (the same
    cross-engine stability contract as kmeans_refine)."""
    sim = (
        "list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv)))"
    )
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""c0 AS (
            SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cidx,
                   v AS cv
            FROM (SELECT * FROM e ORDER BY vec_id LIMIT {k})
        )""",
    ]
    for i in range(iters + 1):
        ctes.append(f"""s{i} AS (
            SELECT e.vec_id, list({sim} ORDER BY c.cidx) AS s
            FROM e CROSS JOIN c{i} c GROUP BY e.vec_id
        )""")
        ctes.append(f"""a{i} AS (
            SELECT e.vec_id, e.v,
                   (list_position(s.s, list_max(s.s)) - 1)::INT AS cluster
            FROM e JOIN s{i} s USING (vec_id)
        )""")
        if i == iters:
            break
        ctes.append(f"""m{i} AS (
            SELECT cluster, u.j AS j,
                   round(sum(v[u.j]) / count(*), 9) AS m
            FROM a{i}, unnest(range(1, len(v) + 1)) AS u(j)
            GROUP BY cluster, u.j
        )""")
        ctes.append(f"""c{i + 1} AS (
            SELECT c.cidx,
                   CASE WHEN count(m.m) > 0 THEN list(m.m ORDER BY m.j)
                        ELSE any_value(c.cv) END AS cv
            FROM c{i} c LEFT JOIN m{i} m ON m.cluster = c.cidx
            GROUP BY c.cidx
        )""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, cluster FROM a{iters}"
    )


def q_embedding_dedup(spark, sf_dir):
    """Cluster-level embedding dedup: transitive cosine near-dups collapse
    to the min-id survivor; one row per vector."""
    from dataops.similarity import embedding_dedup

    emb = _spread(spark, _emb_augmented(spark, sf_dir))
    return embedding_dedup(emb, threshold=0.9, n_clusters=16, nprobe=2)


def q_knn_join(spark, sf_dir):
    """Batch ANN: top-5 corpus neighbors per query (25 queries re-keyed
    +500000), IVF-bucketed with nprobe=2 over the corpus's own index."""
    from dataops.similarity import knn_join

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    out = knn_join(queries, _spread(spark, emb), k=5, n_clusters=8, nprobe=2)
    return out.withColumnRenamed("rank", "knn_rank")


def q_media_frame_sample(spark, sf_dir):
    """Video frame-sampling plan (metadata-only fan-out, every 5th frame)."""
    from dataops.multimodal import frame_sample, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    out = frame_sample(media, every_n=5)
    return out.select("doc_id", F.col("frame_index").cast("long").alias("frame_index"))


def q_media_resize_plan(spark, sf_dir):
    """Aspect-preserving resize targets from metadata (max side 256)."""
    from dataops.multimodal import media_from_documents, resize_plan

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return resize_plan(media, max_side=256).drop("kind")


def q_media_features(spark, sf_dir):
    """Arrow-batched mapInPandas decode → deterministic stub features."""
    from dataops.multimodal import decode_features, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    # features[i] = k_i / 65536 with k_i a 16-bit int, so *65536 recovers the
    # exact integer — a float-format-proof string encoding on both sides.
    return decode_features(media).select(
        "doc_id",
        _arr_str(
            F.transform(
                F.col("features").cast("array<double>"),
                lambda x: F.round(x * 65536).cast("long"),
            )
        ).alias("features"),
    )


def q_audio_features(spark, sf_dir):
    """REAL audio decode end-to-end: deterministic WAV bytes per document
    (stdlib wave writer) decoded back inside an Arrow mapInPandas UDF into
    duration/RMS/ZCR/peak/band-energy features. No external codec libs —
    the one modality this container can decode for real. Value-oracled:
    the deterministic sine synthesis replays arithmetically in DuckDB
    (trunc-to-PCM16 + window-lag zero crossings), so the REAL RIFF
    decode is hash-checked end-to-end."""
    from dataops.multimodal import (
        audio_from_documents,
        decode_features,
    )

    # _spread BEFORE synthesis: WAV bytes are generated after the
    # repartition (no payload shuffled) and the decode gets all cores;
    # no-op at scale.
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    audio = audio_from_documents(docs.select("doc_id"))
    feats = decode_features(audio, backend="wav")
    # features is array<float>; cast to double BEFORE rounding so the 4dp
    # values are exact decimals, not float32 artifacts (0.070699997)
    f = F.col("features").cast("array<double>")
    return feats.select(
        "doc_id",
        "kind",
        F.round(f[0], 4).alias("duration_sec"),
        F.round(f[1], 4).alias("rms"),
        F.round(f[2], 4).alias("zcr"),
        F.round(f[3], 4).alias("peak"),
    )


def q_image_phash_pairs(spark, sf_dir):
    """Image-level near-duplicate pairs: 64-bit aHash perceptual
    fingerprints (real PPM decode, Arrow mapInPandas) → pigeonhole-banded
    hamming join. Images for doc_id % 50 == 0 are regenerated under a
    shifted id so every such doc has a perceptual twin — those pairs must
    surface at hamming ≤ 7. Value-oracled: the aHash replays as a 64-point
    integer grid + mean threshold in DuckDB, hamming via bit_count(xor)."""
    from dataops.multimodal import (
        image_from_documents,
        image_near_pairs,
    )

    # no _spread: the %10 slice is small enough that the exchange loses
    # (r14 A/B: 1.09s with vs 0.59 without)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = image_from_documents(docs)
    twins = image_from_documents(
        docs.filter(F.col("doc_id") % 50 == 0)
    ).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    return image_near_pairs(media.unionByName(twins), max_hamming=7)


def q_png_features(spark, sf_dir):
    """Compressed-image pipeline end-to-end with NO codec library:
    deterministic zlib-compressed RGB PNGs per document (every scanline
    cycles through all five PNG filter types), decoded by the stdlib-zlib
    inflate + per-row unfilter path and NN-resized to the resize_plan
    target in one Arrow mapInPandas pass. The pixel grid equals the PPM
    generator's, so the SAME integer-grid DuckDB replay hash-checks the
    full PNG encode→decode round trip."""
    from dataops.multimodal import (
        decode_resize_features,
        png_from_documents,
    )

    # _spread: the single-file parquet scans as 1 partition, which would
    # serialize the genuinely-per-pixel inflate+unfilter work on 1 core
    docs = _spread(
        spark,
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0),
    )
    imgs = png_from_documents(docs.select("doc_id", "n_chars"))
    out = decode_resize_features(imgs, max_side=64, backend="png")
    return out.select(
        "doc_id", "width", "height", "target_width", "target_height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("std_luma", 4).alias("std_luma"),
    )


def q_png_phash_pairs(spark, sf_dir):
    """Compressed-image near-duplicate pairs: aHash over REAL PNG decode
    (signature-dispatched raster path) → pigeonhole-banded hamming join;
    perceptual twins regenerated under shifted ids must surface at
    hamming ≤ 7. Same oracle as image_phash_pairs — the PNG round trip
    is lossless, so the fingerprints are identical."""
    from dataops.multimodal import (
        image_near_pairs,
        png_from_documents,
    )

    # no _spread: unlike png_features this touches only the %10 slice twice
    # and the exchange loses (r14 A/B: 0.66s with vs 0.41 without)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    media = png_from_documents(docs)
    twins = png_from_documents(
        docs.filter(F.col("doc_id") % 50 == 0)
    ).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    return image_near_pairs(media.unionByName(twins), max_hamming=7)


def q_image_features(spark, sf_dir):
    """REAL image pipeline end-to-end: deterministic P6 PPM rasters per
    document, decoded and nearest-neighbor resized to the resize_plan
    target inside one Arrow mapInPandas pass, emitting channel statistics.
    No codec library — pure numpy on real raster bytes. Value-oracled:
    the modular-gradient rasters + integer-index NN resize replay as an
    integer grid expansion in DuckDB, hash-checking the REAL decode."""
    from dataops.multimodal import (
        decode_resize_features,
        image_from_documents,
    )

    # every 10th document: raster generate+decode is genuinely per-pixel
    # work, and the bench measures the pipeline shape, not a pixel farm
    # _spread BEFORE raster synthesis: the per-pixel generate+decode passes
    # get all cores and no raster byte is shuffled; no-op at scale.
    docs = _spread(
        spark, _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    )
    imgs = image_from_documents(docs.select("doc_id", "n_chars"))
    out = decode_resize_features(imgs, max_side=64)
    return out.select(
        "doc_id", "width", "height", "target_width", "target_height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
        F.round("std_luma", 4).alias("std_luma"),
    )


def q_event_sessions(spark, sf_dir):
    """Gap-based sessions (30 min) via the built-in session_window — the
    batch twin of streaming.events.session_rollup."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def q_asof_join(spark, sf_dir):
    """As-of join (kdb ``aj`` / pandas ``merge_asof`` / DuckDB ``ASOF JOIN``):
    latest purchase at or before each click, per user. Union-sort plan — one
    shuffle on the key, no inequality nested-loop (operators/temporal.py)."""
    from dataops.temporal import asof_join, epoch_us

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    # one row per (user, ts) so equal-timestamp ties can't differ between
    # engines (DuckDB ASOF leaves the duplicate-ts pick unspecified)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("p_event_id"),
            F.max("value").alias("p_value"),
        )
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id")
    return out.select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        "event_id",
        F.col("p_event_id_r").alias("p_event_id"),
        F.round("p_value_r", 6).alias("p_value"),
    )


def q_asof_join_forward(spark, sf_dir):
    """Forward as-of: earliest purchase at or after each click, per user —
    same one-shuffle union-sort plan scanned in descending time order."""
    from dataops.temporal import asof_join, epoch_us

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("p_event_id"),
            F.max("value").alias("p_value"),
        )
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id", direction="forward")
    return out.select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        "event_id",
        F.col("p_event_id_r").alias("p_event_id"),
        F.round("p_value_r", 6).alias("p_value"),
    )


def q_asof_join_tolerance(spark, sf_dir):
    """Backward as-of join with a 30-minute tolerance: matches older than the
    gap are nulled out, not dropped (pandas ``merge_asof(tolerance=...)``
    semantics). Same one-shuffle union-sort plan; the tolerance is a pure
    post-window column expression."""
    from dataops.temporal import asof_join, epoch_us

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("p_event_id"),
            F.max("value").alias("p_value"),
        )
    )
    out = asof_join(
        clicks, purchases, on="ts", by="user_id", tolerance_sec=1800
    )
    return out.select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        "event_id",
        F.col("p_event_id_r").alias("p_event_id"),
        F.round("p_value_r", 6).alias("p_value"),
    )


def q_asof_join_nearest(spark, sf_dir):
    """Nearest-direction as-of join: whichever purchase is closer in
    absolute time (ties prefer backward) — one shuffle, two window frames
    over the same sort."""
    from dataops.temporal import asof_join, epoch_us

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("p_event_id"),
            F.max("value").alias("p_value"),
        )
    )
    out = asof_join(clicks, purchases, on="ts", by="user_id", direction="nearest")
    return out.select(
        "user_id",
        epoch_us("ts").alias("t_us"),
        "event_id",
        F.col("p_event_id_r").alias("p_event_id"),
        F.round("p_value_r", 6).alias("p_value"),
    )


def q_interval_join(spark, sf_dir):
    """Point-in-interval range join, bucketed: signup → 1 h activity window,
    count the user's events inside it. Explode-to-buckets + equi-join — no
    BroadcastNestedLoop (operators/temporal.py)."""
    from dataops.temporal import interval_join

    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
        F.col("event_id").alias("iv_id"),
    )
    pts = ev.select("user_id", "ts")
    return (
        interval_join(iv, pts, by="user_id", bucket_sec=3600)
        .groupBy("iv_id")
        .agg(F.count(F.lit(1)).alias("n_in_window"))
    )


def q_interval_overlap(spark, sf_dir):
    """Interval×interval overlap join with owner-bucket dedup: signup
    2h-windows vs error 1h-windows per user, pair counts per user."""
    from dataops.temporal import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
        F.col("event_id").alias("lid"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end"),
        F.col("event_id").alias("rid"),
    )
    out = interval_overlap_join(signups, errors, by="user_id", bucket_sec=3600)
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_overlaps"))


def q_hypertable_rollup(spark, sf_dir):
    """Hour/day/week rollup in ONE pass via GROUPING SETS (TimescaleDB
    continuous-aggregate shape) — one scan + one shuffle for all grains."""
    from dataops.temporal import hypertable_rollup

    ev = _t(spark, sf_dir, "events")
    return hypertable_rollup(ev).select(
        "grain",
        "event_type",
        F.unix_timestamp("bucket").alias("bucket_epoch"),
        "n_events",
        "total_value",
    )


def q_timeline_features(spark, sf_dir):
    """Per-user ordered-timeline feature block: lag/lead, running total,
    3-row rolling mean, and a 1-hour event-time RANGE trailing window."""
    from dataops.temporal import timeline_features

    return timeline_features(_t(spark, sf_dir, "events"), lookback_sec=3600)


_TIMELINE_SQL = """
    SELECT event_id, user_id,
           lag(value) OVER w AS prev_value,
           round((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0, 6)
               AS gap_sec,
           lead(event_type) OVER w AS next_type,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_sum,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
               AS moving_avg3,
           count(*) OVER wr AS n_trailing,
           round(sum(value) OVER wr, 2) AS sum_trailing
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
           wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_cms_counts(spark, sf_dir):
    """Count-min sketch point estimates (1024×4 grid) for the first 20 part
    keys of lineitem — the mergeable frequency synopsis, hash-checked."""
    from dataops.sketch import cms_estimate, cms_state

    li = _t(spark, sf_dir, "lineitem")
    st = cms_state(li, "l_partkey", width=1024, depth=4)
    keys = li.filter(F.col("l_partkey") < 20).select("l_partkey").distinct()
    return cms_estimate(st, keys, "l_partkey", width=1024, depth=4)


def q_quantile_sketch(spark, sf_dir):
    """Deterministic bottom-k sampled quantiles of l_extendedprice: the
    synopsis is the 1024 hash-smallest rows (TakeOrdered, no full shuffle),
    the estimate is percentile_cont over the sample — SQL-replayable."""
    from dataops.sketch import (
        quantile_estimate,
        quantile_sample_state,
    )

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rid", F.concat_ws(":", "l_orderkey", "l_linenumber")
    )
    st = quantile_sample_state(li, "l_extendedprice", "rid", k=1024)
    return quantile_estimate(st, probs=(0.25, 0.5, 0.75, 0.9, 0.99))


def q_quantile_sketch_grouped(spark, sf_dir):
    """Per-returnflag sampled quantiles: 256-row synopsis per group via
    WindowGroupLimit, percentile_cont per group."""
    from dataops.sketch import (
        quantile_estimate_grouped,
        quantile_sample_state_grouped,
    )

    # _spread: per-row rid hashing + the window partial otherwise run on
    # the single sf scan partition; no-op at scale.
    li = _spread(spark, _t(spark, sf_dir, "lineitem")).withColumn(
        "rid", F.concat_ws(":", "l_orderkey", "l_linenumber")
    )
    st = quantile_sample_state_grouped(
        li, "l_extendedprice", "l_returnflag", "rid", k=256
    )
    return quantile_estimate_grouped(st, "l_returnflag", probs=(0.5, 0.9, 0.99))


def q_kmv_grouped(spark, sf_dir):
    """Per-group distinct-count sketch: KMV synopses per event_type (k=64
    smallest hashes via WindowGroupLimit — per-group top-k, no full sort),
    estimates exact below k."""
    from dataops.sketch import (
        kmv_estimate_grouped,
        kmv_state_grouped,
    )

    # no _spread: events is tiny and the exchange dominates (r14 A/B:
    # 0.47s with vs 0.24 without)
    ev = _t(spark, sf_dir, "events")
    st = kmv_state_grouped(ev, "user_id", "event_type", k=64)
    return kmv_estimate_grouped(st, "event_type", k=64)


def q_bloom_decontaminate(spark, sf_dir):
    """Exact-membership decontamination via a portable Bloom filter: the
    benchmark set's texts become a ≤m-bit literal bitmask; the corpus probe
    is a pure map (getbit inside codegen — no join, no shuffle). Per-source
    flagged/total counts."""
    from dataops.sketch import bloom_probe, bloom_state

    # no _spread (r14 A/B: 1.16s with vs 1.04 without). Backend stays md5 —
    # the flag column IS the result here and the DuckDB oracle replays the
    # md5 bit positions exactly.
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    state = bloom_state(bench, "text", m=1 << 16, k=4)
    probed = bloom_probe(
        state, docs.select("doc_id", "source", "text"), "text",
        m=1 << 16, k=4,
    )
    return probed.groupBy("source").agg(
        F.sum(F.when(F.col("maybe_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch (Bar-Yossef et al.): deterministic synopsis,
    so even the *estimate* is oracle-checkable (unlike Spark's built-in
    approx_count_distinct, whose HLL++ registers aren't reproducible in
    SQL — the portable HLL below fixes that with an md5-based register)."""
    from dataops.sketch import kmv_distinct

    # no _spread (r14 A/B: 0.92s with vs 0.66 without)
    return kmv_distinct(_t(spark, sf_dir, "lineitem"), "l_partkey", k=256)


def q_hll_distinct(spark, sf_dir):
    """Portable HyperLogLog distinct count (b=9, m=512 registers): md5-based
    registers make state AND estimate replayable in DuckDB bit-for-bit
    (modulo a 4dp rounding on the final float)."""
    from dataops.sketch import hll_distinct

    # _spread: per-row md5 register hashing; no-op at scale.
    return hll_distinct(
        _spread(spark, _t(spark, sf_dir, "lineitem")), "l_partkey", b=9
    )


def q_hash_split_counts(spark, sf_dir):
    """Deterministic train/val/test split by hashed key — pure projection,
    stable under appends; audit query returns per-split counts."""
    from dataops.sketch import split_counts

    return split_counts(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )


def q_heavy_hitters(spark, sf_dir):
    """Exact top-k frequent combinations (map-side partial agg +
    TakeOrderedAndProject)."""
    from dataops.sketch import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, ["event_type", "user_id"], k=20)


def q_pack_chunks(spark, sf_dir):
    """Concat-then-chunk sequence packing (GPT pretraining layout): window
    cumsum partitioned by source — no global sort. Per-pack summary."""
    from dataops.packing import pack_concat_chunks

    docs = _t(spark, sf_dir, "documents")
    packed = pack_concat_chunks(docs, "n_chars", budget=2048, by="source")
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("pack_chars"),
    )


def q_chunk_spans(spark, sf_dir):
    """Token-offset chunking of long docs (context-window splitting) —
    map-only explode, no shuffle."""
    from dataops.packing import chunk_spans

    docs = _t(spark, sf_dir, "documents")
    return chunk_spans(docs, "n_chars", budget=150).select(
        "doc_id", "chunk_idx", "chunk_start", "chunk_tokens"
    )


def q_pack_first_fit(spark, sf_dir):
    """First-fit-decreasing packing via applyInPandas. The per-group fold
    is sequential, but it IS SQL-replayable: the DuckDB twin carries the
    open packs' remaining-capacity list through a recursive CTE (one row
    per item rank per group), so the greedy assignment hash-checks
    end-to-end — no longer a rows-only query."""
    from dataops.packing import pack_first_fit

    docs = _t(spark, sf_dir, "documents")
    packed = pack_first_fit(docs, "n_chars", budget=2048, by="source")
    return packed.groupBy("source").agg(
        (F.max("pack_id") + 1).alias("n_packs"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_extractor_suite(spark, sf_dir):
    """F4/F5/F7/F10: CURIE-list split + prefix strip + whitespace normalize +
    identifiers.org URL, over a synthesized pipe-separated column."""
    from bio2bel_spark.functions.extractors import (
        identifiers_url,
        normalize_whitespace,
        split_curies,
        strip_prefix,
    )

    part = _t(spark, sf_dir, "part")
    raw = F.concat(
        F.lit("  HGNC:"),
        F.col("p_partkey").cast("string"),
        F.lit(" | go:GO:"),
        (F.col("p_partkey") + 1).cast("string"),
        F.lit(" |  malformed token | uniprot:P"),
        F.col("p_partkey").cast("string"),
    )
    exploded = (
        part.select(
            "p_partkey",
            normalize_whitespace(F.concat(F.lit("  a  b "), F.col("p_name"), F.lit("  "))).alias("norm_name"),
            F.explode(split_curies(raw)).alias("c"),
        )
    )
    return exploded.select(
        "p_partkey",
        "norm_name",
        F.col("c.prefix").alias("prefix"),
        F.col("c.identifier").alias("identifier"),
        strip_prefix(F.col("c.identifier"), "GO:").alias("stripped"),
        identifiers_url(F.col("c.prefix"), F.col("c.identifier")).alias("url"),
    )


def q_filter_suite(spark, sf_dir):
    """P6 not-in / P8 not-contains / P9 prefix / P10 equality in one plan
    (the intact/go row-filter stack, reference sources/intact.py:246-321)."""
    part = _t(spark, sf_dir, "part")
    return part.filter(
        ~F.col("p_brand").isin("Brand#13", "Brand#19")
        & ~F.col("p_name").contains("bolt")
        & F.col("p_name").startswith("small")
        & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey", "p_name", "p_brand", "p_type")


def q_semi_join_enrich(spark, sf_dir):
    """P12: left-semi enrichment (tfregulons.enrich_targets shape) — parts
    that appear in at least one high-value order's lineitems."""
    part = _t(spark, sf_dir, "part")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = orders.filter(F.col("o_totalprice") > 40000).select("o_orderkey")
    hit = (
        li.join(big, li.l_orderkey == big.o_orderkey, "left_semi")
        .select("l_partkey")
    )
    return part.join(
        hit, part.p_partkey == hit.l_partkey, "left_semi"
    ).select("p_partkey", "p_name")


def q_value_quantiles(spark, sf_dir):
    """Exact per-type quantiles of events.value (`percentile`, linear
    interpolation — same convention as DuckDB quantile_cont). At 100 TB swap
    in `approx_percentile` (Greenwald-Khanna sketch, mergeable map-side):
    identical query shape, bounded state, no exact-sort of the group."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_comembership(spark, sf_dir):
    """Bipartite projection: parts co-ordered in >= 2 orders, per-group
    quadratic bounded by the max_group guard."""
    from bio2bel_spark.operators.graph import comembership_projection

    li = _t(spark, sf_dir, "lineitem")
    return comembership_projection(
        li, "l_orderkey", "l_partkey", min_shared=2, max_group=1000
    )


def q_session_paths(spark, sf_dir):
    """Frequent session paths: 30-min-gap sessionization + ordered
    event-type sequences (first 8 steps), counted with a deterministic
    min-count gate instead of a tie-ambiguous top-k."""
    from dataops.cohort import session_paths

    return session_paths(_t(spark, sf_dir, "events"), gap_sec=1800)


def q_impute_median(spark, sf_dir):
    """Group-median NULL imputation (planted nulls on every 11th event):
    broadcast medians + map-only coalesce."""
    from dataops.stats import impute_group_median

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = impute_group_median(ev, "value", "event_type", out_col="value_filled")
    return out.select(
        "event_id", "event_type", F.round("value_filled", 6).alias("value_filled")
    )


def q_feature_correlations(spark, sf_dir):
    """Pairwise Pearson correlations of the lineitem numeric features per
    returnflag — one combinable aggregation for every pair."""
    from dataops.stats import feature_correlations

    return feature_correlations(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
        by="l_returnflag",
    )


def q_zipf_fit(spark, sf_dir):
    """Zipf power-law fit over the top-300 corpus words: the cheap
    'is this even language' gate (slope near -1 for natural text)."""
    from dataops.textquality import zipf_fit

    # no _spread (r14 A/B: 0.35s with vs 0.28 without)
    return zipf_fit(_t(spark, sf_dir, "documents"), top_n=300)


def q_psi_drift(spark, sf_dir):
    """PSI drift report: price distribution before vs after 1996 in
    baseline-decile bins — the corpus/feature drift monitor."""
    from dataops.stats import psi_report

    # no _spread: bin assignment is cheap arithmetic (r14 A/B: 2.46s with
    # vs 1.45 without)
    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1996-01-01").cast("timestamp")
    base = li.where(F.col("l_shipdate") < cut).select(
        F.col("l_extendedprice").alias("v")
    )
    cur = li.where(F.col("l_shipdate") >= cut).select(
        F.col("l_extendedprice").alias("v")
    )
    return psi_report(base, cur, "v", n_bins=10)


def q_bpe_encode(spark, sf_dir):
    """Tokenize the corpus with the learned BPE vocabulary: train 6 merges
    (bounded driver scalar per round, the k-means-seed convention), then
    encode every word map-only with the chained doubled-separator rewrite
    and count subwords per doc — the train-then-apply tokenizer round trip
    a 100 TB token-budget pipeline runs before packing."""
    from dataops.bpe import bpe_apply, bpe_learn_merges
    from dataops.dedup import normalize_text

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    merges = bpe_learn_merges(docs, n_merges=6)
    words = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text("text"), " ")).alias("__w"),
    ).where(F.col("__w") != "")
    per = (
        words.select("doc_id", bpe_apply("__w", merges).alias("__sym"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.size(F.split("__sym", " "))).cast("long")
            .alias("n_subwords"),
        )
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_subwords", F.lit(0)).cast("long").alias("n_subwords"),
    )


def q_bpe_merges(spark, sf_dir):
    """Corpus BPE tokenizer training: the first 6 learned merges (rank,
    pair, weighted count) — each round is a pair count over the word-
    frequency state + a map-only doubled-separator rewrite."""
    from dataops.bpe import bpe_learn_merges

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    merges = bpe_learn_merges(docs, n_merges=6)
    return spark.createDataFrame(
        [(i + 1, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "rank int, left_sym string, right_sym string, n long",
    )


def q_lsh_recall(spark, sf_dir):
    """Measured LSH candidate recall vs the exact Jaccard truth at 0.5 —
    the number that keeps 'LSH is a recall knob' honest. Runs on the even
    half of the corpus (its production mode is a monitoring sample; the
    exact-truth side is the expensive part)."""
    from dataops.dedup import lsh_recall_report

    # _spread: the exact-truth shingle side wants all cores (r14 A/B:
    # 3.67s spread vs 4.84 without)
    return lsh_recall_report(
        _spread(
            spark, _docs_augmented(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
        )
    )


def q_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding of part brand against retail price
    (smoothed, leakage-free) — high-cardinality categorical features."""
    from dataops.stats import target_encode_loo

    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    out = target_encode_loo(part, "p_brand", "p_retailprice", prior_weight=10.0)
    return out.select("p_partkey", "p_brand", "target_enc")


def q_cdc_apply(spark, sf_dir):
    """CDC MERGE: latest-wins change feed (stale replays lose, deletes
    remove, inserts add) applied with one window + one outer join."""
    from dataops.scd import cdc_apply

    cust = _t(spark, sf_dir, "customer")
    base = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
    upd = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("CDC-U").alias("c_mktsegment"),
        F.round(F.col("c_acctbal") + 1, 2).alias("c_acctbal"),
        F.lit(2).alias("seq"),
        F.lit("U").alias("op"),
    )
    stale = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("STALE").alias("c_mktsegment"),
        F.col("c_acctbal"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
    )
    dele = cust.filter(F.col("c_custkey") % 25 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    ins = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 700000).alias("c_custkey"),
        F.lit("CDC-I").alias("c_mktsegment"),
        F.lit(1.5).alias("c_acctbal"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(stale).unionByName(dele).unionByName(ins)
    out = cdc_apply(base, changes, ["c_custkey"])
    return out.select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )


def q_srp_near_pairs(spark, sf_dir):
    """Cosine LSH via signed random projection: 32-bit fingerprints from
    seeded Gaussian hyperplanes, banded hamming pairs (exact recall by
    pigeonhole)."""
    from dataops.similarity import srp_near_pairs

    # no _spread (r14 A/B: 1.56s with vs 1.00 without)
    emb = _emb_augmented(spark, sf_dir)
    return srp_near_pairs(emb, bits=32, dim=64, seed=13, max_hamming=3)


def q_table_diff(spark, sf_dir):
    """Snapshot regression audit: added/removed/changed/unchanged keys and
    per-column change counts between two customer versions."""
    from dataops.validation import table_diff

    cust = _t(spark, sf_dir, "customer")
    old = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
    new = (
        cust.filter(F.col("c_custkey") % 50 != 1)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, F.lit("PROMO"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            F.when(
                F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 100, 2)
            )
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 500000).alias("c_custkey"),
                "c_mktsegment",
                "c_acctbal",
            )
        )
    )
    return table_diff(
        old, new, ["c_custkey"], ["c_mktsegment", "c_acctbal"]
    )


def q_bm25_search(spark, sf_dir):
    """BM25 lexical relevance of every doc against a 3-term query — the
    keyword-search complement of the ANN tier; postings-only shuffle."""
    from dataops.textquality import bm25_scores

    # no _spread (r14 A/B: 1.75s with vs 0.75 without — postings-only
    # shuffle; the tokenize projection is cheap)
    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, ["fast", "join", "spark"])


def q_zscore_outliers(spark, sf_dir):
    """Per-type z-score anomaly screen on events.value (|z| > 2.5):
    broadcast group stats + map-only flag."""
    from dataops.stats import zscore_outliers

    return zscore_outliers(
        _t(spark, sf_dir, "events"), "value", "event_type", "event_id",
        threshold=2.5,
    )


def q_video_features(spark, sf_dir):
    """REAL video decode: Y4M stream-parse + every-2nd-frame luma stats
    (Arrow mapInPandas). Value-oracled: the deterministic gradient frames
    replay as an integer grid expansion in DuckDB — the REAL container
    parse is hash-checked end-to-end (plus the numpy round-trip tests)."""
    from dataops.multimodal import (
        video_frame_features,
        video_from_documents,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return video_frame_features(video_from_documents(docs), every_n=2)


def q_compression_ratio(spark, sf_dir):
    """zlib compressibility per document (Arrow-batched mapInPandas; no SQL
    twin — zlib is not expressible in DuckDB, exactness unit-tested)."""
    from dataops.cleaning import compression_ratio

    # no _spread (r14 A/B: 0.79s with vs 0.45 without — Arrow batching
    # amortizes the zlib cost below the exchange price locally)
    return compression_ratio(_t(spark, sf_dir, "documents"))


def q_cooccurrence_pmi(spark, sf_dir):
    """Collocation mining: PMI of word pairs within a 3-token window —
    linear pair generation (bounded probe explode + equi-join back)."""
    from dataops.textquality import cooccurrence_pmi

    # no _spread (r14 A/B: 1.13s with vs 0.84 without)
    docs = _t(spark, sf_dir, "documents")
    return cooccurrence_pmi(docs, window=3, min_count=5)


def q_scd2_apply(spark, sf_dir):
    """Type-2 dimension maintenance: segment changes close the open version
    and open a new one; brand-new keys insert; history is O(open+updates)
    per batch. Timestamps reduced to epoch seconds for the compare."""
    import datetime as _dt

    from dataops.scd import scd2_apply

    cust = _t(spark, sf_dir, "customer")
    ts0, ts1 = _dt.datetime(2024, 1, 1), _dt.datetime(2024, 2, 1)
    current = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(ts0).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            F.lit("PROMO-NEW").alias("c_mktsegment"),
            F.lit(ts1).cast("timestamp").alias("effective_ts"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 900000).alias("c_custkey"),
                F.lit("FRESH").alias("c_mktsegment"),
                F.lit(ts1).cast("timestamp").alias("effective_ts"),
            )
        )
    )
    out = scd2_apply(
        current, updates, ["c_custkey"], ["c_mktsegment"]
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.unix_timestamp("valid_from").alias("valid_from"),
        F.unix_timestamp("valid_to").alias("valid_to"),
    )


def q_funnel_counts(spark, sf_dir):
    """Ordered conversion funnel view -> click -> purchase: chained
    combinable aggregations, no self-join over the fact table."""
    from dataops.cohort import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"), steps=("view", "click", "purchase")
    )


def q_retention_matrix(spark, sf_dir):
    """Weekly retention cohorts: first-seen week x week offset, distinct
    active users per cell — the classic two-pass cohort shape."""
    from dataops.cohort import retention_matrix

    return retention_matrix(_t(spark, sf_dir, "events"))


def q_label_consistency(spark, sf_dir):
    """Label-noise screen: per labeled vector, the share of its 4 nearest
    ANN neighbors (self excluded) agreeing with its label."""
    from dataops.similarity import label_consistency

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    return label_consistency(emb, "label", k=4, n_clusters=8, nprobe=2)


def q_value_histogram(spark, sf_dir):
    """Fixed-width per-type histogram of events.value (20 bins over
    [0, 100) + under/overflow): one projection + one combinable count."""
    from dataops.stats import value_histogram

    return value_histogram(
        _t(spark, sf_dir, "events"), "value", by="event_type",
        lo=0.0, hi=100.0, n_bins=20,
    )


def q_decayed_sum(spark, sf_dir):
    """Exponentially time-decayed per-user activity (1-day half-life,
    fixed as-of): the feature-store recency signal, one combinable pass."""
    import datetime as _dt

    from dataops.stats import decayed_sum

    return decayed_sum(
        _t(spark, sf_dir, "events"), "value", "ts", "user_id",
        half_life_sec=86400.0, as_of=_dt.datetime(2024, 2, 1),
    )


def q_hard_negative_samples(spark, sf_dir):
    """Hard contrastive negatives: 2 deterministic picks from the anchor's
    own IVF cluster — semantically close, no RNG, map-only assignment."""
    from dataops.similarity import hard_negative_samples

    # no _spread (r14 A/B: 1.29s with vs 1.16 without)
    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_samples(emb, n_clusters=8, k=2, seed=11)


def q_negative_samples(spark, sf_dir):
    """Deterministic contrastive negative sampling: 2 pseudo-random
    negatives per document via stride pairing over a seeded-hash
    enumeration — no RNG, replayable on any engine."""
    from bio2bel_spark.operators.ordering import negative_samples

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return negative_samples(docs, "doc_id", k=2, seed=7)


def q_winsorized_stats(spark, sf_dir):
    """Outlier-robust per-type value stats: clamp to the group's [5%, 95%]
    quantiles, then aggregate — two grouped passes, broadcast cut points."""
    from dataops.stats import winsorized_stats

    return winsorized_stats(
        _t(spark, sf_dir, "events"), "value", "event_type"
    )


def q_event_pivot(spark, sf_dir):
    """Wide per-user summary sheet: sum(value) pivoted over the five event
    types — explicit category list, single pass, deterministic schema."""
    from dataops.stats import pivot_report

    return pivot_report(
        _t(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        "value",
        categories=("click", "error", "purchase", "signup", "view"),
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source quota sample (5 docs/source by hash order) —
    reproducible corpus curation, no RNG."""
    from dataops.sketch import sample_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_per_group(docs, by="source", key="doc_id", n=5).select(
        "source", "doc_id"
    )


def q_weighted_mixture(spark, sf_dir):
    """Deterministic data-mixture downsampling: per-source keep rates via
    hashed key threshold (no shuffle, append-stable)."""
    from dataops.sketch import weighted_mixture

    docs = _t(spark, sf_dir, "documents")
    kept = weighted_mixture(
        docs,
        by="source",
        key="doc_id",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


def q_dict_lookup(spark, sf_dir):
    """F6/J5: the Series.map(dict.get) primitive as an explicit broadcast
    left join — nation names onto customers, counted per name."""
    from bio2bel_spark.functions.curie import broadcast_lookup

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    mapped = broadcast_lookup(
        customer.withColumn("n_key", F.col("c_nationkey").cast("long")),
        "n_key",
        nation.withColumn("n_key", F.col("n_nationkey").cast("long")),
        "n_key",
        "n_name",
        "nation_name",
    )
    return mapped.groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def q_grounding_retry(spark, sf_dir):
    """F8 + A8: grounding with comma-swap retries and a rejects side-output.
    Raw text is synthesized three ways per part — exact name (grounds on
    attempt 0), '<rest>, <first-word>' (grounds only after the comma-swap
    retry), and an unmatchable string (reject) — so the oracle checks the
    whole retry cascade row by row."""
    from bio2bel_spark.sources.hmdd import ground_column

    part = _t(spark, sf_dir, "part")
    grounding = part.groupBy(F.col("p_name").alias("text")).agg(
        F.min("p_partkey").cast("string").alias("identifier")
    ).select(
        "text",
        F.lit("part").alias("prefix"),
        "identifier",
        F.col("text").alias("name"),
    )
    sp = F.instr(F.col("p_name"), " ")
    swapped = F.when(
        sp > 0,
        F.concat(
            F.substring(F.col("p_name"), sp + 1, F.lit(1 << 20)),
            F.lit(", "),
            F.substring(F.col("p_name"), F.lit(1), sp - 1),
        ),
    ).otherwise(F.col("p_name"))
    raw = part.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 3 == 0, F.col("p_name"))
        .when(F.col("p_partkey") % 3 == 1, swapped)
        .otherwise(F.concat(F.lit("zzz "), F.col("p_name")))
        .alias("mir"),
    )
    out = ground_column(raw, "mir", grounding, "source")
    return out.select(
        "p_partkey",
        F.col("source_id"),
        F.when(F.col("source_id").isNull(), F.lit("ungrounded"))
        .otherwise(F.lit("grounded"))
        .alias("status"),
    )


def q_point_lookup(spark, sf_dir):
    """O3: one-or-none point lookup by primary key."""
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") == 42).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )


def q_kg_degree_distribution(spark, sf_dir):
    """Degree histogram of the knowledge graph — two map-side-combinable
    aggregations over the edge table, no node materialization."""
    return _kg(spark, sf_dir).degree_distribution()


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: three-table join + grouped revenue + top-10
    (TakeOrderedAndProject; the dimension filter is pushed to the scans)."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.unix_timestamp("o_orderdate").alias("odate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_fuzzy_join(spark, sf_dir):
    """Cross-table similarity join (record linkage): documents vs a
    perturbed-copy table, LSH band-bucket equi-join + true-Jaccard verify.
    The scalable form of the reference's string-at-a-time grounding."""
    from dataops.dedup import fuzzy_join

    # no _spread on either side (r14 A/B: 1.41s with vs 0.81 without)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    left = docs
    right = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),
    )
    return fuzzy_join(left, right, threshold=0.5)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: per-source survivor counts after dropping
    corpus docs that fuzzy-match the benchmark table (fuzzy_join +
    left-anti)."""
    from dataops.dedup import decontaminate

    # no _spread on either side (r14 A/B: 0.87s with vs 0.76 without)
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "source", "text")
    bench = (
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 50000).alias("doc_id"),
            F.upper(F.col("text")).alias("text"),
        )
    )
    clean, _hits = decontaminate(corpus, bench, threshold=0.5)
    return clean.groupBy("source").agg(F.count(F.lit(1)).alias("n_clean"))


def q_triangle_count(spark, sf_dir):
    """Triangles in the part co-occurrence graph (parts sharing an order —
    per-order fan-out is bounded by order size, so edge generation is a
    bounded explode, not a cartesian). Degree-ordered orientation caps the
    wedge intermediate at O(m^1.5) regardless of hub skew."""
    from bio2bel_spark.operators.graph import triangle_count

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 4 == 0)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk"))
    ).select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
    return triangle_count(edges, "src", "dst")


def q_sliding_windows(spark, sf_dir):
    """Overlapping context windows (200 tokens every 100): the stride-based
    training-window construction — map-only explode, no shuffle."""
    from dataops.packing import sliding_window_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return sliding_window_spans(docs, "n_chars", window=200, stride=100)


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smooth idf, sklearn formulation):
    explode → two map-side-combinable aggs → idf join → per-doc window."""
    from dataops.textquality import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, "text", "doc_id", top_n=3)


def q_deterministic_shuffle(spark, sf_dir):
    """Reproducible training-order shuffle: seeded-hash enumeration via the
    range-partitioned sort (no RNG, no single-reducer window)."""
    from bio2bel_spark.operators.ordering import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", seed=42)


def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + single aggregate — the whole plan is
    one scan with every predicate pushed down."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_quality_topk(spark, sf_dir):
    """Per-source top-3 docs by composite quality score (curation
    selection) — quality scoring + one window shuffle."""
    from dataops.textquality import top_quality_per_group

    return top_quality_per_group(_t(spark, sf_dir, "documents"), k=3)


def q_winnowing(spark, sf_dir):
    """Winnowing (MOSS) fingerprint selection per document, rolled up to a
    full-fidelity per-doc summary (count + sum + min/max of the selected
    fingerprints — any divergence in ANY selected hash moves the sum)."""
    from dataops.dedup import winnowing_fingerprints

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    fps = winnowing_fingerprints(docs, k=4, window=4)
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.sum("fp").alias("fp_sum"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
    )


def q_weighted_sample(spark, sf_dir):
    """Efraimidis–Spirakis weighted sampling without replacement: 20 docs
    per source, inclusion probability ∝ n_chars, from portable hashes (no
    RNG — engine-reproducible row set)."""
    from dataops.sketch import weighted_sample_per_group

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_per_group(
        docs, by="source", key="doc_id", weight_col="n_chars", n=20
    )
    return out.select("source", "doc_id", "n_chars")


def q_lexical_diversity(spark, sf_dir):
    """Type/token ratio + word-entropy quality profile per document."""
    from dataops.textquality import lexical_diversity

    return lexical_diversity(_spread(spark, _t(spark, sf_dir, "documents")))


def q_vocab_divergence(spark, sf_dir):
    """Vocabulary drift per source: KL and Jensen–Shannon divergence of
    each slice's unigram distribution against the whole corpus."""
    from dataops.textquality import vocab_divergence

    # no _spread (r14 A/B: 0.75s with vs 0.55 without)
    return vocab_divergence(_t(spark, sf_dir, "documents"), by="source")


def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary fraction per document against the corpus top-500
    word vocabulary (broadcast membership join, deterministic ties)."""
    from dataops.textquality import oov_rate

    return oov_rate(_spread(spark, _t(spark, sf_dir, "documents")), vocab_size=500)


def q_zorder(spark, sf_dir):
    """Z-order (Morton) layout of lineitem on (l_partkey, l_suppkey):
    per-curve-bucket occupancy + dimension spans — the full-fidelity probe
    of the interleave arithmetic (any bit off moves a row's bucket)."""
    from dataops.layout import zorder_layout

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # partition=False: the probe aggregates the codes — the range exchange
    # (plus its sampling recompute of the child) would be pure overhead
    z = zorder_layout(li, ["l_partkey", "l_suppkey"], bits=8, partition=False)
    return (
        z.groupBy(F.shiftrightunsigned(F.col("__z"), 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__z").alias("z_min"),
            F.max("__z").alias("z_max"),
            F.min("l_partkey").alias("part_min"),
            F.max("l_partkey").alias("part_max"),
            F.min("l_suppkey").alias("supp_min"),
            F.max("l_suppkey").alias("supp_max"),
        )
    )


def q_loop_detection(spark, sf_dir):
    """Trailing-loop (degenerate-generation) detection over documents with
    a period-2 loop planted on every 7th doc — the detector must fire on
    exactly the planted set with the right period/coverage."""
    from dataops.textquality import trailing_loop_features

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" spam offer" * 5)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = trailing_loop_features(planted, max_period=8, min_repeats=3)
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("loop_period").cast("long").alias("loop_period"),
        F.col("loop_len").cast("long").alias("loop_len"),
        "loop_frac",
    )


def q_ngram_contamination(spark, sf_dir):
    """Exact 8-gram benchmark-overlap scan: every 31st document doubles as
    the 'benchmark' corpus, so those training docs must read ~fully
    contaminated while the rest only collide on common phrases."""
    from dataops.dedup import ngram_contamination

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % 31 == 0)
    return ngram_contamination(docs, bench, n=8)


def q_bloom_join(spark, sf_dir):
    """Bloom-prefiltered join: lineitem joined to a small part subset via a
    literal-bitmask prefilter on the large side — the result must be
    IDENTICAL to the plain join (no false negatives), which is exactly
    what the SQL oracle checks."""
    from dataops.sketch import bloom_filtered_join

    # _spread: the md5/xxhash probe is the per-row cost and the sf parquet
    # scans as 1 partition; at scale _spread is a no-op (no added shuffle
    # of the large side). xxhash64 backend: codegen-native double hashing —
    # the joined RESULT is hash-family-independent (no false negatives),
    # only the false-positive set changes, and those drop out of the join.
    li = _spread(
        spark,
        _t(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_extendedprice", "l_quantity"
        ),
    )
    small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 4)
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    joined = bloom_filtered_join(
        li, small, on="l_partkey", m=1 << 16, backend="xxhash64"
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.sum("l_quantity").cast("double").alias("total_qty"),
    )


def q_split_leakage(spark, sf_dir):
    """Train/test contamination audit over the augmented corpus (planted
    near-dup twins): near-dup pairs × deterministic hash_split — the
    off-diagonal (test,train) row is the leakage the audit exists to
    surface."""
    from dataops.dedup import split_leakage_report

    docs = _docs_augmented(spark, sf_dir)
    return split_leakage_report(
        docs, {"train": 0.8, "test": 0.2}, n_hashes=16, bands=8, threshold=0.5
    )


def q_incremental_fuzzy(spark, sf_dir):
    """Multi-increment replay of the persistent-LSH-index admission gate
    (``incremental_fuzzy_dedup``): the augmented corpus arrives as three
    batches (``doc_id % 3`` — the +10000 perturbed twins land one batch
    AFTER their base, so the cross-batch gate does real work), each batch
    is within-batch fuzzy-deduped then admitted against the band index
    accumulated from earlier increments. Returns every admitted doc with
    its batch — the final survivor set the DuckDB twin replays exactly
    (same md5 MinHash signatures, same 8-band bucket slices, same
    estimated-Jaccard >= 0.5 admission rule). Fresh throwaway warehouse
    per call, so replays are deterministic."""
    import tempfile

    from bio2bel_spark.catalog import Catalog
    from dataops.dedup import incremental_fuzzy_dedup

    cat = Catalog(spark, tempfile.mkdtemp(prefix="incfuzzy_"))
    docs = _docs_augmented(spark, sf_dir)
    parts = []
    for k in range(3):
        admitted = incremental_fuzzy_dedup(
            cat,
            docs.filter(F.col("doc_id") % 3 == k),
            index_table="fz_idx",
            n_hashes=16,
            bands=8,
            threshold=0.5,
        )
        parts.append(
            admitted.select("doc_id", F.lit(k).cast("int").alias("batch"))
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def q_topk_maintenance(spark, sf_dir):
    """Batch-replay twin of the streaming top-k maintainer: three
    micro-batches (``event_id % 3``) folded through ``topk_merge_batch``
    — the EXACT state transition ``run_topk_maintenance`` applies per
    micro-batch (space-saving truncation at m=16, admission credit for
    re-admitted keys, running eviction floor). Returns the final
    ``(key, cnt, dropped_max)`` state; the DuckDB twin replays the same
    three truncations with window-ranked CTEs. NULL user_ids are
    filtered on both sides (engine null-ordering differs)."""
    from dataops.streaming.events import topk_merge_batch

    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    state, dropped = None, 0
    for k in range(3):
        kept, dropped = topk_merge_batch(
            state,
            ev.filter(F.col("event_id") % 3 == k),
            "user_id",
            m=16,
            dropped_prev=dropped,
        )
        state = spark.createDataFrame(kept, "key string, cnt long")
    return state.select(
        "key", "cnt", F.lit(int(dropped)).cast("long").alias("dropped_max")
    )


#: pinned PSI baseline for the maintainer twin: quartile-ish bounds over
#: events.value and a uniform baseline share per bin (the pinned-literal
#: convention of stats.psi_report)
_PSI_M_BOUNDS = [15.0, 35.0, 70.0]


def q_psi_maintenance(spark, sf_dir):
    """Batch-replay twin of the streaming PSI maintainer: three
    micro-batches binned by ``psi_bin_counts`` (the maintainer's exact
    binning step) and SUMmed into one counter state, then the drift
    report vs the pinned uniform baseline — the engine-side mirror of
    ``psi_from_state`` (same eps floor and contribution formula)."""
    from pyspark.sql import Window

    from dataops.streaming.events import psi_bin_counts

    ev = _t(spark, sf_dir, "events")
    state = None
    for k in range(3):
        bc = psi_bin_counts(
            ev.filter(F.col("event_id") % 3 == k), "value", _PSI_M_BOUNDS
        )
        state = bc if state is None else (
            state.unionByName(bc).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
        )
    baseline = spark.createDataFrame(
        [(i + 1, 0.25) for i in range(len(_PSI_M_BOUNDS) + 1)],
        "bin int, p_baseline double",
    )
    joined = baseline.join(state, "bin", "left")
    tot = F.sum(F.coalesce("cnt", F.lit(0))).over(Window.partitionBy(F.lit(1)))
    q = F.greatest(F.coalesce("cnt", F.lit(0)) / tot, F.lit(1e-6))
    p = F.greatest(F.col("p_baseline"), F.lit(1e-6))
    return joined.select(
        "bin",
        "p_baseline",
        F.round(q, 6).alias("p_current"),
        F.round((q - p) * F.log(q / p), 6).alias("psi_contrib"),
    )


def q_mean_pool(spark, sf_dir):
    """Multi-vector mean-pooling: embeddings grouped 16-ways pooled to one
    vector per group (token→document reduction). Means scaled to 1e6
    integers before the string join so both engines format identically."""
    from dataops.similarity import mean_pool_vectors

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 16).alias("g"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    pooled = mean_pool_vectors(emb, "g")
    return pooled.select(
        "g",
        "n_vectors",
        _arr_str(
            F.transform(
                F.col("embedding"), lambda v: F.round(v * 1e6).cast("long")
            )
        ).alias("pooled_micros"),
    )


def q_robust_scale(spark, sf_dir):
    """Median/IQR scaling of account balance within market segment — the
    outlier-immune normalization (quartile cut table broadcast back)."""
    from dataops.stats import robust_scale

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return robust_scale(cust, "c_acctbal", by="c_mktsegment")


def q_ab_test(spark, sf_dir):
    """Deterministic A/B assignment (hash_split on user_id) + one-pass
    Welch t readout of event value between the arms."""
    from dataops.sketch import split_column
    from dataops.stats import ab_test_report

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    assigned = ev.withColumn(
        "arm", split_column(F.col("user_id").cast("string"), {"a": 0.5, "b": 0.5})
    )
    return ab_test_report(assigned, "arm", "value")


def q_soft_cluster(spark, sf_dir):
    """Soft (softmax) cluster membership over the embeddings table:
    argmax cluster + probability mass + mixture entropy per vector —
    the boundary-content detector a hard IVF assignment hides."""
    from dataops.similarity import soft_cluster_assign

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return soft_cluster_assign(emb, n_clusters=8, temperature=10.0)


def q_join_size(spark, sf_dir):
    """Pre-join audit: exact output cardinality + hottest key of the
    lineitem self-join on supplier key — the 'salt this key?' number,
    computed from the count tables, never the join itself."""
    from dataops.validation import join_size_estimate

    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("k"))
    return join_size_estimate(li, li, on="k")


def q_edit_distance(spark, sf_dir):
    """Levenshtein near-pairs over customer names (length-bucket + prefix
    blocking, exact JVM verify) — names differing in <= 2 trailing digits
    must pair up; the blocked result equals brute force on this data."""
    from dataops.dedup import edit_distance_pairs

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    return edit_distance_pairs(
        cust.select("c_custkey", "c_name"), "c_name", "c_custkey", max_dist=2
    )


def q_equiheight_histogram(spark, sf_dir):
    """Quantile-binned (equi-height) histogram of extended price within
    return flag — every bin carries ~10% of the rows regardless of skew."""
    from dataops.stats import equiheight_histogram

    # _spread: the per-row bin-assignment fold (and the percentile partial
    # aggregation) otherwise run on the single sf scan partition; no-op at
    # scale.
    li = _spread(
        spark,
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice"),
    )
    return equiheight_histogram(li, "l_extendedprice", by="l_returnflag")


def q_hilbert_layout(spark, sf_dir):
    """Hilbert-curve layout of lineitem on (l_partkey, l_suppkey):
    per-curve-bucket occupancy + dimension spans — full-fidelity probe of
    the reflect/rotate fold (any level wrong moves rows across buckets)."""
    from dataops.layout import hilbert_layout

    # no _spread: the fold is cheap bit arithmetic (r14 A/B: 2.89s with vs
    # 2.49 without)
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # partition=False: see q_zorder (3.0 s -> 2.26 s at sf0.1)
    h = hilbert_layout(li, ["l_partkey", "l_suppkey"], bits=8, partition=False)
    return (
        h.groupBy(F.shiftrightunsigned(F.col("__h"), 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__h").alias("h_min"),
            F.max("__h").alias("h_max"),
            F.min("l_partkey").alias("part_min"),
            F.max("l_partkey").alias("part_max"),
            F.min("l_suppkey").alias("supp_min"),
            F.max("l_suppkey").alias("supp_max"),
        )
    )


def q_hilbert_layout_3d(spark, sf_dir):
    """3-D Hilbert layout (Skilling transpose) of lineitem on
    (l_partkey, l_suppkey, l_quantity) at bits=5: per-curve-bucket
    occupancy + per-dimension spans — full-fidelity probe of the d-dim
    fold (any level/dimension wrong moves rows across buckets). The
    DuckDB twin unrolls the same transpose level-by-level in chained
    CTEs."""
    from dataops.layout import hilbert_layout

    # no _spread: same A/B direction as q_hilbert_layout (3.54s with vs
    # 3.10 without)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    # partition=False: see q_zorder
    h = hilbert_layout(
        li, ["l_partkey", "l_suppkey", "l_quantity"], bits=5, partition=False
    )
    return (
        h.groupBy(F.shiftrightunsigned(F.col("__h"), 7).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("__h").alias("h_min"),
            F.max("__h").alias("h_max"),
            F.min("l_partkey").alias("part_min"),
            F.max("l_partkey").alias("part_max"),
            F.min("l_suppkey").alias("supp_min"),
            F.max("l_suppkey").alias("supp_max"),
            F.round(F.min("l_quantity"), 2).alias("qty_min"),
            F.round(F.max("l_quantity"), 2).alias("qty_max"),
        )
    )


def q_quantile_transform(spark, sf_dir):
    """Rank-normalization of account balance within each market segment —
    the outlier-immune feature transform (percent_rank window)."""
    from dataops.stats import quantile_transform

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return quantile_transform(cust, "c_acctbal", by="c_mktsegment")


# The driver reads correctness results for the FIRST 50 entries of QUERIES.
# Standing rotation convention: newest / most regression-prone queries take
# window slots; displaced stable queries stay hash-checked by the local
# oracle sweep (tests/test_entry_oracle.py, scripts/oracle_check.py).
QUERIES: dict[str, Callable] = {
    # STALEST-FIRST rotation (scripts/rotate_window.py): the first
    # 50 entries are the driver's correctness window — queries never
    # driver-checked lead, then ascending last-green round. The
    # ledger-freshness test asserts this invariant; regenerate with
    #   python scripts/rotate_window.py
    "kg_triples": q_kg_triples,  # last green r10
    "kg_descendants": q_kg_descendants,  # last green r10
    "events_hourly": q_events_hourly,  # last green r10
    "obo_scan": q_obo_scan,  # last green r10
    "cx_pivot": q_cx_pivot,  # last green r10
    "curie_normalize": q_curie_normalize,  # last green r10
    "latest_event_per_user": q_latest_event_per_user,  # last green r10
    "cosine_topk": q_cosine_topk,  # last green r10
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,  # last green r10
    "line_dedup": q_line_dedup,  # last green r10
    "simhash_docs": q_simhash_docs,  # last green r10
    "upsert_anti": q_upsert_anti,  # last green r10
    "content_hash_tree": q_content_hash_tree,  # last green r10
    "json_props": q_json_props,  # last green r10
    "kg_summary": q_kg_summary,  # last green r10
    "kg_pathway_edges": q_kg_pathway_edges,  # last green r10
    "kg_union_dedup": q_kg_union_dedup,  # last green r10
    "pathway_size_distribution": q_pathway_size_distribution,  # last green r10
    "gene_pathway_counts": q_gene_pathway_counts,  # last green r10
    "pathway_to_symbols": q_pathway_to_symbols,  # last green r10
    "substring_search": q_substring_search,  # last green r10
    "in_set_lookup": q_in_set_lookup,  # last green r10
    "revenue_by_region": q_revenue_by_region,  # last green r10
    "distinct_segments": q_distinct_segments,  # last green r10
    "nation_segments": q_nation_segments,  # last green r10
    "sparql_expr_suite": q_sparql_expr_suite,  # last green r11
    "sparql_from_dataset": q_sparql_from_dataset,  # last green r11
    "sparql_graph_scale": q_sparql_graph_scale,  # last green r11
    "sparql_update_graph": q_sparql_update_graph,  # last green r11
    "sparql_scale_builtins": q_sparql_scale_builtins,  # last green r11
    "sparql_scale_bgp": q_sparql_scale_bgp,  # last green r11
    "sparql_scale_path": q_sparql_scale_path,  # last green r11
    "sparql_path_range": q_sparql_path_range,  # last green r11
    "sparql_subquery": q_sparql_subquery,  # last green r11
    "sparql_scale_fns": q_sparql_scale_fns,  # last green r11
    "sparql_describe": q_sparql_describe,  # last green r11
    "content_hash": q_content_hash,  # last green r11
    "word_counts": q_word_counts,  # last green r11
    "first_prefixed_token": q_first_prefixed_token,  # last green r11
    "dedup_drop_exact": q_dedup_drop_exact,  # last green r11
    "dedup_lsh_fast": q_dedup_lsh_fast,  # last green r11
    "embedding_near_pairs_exact": q_embedding_near_pairs_exact,  # last green r11
    "repetition_metrics": q_repetition_metrics,  # last green r11
    "top_word_fraction": q_top_word_fraction,  # last green r11
    "pii_scrub": q_pii_scrub,  # last green r11
    "text_quality": q_text_quality,  # last green r11
    "language_confusion": q_language_confusion,  # last green r11
    "token_stats": q_token_stats,  # last green r11
    "doc_fingerprints": q_doc_fingerprints,  # last green r11
    "asof_join": q_asof_join,  # last green r11
    # ---- end of the driver's 50-query correctness window ----
    "asof_join_forward": q_asof_join_forward,  # last green r11
    "interval_join": q_interval_join,  # last green r11
    "funnel_counts": q_funnel_counts,  # last green r11
    "retention_matrix": q_retention_matrix,  # last green r11
    "event_pivot": q_event_pivot,  # last green r11
    "quantile_sketch": q_quantile_sketch,  # last green r11
    "winsorized_stats": q_winsorized_stats,  # last green r11
    "zscore_outliers": q_zscore_outliers,  # last green r11
    "impute_median": q_impute_median,  # last green r11
    "feature_correlations": q_feature_correlations,  # last green r11
    "training_pipeline": q_training_pipeline,  # last green r11
    "pagerank": q_pagerank,  # last green r11
    "pricing_summary": q_pricing_summary,  # last green r11
    "kmeans_assign": q_kmeans_assign,  # last green r11
    "embedding_dedup": q_embedding_dedup,  # last green r11
    "deterministic_shuffle": q_deterministic_shuffle,  # last green r11
    "value_histogram": q_value_histogram,  # last green r11
    "comembership": q_comembership,  # last green r11
    "session_paths": q_session_paths,  # last green r11
    "decayed_sum": q_decayed_sum,  # last green r11
    "negative_samples": q_negative_samples,  # last green r11
    "hard_negative_samples": q_hard_negative_samples,  # last green r11
    "quantile_sketch_grouped": q_quantile_sketch_grouped,  # last green r11
    "validate_lineitem": q_validate_lineitem,  # last green r11
    "dup_span_profile": q_dup_span_profile,  # last green r11
    "sparql_typed_literals": q_sparql_typed_literals,  # last green r12
    "sparql_update_quads": q_sparql_update_quads,  # last green r12
    "sparql_graph_path": q_sparql_graph_path,  # last green r12
    "sparql_ntriples_file": q_sparql_ntriples_file,  # last green r12
    "sparql_arith": q_sparql_arith,  # last green r12
    "dup_span_scrub": q_dup_span_scrub,  # last green r12
    "dup_span_scrub_keep_first": q_dup_span_scrub_keep_first,  # last green r12
    "incremental_fuzzy": q_incremental_fuzzy,  # last green r12
    "curation_pipeline_v2": q_curation_pipeline_v2,  # last green r12
    "mean_pool": q_mean_pool,  # last green r12
    "join_strategy": q_join_strategy,  # last green r12
    "topk_maintenance": q_topk_maintenance,  # last green r12
    "psi_maintenance": q_psi_maintenance,  # last green r12
    "cms_maintenance": q_cms_maintenance,  # last green r12
    "hll_maintenance": q_hll_maintenance,  # last green r12
    "temperature_mixture": q_temperature_mixture,  # last green r12
    "token_budget_select": q_token_budget_select,  # last green r12
    "cluster_split": q_cluster_split,  # last green r12
    "winnowing_fingerprints": q_winnowing,  # last green r12
    "weighted_sample": q_weighted_sample,  # last green r12
    "lexical_diversity": q_lexical_diversity,  # last green r12
    "vocab_divergence": q_vocab_divergence,  # last green r12
    "oov_rate": q_oov_rate,  # last green r12
    "quantile_transform": q_quantile_transform,  # last green r12
    "zorder_layout": q_zorder,  # last green r12
    "hilbert_layout": q_hilbert_layout,  # last green r12
    "hilbert_layout_3d": q_hilbert_layout_3d,  # last green r12
    "loop_detection": q_loop_detection,  # last green r12
    "ngram_contamination": q_ngram_contamination,  # last green r12
    "ab_test": q_ab_test,  # last green r12
    "bloom_join": q_bloom_join,  # last green r12
    "robust_scale": q_robust_scale,  # last green r12
    "split_leakage": q_split_leakage,  # last green r12
    "equiheight_histogram": q_equiheight_histogram,  # last green r12
    "edit_distance_pairs": q_edit_distance,  # last green r12
    "join_size_estimate": q_join_size,  # last green r12
    "soft_cluster": q_soft_cluster,  # last green r12
    "asof_join_tolerance": q_asof_join_tolerance,  # last green r12
    "asof_join_nearest": q_asof_join_nearest,  # last green r12
    "interval_overlap": q_interval_overlap,  # last green r12
    "hypertable_rollup": q_hypertable_rollup,  # last green r12
    "timeline_features": q_timeline_features,  # last green r12
    "label_consistency": q_label_consistency,  # last green r12
    "scd2_apply": q_scd2_apply,  # last green r12
    "cooccurrence_pmi": q_cooccurrence_pmi,  # last green r12
    "bm25_search": q_bm25_search,  # last green r12
    "srp_near_pairs": q_srp_near_pairs,  # last green r12
    "table_diff": q_table_diff,  # last green r12
    "cdc_apply": q_cdc_apply,  # last green r12
    "lsh_recall": q_lsh_recall,  # last green r12
    "sparql_tz_histogram": q_sparql_tz_histogram,  # last green r13
    "sparql_distinct_agg": q_sparql_distinct_agg,  # last green r13
    "sparql_bnode_iri": q_sparql_bnode_iri,  # last green r13
    "sparql_construct_quads": q_sparql_construct_quads,  # last green r13
    "sparql_nquads_file": q_sparql_nquads_file,  # last green r13
    "sparql_graph_topk": q_sparql_graph_topk,  # last green r13
    "sparql_typed_order": q_sparql_typed_order,  # last green r13
    "sparql_datetime": q_sparql_datetime,  # last green r13
    "bpe_merges": q_bpe_merges,  # last green r13
    "psi_drift": q_psi_drift,  # last green r13
    "zipf_fit": q_zipf_fit,  # last green r13
    "target_encoding": q_target_encoding,  # last green r13
    "k_core": q_k_core,  # last green r13
    "k_hop_profile": q_k_hop_profile,  # last green r13
    "pathway_enrichment": q_pathway_enrichment,  # last green r13
    "forecast_revenue": q_forecast_revenue,  # last green r13
    "indra_statements": q_indra_statements,  # last green r13
    "media_features": q_media_features,  # last green r13
    "event_sessions": q_event_sessions,  # last green r13
    "audio_features": q_audio_features,  # last green r13
    "image_features": q_image_features,  # last green r13
    "video_features": q_video_features,  # last green r13
    "image_phash_pairs": q_image_phash_pairs,  # last green r13
    "triangle_count": q_triangle_count,  # last green r13
    "sparql_values": q_sparql_values,  # last green r13
    "sparql_path": q_sparql_path,  # last green r13
    "sparql_path_plus": q_sparql_path_plus,  # last green r13
    "selection_pipeline_packed": q_selection_pipeline_packed,  # last green r13
    "perplexity_maintenance": q_perplexity_maintenance,  # last green r13
    "dsir_maintenance": q_dsir_maintenance,  # last green r13
    "sparql_topk": q_sparql_topk,  # last green r13
    "quality_gate": q_quality_gate,  # last green r13
    "selection_pipeline": q_selection_pipeline,  # last green r13
    "compression_ratio": q_compression_ratio,  # last green r13
    "sparql_optional_filter": q_sparql_optional_filter,  # last green r13
    "sparql_union": q_sparql_union,  # last green r13
    "dsir_weights": q_dsir_weights,  # last green r13
    "dsir_select": q_dsir_select,  # last green r13
    "perplexity_buckets": q_perplexity_buckets,  # last green r13
    "bpe_encode": q_bpe_encode,  # last green r13
    "embedding_quantize": q_embedding_quantize,  # last green r13
    "quantized_recall": q_quantized_recall,  # last green r13
    "knn_join": q_knn_join,  # last green r13
    "fuzzy_join": q_fuzzy_join,  # last green r13
    "pack_first_fit": q_pack_first_fit,  # last green r13
    "heavy_hitters": q_heavy_hitters,  # last green r13
    "hll_grouped": q_hll_grouped,  # last green r13
    "lm_perplexity": q_lm_perplexity,  # last green r13
    "tfidf_top_terms": q_tfidf_top_terms,  # last green r13
    "dedup_quality_survivor": q_dedup_quality_survivor,  # last green r13
    "sparql_agg_roundtrip": q_sparql_agg_roundtrip,  # last green r15
    "decontaminate": q_decontaminate,  # last green r15
    "corpus_report": q_corpus_report,  # last green r15
    "embedding_near_pairs_probe2": q_embedding_near_pairs_probe2,  # last green r15
    "cms_counts": q_cms_counts,  # last green r15
    "bloom_decontaminate": q_bloom_decontaminate,  # last green r15
    "kmv_distinct": q_kmv_distinct,  # last green r15
    "kmv_grouped": q_kmv_grouped,  # last green r15
    "hll_distinct": q_hll_distinct,  # last green r15
    "pack_chunks": q_pack_chunks,  # last green r15
    "chunk_spans": q_chunk_spans,  # last green r15
    "sliding_windows": q_sliding_windows,  # last green r15
    "hash_split_counts": q_hash_split_counts,  # last green r15
    "extractor_suite": q_extractor_suite,  # last green r15
    "filter_suite": q_filter_suite,  # last green r15
    "semi_join_enrich": q_semi_join_enrich,  # last green r15
    "value_quantiles": q_value_quantiles,  # last green r15
    "stratified_sample": q_stratified_sample,  # last green r15
    "weighted_mixture": q_weighted_mixture,  # last green r15
    "dict_lookup": q_dict_lookup,  # last green r15
    "grounding_retry": q_grounding_retry,  # last green r15
    "point_lookup": q_point_lookup,  # last green r15
    "kg_degree_distribution": q_kg_degree_distribution,  # last green r15
    "shipping_priority": q_shipping_priority,  # last green r15
    "quality_topk": q_quality_topk,  # last green r15
    "sparql_negated_path": q_sparql_negated_path,  # last green r15
    "sparql_construct_graph": q_sparql_construct_graph,  # last green r15
    "sparql_modifiers": q_sparql_modifiers,  # last green r15
    "sparql_ask_probe": q_sparql_ask_probe,  # last green r15
    "sparql_bind": q_sparql_bind,  # last green r15
    "sparql_group_concat": q_sparql_group_concat,  # last green r15
    "sparql_path_star": q_sparql_path_star,  # last green r15
    "sparql_group_count": q_sparql_group_count,  # last green r15
    "sparql_group_having": q_sparql_group_having,  # last green r15
    "selection_pipeline_tokens": q_selection_pipeline_tokens,  # last green r15
    "png_features": q_png_features,  # last green r15
    "png_phash_pairs": q_png_phash_pairs,  # last green r15
    "sparql_not_exists": q_sparql_not_exists,  # last green r15
    "ivf_topk": q_ivf_topk,  # last green r15
    "embedding_near_pairs_ivf": q_embedding_near_pairs_ivf,  # last green r15
    "media_frame_sample": q_media_frame_sample,  # last green r15
    "media_resize_plan": q_media_resize_plan,  # last green r15
    "rdf_reactions": q_rdf_reactions,  # last green r15
    "kg_components": q_kg_components,  # last green r15
    "dedup_fuzzy_clusters": q_dedup_fuzzy_clusters,  # last green r15
    "dedup_lsh_verified": q_dedup_lsh_verified,  # last green r15
    "dedup_exact": q_dedup_exact,  # last green r15
    "minhash_signatures": q_minhash_signatures,  # last green r15
    "relation_dispatch": q_relation_dispatch,  # last green r15
    "kg_edge_list": q_kg_edge_list,  # last green r15
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)




#: Gopher quality-gate replay CTEs (min_tokens=40 driver thresholds) —
#: behind quality_gate and the gated selection_pipeline
_GATE_CTES = """base AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(trim(text)),
                                                         '\\s+'),
                                   x -> x <> '') AS toks,
                       length(text) AS n_chars
                FROM documents
            ), feat AS (
                SELECT doc_id, len(toks)::BIGINT AS n_tokens,
                       round(CASE WHEN len(toks) > 0
                             THEN list_sum(list_transform(toks,
                                  x -> length(x)))::DOUBLE / len(toks)
                             ELSE 0.0 END, 6) AS mwl,
                       round(CASE WHEN n_chars > 0
                             THEN len(regexp_extract_all(text,
                                  '[^\\w\\s]'))::DOUBLE / n_chars
                             ELSE 0.0 END, 6) AS pr,
                       round(CASE WHEN len(toks) > 0
                             THEN len(list_filter(toks, x -> x IN
                                  ('the','and','of','to','in','is','that',
                                   'for','with','was')))::DOUBLE / len(toks)
                             ELSE 0.0 END, 6) AS sr
                FROM base
            ), arrs AS (
                SELECT doc_id,
                       list_filter(list_transform(
                           string_split(text, chr(10)), x -> trim(x)),
                           x -> x <> '') AS lines,
                       string_split(trim(regexp_replace(text, '\\s+', ' ',
                                                        'g')), ' ') AS words
                FROM documents
            ), rep AS (
                SELECT doc_id,
                       CASE WHEN len(lines) <= 0 THEN 0.0
                            ELSE round(1.0 - len(list_distinct(lines))::DOUBLE
                                       / len(lines), 6) END AS dlf,
                       CASE WHEN len(grams2) <= 0 THEN 0.0
                            ELSE round(1.0 - len(list_distinct(grams2))::DOUBLE
                                       / len(grams2), 6) END AS d2f
                FROM (SELECT doc_id, lines, words,
                             CASE WHEN len(words) >= 2
                                  THEN list_transform(range(1, len(words)),
                                       i -> words[i] || ' ' || words[i + 1])
                                  ELSE [] END AS grams2
                      FROM arrs)
            ), tw AS (
                SELECT doc_id,
                       round(max(n)::DOUBLE / sum(n), 6) AS twf
                FROM (SELECT doc_id, word, count(*)::BIGINT AS n
                      FROM (SELECT doc_id, unnest(string_split(trim(
                                regexp_replace(text, '\\s+', ' ', 'g')), ' '))
                                AS word
                            FROM documents)
                      WHERE word <> '' GROUP BY doc_id, word)
                GROUP BY doc_id
            ), gate AS (
                SELECT f.doc_id, list_filter([
                    CASE WHEN f.n_tokens < 40 OR f.n_tokens > 100000
                         THEN 'n_tokens' END,
                    CASE WHEN f.mwl < 3.0::DOUBLE OR f.mwl > 10.0::DOUBLE
                         THEN 'mean_word_len' END,
                    CASE WHEN f.pr > 0.2::DOUBLE THEN 'punct_ratio' END,
                    CASE WHEN f.sr < 0.01::DOUBLE THEN 'stopword_ratio' END,
                    CASE WHEN r.dlf > 0.3::DOUBLE THEN 'dup_line_frac' END,
                    CASE WHEN r.d2f > 0.2::DOUBLE THEN 'dup_2gram_frac' END,
                    CASE WHEN coalesce(tw.twf, 0.0) > 0.2::DOUBLE
                         THEN 'top_word_frac' END
                ], x -> x IS NOT NULL) AS reasons
                FROM feat f JOIN rep r USING (doc_id)
                LEFT JOIN tw USING (doc_id)
            )"""


def _dsir_select_cte(src: str = "documents") -> str:
    """The Gumbel top-40 selection over :func:`_dsir_ctes` output as a
    CTE (``sel``), parameterized by the same corpus source (seed 0,
    portable hash) — shared by the selection tail and the packed
    pipeline's downstream window."""
    return r""",
            keyed AS (
                SELECT d.doc_id,
                       round(per.lw, 6) AS log_weight,
                       round(round(per.lw, 6) + -ln(-ln(
                           (('0x' || substr(md5(d.doc_id::VARCHAR || ':0'),
                                            1, 15))::BIGINT + 0.5)
                           / 1152921504606846976.0)), 6) AS gumbel_key
                FROM __SRC__ d JOIN per USING (doc_id)
                WHERE per.lw IS NOT NULL
            ),
            sel AS (
                SELECT doc_id, log_weight, gumbel_key FROM keyed
                ORDER BY gumbel_key DESC, doc_id LIMIT 40
            )""".replace("__SRC__", src)


def _dsir_select_tail(src: str = "documents") -> str:
    """The Gumbel top-40 selection tail over :func:`_dsir_ctes` output."""
    return (
        _dsir_select_cte(src)
        + "\n            SELECT doc_id, log_weight, gumbel_key FROM sel"
    )


def _dsir_ctes(src: str = "documents") -> str:
    """Shared DSIR replay CTEs parameterized by the corpus source: hashed
    unigram+bigram buckets (portable md5 % 512), add-1 bag-of-words models
    on the en slice (p) vs all ``src`` docs (q), per-doc sum of bucket
    log-ratios — behind dsir_weights, dsir_select, dsir_maintenance, and
    the gated selection_pipeline."""
    return _DSIR_CTES_TEMPLATE.replace("__SRC__", src)


_DSIR_CTES_TEMPLATE = r"""toks AS (
                SELECT doc_id, lang,
                       list_filter(
                           regexp_split_to_array(lower(trim(text)), '\s+'),
                           t -> t <> '') AS w
                FROM __SRC__
            ), grams AS (
                SELECT doc_id, lang, unnest(
                    list_concat(w,
                        CASE WHEN len(w) >= 2
                             THEN list_transform(range(1, len(w)),
                                                 i -> w[i] || ' ' || w[i+1])
                             ELSE []::VARCHAR[] END)) AS g
                FROM toks
            ), bg AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(g), 1, 15))::BIGINT % 512 AS b
                FROM grams
            ), rc AS (
                SELECT b, count(*)::DOUBLE AS c_r FROM bg GROUP BY 1
            ), tc AS (
                SELECT b, count(*)::DOUBLE AS c_t FROM bg
                WHERE lang = 'en' GROUP BY 1
            ), tot AS (
                SELECT (SELECT count(*)::DOUBLE FROM bg) + 1.0 * 512 AS d_r,
                       (SELECT count(*)::DOUBLE FROM bg WHERE lang = 'en')
                           + 1.0 * 512 AS d_t
            ), bits AS (
                SELECT bg.doc_id,
                       ln((coalesce(tc.c_t, 0) + 1.0) / tot.d_t)
                     - ln((coalesce(rc.c_r, 0) + 1.0) / tot.d_r) AS lr
                FROM bg
                LEFT JOIN tc USING (b)
                LEFT JOIN rc USING (b)
                CROSS JOIN tot
            ), per AS (
                SELECT doc_id, count(*)::BIGINT AS n_grams, sum(lr) AS lw
                FROM bits GROUP BY 1
            )"""

#: shared bigram-LM replay CTEs (add-1 smoothing, self-trained) — the body
#: behind both the lm_perplexity and perplexity_buckets oracles
_LM_PPL_CTES = r"""toks AS (
                SELECT doc_id,
                       list_filter(
                           regexp_split_to_array(lower(trim(text)), '\s+'),
                           t -> t <> '') AS w
                FROM documents
            ), uni_tok AS (
                SELECT unnest(w) AS w1 FROM toks
            ), uni AS (
                SELECT w1, count(*)::BIGINT AS c_uni FROM uni_tok GROUP BY 1
            ), v AS (
                SELECT count(DISTINCT w1)::DOUBLE AS vs FROM uni_tok
            ), doc_bi AS (
                SELECT doc_id, b.g AS g, b.w1 AS w1
                FROM toks, unnest(
                    CASE WHEN len(w) >= 2
                         THEN list_transform(range(1, len(w)),
                              i -> struct_pack(g := w[i] || ' ' || w[i+1],
                                               w1 := w[i]))
                         ELSE []::STRUCT(g VARCHAR, w1 VARCHAR)[] END) AS t(b)
            ), bic AS (
                SELECT g, count(*)::BIGINT AS c_bi FROM doc_bi GROUP BY 1
            ), bits AS (
                SELECT d.doc_id,
                       -(ln((coalesce(b.c_bi, 0) + 1.0)
                            / (coalesce(u.c_uni, 0) + 1.0 * v.vs)) / ln(2.0))
                           AS bits
                FROM doc_bi d
                LEFT JOIN bic b USING (g)
                LEFT JOIN uni u USING (w1)
                CROSS JOIN v
            ), per AS (
                SELECT doc_id, count(*)::BIGINT AS n_bigrams, avg(bits) AS a
                FROM bits GROUP BY 1
            )"""


#: CCNet head/middle/tail replay (shared by perplexity_buckets and its
#: maintainer twin — counter summing is batch-order-invariant, so the
#: maintained-state result equals this one-pass fit): the bigram-LM CTEs,
#: then the integer milli-perplexity histogram cumsum and the discrete
#: ceil(q*n) order-stat thresholds per language
_PPL_BUCKETS_ORACLE = "WITH " + _LM_PPL_CTES + r""",
            ppl AS (
                SELECT doc.doc_id, doc.lang,
                       round(pow(2.0, per.a), 3) AS perplexity,
                       CAST(round(pow(2.0, per.a) * 1000, 0) AS BIGINT) AS m
                FROM documents doc LEFT JOIN per ON doc.doc_id = per.doc_id
            ), hist AS (
                SELECT lang, m, count(*)::BIGINT AS c FROM ppl
                WHERE m IS NOT NULL GROUP BY 1, 2
            ), cum AS (
                SELECT lang, m,
                       sum(c) OVER (PARTITION BY lang ORDER BY m
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(c) OVER (PARTITION BY lang) AS n
                FROM hist
            ), thr AS (
                SELECT lang,
                       min(CASE WHEN cum >= ceil(0.33::DOUBLE * n)
                                THEN m END) AS t1,
                       min(CASE WHEN cum >= ceil(0.67::DOUBLE * n)
                                THEN m END) AS t2
                FROM cum GROUP BY 1
            )
            SELECT p.doc_id, p.lang, p.perplexity,
                   CASE WHEN p.m IS NULL THEN 'unscored'
                        WHEN p.m <= thr.t1 THEN 'head'
                        WHEN p.m <= thr.t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ppl p LEFT JOIN thr
              ON p.lang IS NOT DISTINCT FROM thr.lang
        """


def _bpe_learn_ctes(rounds: int = 6) -> "list[str]":
    """The unrolled BPE-learning CTE chain shared by the bpe_merges and
    bpe_encode twins: per round a pair count over the word-frequency
    state, a LIMIT-1 top pair (count desc, pair asc), and the same
    doubled-separator literal rewrite. AS MATERIALIZED per round (the
    k_core lesson: multiply-referenced CTEs inline exponentially)."""
    ctes = [f"""w0 AS MATERIALIZED (
        SELECT sym, count(*)::BIGINT AS n FROM (
            SELECT array_to_string(list_transform(range(1, len(w) + 1),
                       i -> w[i]), ' ') AS sym
            FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w
                  FROM documents)
            WHERE w <> ''
        ) GROUP BY sym
    )"""]
    for r in range(rounds):
        ctes.append(f"""p{r} AS MATERIALIZED (
            SELECT pair, sum(n)::BIGINT AS cnt FROM (
                SELECT n, toks[u.i] || ' ' || toks[u.i + 1] AS pair
                FROM (SELECT n, string_split(sym, ' ') AS toks FROM w{r}),
                     unnest(range(1, len(toks))) AS u(i)
            ) GROUP BY pair
        )""")
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT pair, cnt FROM p{r} "
            f"ORDER BY cnt DESC, pair ASC LIMIT 1)"
        )
        if r + 1 < rounds:
            ctes.append(f"""w{r + 1} AS MATERIALIZED (
                SELECT trim(replace(replace(
                           ' ' || replace(sym, ' ', '  ') || ' ',
                           ' ' || replace((SELECT pair FROM m{r}), ' ', '  ')
                               || ' ',
                           ' ' || replace((SELECT pair FROM m{r}), ' ', '')
                               || ' '),
                       '  ', ' ')) AS sym, n
                FROM w{r}
            )""")
    return ctes


def _bpe_sql(rounds: int = 6) -> str:
    parts = [
        f"SELECT {r + 1} AS rank, split_part(pair, ' ', 1) AS left_sym, "
        f"split_part(pair, ' ', 2) AS right_sym, cnt AS n FROM m{r}"
        for r in range(rounds)
    ]
    return (
        "WITH " + ",\n".join(_bpe_learn_ctes(rounds)) + "\n"
        + "\nUNION ALL\n".join(parts)
    )


def _bpe_encode_sql(rounds: int = 6) -> str:
    """Encode twin: learn the same merges, then chain the identical
    doubled-separator rewrite over every (doc, word) row and count
    subwords per doc. The learning CTEs only build w{r} up to
    rounds-1, so m{rounds-1} still resolves.

    When the corpus exhausts its mergeable pairs before ``rounds`` (Spark
    side: ``bpe_learn_merges`` breaks early), an empty ``m{r}`` turns the
    scalar subquery NULL — which must act as a NO-OP rewrite, not poison
    every sym to NULL through ``replace``. The pair is therefore coalesced
    with a newline sentinel, which can never match: words come from a
    whitespace split, so no sym contains one."""
    ctes = _bpe_learn_ctes(rounds)
    ctes.append(f"""d0 AS (
        SELECT doc_id, array_to_string(list_transform(range(1, len(w) + 1),
                   i -> w[i]), ' ') AS sym
        FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
              FROM documents)
        WHERE w <> ''
    )""")
    for r in range(rounds):
        pair = f"coalesce((SELECT pair FROM m{r}), chr(10))"
        ctes.append(f"""d{r + 1} AS (
            SELECT doc_id, trim(replace(replace(
                       ' ' || replace(sym, ' ', '  ') || ' ',
                       ' ' || replace({pair}, ' ', '  ')
                           || ' ',
                       ' ' || replace({pair}, ' ', '')
                           || ' '),
                   '  ', ' ')) AS sym
            FROM d{r}
        )""")
    return (
        "WITH " + ",\n".join(ctes) + f"""
        SELECT doc.doc_id,
               coalesce(per.n_words, 0)::BIGINT AS n_words,
               coalesce(per.n_subwords, 0)::BIGINT AS n_subwords
        FROM documents doc LEFT JOIN (
            SELECT doc_id, count(*)::BIGINT AS n_words,
                   sum(len(string_split(sym, ' ')))::BIGINT AS n_subwords
            FROM d{rounds} GROUP BY doc_id
        ) per ON doc.doc_id = per.doc_id
    """
    )

def _selection_tokens_sql(rounds: int = 6, budget: int = 256) -> str:
    """Tokenizer-aware packed-selection twin: the gate + DSIR + Gumbel
    top-40 CTEs of selection_pipeline_packed, then the bpe_encode rewrite
    chain applied to the SELECTED docs (merges learned over the full
    corpus, matching the Spark side), then the per-source running-sum
    pack window over cumulative subword tokens."""
    ctes = _bpe_learn_ctes(rounds)
    ctes.append("""seldocs AS (
        SELECT d.doc_id, d.text, d.source
        FROM documents d JOIN sel USING (doc_id)
    )""")
    ctes.append(f"""d0 AS (
        SELECT doc_id, array_to_string(list_transform(range(1, len(w) + 1),
                   i -> w[i]), ' ') AS sym
        FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
              FROM seldocs)
        WHERE w <> ''
    )""")
    for r in range(rounds):
        pair = f"coalesce((SELECT pair FROM m{r}), chr(10))"
        ctes.append(f"""d{r + 1} AS (
            SELECT doc_id, trim(replace(replace(
                       ' ' || replace(sym, ' ', '  ') || ' ',
                       ' ' || replace({pair}, ' ', '  ')
                           || ' ',
                       ' ' || replace({pair}, ' ', '')
                           || ' '),
                   '  ', ' ')) AS sym
            FROM d{r}
        )""")
    ctes.append(f"""tokc AS (
        SELECT doc_id, sum(len(string_split(sym, ' ')))::BIGINT AS n_tokens
        FROM d{rounds} GROUP BY doc_id
    )""")
    ctes.append("""packedt AS (
        SELECT s.doc_id, s.log_weight, s.gumbel_key, d.source,
               coalesce(t.n_tokens, 0)::BIGINT AS n_tokens,
               coalesce(sum(coalesce(t.n_tokens, 0)) OVER (
                   PARTITION BY d.source ORDER BY d.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cb
        FROM sel s
        JOIN documents d USING (doc_id)
        LEFT JOIN tokc t ON t.doc_id = s.doc_id
    )""")
    return (
        "WITH " + _GATE_CTES
        + """, kept AS (
            SELECT doc_id FROM gate WHERE len(reasons) = 0
        ), kdocs AS (
            SELECT d.* FROM documents d JOIN kept USING (doc_id)
        ), """
        + _dsir_ctes("kdocs")
        + _dsir_select_cte("kdocs")
        + ",\n" + ",\n".join(ctes)
        + f"""
        SELECT doc_id, log_weight, gumbel_key, source, n_tokens,
               floor(cb / {budget})::BIGINT AS pack_id
        FROM packedt
    """
    )


import functools


def _compression_ratio_sql() -> "str | None":
    """Literal-table oracle for ``compression_ratio``: zlib has no DuckDB
    twin, but the oracle contract only needs an INDEPENDENT computation of
    the expected rows — so the per-doc ratios are computed here with
    Python's zlib directly over the comparison corpus and materialized as
    a VALUES table. This retires the last rows-only query: hashes now
    check end-to-end (same-level determinism: zlib level 6, identical
    library in-container). The corpus scale follows the harness:
    ``SPARK_GRAFT_ORACLE_SF`` (tests/conftest.py exports the suite's
    sf_dir) or ``ORACLE_SF_DIR`` (scripts/oracle_check.py), defaulting to
    sf0.01 — the scale the driver compares at. Returns None (driver falls
    back to rows-only) only if the corpus is unreadable."""
    import os

    sf_dir = (
        os.environ.get("SPARK_GRAFT_ORACLE_SF")
        or os.environ.get("ORACLE_SF_DIR")
        or "/root/testdata/sf0.01"
    )
    return _compression_ratio_sql_for(
        os.path.join(sf_dir, "documents.parquet")
    )


@functools.lru_cache(maxsize=4)
def _compression_ratio_sql_for(path: str) -> "str | None":
    import zlib
    try:
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=["doc_id", "text"])
    except Exception:  # noqa: BLE001 — no corpus, no literal oracle
        return None
    vals = []
    for doc_id, text in zip(
        tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
    ):
        b = (text if isinstance(text, str) else "").encode("utf-8")
        c = len(zlib.compress(b, 6))
        ratio = repr(round(c / len(b), 6)) if b else "CAST(NULL AS DOUBLE)"
        vals.append(f"({doc_id},{len(b)},{c},{ratio})")
    if not vals:
        # an empty corpus would render 'VALUES ' — invalid SQL; fall back
        # to the documented rows-only path instead
        return None
    return f"""
        SELECT doc_id::BIGINT AS doc_id, n_bytes::BIGINT AS n_bytes,
               n_compressed::BIGINT AS n_compressed,
               ratio::DOUBLE AS ratio
        FROM (VALUES {",".join(vals)}) t(doc_id, n_bytes, n_compressed, ratio)
    """


def oracle_sql() -> dict[str, str]:
    from bio2bel_spark.functions.curie import PREFIX_SYNONYMS
    from bio2bel_spark.sources.intact import RELATION_ROWS

    def _q(v):
        return "NULL" if v is None else "'" + str(v).replace("'", "''") + "'"

    # the relation table inlined as VALUES — generated from the same constant
    # the Spark side joins against, so both sides dispatch identically
    rel_values = ",\n".join(
        "(" + ", ".join(_q(x) for x in row) + ")" for row in RELATION_ROWS
    )
    code_values = ",\n".join(
        f"({i}, {_q(c)})" for i, c in enumerate(_DISPATCH_CODES)
    )
    prefix_list = "[" + ", ".join(_q(p) for p in _CURIE_PREFIXES) + "]"
    synonym_cases = "\n".join(
        f"WHEN {_q(raw)} THEN {_q(canon)}" for raw, canon in PREFIX_SYNONYMS.items()
    )
    from dataops.similarity import srp_planes

    # the identical seeded hyperplanes the Spark srp_signature inlines
    _srp_terms = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in h)
        + f"]) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, h in enumerate(srp_planes(32, 64, seed=13))
    )
    # Morton interleave of two 8-bit normalized keys, unrolled to the same
    # shift/mask arithmetic the Spark zorder_value expression compiles to
    _z_interleave = " + ".join(
        f"(((np >> {j}) & 1) << {j * 2}) + (((ns >> {j}) & 1) << {j * 2 + 1})"
        for j in range(8)
    )
    # Hilbert reflect/rotate fold unrolled into one chained-CTE stage per
    # level — the same per-level arithmetic the Spark aggregate performs
    _hilb_ctes = (
        "h0 AS (SELECT l_partkey, l_suppkey, np AS x, ns AS y, "
        "0::BIGINT AS d FROM n)"
    )
    for _k, _i in enumerate(range(7, -1, -1)):
        _s, _full = 1 << _i, 255
        _rx, _ry = f"((x // {_s}) % 2)", f"((y // {_s}) % 2)"
        _hilb_ctes += f""",
            h{_k + 1} AS (
                SELECT l_partkey, l_suppkey,
                       CASE WHEN {_ry} = 0
                            THEN (CASE WHEN {_rx} = 1
                                       THEN {_full} - y ELSE y END)
                            ELSE x END AS x,
                       CASE WHEN {_ry} = 0
                            THEN (CASE WHEN {_rx} = 1
                                       THEN {_full} - x ELSE x END)
                            ELSE y END AS y,
                       d + {_s * _s} * xor(3 * {_rx}, {_ry}) AS d
                FROM h{_k}
            )"""
    # 3-D Skilling transpose (bits=5) unrolled: one CTE per (level, dim)
    # step — the same sequential state updates the Spark fold performs —
    # then Gray encode / final-xor / MSB-first interleave in closed form
    _h3 = (
        "g0 AS (SELECT l_partkey, l_suppkey, l_quantity, "
        "n0 AS x0, n1 AS x1, n2 AS x2 FROM n3)"
    )
    _k3 = 0
    for _q in range(4, 0, -1):
        _Q, _P = 1 << _q, (1 << _q) - 1
        for _i in range(3):
            _cond = f"((x{_i} // {_Q}) % 2) = 1"
            if _i == 0:
                _sel = (
                    f"CASE WHEN {_cond} THEN xor(x0, {_P}) ELSE x0 END AS x0, "
                    "x1, x2"
                )
            else:
                _tx = f"(xor(x0, x{_i}) & {_P})"
                _x0 = (
                    f"CASE WHEN {_cond} THEN xor(x0, {_P}) "
                    f"ELSE xor(x0, {_tx}) END AS x0"
                )
                _xi = (
                    f"CASE WHEN {_cond} THEN x{_i} "
                    f"ELSE xor(x{_i}, {_tx}) END AS x{_i}"
                )
                _sel = f"{_x0}, {_xi}, x2" if _i == 1 else f"{_x0}, x1, {_xi}"
            _k3 += 1
            _h3 += (
                f", g{_k3} AS (SELECT l_partkey, l_suppkey, l_quantity, "
                f"{_sel} FROM g{_k3 - 1})"
            )
    _t3 = "0"
    for _q in range(4, 0, -1):
        _t3 = (
            f"xor({_t3}, CASE WHEN (y2 // {1 << _q}) % 2 = 1 "
            f"THEN {(1 << _q) - 1} ELSE 0 END)"
        )
    _ilv3 = " + ".join(
        f"(((z{_i} // {1 << _j}) % 2) * {1 << (_j * 3 + (2 - _i))})"
        for _j in range(5)
        for _i in range(3)
    )

    def _winnow_ctes(src: str, p: str) -> str:
        """Winnowing (k=4, window=4) CTE chain over source CTE ``src``,
        CTE names prefixed ``p`` — the same chain the standalone
        winnowing_fingerprints oracle uses, parametrized for reuse in
        composed pipelines. Ends with ``{p}fp(doc_id, fp)``."""
        return f"""
            {p}w AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text),
                           '\\s+', ' ', 'g')), ' ') AS words
                FROM {src}
            ),
            {p}b AS (SELECT doc_id, words, len(words) - 3 AS ng FROM {p}w),
            {p}g AS (
                SELECT doc_id,
                       list_transform(range(1, ng + 1),
                           i -> ('0x' || substr(md5(
                                    array_to_string(words[i:i+3], ' ')
                                ), 1, 8))::BIGINT) AS hs,
                       ng
                FROM {p}b WHERE ng >= 1
            ),
            {p}wins AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(ng - 3, 1) + 1),
                           j -> list_min(hs[j:j+3]))) AS fps
                FROM {p}g
            ),
            {p}fp AS (SELECT doc_id, unnest(fps) AS fp FROM {p}wins)"""

    return {
        "zorder_layout": f"""
            WITH s AS (
                SELECT min(l_partkey)::DOUBLE AS plo,
                       max(l_partkey)::DOUBLE AS phi,
                       min(l_suppkey)::DOUBLE AS slo,
                       max(l_suppkey)::DOUBLE AS shi
                FROM lineitem
            ),
            n AS (
                SELECT l_partkey, l_suppkey,
                       least(floor((l_partkey::DOUBLE - plo) / (phi - plo)
                                   * 256)::BIGINT, 255) AS np,
                       least(floor((l_suppkey::DOUBLE - slo) / (shi - slo)
                                   * 256)::BIGINT, 255) AS ns
                FROM lineitem, s
            ),
            z AS (
                SELECT l_partkey, l_suppkey, {_z_interleave} AS zv FROM n
            )
            SELECT zv >> 8 AS bucket,
                   count(*)::BIGINT AS n_rows,
                   min(zv)::BIGINT AS z_min, max(zv)::BIGINT AS z_max,
                   min(l_partkey)::BIGINT AS part_min,
                   max(l_partkey)::BIGINT AS part_max,
                   min(l_suppkey)::BIGINT AS supp_min,
                   max(l_suppkey)::BIGINT AS supp_max
            FROM z GROUP BY bucket
        """,
        # the round-6 composed pipeline: contamination gate -> split-leakage
        # gate -> winnowing overlap -> A-ES weighted mixture, each stage the
        # proven fragment from its standalone oracle
        "curation_pipeline_v2": f"""
            WITH RECURSIVE {_JACCARD_CTES},
            bench AS (
                SELECT doc_id + 800000 AS doc_id, text
                FROM documents WHERE doc_id < 30
            ),
            -- stage 1: exact 8-gram contamination gate
            tw AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text),
                           '\\s+', ' ', 'g')), ' ') AS words
                FROM aug
            ),
            tg AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, len(words) - 6),
                           i -> ('0x' || substr(md5(
                                    array_to_string(words[i:i+7], ' ')
                                ), 1, 8))::BIGINT)) AS hs
                FROM tw WHERE len(words) - 7 >= 1
            ),
            bw AS (
                SELECT string_split(trim(regexp_replace(lower(text),
                           '\\s+', ' ', 'g')), ' ') AS words
                FROM bench
            ),
            bset AS (
                SELECT DISTINCT unnest(list_transform(range(1, len(words) - 6),
                           i -> ('0x' || substr(md5(
                                    array_to_string(words[i:i+7], ' ')
                                ), 1, 8))::BIGINT)) AS h
                FROM bw WHERE len(words) - 7 >= 1
            ),
            contaminated AS (
                SELECT t.doc_id
                FROM (SELECT doc_id, unnest(hs) AS h, len(hs) AS ng FROM tg) t
                LEFT JOIN bset USING (h)
                GROUP BY t.doc_id
                HAVING round(sum(CASE WHEN bset.h IS NULL THEN 0 ELSE 1 END)
                             / max(t.ng), 6) >= 0.5
            ),
            clean AS (
                SELECT a.doc_id, a.text FROM aug a
                WHERE a.doc_id NOT IN (SELECT doc_id FROM contaminated)
            ),
            -- stage 2: hash split + LSH split-leakage gate
            sp AS (
                SELECT doc_id,
                       CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
                                 )::BIGINT % 10000 < 8000
                            THEN 'train' ELSE 'test' END AS split
                FROM clean
            ),
            leaky AS (
                SELECT DISTINCT CASE WHEN a.split = 'train'
                                     THEN v.id_a ELSE v.id_b END AS doc_id
                FROM vpairs v
                JOIN sp a ON v.id_a = a.doc_id
                JOIN sp b ON v.id_b = b.doc_id
                WHERE a.split <> b.split
            ),
            train AS (
                SELECT c.doc_id, c.text FROM clean c
                JOIN sp ON c.doc_id = sp.doc_id
                WHERE sp.split = 'train'
                  AND c.doc_id NOT IN (SELECT doc_id FROM leaky)
            ),
            -- stage 3: winnowing substring overlap vs bench
            {_winnow_ctes('train', 'wt')},
            {_winnow_ctes('bench', 'wb')},
            bfp AS (SELECT DISTINCT fp FROM wbfp),
            ovl AS (
                SELECT t.doc_id,
                       count(*)::BIGINT AS n_fps,
                       sum(CASE WHEN b.fp IS NULL THEN 0 ELSE 1 END)::BIGINT
                           AS n_shared
                FROM wtfp t LEFT JOIN bfp b USING (fp)
                GROUP BY t.doc_id
            ),
            -- stage 4: deterministic A-ES weighted mixture sample
            mix AS (
                SELECT (doc_id % 4)::INT AS src, doc_id, n_fps, n_shared,
                       ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                           + 1.0) / 4294967296.0)
                       / (1.0 / (1.0 + n_shared)) AS score
                FROM ovl
            ),
            ranked AS (
                SELECT src, doc_id, n_fps, n_shared,
                       row_number() OVER (
                           PARTITION BY src
                           ORDER BY score DESC, doc_id ASC
                       ) AS rn
                FROM mix
            )
            SELECT src, doc_id, n_fps, n_shared FROM ranked WHERE rn <= 50
        """,
        # the fuzzy-cluster chain (recursive reachability over exact
        # vpairs — same twin as dedup_fuzzy_clusters) + the split hash on
        # the CLUSTER id
        "cluster_split": f"""
            WITH RECURSIVE {_JACCARD_CTES},
            edges AS (
                SELECT id_a AS a, id_b AS b FROM vpairs
                UNION
                SELECT id_b AS a, id_a AS b FROM vpairs
            ),
            reach(node, label) AS (
                SELECT a AS node, a AS label FROM edges
                UNION
                SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(label) AS c FROM reach GROUP BY node),
            lab AS (
                SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS cluster
                FROM aug d LEFT JOIN comp ON d.doc_id = comp.node
            )
            SELECT doc_id, cluster,
                   CASE WHEN ('0x' || substr(md5(cluster::VARCHAR), 1, 8)
                             )::BIGINT % 10000 < 8000
                        THEN 'train' ELSE 'test' END AS split
            FROM lab
        """,
        # the planner's decision CASEs replayed per scenario over the same
        # grouped-count statistics (skew test in product form:
        # max_key*keys > ratio*n, plus the absolute hot-key threshold
        # max_key > broadcast_rows)
        "join_strategy": """
            WITH l1 AS (SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
                               max(n)::BIGINT AS m
                        FROM (SELECT count(*) AS n FROM lineitem
                              GROUP BY l_partkey)),
            r1 AS (SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
                          max(n)::BIGINT AS m
                   FROM (SELECT count(*) AS n FROM part GROUP BY p_partkey)),
            l2 AS (SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
                          max(n)::BIGINT AS m
                   FROM (SELECT count(*) AS n FROM lineitem
                         GROUP BY l_orderkey)),
            r2 AS (SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
                          max(n)::BIGINT AS m
                   FROM (SELECT count(*) AS n FROM orders
                         GROUP BY o_orderkey)),
            l3 AS (SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
                          max(n)::BIGINT AS m
                   FROM (SELECT count(*) AS n FROM events
                         WHERE user_id IS NOT NULL
                         GROUP BY CASE WHEN user_id <= 2 THEN user_id
                                       ELSE 0 END)),
            r3 AS (SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
                          max(n)::BIGINT AS m
                   FROM (SELECT count(*) AS n FROM events
                         WHERE user_id IS NOT NULL GROUP BY user_id))
            SELECT 'dim_broadcast' AS scenario,
                   l.n AS n_left, r.n AS n_right,
                   l.k AS keys_left, r.k AS keys_right,
                   l.m AS max_key_left, r.m AS max_key_right,
                   CASE WHEN least(l.n, r.n) <= 1000000 THEN 'broadcast'
                        WHEN l.m * greatest(l.k, 1) > 8.0 * l.n OR l.m > 1000000
                          OR r.m * greatest(r.k, 1) > 8.0 * r.n OR r.m > 1000000 THEN 'salted'
                        ELSE 'plain' END AS strategy,
                   CASE WHEN least(l.n, r.n) <= 1000000
                        THEN (CASE WHEN l.n <= r.n THEN 'left'
                                   ELSE 'right' END)
                        WHEN l.m * greatest(l.k, 1) > 8.0 * l.n
                          OR l.m > 1000000 THEN 'left'
                        WHEN r.m * greatest(r.k, 1) > 8.0 * r.n
                          OR r.m > 1000000 THEN 'right'
                        END AS target_side
            FROM l1 l, r1 r
            UNION ALL
            SELECT 'fact_fact_plain',
                   l.n, r.n, l.k, r.k, l.m, r.m,
                   CASE WHEN least(l.n, r.n) <= 1000 THEN 'broadcast'
                        WHEN l.m * greatest(l.k, 1) > 8.0 * l.n OR l.m > 1000
                          OR r.m * greatest(r.k, 1) > 8.0 * r.n OR r.m > 1000 THEN 'salted'
                        ELSE 'plain' END,
                   CASE WHEN least(l.n, r.n) <= 1000
                        THEN (CASE WHEN l.n <= r.n THEN 'left'
                                   ELSE 'right' END)
                        WHEN l.m * greatest(l.k, 1) > 8.0 * l.n
                          OR l.m > 1000 THEN 'left'
                        WHEN r.m * greatest(r.k, 1) > 8.0 * r.n
                          OR r.m > 1000 THEN 'right'
                        END
            FROM l2 l, r2 r
            UNION ALL
            SELECT 'hot_key_salted',
                   l.n, r.n, l.k, r.k, l.m, r.m,
                   CASE WHEN least(l.n, r.n) <= 10 THEN 'broadcast'
                        WHEN l.m * greatest(l.k, 1) > 2.0 * l.n OR l.m > 10
                          OR r.m * greatest(r.k, 1) > 2.0 * r.n OR r.m > 10 THEN 'salted'
                        ELSE 'plain' END,
                   CASE WHEN least(l.n, r.n) <= 10
                        THEN (CASE WHEN l.n <= r.n THEN 'left'
                                   ELSE 'right' END)
                        WHEN l.m * greatest(l.k, 1) > 2.0 * l.n
                          OR l.m > 10 THEN 'left'
                        WHEN r.m * greatest(r.k, 1) > 2.0 * r.n
                          OR r.m > 10 THEN 'right'
                        END
            FROM l3 l, r3 r
        """,
        # counter summing is batch-order-invariant: the replayed 3-batch
        # state equals one pass over all events (cms_counts' grid twin on
        # the events key)
        # first-fit-decreasing replayed as a recursive CTE: one row per
        # (group, item rank) carrying the open packs' remaining-capacity
        # LIST; groups advance independently (join on rn+1), so the
        # recursion depth is the largest group, exactly like the
        # applyInPandas task. The first-fit index is
        # list_filter(range, k -> tok <= caps[k])[1].
        "pack_first_fit": """
            WITH RECURSIVE items AS (
                SELECT source, doc_id, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC, doc_id ASC
                       ) AS rn
                FROM documents
            ),
            ffd(source, rn, doc_id, n_chars, caps, pack_id) AS (
                SELECT source, rn, doc_id, n_chars,
                       [greatest(2048 - n_chars, 0)], 0::BIGINT
                FROM items WHERE rn = 1
                UNION ALL
                SELECT i.source, i.rn, i.doc_id, i.n_chars,
                       CASE WHEN list_filter(range(1, len(f.caps)+1),
                                 k -> i.n_chars <= f.caps[k])[1] IS NULL
                            THEN list_append(f.caps,
                                             greatest(2048 - i.n_chars, 0))
                            ELSE list_transform(range(1, len(f.caps)+1),
                                 k -> CASE WHEN k = list_filter(
                                          range(1, len(f.caps)+1),
                                          k2 -> i.n_chars <= f.caps[k2])[1]
                                      THEN f.caps[k] - i.n_chars
                                      ELSE f.caps[k] END) END,
                       CASE WHEN list_filter(range(1, len(f.caps)+1),
                                 k -> i.n_chars <= f.caps[k])[1] IS NULL
                            THEN len(f.caps)::BIGINT
                            ELSE (list_filter(range(1, len(f.caps)+1),
                                  k -> i.n_chars <= f.caps[k])[1]
                                  - 1)::BIGINT END
                FROM ffd f
                JOIN items i ON i.source = f.source AND i.rn = f.rn + 1
            )
            SELECT source, (max(pack_id) + 1)::BIGINT AS n_packs,
                   count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars
            FROM ffd GROUP BY source
        """,
        "cms_maintenance": """
            WITH src AS (
                SELECT md5(user_id::VARCHAR) AS h FROM events
                WHERE user_id IS NOT NULL
            ),
            hh AS (
                SELECT ('0x' || substr(h, 1, 8))::BIGINT AS h1,
                       ('0x' || substr(h, 9, 8))::BIGINT AS h2
                FROM src
            ),
            grid AS (
                SELECT d.d, (h1 + d.d * h2) % 1024 AS w,
                       count(*)::BIGINT AS cnt
                FROM hh, unnest(range(0, 4)) AS d(d)
                GROUP BY 1, 2
            ),
            keys AS (
                SELECT DISTINCT user_id, md5(user_id::VARCHAR) AS h
                FROM events WHERE user_id IS NOT NULL AND user_id < 20
            ),
            probes AS (
                SELECT user_id, d.d,
                       (('0x' || substr(h, 1, 8))::BIGINT
                        + d.d * ('0x' || substr(h, 9, 8))::BIGINT) % 1024 AS w
                FROM keys, unnest(range(0, 4)) AS d(d)
            )
            SELECT user_id, min(coalesce(g.cnt, 0))::BIGINT AS estimate
            FROM probes p LEFT JOIN grid g ON p.d = g.d AND p.w = g.w
            GROUP BY user_id
        """,
        # register-wise max is order-invariant: the replayed state equals
        # one pass (hll_distinct's register twin on the events key)
        "hll_maintenance": """
            WITH h AS (
                SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
                FROM events WHERE user_id IS NOT NULL
            ), hv AS (
                SELECT (h % 512)::INT AS reg, (h >> 9) AS v FROM h
            ), regs AS (
                SELECT reg,
                       max(CASE WHEN v = 0 THEN 52
                                ELSE 51 - (length(to_base(v, 2)) - 1)
                           END)::INT AS rho
                FROM hv GROUP BY reg
            ), agg AS (
                SELECT count(*)::BIGINT AS used,
                       sum(pow(2.0, -rho)) AS s
                FROM regs
            ), raw AS (
                SELECT used,
                       0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 512.0)
                           * 512.0 * 512.0 / (s + (512 - used)) AS e
                FROM agg
            )
            SELECT 512 AS m, used AS used_registers,
                   round(CASE WHEN e <= 1280.0 AND (512 - used) > 0
                              THEN 512.0 * ln(512.0 / (512 - used))
                              ELSE e END, 4) AS estimate
            FROM raw
        """,
        "token_budget_select": f"""
            WITH t AS (
                SELECT doc_id, n_chars,
                       len(string_split({_NORM_SQL}, ' '))::BIGINT AS toks
                FROM documents
            ),
            b AS (SELECT sum(toks) // 2 AS budget FROM t),
            c AS (
                SELECT doc_id, n_chars, toks,
                       sum(toks) OVER (
                           ORDER BY n_chars DESC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING
                       )::BIGINT AS cum_tokens
                FROM t
            )
            SELECT doc_id, n_chars, toks, cum_tokens
            FROM c, b WHERE cum_tokens <= budget
        """,
        "temperature_mixture": """
            WITH c AS (
                SELECT lang, count(*)::BIGINT AS n_rows
                FROM documents GROUP BY 1
            ),
            t AS (
                SELECT lang, n_rows,
                       n_rows::DOUBLE / sum(n_rows) OVER () AS share
                FROM c
            ),
            w AS (
                SELECT lang, n_rows, share, pow(share, -0.5) AS wt FROM t
            ),
            r AS (
                SELECT lang, n_rows, round(share, 6) AS share,
                       round(wt / max(wt) OVER (), 6) AS rate
                FROM w
            ),
            kept AS (
                SELECT d.lang, count(*)::BIGINT AS n_kept
                FROM documents d JOIN r USING (lang)
                WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                      % 1000000 < round(r.rate * 1000000)
                GROUP BY 1
            )
            SELECT r.lang, r.n_rows, r.share, r.rate,
                   coalesce(k.n_kept, 0)::BIGINT AS n_kept
            FROM r LEFT JOIN kept k USING (lang)
        """,
        "hilbert_layout_3d": f"""
            WITH s3 AS (
                SELECT min(l_partkey)::DOUBLE AS plo,
                       max(l_partkey)::DOUBLE AS phi,
                       min(l_suppkey)::DOUBLE AS slo,
                       max(l_suppkey)::DOUBLE AS shi,
                       min(l_quantity)::DOUBLE AS qlo,
                       max(l_quantity)::DOUBLE AS qhi
                FROM lineitem
            ),
            n3 AS (
                SELECT l_partkey, l_suppkey, l_quantity,
                       least(floor((l_partkey::DOUBLE - plo) / (phi - plo)
                                   * 32)::BIGINT, 31) AS n0,
                       least(floor((l_suppkey::DOUBLE - slo) / (shi - slo)
                                   * 32)::BIGINT, 31) AS n1,
                       least(floor((l_quantity::DOUBLE - qlo) / (qhi - qlo)
                                   * 32)::BIGINT, 31) AS n2
                FROM lineitem, s3
            ),
            {_h3},
            gray AS (
                SELECT l_partkey, l_suppkey, l_quantity,
                       x0 AS y0, xor(x1, x0) AS y1,
                       xor(x2, xor(x1, x0)) AS y2
                FROM g{_k3}
            ),
            fin AS (
                SELECT l_partkey, l_suppkey, l_quantity,
                       xor(y0, {_t3}) AS z0, xor(y1, {_t3}) AS z1,
                       xor(y2, {_t3}) AS z2
                FROM gray
            ),
            hv AS (
                SELECT l_partkey, l_suppkey, l_quantity, {_ilv3} AS h
                FROM fin
            )
            SELECT h // 128 AS bucket, count(*)::BIGINT AS n_rows,
                   min(h)::BIGINT AS h_min, max(h)::BIGINT AS h_max,
                   min(l_partkey)::BIGINT AS part_min,
                   max(l_partkey)::BIGINT AS part_max,
                   min(l_suppkey)::BIGINT AS supp_min,
                   max(l_suppkey)::BIGINT AS supp_max,
                   round(min(l_quantity), 2) AS qty_min,
                   round(max(l_quantity), 2) AS qty_max
            FROM hv GROUP BY bucket
        """,
        "ngram_contamination": """
            WITH norm AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                FROM documents
            ),
            w AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
            b AS (SELECT doc_id, words, len(words) - 7 AS ng FROM w),
            g AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, ng + 1),
                           i -> ('0x' || substr(md5(
                                    array_to_string(words[i:i+7], ' ')
                                ), 1, 8))::BIGINT
                       )) AS hs
                FROM b WHERE ng >= 1
            ),
            tr AS (
                SELECT doc_id, unnest(hs) AS h, len(hs) AS ngr FROM g
            ),
            be AS (
                SELECT DISTINCT unnest(hs) AS h FROM g WHERE doc_id % 31 = 0
            )
            SELECT tr.doc_id,
                   max(ngr)::BIGINT AS n_grams,
                   sum(CASE WHEN be.h IS NULL THEN 0 ELSE 1 END)::BIGINT
                       AS n_hits,
                   round(sum(CASE WHEN be.h IS NULL THEN 0.0 ELSE 1 END)
                         / max(ngr), 6) AS hit_frac
            FROM tr LEFT JOIN be USING (h)
            GROUP BY tr.doc_id
        """,
        "split_leakage": f"""
            WITH {_JACCARD_CTES},
            sp AS (
                SELECT doc_id,
                       CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8)
                                 )::BIGINT % 10000 < 8000
                            THEN 'train' ELSE 'test' END AS split
                FROM aug
            )
            SELECT least(a.split, b.split) AS split_a,
                   greatest(a.split, b.split) AS split_b,
                   count(*)::BIGINT AS n_pairs
            FROM vpairs
            JOIN sp a ON vpairs.id_a = a.doc_id
            JOIN sp b ON vpairs.id_b = b.doc_id
            GROUP BY 1, 2
        """,
        # multi-increment replay of the persistent band index: within-batch
        # exact-jaccard components (LSH recall on this corpus is exact —
        # proven by the green split_leakage/dedup_fuzzy twins), then the
        # cross-batch admission gate replayed with the SAME md5 minhash
        # signatures, 8-band slice buckets, and estimated-jaccard >= 0.5
        # rule the Spark operator uses
        "incremental_fuzzy": f"""
            WITH RECURSIVE {_JACCARD_CTES},
            edges AS (
                SELECT id_a AS a, id_b AS b FROM vpairs WHERE id_a % 3 = id_b % 3
                UNION
                SELECT id_b AS a, id_a AS b FROM vpairs WHERE id_a % 3 = id_b % 3
            ),
            reach(node, label) AS (
                SELECT a AS node, a AS label FROM edges
                UNION
                SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(label) AS c FROM reach GROUP BY node),
            wsurv AS (
                SELECT d.doc_id, (d.doc_id % 3)::INT AS batch
                FROM aug d LEFT JOIN comp ON d.doc_id = comp.node
                WHERE coalesce(comp.c, d.doc_id) = d.doc_id
            ),
            sigs AS (
                SELECT doc_id,
                       list_transform(range(0, 16), i -> list_min(
                           list_transform(hashes,
                               h -> ((2*i + 1) * h + i*i + i + 41) % 2147483647
                           ))) AS sig
                FROM hs
            ),
            banded AS (
                SELECT s.doc_id, t.b AS band,
                       array_to_string(s.sig[2*t.b+1 : 2*t.b+2], ',') AS bucket
                FROM sigs s CROSS JOIN range(0, 8) t(b)
            ),
            adm0 AS (SELECT doc_id FROM wsurv WHERE batch = 0),
            rej1 AS (
                SELECT DISTINCT n.doc_id
                FROM wsurv n
                JOIN banded bn ON bn.doc_id = n.doc_id
                JOIN banded bh ON bh.band = bn.band AND bh.bucket = bn.bucket
                JOIN adm0 h ON bh.doc_id = h.doc_id
                JOIN sigs sn ON sn.doc_id = n.doc_id
                JOIN sigs sh ON sh.doc_id = h.doc_id
                WHERE n.batch = 1
                  AND list_sum(list_transform(range(1, 17),
                          i -> (sn.sig[i] = sh.sig[i])::INT)) / 16.0 >= 0.5
            ),
            hist2 AS (
                SELECT doc_id FROM adm0
                UNION ALL
                SELECT doc_id FROM wsurv
                WHERE batch = 1 AND doc_id NOT IN (SELECT doc_id FROM rej1)
            ),
            rej2 AS (
                SELECT DISTINCT n.doc_id
                FROM wsurv n
                JOIN banded bn ON bn.doc_id = n.doc_id
                JOIN banded bh ON bh.band = bn.band AND bh.bucket = bn.bucket
                JOIN hist2 h ON bh.doc_id = h.doc_id
                JOIN sigs sn ON sn.doc_id = n.doc_id
                JOIN sigs sh ON sh.doc_id = h.doc_id
                WHERE n.batch = 2
                  AND list_sum(list_transform(range(1, 17),
                          i -> (sn.sig[i] = sh.sig[i])::INT)) / 16.0 >= 0.5
            )
            SELECT w.doc_id, w.batch FROM wsurv w
            WHERE w.batch = 0
               OR (w.batch = 1 AND w.doc_id NOT IN (SELECT doc_id FROM rej1))
               OR (w.batch = 2 AND w.doc_id NOT IN (SELECT doc_id FROM rej2))
        """,
        # three space-saving truncation steps replayed with window-ranked
        # CTEs: per step, merge (with admission credit for keys absent from
        # the previous state), rank by (cnt desc, key asc), keep 16, fold
        # the largest evicted counter into the running floor
        "topk_maintenance": """
            WITH b0 AS (
                SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS cnt
                FROM events WHERE user_id IS NOT NULL AND event_id % 3 = 0
                GROUP BY 1
            ),
            r0 AS (SELECT key, cnt,
                          row_number() OVER (ORDER BY cnt DESC, key ASC) AS rn
                   FROM b0),
            s0 AS (SELECT key, cnt FROM r0 WHERE rn <= 16),
            d0 AS (SELECT coalesce(max(cnt) FILTER (WHERE rn > 16), 0) AS d
                   FROM r0),
            b1 AS (
                SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS cnt
                FROM events WHERE user_id IS NOT NULL AND event_id % 3 = 1
                GROUP BY 1
            ),
            m1 AS (
                SELECT key, sum(cnt)::BIGINT AS cnt FROM (
                    SELECT key, cnt FROM s0
                    UNION ALL
                    SELECT b.key,
                           b.cnt + CASE WHEN s.key IS NULL
                                        THEN (SELECT d FROM d0) ELSE 0 END
                    FROM b1 b LEFT JOIN s0 s USING (key)
                ) GROUP BY key
            ),
            r1 AS (SELECT key, cnt,
                          row_number() OVER (ORDER BY cnt DESC, key ASC) AS rn
                   FROM m1),
            s1 AS (SELECT key, cnt FROM r1 WHERE rn <= 16),
            d1 AS (SELECT greatest(
                       (SELECT d FROM d0),
                       coalesce(max(cnt) FILTER (WHERE rn > 16), 0)) AS d
                   FROM r1),
            b2 AS (
                SELECT user_id::VARCHAR AS key, count(*)::BIGINT AS cnt
                FROM events WHERE user_id IS NOT NULL AND event_id % 3 = 2
                GROUP BY 1
            ),
            m2 AS (
                SELECT key, sum(cnt)::BIGINT AS cnt FROM (
                    SELECT key, cnt FROM s1
                    UNION ALL
                    SELECT b.key,
                           b.cnt + CASE WHEN s.key IS NULL
                                        THEN (SELECT d FROM d1) ELSE 0 END
                    FROM b2 b LEFT JOIN s1 s USING (key)
                ) GROUP BY key
            ),
            r2 AS (SELECT key, cnt,
                          row_number() OVER (ORDER BY cnt DESC, key ASC) AS rn
                   FROM m2),
            d2 AS (SELECT greatest(
                       (SELECT d FROM d1),
                       coalesce(max(cnt) FILTER (WHERE rn > 16), 0)) AS d
                   FROM r2)
            SELECT key, cnt, (SELECT d FROM d2)::BIGINT AS dropped_max
            FROM r2 WHERE rn <= 16
        """,
        # counter summing is batch-order-invariant, so the replayed state
        # equals one pass over all events; report formula mirrors
        # psi_from_state (eps floor 1e-6, contribution (q-p)*ln(q/p))
        "psi_maintenance": """
            WITH cur AS (
                SELECT 1 + (value > 15.0)::INT + (value > 35.0)::INT
                         + (value > 70.0)::INT AS bin,
                       count(*)::BIGINT AS cnt
                FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            base AS (SELECT unnest([1, 2, 3, 4]) AS bin, 0.25 AS p_baseline),
            tot AS (SELECT sum(cnt)::DOUBLE AS t FROM cur)
            SELECT b.bin, b.p_baseline,
                   round(greatest(coalesce(c.cnt, 0) / (SELECT t FROM tot),
                                  1e-6), 6) AS p_current,
                   round((greatest(coalesce(c.cnt, 0) / (SELECT t FROM tot),
                                   1e-6)
                          - greatest(b.p_baseline, 1e-6))
                         * ln(greatest(coalesce(c.cnt, 0) / (SELECT t FROM tot),
                                       1e-6)
                              / greatest(b.p_baseline, 1e-6)), 6)
                       AS psi_contrib
            FROM base b LEFT JOIN cur c USING (bin)
        """,
        "mean_pool": """
            WITH ex AS (
                SELECT vec_id % 16 AS g,
                       generate_subscripts(embedding, 1) AS d,
                       unnest(embedding)::DOUBLE AS v
                FROM embeddings
            ),
            pd AS (
                SELECT g, d, avg(v) AS m, count(*) AS n
                FROM ex GROUP BY g, d
            )
            SELECT g, max(n)::BIGINT AS n_vectors,
                   array_to_string(
                       list(round(round(m, 6) * 1000000)::BIGINT ORDER BY d),
                       ','
                   ) AS pooled_micros
            FROM pd GROUP BY g
        """,
        "robust_scale": """
            WITH cuts AS (
                SELECT c_mktsegment,
                       quantile_cont(c_acctbal, 0.5) AS med,
                       quantile_cont(c_acctbal, 0.75)
                           - quantile_cont(c_acctbal, 0.25) AS iqr
                FROM customer WHERE c_acctbal IS NOT NULL
                GROUP BY c_mktsegment
            )
            SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
                   CASE WHEN c.c_acctbal IS NOT NULL AND cuts.iqr > 0
                        THEN round((c.c_acctbal - cuts.med) / cuts.iqr, 6)
                   END AS scaled
            FROM customer c LEFT JOIN cuts USING (c_mktsegment)
        """,
        "bloom_join": """
            -- the bloom prefilter has no false negatives, so the exact
            -- plain-join result IS the oracle
            SELECT p.p_brand,
                   count(*)::BIGINT AS n_rows,
                   round(sum(l.l_extendedprice), 2) AS revenue,
                   sum(l.l_quantity)::DOUBLE AS total_qty
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_size <= 4
            GROUP BY p.p_brand
        """,
        "ab_test": """
            WITH assigned AS (
                SELECT value,
                       CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8)
                                 )::BIGINT % 10000 < 5000
                            THEN 'a' ELSE 'b' END AS arm
                FROM events
            ),
            agg AS (
                SELECT
                    count(CASE WHEN arm = 'a' AND value IS NOT NULL
                               THEN 1 END)::BIGINT AS n_a,
                    avg(CASE WHEN arm = 'a' THEN value END) AS m_a,
                    var_samp(CASE WHEN arm = 'a' THEN value END) AS v_a,
                    count(CASE WHEN arm = 'b' AND value IS NOT NULL
                               THEN 1 END)::BIGINT AS n_b,
                    avg(CASE WHEN arm = 'b' THEN value END) AS m_b,
                    var_samp(CASE WHEN arm = 'b' THEN value END) AS v_b
                FROM assigned
            )
            SELECT n_a, round(m_a, 6) AS mean_a,
                   n_b, round(m_b, 6) AS mean_b,
                   round(m_b - m_a, 6) AS diff,
                   round(CASE WHEN n_a >= 2 AND n_b >= 2
                              AND (v_a > 0 OR v_b > 0)
                         THEN (m_b - m_a) / sqrt(v_a/n_a + v_b/n_b) END, 6)
                       AS welch_t,
                   round(CASE WHEN n_a >= 2 AND n_b >= 2
                              AND (v_a > 0 OR v_b > 0)
                         THEN pow(v_a/n_a + v_b/n_b, 2)
                              / ((v_a/n_a)*(v_a/n_a)/(n_a-1)
                                 + (v_b/n_b)*(v_b/n_b)/(n_b-1)) END, 6)
                       AS welch_dof
            FROM agg
        """,
        "loop_detection": """
            WITH planted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN text || repeat(' spam offer', 5)
                            ELSE text END AS text
                FROM documents
            ),
            w AS (
                SELECT doc_id, string_split(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                ) AS words
                FROM planted
            ),
            base AS (
                SELECT doc_id, words, len(words) AS n
                FROM w WHERE len(words) >= 2
            ),
            cand AS (
                SELECT doc_id, n,
                       list_filter(
                           list_transform(
                               range(1, least(8, n - 1) + 1),
                               p -> struct_pack(
                                   p := p,
                                   l := n - greatest(p, coalesce(list_max(
                                       list_transform(
                                           range(p + 1, n + 1),
                                           i -> CASE WHEN words[i] != words[i-p]
                                                     THEN i ELSE 0 END
                                       )), 0))
                               )
                           ),
                           s -> s.l >= s.p * 2
                       ) AS c
                FROM base
            )
            SELECT doc_id, n::BIGINT AS n_tokens,
                   c[1].p::BIGINT AS loop_period,
                   (c[1].l + c[1].p)::BIGINT AS loop_len,
                   round((c[1].l + c[1].p)::DOUBLE / n, 6) AS loop_frac
            FROM cand
        """,
        "soft_cluster": f"""
            {_IVF_CTE},
            soft AS (
                SELECT vec_id, s,
                       list_transform(
                           s, x -> exp(10.0 * (x - list_max(s)))
                       ) AS e
                FROM sims
            ),
            p AS (
                SELECT vec_id,
                       (list_position(s, list_max(s)) - 1)::INT AS cluster,
                       list_transform(e, x -> x / list_sum(e)) AS probs
                FROM soft
            )
            SELECT vec_id, cluster,
                   round(list_max(probs), 6) AS top_prob,
                   round(-list_sum(list_transform(
                       probs,
                       q -> CASE WHEN q > 0 THEN q * ln(q) ELSE 0 END
                   )), 6) AS entropy
            FROM p
        """,
        "join_size_estimate": """
            WITH lc AS (
                SELECT l_suppkey AS k, count(*)::BIGINT AS nl
                FROM lineitem GROUP BY 1
            ),
            per_key AS (
                SELECT a.k, a.nl * b.nl AS p
                FROM lc a JOIN lc b USING (k)
            ),
            tot AS (SELECT count(*)::BIGINT AS n FROM lineitem)
            SELECT tot.n AS n_left, tot.n AS n_right,
                   (SELECT count(*) FROM per_key)::BIGINT AS n_keys_overlap,
                   (SELECT sum(p) FROM per_key)::BIGINT AS est_output_rows,
                   (SELECT max(p) FROM per_key)::BIGINT AS max_key_output,
                   (SELECT max(struct_pack(p := p, k := k::VARCHAR)).k
                    FROM per_key) AS top_key
            FROM tot
        """,
        "edit_distance_pairs": """
            -- brute force IS the oracle: on this block-homogeneous data
            -- (equal lengths, shared prefix) the blocked join loses nothing
            WITH c AS (
                SELECT c_custkey, lower(trim(c_name)) AS s
                FROM customer WHERE c_custkey <= 300
            )
            SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                   levenshtein(a.s, b.s)::INT AS dist
            FROM c a JOIN c b ON a.c_custkey < b.c_custkey
            WHERE levenshtein(a.s, b.s) <= 2
        """,
        "equiheight_histogram": """
            WITH cuts AS (
                SELECT l_returnflag,
                       quantile_cont(l_extendedprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
                       ) AS c
                FROM lineitem WHERE l_extendedprice IS NOT NULL
                GROUP BY l_returnflag
            )
            SELECT l.l_returnflag,
                   1 + len(list_filter(c.c, x -> l.l_extendedprice > x))
                       AS bin,
                   count(*)::BIGINT AS n,
                   round(min(l.l_extendedprice), 6) AS bin_min,
                   round(max(l.l_extendedprice), 6) AS bin_max
            FROM lineitem l JOIN cuts c USING (l_returnflag)
            WHERE l.l_extendedprice IS NOT NULL
            GROUP BY 1, 2
        """,
        "hilbert_layout": f"""
            WITH s AS (
                SELECT min(l_partkey)::DOUBLE AS plo,
                       max(l_partkey)::DOUBLE AS phi,
                       min(l_suppkey)::DOUBLE AS slo,
                       max(l_suppkey)::DOUBLE AS shi
                FROM lineitem
            ),
            n AS (
                SELECT l_partkey, l_suppkey,
                       least(floor((l_partkey::DOUBLE - plo) / (phi - plo)
                                   * 256)::BIGINT, 255) AS np,
                       least(floor((l_suppkey::DOUBLE - slo) / (shi - slo)
                                   * 256)::BIGINT, 255) AS ns
                FROM lineitem, s
            ),
            {_hilb_ctes}
            SELECT d >> 8 AS bucket,
                   count(*)::BIGINT AS n_rows,
                   min(d)::BIGINT AS h_min, max(d)::BIGINT AS h_max,
                   min(l_partkey)::BIGINT AS part_min,
                   max(l_partkey)::BIGINT AS part_max,
                   min(l_suppkey)::BIGINT AS supp_min,
                   max(l_suppkey)::BIGINT AS supp_max
            FROM h8 GROUP BY bucket
        """,
        "winnowing_fingerprints": """
            WITH norm AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
                FROM documents
            ),
            w AS (SELECT doc_id, string_split(t, ' ') AS words FROM norm),
            b AS (SELECT doc_id, words, len(words) - 3 AS ng FROM w),
            g AS (
                SELECT doc_id,
                       list_transform(
                           range(1, ng + 1),
                           i -> ('0x' || substr(md5(
                                    array_to_string(words[i:i+3], ' ')
                                ), 1, 8))::BIGINT
                       ) AS hs,
                       ng
                FROM b WHERE ng >= 1
            ),
            wins AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(ng - 3, 1) + 1),
                           j -> list_min(hs[j:j+3])
                       )) AS fps
                FROM g
            ),
            fp AS (SELECT doc_id, unnest(fps) AS fp FROM wins)
            SELECT doc_id, count(*)::BIGINT AS n_fps,
                   sum(fp)::BIGINT AS fp_sum,
                   min(fp)::BIGINT AS fp_min,
                   max(fp)::BIGINT AS fp_max
            FROM fp GROUP BY doc_id
        """,
        "weighted_sample": """
            WITH scored AS (
                SELECT source, doc_id, n_chars,
                       ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                           + 1.0) / 4294967296.0) / n_chars AS score
                FROM documents WHERE n_chars > 0
            ),
            ranked AS (
                SELECT source, doc_id, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY score DESC, doc_id ASC
                       ) AS rn
                FROM scored
            )
            SELECT source, doc_id, n_chars FROM ranked WHERE rn <= 20
        """,
        "lexical_diversity": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                )) AS w
                FROM documents
            ),
            nz AS (SELECT doc_id, w FROM toks WHERE w <> ''),
            tf AS (
                SELECT doc_id, w, count(*)::DOUBLE AS tf
                FROM nz GROUP BY doc_id, w
            )
            SELECT doc_id,
                   sum(tf)::BIGINT AS n_tokens,
                   count(*)::BIGINT AS n_types,
                   round(count(*) / sum(tf), 6) AS type_token_ratio,
                   round(ln(sum(tf)) - sum(tf * ln(tf)) / sum(tf), 6)
                       AS word_entropy
            FROM tf GROUP BY doc_id
        """,
        "vocab_divergence": """
            WITH toks AS (
                SELECT source, unnest(string_split(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                )) AS w
                FROM documents
            ),
            nz AS (SELECT source, w FROM toks WHERE w <> ''),
            stf AS (
                SELECT source, w, count(*)::DOUBLE AS sn
                FROM nz GROUP BY source, w
            ),
            ctf AS (SELECT w, sum(sn) AS cn FROM stf GROUP BY w),
            st AS (SELECT source, sum(sn) AS stot FROM stf GROUP BY source),
            ct AS (SELECT sum(cn) AS ctot FROM ctf),
            j AS (
                SELECT stf.source,
                       st.stot,
                       stf.sn / st.stot AS p,
                       ctf.cn / ct.ctot AS q
                FROM stf
                JOIN ctf USING (w)
                JOIN st USING (source), ct
            )
            SELECT source,
                   max(stot)::BIGINT AS n_tokens,
                   round(sum(p * ln(p / q)), 6) AS kl_vs_corpus,
                   round((sum(p * ln(p / ((p + q) / 2)))
                          + sum(q * ln(q / ((p + q) / 2)))
                          + (1.0 - sum(q)) * ln(2.0)) / 2, 6) AS js_vs_corpus
            FROM j GROUP BY source
        """,
        "oov_rate": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(
                    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '
                )) AS w
                FROM documents
            ),
            nz AS (SELECT doc_id, w FROM toks WHERE w <> ''),
            wc AS (
                SELECT w, count(*) AS n FROM nz GROUP BY w
                ORDER BY n DESC, w ASC LIMIT 500
            )
            SELECT doc_id,
                   count(*)::BIGINT AS n_tokens,
                   sum(CASE WHEN wc.w IS NULL THEN 1 ELSE 0 END)::BIGINT
                       AS n_oov,
                   round(sum(CASE WHEN wc.w IS NULL THEN 1.0 ELSE 0 END)
                         / count(*), 6) AS oov_ratio
            FROM nz LEFT JOIN wc USING (w)
            GROUP BY doc_id
        """,
        "quantile_transform": """
            -- NULL values sit OUTSIDE the rank partition (Spark side
            -- splits them off before the window), so rank over the
            -- non-null subset and union the nulls back
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   round(percent_rank() OVER (
                       PARTITION BY c_mktsegment ORDER BY c_acctbal ASC
                   ), 6) AS pct_rank
            FROM customer WHERE c_acctbal IS NOT NULL
            UNION ALL
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   CAST(NULL AS DOUBLE) AS pct_rank
            FROM customer WHERE c_acctbal IS NULL
        """,
        "curie_normalize": f"""
            WITH raw AS (
                SELECT p_partkey,
                       CASE WHEN p_partkey % 7 = 0 THEN 'token' || p_partkey
                            ELSE {prefix_list}[(p_partkey % 5) + 1]
                                 || ':' || p_partkey END AS raw
                FROM part
            )
            SELECT p_partkey, raw,
                   CASE WHEN contains(raw, ':') THEN
                       CASE lower(trim(split_part(raw, ':', 1)))
                           {synonym_cases}
                           ELSE lower(trim(split_part(raw, ':', 1)))
                       END
                   END AS prefix,
                   CASE WHEN contains(raw, ':')
                        THEN regexp_extract(raw, '^[^:]+:(.*)$', 1)
                   END AS identifier
            FROM raw
        """,
        "relation_dispatch": f"""
            WITH rel(psi_mi, relation, variant_kind, variant_ns, variant_id,
                     variant_name, target_dsl, source_modifier, target_modifier)
                 AS (VALUES {rel_values}),
            codes(i, psi_mi) AS (VALUES {code_values}),
            keyed AS (
                SELECT l.l_partkey, c.psi_mi
                FROM lineitem l
                JOIN codes c ON (l.l_orderkey + l.l_partkey) % 8 = c.i
            )
            SELECT coalesce(r.relation, 'unhandled_relation') AS relation,
                   coalesce(r.variant_kind, 'none') AS variant_kind,
                   count(*)::BIGINT AS n,
                   count(DISTINCT k.l_partkey)::BIGINT AS n_parts
            FROM keyed k LEFT JOIN rel r USING (psi_mi)
            GROUP BY 1, 2
        """,
        "pagerank": _pagerank_sql(),
        "k_core": _k_core_sql(),
        "timeline_features": _TIMELINE_SQL,
        "obo_scan": """
            SELECT * FROM (VALUES
                ('GO:0002', 'is_a', 'GO:0001', 'beta process', 'alpha process'),
                ('GO:0003', 'part_of', 'GO:0001', 'gamma part', 'alpha process')
            ) t(child, relation, parent, child_name, parent_name)
        """,
        # SPARQL algebra replayed independently: required BGP = inner
        # joins on s; filtered OPTIONAL = left join against the
        # PRE-filtered optional side (group-local FILTER), outer FILTER
        # last — over the same fixture triples as VALUES rows
        "sparql_optional_filter": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/name', 'alpha'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/name', 'beta'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e3', 'http://ex.org/name', 'gamma'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/name', 'delta'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400')
            ), base AS (
                SELECT a.s AS e, b.o AS n
                FROM t a JOIN t b ON a.s = b.s
                WHERE a.p = 'http://ex.org/type' AND a.o = 'gene'
                  AND b.p = 'http://ex.org/name'
            ), opt AS (
                SELECT s AS e, o AS x FROM t
                WHERE p = 'http://ex.org/xref' AND o LIKE 'chebi:%'
            )
            SELECT base.e, base.n, opt.x
            FROM base LEFT JOIN opt USING (e)
            WHERE base.n != 'zeta'
        """,
        # UNION algebra replay: branch 1 = filtered xref pairs (?x bound),
        # branch 2 = pathway-typed entities (?x unbound -> NULL), then the
        # name pattern joins on e
        "sparql_union": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/name', 'alpha'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/name', 'beta'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e3', 'http://ex.org/name', 'gamma'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/name', 'delta'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400')
            ), u AS (
                SELECT s AS e, o AS x FROM t
                WHERE p = 'http://ex.org/xref' AND o LIKE 'chebi:%'
                UNION ALL
                SELECT s AS e, CAST(NULL AS VARCHAR) AS x FROM t
                WHERE p = 'http://ex.org/type' AND o = 'pathway'
            )
            SELECT u.e, n.o AS n, u.x
            FROM u JOIN t n ON n.s = u.e AND n.p = 'http://ex.org/name'
        """,
        "rdf_reactions": """
            SELECT * FROM (VALUES
                ('http://rdf.rhea-db.org/10001', 'A + B = C', '10001'),
                ('http://rdf.rhea-db.org/10005', 'D = E', '10005')
            ) t(reaction, equation, rhea_id)
        """,
        "cx_pivot": """
            SELECT * FROM (VALUES
                (1::BIGINT, 'TP53', 'protein', 'p53', CAST(NULL AS VARCHAR)),
                (2::BIGINT, 'complex X', 'complex', CAST(NULL AS VARCHAR), 'TP53')
            ) t(po, name, type, alias, member)
        """,
        "kg_union_dedup": """
            WITH e1 AS (
                SELECT 'customer' AS source_ns, c_custkey::VARCHAR AS source_id,
                       'memberOf' AS relation, 'nation' AS target_ns,
                       c_nationkey::VARCHAR AS target_id, 'pubmed:1' AS citation
                FROM customer
            ), e_recited AS (
                SELECT 'customer', c_custkey::VARCHAR, 'memberOf', 'nation',
                       c_nationkey::VARCHAR, 'pubmed:2'
                FROM customer WHERE c_custkey % 10 = 0
            ), e_sup AS (
                SELECT 'supplier', s_suppkey::VARCHAR, 'memberOf', 'nation',
                       s_nationkey::VARCHAR, 'pubmed:1'
                FROM supplier
            ), allx AS (
                SELECT * FROM e1 UNION ALL SELECT * FROM e1
                UNION ALL SELECT * FROM e_recited UNION ALL SELECT * FROM e_sup
            ), ded AS (SELECT DISTINCT * FROM allx),
            k AS (
                SELECT source_ns,
                       sha256(source_ns || '|' || source_id || '|' || relation
                              || '|' || target_ns || '|' || target_id || '|'
                              || citation || '|') AS key
                FROM ded
            )
            SELECT source_ns, count(*)::BIGINT AS n_edges,
                   md5(string_agg(key, chr(10) ORDER BY key)) AS keys_digest
            FROM k GROUP BY source_ns
        """,
        "indra_statements": """
            SELECT 'Complex' AS stmt_type, 'customer' AS subj_db,
                   c_custkey::VARCHAR AS subj_id, 'nation' AS obj_db,
                   c_nationkey::VARCHAR AS obj_id, 'pubmed:1' AS pmid
            FROM customer
            UNION ALL
            SELECT 'Activation', 'supplier', s_suppkey::VARCHAR, 'nation',
                   s_nationkey::VARCHAR, 'pubmed:2'
            FROM supplier
        """,
        "kg_triples": """
            SELECT 'customer:' || c_custkey AS h, 'memberOf' AS r,
                   'nation:' || c_nationkey AS t
            FROM customer
            UNION ALL
            SELECT 'supplier:' || s_suppkey AS h, 'memberOf' AS r,
                   'nation:' || s_nationkey AS t
            FROM supplier
        """,
        "kg_edge_list": """
            WITH nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT 'customer:' || c_custkey AS node FROM customer
                    UNION ALL SELECT 'supplier:' || s_suppkey FROM supplier
                    UNION ALL SELECT 'nation:' || c_nationkey FROM customer
                    UNION ALL SELECT 'nation:' || s_nationkey FROM supplier
                )
            ), idx AS (
                SELECT node, (ROW_NUMBER() OVER (ORDER BY node) - 1)::BIGINT AS node_id
                FROM nodes
            ), el AS (
                SELECT 'customer:' || c_custkey AS src, 'nation:' || c_nationkey AS dst
                FROM customer
                UNION ALL
                SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey FROM supplier
            )
            SELECT si.node_id AS source_id, ti.node_id AS target_id
            FROM el JOIN idx si ON el.src = si.node JOIN idx ti ON el.dst = ti.node
        """,
        "kg_components": """
            SELECT COUNT(DISTINCT n)::BIGINT AS n_components FROM (
                SELECT c_nationkey AS n FROM customer
                UNION SELECT s_nationkey FROM supplier
            )
        """,
        "kg_summary": """
            WITH nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT 'customer:' || c_custkey AS node FROM customer
                    UNION ALL SELECT 'supplier:' || s_suppkey FROM supplier
                    UNION ALL SELECT 'nation:' || c_nationkey FROM customer
                    UNION ALL SELECT 'nation:' || s_nationkey FROM supplier
                )
            ), n AS (SELECT count(*)::BIGINT AS n_nodes FROM nodes),
            e AS (
                SELECT ((SELECT count(*) FROM customer)
                      + (SELECT count(*) FROM supplier))::BIGINT AS n_edges
            )
            SELECT n_nodes, n_edges,
                   round(n_edges::DOUBLE / (n_nodes * (n_nodes - 1)), 6) AS density
            FROM n, e
        """,
        "kg_pathway_edges": """
            SELECT DISTINCT 'hgnc' AS source_ns, l_partkey::VARCHAR AS source_id,
                   'partOf' AS relation, 'orders' AS target_ns,
                   l_orderkey::VARCHAR AS target_id
            FROM lineitem
        """,
        "kg_descendants": """
            SELECT 'r0' AS node
            UNION ALL
            SELECT 'n' || n_nationkey FROM nation WHERE n_regionkey = 0
            UNION ALL
            SELECT 'c' || c_custkey FROM customer
            JOIN nation ON c_nationkey = n_nationkey WHERE n_regionkey = 0
        """,
        "pathway_enrichment": f"""
            WITH pairs AS (
                SELECT l_orderkey AS o_orderkey, l_partkey AS p_partkey, p_name
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ), agg AS (
                SELECT o_orderkey,
                       COUNT(DISTINCT p_partkey) FILTER (WHERE p_name IN {_SEED_SQL})
                           AS mapped_proteins,
                       COUNT(DISTINCT p_partkey) AS pathway_size,
                       array_to_string(list_sort(
                           list(DISTINCT p_name) FILTER (WHERE p_name IN {_SEED_SQL})
                       ), ',') AS gene_set
                FROM pairs GROUP BY o_orderkey
            )
            SELECT a.o_orderkey, o.o_orderpriority AS pathway_name,
                   a.mapped_proteins, a.pathway_size, a.gene_set
            FROM agg a JOIN orders o ON a.o_orderkey = o.o_orderkey
            WHERE a.mapped_proteins > 0
        """,
        "pathway_size_distribution": """
            SELECT l_orderkey AS o_orderkey,
                   COUNT(DISTINCT l_partkey) AS pathway_size
            FROM lineitem GROUP BY l_orderkey HAVING COUNT(DISTINCT l_partkey) > 0
        """,
        "gene_pathway_counts": """
            SELECT p_name, COUNT(DISTINCT l_orderkey) AS n_pathways
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name IS NOT NULL
            GROUP BY p_name HAVING COUNT(DISTINCT l_orderkey) > 0
        """,
        "pathway_to_symbols": """
            SELECT l_orderkey AS o_orderkey,
                   array_to_string(list_sort(list(DISTINCT p_name)), ',') AS symbols
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name IS NOT NULL
            GROUP BY l_orderkey
        """,
        "substring_search": """
            SELECT * FROM part WHERE lower(p_name) LIKE '%widget%'
        """,
        "in_set_lookup": f"""
            SELECT * FROM part WHERE p_name IN {_SEED_SQL}
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   ROUND(AVG(l_discount), 6) AS avg_disc,
                   COUNT(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_by_region": """
            SELECT r_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*)::BIGINT AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, event_type,
                   floor(epoch(ts))::BIGINT AS ts_epoch
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "upsert_anti": """
            SELECT p_partkey, p_name FROM part
            WHERE p_partkey < 150
              AND p_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey < 100)
        """,
        "distinct_segments": """
            SELECT DISTINCT c_mktsegment FROM customer
        """,
        "nation_segments": """
            SELECT n_name,
                   array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
                       AS segments
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "content_hash": """
            SELECT md5(string_agg(kv, '|' ORDER BY kv)) AS content_hash
            FROM (SELECT p_partkey || ':' || p_name AS kv FROM part)
        """,
        "content_hash_tree": """
            WITH kv AS (SELECT p_partkey || ':' || p_name AS kv FROM part),
            bk AS (
                SELECT kv, ('0x' || substr(md5(kv), 1, 8))::BIGINT % 64 AS b
                FROM kv
            ),
            per AS (
                SELECT b, md5(string_agg(kv, chr(10) ORDER BY kv)) AS h
                FROM bk GROUP BY b
            )
            SELECT md5(string_agg(h, chr(10) ORDER BY b)) AS content_hash FROM per
        """,
        "events_hourly": """
            SELECT epoch(date_trunc('hour', ts))::BIGINT AS hour_epoch,
                   event_type,
                   COUNT(*)::BIGINT AS n_events,
                   ROUND(SUM(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "json_props": """
            SELECT event_id, (props::JSON ->> 'k')::BIGINT AS k
            FROM events WHERE (props::JSON ->> 'k')::BIGINT > 50
        """,
        "word_counts": """
            SELECT word, COUNT(*)::BIGINT AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            WHERE word <> '' GROUP BY word
        """,
        "first_prefixed_token": """
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x LIKE 's%')[1]
                       AS first_s_token
            FROM documents
        """,
        # LSH banding (16 hashes / 8 bands) has empirically-complete recall at
        # Jaccard ≥ 0.5 on this corpus (verified vs the exact inverted index
        # at sf0.001/0.01/0.1), so the exact pairs are its oracle too.
        "dedup_lsh_verified": _EXACT_JACCARD_SQL,
        "dedup_lsh_fast": _EXACT_JACCARD_SQL,
        "dedup_fuzzy_clusters": _FUZZY_CLUSTER_SQL,
        "validate_lineitem": """
            WITH t AS (
                SELECT count(*)::BIGINT AS total,
                       sum((l_orderkey IS NULL)::BIGINT)::BIGINT AS v0,
                       sum((l_quantity IS NOT NULL AND NOT
                            (l_quantity >= 1 AND l_quantity <= 50))::BIGINT)::BIGINT AS v1,
                       sum((l_discount IS NOT NULL AND NOT
                            (l_discount >= 0.0 AND l_discount <= 0.05))::BIGINT)::BIGINT AS v2,
                       sum((l_returnflag IS NOT NULL AND
                            l_returnflag NOT IN ('A', 'N', 'R'))::BIGINT)::BIGINT AS v3,
                       sum((l_linestatus IS NOT NULL AND NOT
                            regexp_matches(l_linestatus, '^[OF]$'))::BIGINT)::BIGINT AS v4,
                       (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT AS v5
                FROM lineitem
            )
            SELECT * FROM (
                SELECT 'not_null' AS constraint, 'l_orderkey' AS target,
                       v0 AS violations, total, v0 = 0 AS passed FROM t
                UNION ALL
                SELECT 'range', 'l_quantity', v1, total, v1 = 0 FROM t
                UNION ALL
                SELECT 'range', 'l_discount', v2, total, v2 = 0 FROM t
                UNION ALL
                SELECT 'in_set', 'l_returnflag', v3, total, v3 = 0 FROM t
                UNION ALL
                SELECT 'regex', 'l_linestatus', v4, total, v4 = 0 FROM t
                UNION ALL
                SELECT 'unique', 'l_orderkey,l_linenumber', v5, total, v5 = 0 FROM t
            )
        """,
        "corpus_report": f"""
            WITH aug AS ({_AUG_SQL}),
            r AS (
                SELECT doc_id,
                       CASE WHEN text IS NULL THEN 0
                            ELSE len(list_filter(
                                regexp_split_to_array(lower(trim(text)), '\\s+'),
                                t -> t <> '')) END AS nt,
                       CASE WHEN text IS NULL THEN NULL
                            ELSE {_H32_SQL.format(x=_NORM_SQL)} END AS h
                FROM aug
            )
            SELECT count(*)::BIGINT AS n_docs,
                   sum((nt = 0)::BIGINT)::BIGINT AS n_empty,
                   sum((nt > 0 AND nt < 20)::BIGINT)::BIGINT AS n_short,
                   sum(nt)::BIGINT AS n_tokens,
                   round(avg(nt), 4) AS avg_tokens,
                   count(DISTINCT h)::BIGINT AS distinct_texts,
                   round(1.0 - count(DISTINCT h)::DOUBLE
                         / sum((h IS NOT NULL)::BIGINT), 6) AS exact_dup_rate
            FROM r
        """,
        # DSIR replay: hashed unigram+bigram buckets (portable md5 % 512),
        # add-1 bag-of-words models on the en slice (p) vs all docs (q),
        # per-doc sum of bucket log-ratios
        "dsir_weights": "WITH " + _dsir_ctes() + r"""
            SELECT d.doc_id,
                   coalesce(per.n_grams, 0)::BIGINT AS n_grams,
                   round(per.lw, 6) AS log_weight
            FROM documents d LEFT JOIN per USING (doc_id)
        """,
        # solution-modifier replay: project -> DISTINCT -> ORDER -> LIMIT
        "sparql_topk": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/name', 'alpha'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/name', 'beta'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e3', 'http://ex.org/name', 'gamma'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/name', 'delta'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400')
            )
            SELECT DISTINCT ty.s AS e, n.o AS n
            FROM t ty JOIN t n ON n.s = ty.s AND n.p = 'http://ex.org/name'
            WHERE ty.p = 'http://ex.org/type' AND ty.o = 'gene'
            ORDER BY n DESC, e LIMIT 3
        """,
        # VALUES replay: join the pattern rows against the literal binding
        # table (UNDEF row -> NULL tag)
        "sparql_values": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/name', 'alpha'),
                ('http://ex.org/e1', 'http://ex.org/partOf', 'http://ex.org/e4'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e2', 'http://ex.org/name', 'beta'),
                ('http://ex.org/e2', 'http://ex.org/partOf', 'http://ex.org/e5'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/name', 'gamma'),
                ('http://ex.org/e3', 'http://ex.org/partOf', 'http://ex.org/e6'),
                ('http://ex.org/e4', 'http://ex.org/name', 'delta'),
                ('http://ex.org/e5', 'http://ex.org/name', 'epsilon')
            ), v(x, tag) AS (VALUES
                ('chebi:100', 'curated'),
                ('uniprot:200', CAST(NULL AS VARCHAR)),
                ('chebi:999', 'missing')
            )
            SELECT n.s AS e, n.o AS n, x.o AS x, v.tag
            FROM t n
            JOIN t x ON x.s = n.s AND x.p = 'http://ex.org/xref'
            JOIN v ON v.x = x.o
            WHERE n.p = 'http://ex.org/name'
        """,
        # NOT EXISTS replay: genes without an xref triple
        "sparql_not_exists": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/name', 'alpha'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/name', 'beta'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e3', 'http://ex.org/name', 'gamma'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/name', 'delta'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400')
            )
            SELECT ty.s AS e, n.o AS n
            FROM t ty JOIN t n ON n.s = ty.s AND n.p = 'http://ex.org/name'
            WHERE ty.p = 'http://ex.org/type' AND ty.o = 'gene'
              AND NOT EXISTS (
                  SELECT 1 FROM t x
                  WHERE x.s = ty.s AND x.p = 'http://ex.org/xref'
              )
        """,
        # one-or-more path replay: WITH RECURSIVE closure over the under
        # chain, then both name hops
        "sparql_path_plus": """
            WITH RECURSIVE t(s, p, o) AS (
                SELECT * FROM (VALUES
                    ('http://ex.org/n1', 'http://ex.org/under', 'http://ex.org/n2'),
                    ('http://ex.org/n2', 'http://ex.org/under', 'http://ex.org/n3'),
                    ('http://ex.org/n3', 'http://ex.org/under', 'http://ex.org/n4'),
                    ('http://ex.org/z1', 'http://ex.org/under', 'http://ex.org/z2'),
                    ('http://ex.org/n1', 'http://ex.org/name', 'one'),
                    ('http://ex.org/n2', 'http://ex.org/name', 'two'),
                    ('http://ex.org/n3', 'http://ex.org/name', 'three'),
                    ('http://ex.org/n4', 'http://ex.org/name', 'four')
                ) v(s, p, o)
            ), hop AS (
                SELECT s, o FROM t WHERE p = 'http://ex.org/under'
            ), closure(s, o) AS (
                SELECT s, o FROM hop
                UNION
                SELECT c.s, h.o FROM closure c JOIN hop h ON h.s = c.o
            )
            SELECT n.o AS n, rn.o AS rn
            FROM closure c
            JOIN t n ON n.s = c.s AND n.p = 'http://ex.org/name'
            JOIN t rn ON rn.s = c.o AND rn.p = 'http://ex.org/name'
        """,
        # zero-or-more path replay: the p+ recursive closure UNION'd with
        # the identity relation over every graph term (zero-length path)
        "sparql_path_star": """
            WITH RECURSIVE t(s, p, o) AS (
                SELECT * FROM (VALUES
                    ('http://ex.org/n1', 'http://ex.org/under', 'http://ex.org/n2'),
                    ('http://ex.org/n2', 'http://ex.org/under', 'http://ex.org/n3'),
                    ('http://ex.org/n3', 'http://ex.org/under', 'http://ex.org/n4'),
                    ('http://ex.org/z1', 'http://ex.org/under', 'http://ex.org/z2'),
                    ('http://ex.org/n1', 'http://ex.org/name', 'one'),
                    ('http://ex.org/n2', 'http://ex.org/name', 'two'),
                    ('http://ex.org/n3', 'http://ex.org/name', 'three'),
                    ('http://ex.org/n4', 'http://ex.org/name', 'four')
                ) v(s, p, o)
            ), hop AS (
                SELECT s, o FROM t WHERE p = 'http://ex.org/under'
            ), closure(s, o) AS (
                SELECT s, o FROM hop
                UNION
                SELECT c.s, h.o FROM closure c JOIN hop h ON h.s = c.o
            ), star(s, o) AS (
                SELECT s, o FROM closure
                UNION
                SELECT term, term FROM (
                    SELECT s AS term FROM t UNION SELECT o FROM t
                )
            )
            SELECT n.o AS n, rn.o AS rn
            FROM star c
            JOIN t n ON n.s = c.s AND n.p = 'http://ex.org/name'
            JOIN t rn ON rn.s = c.o AND rn.p = 'http://ex.org/name'
        """,
        # grouped-aggregate replay: left join for the OPTIONAL, then
        # COUNT(*) / COUNT(col) / COUNT(DISTINCT col) per type
        "sparql_group_count": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:101'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400'),
                ('http://ex.org/e5', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e6', 'http://ex.org/type', 'anatomy')
            ), base AS (
                SELECT ty.s AS e, ty.o AS t, x.o AS x
                FROM t ty
                LEFT JOIN t x
                  ON x.s = ty.s AND x.p = 'http://ex.org/xref'
                WHERE ty.p = 'http://ex.org/type'
            )
            SELECT t, count(*)::BIGINT AS n_rows, count(x)::BIGINT AS n_x,
                   count(DISTINCT e)::BIGINT AS n_e
            FROM base GROUP BY t ORDER BY t
        """,
        # negated-property-set replay: NOT-IN predicate scan + name hop
        "sparql_negated_path": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/name', 'alpha'),
                ('http://ex.org/e1', 'http://ex.org/partOf', 'http://ex.org/e4'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e2', 'http://ex.org/name', 'beta'),
                ('http://ex.org/e2', 'http://ex.org/partOf', 'http://ex.org/e5'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/name', 'gamma'),
                ('http://ex.org/e3', 'http://ex.org/partOf', 'http://ex.org/e6'),
                ('http://ex.org/e4', 'http://ex.org/name', 'delta'),
                ('http://ex.org/e5', 'http://ex.org/name', 'epsilon')
            )
            SELECT hop.s AS e, n.o AS pn
            FROM t hop
            JOIN t n ON n.s = hop.o AND n.p = 'http://ex.org/name'
            WHERE hop.p NOT IN ('http://ex.org/name', 'http://ex.org/xref')
        """,
        # CONSTRUCT replay: union of per-template-triple SELECTs over the
        # same solutions (OPTIONAL miss -> no ref triple), DISTINCT
        "sparql_construct_graph": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:101'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400'),
                ('http://ex.org/e5', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e6', 'http://ex.org/type', 'anatomy')
            ), sol AS (
                SELECT ty.s AS e, ty.o AS t, x.o AS x
                FROM t ty
                LEFT JOIN t x
                  ON x.s = ty.s AND x.p = 'http://ex.org/xref'
                WHERE ty.p = 'http://ex.org/type'
            )
            SELECT DISTINCT * FROM (
                SELECT e AS s, 'http://ex.org/kind' AS p, t AS o FROM sol
                UNION ALL
                SELECT e, 'http://ex.org/ref', x FROM sol WHERE x IS NOT NULL
            )
        """,
        # computed-GROUP-BY-key + OFFSET paging replay
        "sparql_modifiers": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:101'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400'),
                ('http://ex.org/e5', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e6', 'http://ex.org/type', 'anatomy')
            )
            SELECT upper(ty.o) AS k, count(ty.s)::BIGINT AS n
            FROM t ty WHERE ty.p = 'http://ex.org/type'
            GROUP BY upper(ty.o) ORDER BY k LIMIT 2 OFFSET 1
        """,
        # ASK replay: SQL EXISTS over the same fixture
        "sparql_ask_probe": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:101'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400'),
                ('http://ex.org/e5', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e6', 'http://ex.org/type', 'anatomy')
            )
            SELECT 'gene_with_xref' AS probe,
                   EXISTS (SELECT 1 FROM t ty JOIN t x ON x.s = ty.s
                           AND x.p = 'http://ex.org/xref'
                           WHERE ty.p = 'http://ex.org/type'
                             AND ty.o = 'gene') AS ask
            UNION ALL
            SELECT 'unobtainium',
                   EXISTS (SELECT 1 FROM t ty
                           WHERE ty.p = 'http://ex.org/type'
                             AND ty.o = 'unobtainium')
        """,
        # BIND replay: the value functions as SQL string expressions
        "sparql_bind": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:101'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400'),
                ('http://ex.org/e5', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e6', 'http://ex.org/type', 'anatomy')
            )
            SELECT ty.s AS e, ty.o AS t,
                   upper(ty.o) || '/' || substr(ty.s, 15) AS label,
                   regexp_replace(ty.o, 'way$', '', 'g') AS short
            FROM t ty
            WHERE ty.p = 'http://ex.org/type' AND length(ty.o) > 4
        """,
        # GROUP_CONCAT replay: sorted-order string_agg over the xref
        # fan-out (the planner sorts before joining — deterministic)
        "sparql_group_concat": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:101'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400'),
                ('http://ex.org/e5', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e6', 'http://ex.org/type', 'anatomy')
            )
            SELECT ty.o AS t,
                   string_agg(DISTINCT x.o, '|' ORDER BY x.o) AS xs,
                   count(x.o)::BIGINT AS n
            FROM t ty
            JOIN t x ON x.s = ty.s AND x.p = 'http://ex.org/xref'
            WHERE ty.p = 'http://ex.org/type'
            GROUP BY ty.o ORDER BY t
        """,
        # HAVING replay: grouped distinct count filtered on the alias AND
        # a direct MIN() aggregate constraint
        "sparql_group_having": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:101'),
                ('http://ex.org/e2', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/type', 'gene'),
                ('http://ex.org/e4', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e4', 'http://ex.org/xref', 'chebi:400'),
                ('http://ex.org/e5', 'http://ex.org/type', 'pathway'),
                ('http://ex.org/e6', 'http://ex.org/type', 'anatomy')
            )
            SELECT ty.o AS t, count(DISTINCT ty.s)::BIGINT AS n
            FROM t ty
            JOIN t x ON x.s = ty.s AND x.p = 'http://ex.org/xref'
            WHERE ty.p = 'http://ex.org/type'
            GROUP BY ty.o
            HAVING count(DISTINCT ty.s) > 1
               AND min(x.o) LIKE 'chebi:%'
            ORDER BY t
        """,
        # property-path replay: two-hop join through the container entity
        "sparql_path": """
            WITH t(s, p, o) AS (VALUES
                ('http://ex.org/e1', 'http://ex.org/name', 'alpha'),
                ('http://ex.org/e1', 'http://ex.org/partOf', 'http://ex.org/e4'),
                ('http://ex.org/e1', 'http://ex.org/xref', 'chebi:100'),
                ('http://ex.org/e2', 'http://ex.org/name', 'beta'),
                ('http://ex.org/e2', 'http://ex.org/partOf', 'http://ex.org/e5'),
                ('http://ex.org/e2', 'http://ex.org/xref', 'uniprot:200'),
                ('http://ex.org/e3', 'http://ex.org/name', 'gamma'),
                ('http://ex.org/e3', 'http://ex.org/partOf', 'http://ex.org/e6'),
                ('http://ex.org/e4', 'http://ex.org/name', 'delta'),
                ('http://ex.org/e5', 'http://ex.org/name', 'epsilon')
            )
            SELECT n.s AS e, n.o AS n, pn.o AS pn
            FROM t n
            JOIN t po ON po.s = n.s AND po.p = 'http://ex.org/partOf'
            JOIN t pn ON pn.s = po.o AND pn.p = 'http://ex.org/name'
            WHERE n.p = 'http://ex.org/name'
        """,
        # maintainer twin: counter summing is batch-order-invariant, so the
        # one-pass fit scores the sub-100 docs identically
        "dsir_maintenance": "WITH " + _dsir_ctes() + r"""
            SELECT d.doc_id,
                   coalesce(per.n_grams, 0)::BIGINT AS n_grams,
                   round(per.lw, 6) AS log_weight
            FROM documents d LEFT JOIN per USING (doc_id)
            WHERE d.doc_id < 100
        """,
        # selection step: rounded log-weight + deterministic Gumbel from the
        # portable hash of (doc_id, seed 0), top-40 by perturbed key
        "dsir_select": "WITH " + _dsir_ctes() + _dsir_select_tail(),
        # gated selection chain: gate survivors -> DSIR fit over the
        # surviving corpus -> Gumbel top-40 (same tail as dsir_select)
        "selection_pipeline": (
            "WITH " + _GATE_CTES
            + """, kept AS (
                SELECT doc_id FROM gate WHERE len(reasons) = 0
            ), kdocs AS (
                SELECT d.* FROM documents d JOIN kept USING (doc_id)
            ), """
            + _dsir_ctes("kdocs")
            + _dsir_select_tail("kdocs")
        ),
        # ...and the same chain feeding the concat-then-chunk packer: the
        # selected docs lay out per source ordered by doc_id, pack_id =
        # floor(cumulative-chars-before / 2048)
        "selection_pipeline_packed": (
            "WITH " + _GATE_CTES
            + """, kept AS (
                SELECT doc_id FROM gate WHERE len(reasons) = 0
            ), kdocs AS (
                SELECT d.* FROM documents d JOIN kept USING (doc_id)
            ), """
            + _dsir_ctes("kdocs")
            + _dsir_select_cte("kdocs")
            + """,
            packed AS (
                SELECT s.doc_id, s.log_weight, s.gumbel_key,
                       d.source, d.n_chars,
                       coalesce(sum(d.n_chars) OVER (
                           PARTITION BY d.source ORDER BY d.doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cb
                FROM sel s JOIN documents d USING (doc_id)
            )
            SELECT doc_id, log_weight, gumbel_key, source,
                   n_chars::BIGINT AS n_chars,
                   floor(cb / 2048)::BIGINT AS pack_id
            FROM packed
        """
        ),
        # ...and the tokenizer-aware variant: pack budget = cumulative BPE
        # subword tokens of the selected docs (merges learned corpus-wide)
        "selection_pipeline_tokens": _selection_tokens_sql(6, 256),
        "lm_perplexity": "WITH " + _LM_PPL_CTES + r"""
            SELECT doc.doc_id,
                   coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams,
                   round(per.a, 6) AS avg_bits,
                   round(pow(2.0, per.a), 3) AS perplexity
            FROM documents doc LEFT JOIN per ON doc.doc_id = per.doc_id
        """,
        "perplexity_buckets": _PPL_BUCKETS_ORACLE,
        # maintainer twin: the accumulated histogram state re-derives the
        # identical thresholds, so the one-pass replay is the truth
        "perplexity_maintenance": _PPL_BUCKETS_ORACLE,
        "dedup_quality_survivor": f"""
            WITH RECURSIVE {_JACCARD_CTES},
            edges AS (
                SELECT id_a AS a, id_b AS b FROM vpairs
                UNION
                SELECT id_b AS a, id_a AS b FROM vpairs
            ),
            reach(node, label) AS (
                SELECT a AS node, a AS label FROM edges
                UNION
                SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node
            ),
            comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
            labeled AS (
                SELECT d.doc_id,
                       coalesce(c.component, d.doc_id) AS cluster,
                       length(d.text) AS score
                FROM aug d LEFT JOIN comp c ON d.doc_id = c.node
            )
            SELECT doc_id, cluster,
                   (row_number() OVER (
                        PARTITION BY cluster
                        ORDER BY score DESC NULLS LAST, doc_id
                    ) = 1) AS keep
            FROM labeled
        """,
        "fuzzy_join": _FUZZY_JOIN_SQL,
        "decontaminate": f"""
            WITH hits AS ({_FUZZY_JOIN_SQL})
            SELECT source, count(*)::BIGINT AS n_clean
            FROM documents
            WHERE doc_id NOT IN (SELECT lid FROM hits)
            GROUP BY 1
        """,
        "ngram_jaccard_pairs": _EXACT_JACCARD_SQL,
        "dup_span_profile": f"""
            WITH {_SPAN_CTES},
            cov AS (
                SELECT doc_id, pos,
                       greatest(0, pos + 8 - greatest(pos, coalesce(
                           max(pos + 8) OVER (
                               PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                           ), pos))) AS c
                FROM spdup
            ),
            agg AS (
                SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
                       sum(c)::BIGINT AS dup_tokens
                FROM cov GROUP BY doc_id
            )
            SELECT b.doc_id, b.n_tokens, b.n_spans,
                   coalesce(a.n_dup_spans, 0)::BIGINT AS n_dup_spans,
                   coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens,
                   round(coalesce(a.dup_tokens, 0)::DOUBLE / b.n_tokens, 6)
                       AS dup_token_frac
            FROM spbase b LEFT JOIN agg a USING (doc_id)
        """,
        "dup_span_scrub": f"""
            WITH {_SPAN_CTES},
            covw AS (
                SELECT DISTINCT doc_id, pos + u.i AS widx
                FROM spdup, unnest(range(0, 8)) AS u(i)
            ),
            wordsx AS (
                SELECT doc_id, unnest(words) AS word,
                       unnest(range(len(words))) AS widx
                FROM spw
            ),
            keptx AS (
                SELECT w2.doc_id, w2.widx, w2.word
                FROM wordsx w2 LEFT JOIN covw c
                  ON w2.doc_id = c.doc_id AND w2.widx = c.widx
                WHERE c.doc_id IS NULL
            ),
            rebuilt AS (
                SELECT doc_id,
                       array_to_string(list(word ORDER BY widx), ' ') AS text,
                       count(*)::BIGINT AS n_kept
                FROM keptx GROUP BY doc_id
            )
            SELECT b.doc_id, coalesce(r.text, '') AS text,
                   coalesce(r.n_kept, 0)::BIGINT AS n_kept,
                   (b.n_tokens - coalesce(r.n_kept, 0))::BIGINT AS n_dropped
            FROM spbase b LEFT JOIN rebuilt r USING (doc_id)
        """,
        "dedup_exact": f"""
            WITH aug AS ({_AUG_SQL}),
            norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM aug)
            SELECT min(doc_id) AS keep_id, count(*)::BIGINT AS n_copies,
                   array_to_string(list_sort(list(doc_id)), ',') AS all_ids
            FROM norm GROUP BY t HAVING count(*) > 1
        """,
        "dedup_drop_exact": f"""
            WITH aug AS ({_AUG_SQL}),
            norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM aug)
            SELECT min(doc_id) AS doc_id FROM norm GROUP BY t
        """,
        "minhash_signatures": f"""
            WITH norm AS (
                SELECT doc_id, {_NORM_SQL} AS t FROM documents
            ), w AS (
                SELECT doc_id, t, string_split(t, ' ') AS words FROM norm
            ), sh AS (
                SELECT doc_id,
                       CASE WHEN t IS NULL THEN NULL
                            WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(words[i:i+2], ' '))
                            ELSE [t] END AS shingles
                FROM w
            ), hs AS (
                SELECT doc_id,
                       list_distinct(list_transform(shingles,
                           s -> {_H32_SQL.format(x='s')})) AS hashes
                FROM sh
            )
            SELECT doc_id,
                   array_to_string(
                   CASE WHEN hashes IS NULL THEN NULL ELSE
                   list_transform(range(0, 16), i -> list_min(
                       list_transform(hashes,
                           h -> ((2*i + 1) * h + i*i + i + 41) % 2147483647)
                   )) END, ',') AS sig
            FROM hs
        """,
        "simhash_docs": f"""
            WITH norm AS (
                SELECT doc_id, {_NORM_SQL} AS t FROM documents
            ), hs AS (
                SELECT doc_id,
                       list_transform(string_split(t, ' '),
                           s -> {_H32_SQL.format(x='s')}) AS hashes
                FROM norm
            )
            SELECT doc_id,
                   list_sum(list_transform(range(0, 32), j ->
                       CASE WHEN list_sum(list_transform(hashes, h ->
                                CASE WHEN floor(h / 2^j)::BIGINT % 2 = 1
                                     THEN 1 ELSE -1 END)) > 0
                            THEN (2^j)::BIGINT ELSE 0 END
                   ))::BIGINT AS fp
            FROM hs
        """,
        "line_dedup": f"""
            WITH {_LINE_DEDUP_CTES}
            SELECT m.doc_id,
                   coalesce(r.clean, '') AS text,
                   coalesce(r.n_kept, 0)::BIGINT AS n_kept,
                   (len(string_split(m.text, chr(10))) - coalesce(r.n_kept, 0))::BIGINT
                       AS n_dropped
            FROM ml m LEFT JOIN reb r USING (doc_id)
        """,
        "training_pipeline": f"""
            WITH {_LINE_DEDUP_CTES},
            cleaned AS (
                SELECT m.doc_id, coalesce(r.clean, '') AS text
                FROM ml m LEFT JOIN reb r USING (doc_id)
            ), quality AS (
                SELECT * FROM (
                    SELECT doc_id, text,
                           len(list_filter(
                               regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x <> ''))::BIGINT AS n_tokens
                    FROM cleaned
                ) WHERE n_tokens >= 5
            ), surv AS (
                SELECT min(doc_id) AS doc_id
                FROM quality
                GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
            ), final AS (
                SELECT q.doc_id, q.n_tokens FROM quality q JOIN surv s USING (doc_id)
            )
            SELECT doc_id, u.i AS chunk_idx, u.i * 40 AS chunk_start,
                   greatest(least(40, n_tokens - u.i * 40), 0) AS chunk_tokens
            FROM final,
                 unnest(range(0, greatest(ceil(n_tokens / 40.0)::BIGINT, 1)))
                 AS u(i)
        """,
        # composite gate replay: all rule comparisons on the 6dp-rounded
        # signals, reasons in fixed rule order, keep = no violations
        "quality_gate": "WITH " + _GATE_CTES + """
            SELECT doc_id,
                   coalesce(array_to_string(reasons, ','), '') AS reasons,
                   len(reasons) = 0 AS keep
            FROM gate
        """,
        "repetition_metrics": """
            WITH arrs AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  x -> trim(x)),
                                   x -> x <> '') AS lines,
                       string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')),
                                    ' ') AS words
                FROM documents
            ), g AS (
                SELECT doc_id, lines, words,
                       CASE WHEN len(words) >= 2
                            THEN list_transform(range(1, len(words)),
                                 i -> words[i] || ' ' || words[i + 1])
                            ELSE [] END AS grams2
                FROM arrs
            )
            SELECT doc_id,
                   CASE WHEN len(lines) <= 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(lines))::DOUBLE
                                   / len(lines), 6) END AS dup_line_frac,
                   CASE WHEN len(words) <= 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(words))::DOUBLE
                                   / len(words), 6) END AS dup_word_frac,
                   CASE WHEN len(grams2) <= 0 THEN 0.0
                        ELSE round(1.0 - len(list_distinct(grams2))::DOUBLE
                                   / len(grams2), 6) END AS dup_2gram_frac
            FROM g
        """,
        "top_word_fraction": """
            WITH w AS (
                SELECT doc_id, unnest(
                    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')
                ) AS word
                FROM documents
            ), nz AS (
                SELECT doc_id, word FROM w WHERE word <> ''
            ), counts AS (
                SELECT doc_id, word, count(*)::BIGINT AS n
                FROM nz GROUP BY doc_id, word
            ), best AS (
                SELECT doc_id, word AS top_word, n,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY n DESC, word DESC) AS rn
                FROM counts
            ), totals AS (
                SELECT doc_id, count(*)::BIGINT AS total FROM nz GROUP BY doc_id
            )
            SELECT b.doc_id, b.top_word,
                   round(b.n::DOUBLE / t.total, 6) AS top_word_frac
            FROM best b JOIN totals t USING (doc_id) WHERE b.rn = 1
        """,
        "pii_scrub": """
            WITH planted AS (
                SELECT doc_id,
                       text || CASE
                           WHEN doc_id % 3 = 0 THEN ' contact user' ||
                                doc_id::VARCHAR || '@example.com'
                           WHEN doc_id % 3 = 1 THEN ' from 10.0.0.' ||
                                (doc_id % 250)::VARCHAR
                           ELSE ' call +1 555 867 5309' END AS text
                FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::INT
                       AS n_email,
                   len(regexp_extract_all(text,
                       '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b'))::INT AS n_ipv4,
                   len(regexp_extract_all(text,
                       '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}'))::INT
                       AS n_phone,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IPV4>', 'g'),
                       '\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}',
                       '<PHONE>', 'g') AS redacted
            FROM planted
        """,
        "text_quality": """
            WITH base AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   x -> x <> '') AS toks,
                       length(text) AS n_chars
                FROM documents
            ), feat AS (
                SELECT doc_id, n_chars, len(toks) AS n_tok,
                       CASE WHEN len(toks) > 0
                            THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                                 / len(toks)
                            ELSE 0.0 END AS mwl,
                       CASE WHEN n_chars > 0
                            THEN len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                                 / n_chars
                            ELSE 0.0 END AS pr,
                       CASE WHEN len(toks) > 0
                            THEN len(list_filter(toks, x -> x IN
                                ('the','and','of','to','in','is','that','for','with','was')
                                ))::DOUBLE / len(toks)
                            ELSE 0.0 END AS sr
                FROM base
            )
            SELECT doc_id, n_chars::BIGINT AS n_chars, n_tok::BIGINT AS n_tokens,
                   round(mwl, 6) AS mean_word_len,
                   round(pr, 6) AS punct_ratio,
                   round(sr, 6) AS stopword_ratio,
                   round((CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.3 ELSE 0.0 END)
                       + (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END)
                       + (CASE WHEN sr >= 0.01 THEN 0.1 ELSE 0.0 END), 2)
                       AS quality_score
            FROM feat
        """,
        "deterministic_shuffle": """
            SELECT doc_id,
                   (row_number() OVER (
                        ORDER BY md5('42|' || doc_id::VARCHAR)
                                 || '|' || doc_id::VARCHAR) - 1)::BIGINT AS seq
            FROM documents
        """,
        "forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*)::BIGINT AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.02 AND 0.06
              AND l_quantity < 24
        """,
        "quality_topk": """
            WITH base AS (
                SELECT doc_id, source, text,
                       list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   x -> x <> '') AS toks,
                       length(text) AS n_chars
                FROM documents
            ), feat AS (
                SELECT doc_id, source, n_chars, len(toks) AS n_tok,
                       CASE WHEN len(toks) > 0
                            THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                                 / len(toks)
                            ELSE 0.0 END AS mwl,
                       CASE WHEN n_chars > 0
                            THEN len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE
                                 / n_chars
                            ELSE 0.0 END AS pr,
                       CASE WHEN len(toks) > 0
                            THEN len(list_filter(toks, x -> x IN
                                ('the','and','of','to','in','is','that','for','with','was')
                                ))::DOUBLE / len(toks)
                            ELSE 0.0 END AS sr
                FROM base
            ), q AS (
                SELECT doc_id, source,
                       round((CASE WHEN n_tok BETWEEN 5 AND 100000 THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.3 ELSE 0.0 END)
                       + (CASE WHEN pr <= 0.2 THEN 0.2 ELSE 0.0 END)
                       + (CASE WHEN sr >= 0.01 THEN 0.1 ELSE 0.0 END), 2)
                       AS quality_score
                FROM feat
            ), r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY source
                    ORDER BY quality_score DESC, doc_id ASC) AS rn
                FROM q
            )
            SELECT source, doc_id, quality_score FROM r WHERE rn <= 3
        """,
        "language_confusion": """
            WITH t AS (
                SELECT lang,
                       list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), s AS (
                SELECT lang,
                       len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) AS s_en,
                       len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','los','del','se','las'))) AS s_es,
                       len(list_filter(toks, x -> x IN ('le','la','de','et','les','des','en','un','du','une'))) AS s_fr,
                       len(list_filter(toks, x -> x IN ('der','die','und','das','von','zu','mit','den','ist','im'))) AS s_de
                FROM t
            ), d AS (
                SELECT lang, greatest(s_en, s_es, s_fr, s_de) AS best,
                       s_en, s_es, s_fr, s_de
                FROM s
            )
            SELECT lang,
                   CASE WHEN s_en = best AND best >= 1 THEN 'en'
                        WHEN s_es = best AND best >= 1 THEN 'es'
                        WHEN s_fr = best AND best >= 1 THEN 'fr'
                        WHEN s_de = best AND best >= 1 THEN 'de'
                        ELSE 'und' END AS detected,
                   count(*)::BIGINT AS n
            FROM d GROUP BY 1, 2
        """,
        "token_stats": """
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   x -> x <> ''))::BIGINT AS ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))::BIGINT AS bpe_tokens
            FROM documents
        """,
        "doc_fingerprints": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM documents
            ), h AS (
                SELECT doc_id,
                       list_transform(toks, s -> {_H32_SQL.format(x='s')}) AS hashes
                FROM t
            )
            SELECT doc_id,
                   list_reduce(list_prepend(0::BIGINT, hashes),
                       (a, x) -> (a * 31 + x) % 9007199254740881) AS fp
            FROM h
        """,
        # recall@10 replay: exact vs dequantized top-10 for query vec 0,
        # both ordered by rounded cosine with vec_id tiebreak
        "quantized_recall": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings
            ), q AS (
                SELECT v AS q FROM v WHERE vec_id = 0
            ), ex AS (
                SELECT vec_id FROM v, q
                ORDER BY round(list_dot_product(v, q)
                               / (sqrt(list_dot_product(v, v))
                                  * sqrt(list_dot_product(q, q))), 6) DESC,
                         vec_id
                LIMIT 10
            ), d AS (
                SELECT vec_id,
                       CASE WHEN s > 0
                            THEN list_transform(
                                v, x -> round(x / s * 127, 0) * s / 127)
                            ELSE list_transform(v, x -> 0.0) END AS deq
                FROM (SELECT vec_id, v,
                             list_max(list_transform(v, x -> abs(x))) AS s
                      FROM v)
            ), qt AS (
                SELECT vec_id FROM d, q
                ORDER BY round(list_dot_product(deq, q)
                               / (sqrt(list_dot_product(deq, deq))
                                  * sqrt(list_dot_product(q, q))), 6) DESC,
                         vec_id
                LIMIT 10
            )
            SELECT 10::BIGINT AS k,
                   count(*)::BIGINT AS n_overlap,
                   round(count(*) / 10.0, 6) AS recall
            FROM ex JOIN qt USING (vec_id)
        """,
        # int8 quantization replay: max-abs/127 symmetric rounding, then
        # cosine(original, dequantized) and max component error
        "embedding_quantize": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings
            ), s AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS scale
                FROM v
            ), d AS (
                SELECT vec_id, v, scale,
                       CASE WHEN scale > 0
                            THEN list_transform(
                                v, x -> round(x / scale * 127, 0)
                                        * scale / 127)
                            ELSE list_transform(v, x -> 0.0) END AS deq
                FROM s
            )
            SELECT vec_id,
                   round(scale, 6) AS scale,
                   CASE WHEN scale > 0 THEN round(
                       list_dot_product(v, deq)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(deq, deq))), 6)
                   END AS cos_q,
                   round(list_max(list_transform(
                       range(1, len(v) + 1),
                       i -> abs(v[i] - deq[i]))), 6) AS max_abs_err
            FROM d
        """,
        "cosine_topk": """
            WITH q AS (
                SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id,
                   round(list_dot_product(embedding::DOUBLE[], (SELECT e FROM q))
                       / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                          * sqrt(list_dot_product((SELECT e FROM q), (SELECT e FROM q)))),
                       6) AS cos_sim
            FROM embeddings
            ORDER BY cos_sim DESC, vec_id
            LIMIT 10
        """,
        "embedding_near_pairs_exact": f"""
            WITH e AS ({_EMB_AUG_SQL})
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
        """,
        "ivf_topk": f"""
            {_IVF_CTE}
            , q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
            , probe AS (
                SELECT cidx FROM c CROSS JOIN q
                ORDER BY list_dot_product(cv, qv)
                         / (sqrt(list_dot_product(cv, cv))
                            * sqrt(list_dot_product(qv, qv))) DESC, cidx
                LIMIT 2
            )
            SELECT a.vec_id,
                   round(list_dot_product(a.v, qv)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(qv, qv))), 6) AS cos_sim
            FROM assigned a CROSS JOIN q
            WHERE a.cluster IN (SELECT cidx FROM probe)
            ORDER BY cos_sim DESC, a.vec_id
            LIMIT 10
        """,
        "embedding_near_pairs_ivf": f"""
            {_ivf_cte(_EMB_AUG_SQL)}
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
            FROM assigned a JOIN assigned b USING (cluster)
            WHERE a.vec_id < b.vec_id
              AND round(list_dot_product(a.v, b.v)
                      / (sqrt(list_dot_product(a.v, a.v))
                         * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.9
        """,
        "embedding_near_pairs_probe2": f"""
            {_ivf_cte(_EMB_AUG_SQL, k=16)},
            {_EMB_PAIR_CTES}
            SELECT id_a, id_b, cos_sim FROM vp
        """,
        "embedding_dedup": f"""
            {_ivf_cte(_EMB_AUG_SQL, k=16, recursive=True)},
            {_EMB_PAIR_CTES},
            sym AS (
                SELECT id_a AS a, id_b AS b FROM vp
                UNION
                SELECT id_b AS a, id_a AS b FROM vp
            ),
            reach(node, label) AS (
                SELECT a AS node, a AS label FROM sym
                UNION
                SELECT s.b AS node, r.label
                FROM reach r JOIN sym s ON s.a = r.node
            ),
            comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
            SELECT e.vec_id,
                   coalesce(c.component, e.vec_id) AS cluster,
                   coalesce(c.component, e.vec_id) = e.vec_id AS keep
            FROM e LEFT JOIN comp c ON e.vec_id = c.node
        """,
        "kmeans_assign": _kmeans_sql(),
        "knn_join": f"""
            {_ivf_cte()},
            qprobe AS (
                SELECT vec_id + 500000 AS query_id, (u.i - 1)::INT AS cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s[u.i] DESC, u.i ASC) AS rk
                FROM sims, unnest(range(1, len(s) + 1)) AS u(i)
                WHERE vec_id < 25
            ),
            probes AS (SELECT query_id, cluster FROM qprobe WHERE rk <= 2),
            qv AS (
                SELECT vec_id + 500000 AS query_id, v FROM e WHERE vec_id < 25
            ),
            cand AS (
                SELECT p.query_id, a.vec_id,
                       round(list_dot_product(q.v, a.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(a.v, a.v))), 6) AS cos_sim
                FROM probes p
                JOIN assigned a USING (cluster)
                JOIN qv q ON q.query_id = p.query_id
            ),
            rankd AS (
                SELECT query_id, vec_id, cos_sim,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC, vec_id ASC)
                           AS knn_rank
                FROM cand
            )
            SELECT query_id, vec_id, cos_sim, knn_rank
            FROM rankd WHERE knn_rank <= 5
        """,
        "media_frame_sample": """
            SELECT doc_id, unnest(range(0, n_chars % 30 + 1, 5)) AS frame_index
            FROM documents
        """,
        "media_resize_plan": """
            WITH m AS (
                SELECT doc_id, (n_chars % 640 + 32)::INT AS w,
                       (n_chars % 480 + 32)::INT AS h
                FROM documents
            ), s AS (
                SELECT doc_id, w, h, least(256.0 / w, 256.0 / h, 1.0) AS sc FROM m
            )
            SELECT doc_id, w AS width, h AS height,
                   round(w * sc)::INT AS target_width,
                   round(h * sc)::INT AS target_height
            FROM s
        """,
        # REAL wav decode replayed arithmetically: the generator is a
        # deterministic truncated-PCM16 sine (multimodal._wav_bytes), so the
        # decoded waveform is trunc(amp*sin(2*pi*freq*t/sr)*32767)/32768 —
        # bit-exact between numpy and DuckDB sin over the full 224-combo
        # (freq, amp) parameter grid (verified; same libm in this container).
        # zcr mean and peak are exact in float; rms/4dp absorbs summation-
        # order differences (numpy pairwise vs sequential).
        "audio_features": """
            WITH params AS (
                SELECT doc_id,
                       110.0 + (doc_id % 32)::DOUBLE * 55.0 AS freq,
                       0.1::DOUBLE + (doc_id % 7)::DOUBLE * 0.1::DOUBLE AS amp
                FROM documents
            ), samples AS (
                SELECT p.doc_id, t.t,
                       trunc(least(greatest(
                           p.amp * sin(2.0*pi()*p.freq*t.t/8000.0),
                           -1.0), 1.0) * 32767.0) / 32768.0 AS x
                FROM params p, (SELECT unnest(range(2000)) AS t) t
            ), sb AS (
                SELECT doc_id, t, x,
                       CASE WHEN x < 0 THEN 1 ELSE 0 END AS s,
                       lag(CASE WHEN x < 0 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY t) AS sp
                FROM samples
            )
            SELECT doc_id, 'audio' AS kind,
                   round(2000.0/8000.0, 4) AS duration_sec,
                   round(sqrt(avg(x*x)), 4) AS rms,
                   round(avg(abs(s - sp)), 4) AS zcr,
                   round(max(abs(x)), 4) AS peak
            FROM sb GROUP BY doc_id
        """,
        # REAL PPM decode replayed arithmetically: the generator rasters are
        # modular integer gradients (r=(x*k1)%256, g=(y*k2)%256,
        # b=(x+y+id)%256) and _nn_resize gathers integer indices
        # (i*src//dst), so the whole decode->resize->stats pipeline replays
        # as an integer grid expansion; float-only steps (scale, luma
        # weights) use the identical IEEE expression trees and 4dp rounding
        # absorbs aggregation-order differences.
        # PNG twin: the compressed round trip is lossless and the pixel
        # grid equals the PPM generator's, so the identical integer-grid
        # replay hash-checks the zlib inflate + unfilter decode
        "png_features": """
            WITH m AS (
                SELECT doc_id,
                       (n_chars % 640 + 32)::INT AS w,
                       (n_chars % 480 + 32)::INT AS h
                FROM documents WHERE doc_id % 10 = 0
            ), s AS (
                SELECT doc_id, w, h, least(64.0 / w, 64.0 / h, 1.0) AS sc
                FROM m
            ), tt AS (
                SELECT doc_id, w, h,
                       floor(w * sc + 0.5)::INT AS tw,
                       floor(h * sc + 0.5)::INT AS th
                FROM s
            ), px AS (
                -- range() cannot lateral-correlate on tw/th; targets are
                -- always <= max_side=64, so cross a fixed 64x64 grid and
                -- filter to the per-image target extent
                SELECT doc_id, w, h, tw, th,
                       (xi.i * w) // tw AS sx,
                       (yi.i * h) // th AS sy
                FROM tt, range(64) xi(i), range(64) yi(i)
                WHERE xi.i < tw AND yi.i < th
            ), ch AS (
                SELECT doc_id, w, h, tw, th,
                       ((sx * (doc_id % 7 + 1)) % 256)::DOUBLE AS r,
                       ((sy * (doc_id % 5 + 1)) % 256)::DOUBLE AS g,
                       ((sx + sy + doc_id) % 256)::DOUBLE AS b
                FROM px
            )
            SELECT doc_id, w AS width, h AS height,
                   tw AS target_width, th AS target_height,
                   round(avg(r), 4) AS mean_r,
                   round(avg(g), 4) AS mean_g,
                   round(avg(b), 4) AS mean_b,
                   round(stddev_pop(0.299::DOUBLE * r + 0.587::DOUBLE * g
                                    + 0.114::DOUBLE * b), 4) AS std_luma
            FROM ch GROUP BY doc_id, w, h, tw, th
        """,
        "image_features": """
            WITH m AS (
                SELECT doc_id,
                       (n_chars % 640 + 32)::INT AS w,
                       (n_chars % 480 + 32)::INT AS h
                FROM documents WHERE doc_id % 10 = 0
            ), s AS (
                SELECT doc_id, w, h, least(64.0 / w, 64.0 / h, 1.0) AS sc
                FROM m
            ), tt AS (
                SELECT doc_id, w, h,
                       floor(w * sc + 0.5)::INT AS tw,
                       floor(h * sc + 0.5)::INT AS th
                FROM s
            ), px AS (
                -- range() cannot lateral-correlate on tw/th; targets are
                -- always <= max_side=64, so cross a fixed 64x64 grid and
                -- filter to the per-image target extent
                SELECT doc_id, w, h, tw, th,
                       (xi.i * w) // tw AS sx,
                       (yi.i * h) // th AS sy
                FROM tt, range(64) xi(i), range(64) yi(i)
                WHERE xi.i < tw AND yi.i < th
            ), ch AS (
                SELECT doc_id, w, h, tw, th,
                       ((sx * (doc_id % 7 + 1)) % 256)::DOUBLE AS r,
                       ((sy * (doc_id % 5 + 1)) % 256)::DOUBLE AS g,
                       ((sx + sy + doc_id) % 256)::DOUBLE AS b
                FROM px
            )
            SELECT doc_id, w AS width, h AS height,
                   tw AS target_width, th AS target_height,
                   round(avg(r), 4) AS mean_r,
                   round(avg(g), 4) AS mean_g,
                   round(avg(b), 4) AS mean_b,
                   round(stddev_pop(0.299::DOUBLE * r + 0.587::DOUBLE * g
                                    + 0.114::DOUBLE * b), 4) AS std_luma
            FROM ch GROUP BY doc_id, w, h, tw, th
        """,
        # the aHash replay: luma at the 64 NN-sampled grid points of the
        # modular-gradient raster, strict-> mean threshold, bits packed
        # two's-complement via HUGEINT, brute-force hamming pairs via
        # bit_count(xor) (60 images -> 1.7k pairs; the Spark side's banded
        # join is a recall optimization with identical output). numpy-vs-
        # DuckDB bit parity verified over sf0.01 AND sf0.1 corpora.
        # PNG twin of the aHash pairs (lossless round trip = identical
        # fingerprints)
        "png_phash_pairs": """
            WITH m AS (
                SELECT doc_id,
                       (n_chars % 640 + 32)::INT AS w,
                       (n_chars % 480 + 32)::INT AS h
                FROM documents WHERE doc_id % 10 = 0
            ), grid AS (
                SELECT doc_id, w, h, yi.i AS gy, xi.i AS gx,
                       (xi.i * w) // 8 AS sx, (yi.i * h) // 8 AS sy
                FROM m, range(8) xi(i), range(8) yi(i)
            ), px AS (
                SELECT doc_id, gy, gx,
                       0.299::DOUBLE * ((sx * (doc_id % 7 + 1)) % 256)
                     + 0.587::DOUBLE * ((sy * (doc_id % 5 + 1)) % 256)
                     + 0.114::DOUBLE * ((sx + sy + doc_id) % 256) AS luma
                FROM grid
            ), mn AS (
                SELECT doc_id, avg(luma) AS mu FROM px GROUP BY doc_id
            ), bits AS (
                SELECT p.doc_id, gy * 8 + gx AS pos,
                       CASE WHEN p.luma > mn.mu THEN 1 ELSE 0 END AS bit
                FROM px p JOIN mn USING (doc_id)
            ), packed AS (
                SELECT doc_id,
                       sum(bit::HUGEINT * (1::HUGEINT << (63 - pos))) AS v
                FROM bits GROUP BY doc_id
            ), ph AS (
                SELECT doc_id,
                       (CASE WHEN v >= 9223372036854775808::HUGEINT
                             THEN v - 18446744073709551616::HUGEINT
                             ELSE v END)::BIGINT AS phash
                FROM packed
            ), allph AS (
                SELECT doc_id, phash FROM ph
                UNION ALL
                -- perceptual twins: regenerated under id+1e6 from the SAME
                -- source pixels, so the twin's hash IS the base hash
                SELECT doc_id + 1000000, phash FROM ph WHERE doc_id % 50 = 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.phash, b.phash)) AS hamming
            FROM allph a JOIN allph b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 7
        """,
        "image_phash_pairs": """
            WITH m AS (
                SELECT doc_id,
                       (n_chars % 640 + 32)::INT AS w,
                       (n_chars % 480 + 32)::INT AS h
                FROM documents WHERE doc_id % 10 = 0
            ), grid AS (
                SELECT doc_id, w, h, yi.i AS gy, xi.i AS gx,
                       (xi.i * w) // 8 AS sx, (yi.i * h) // 8 AS sy
                FROM m, range(8) xi(i), range(8) yi(i)
            ), px AS (
                SELECT doc_id, gy, gx,
                       0.299::DOUBLE * ((sx * (doc_id % 7 + 1)) % 256)
                     + 0.587::DOUBLE * ((sy * (doc_id % 5 + 1)) % 256)
                     + 0.114::DOUBLE * ((sx + sy + doc_id) % 256) AS luma
                FROM grid
            ), mn AS (
                SELECT doc_id, avg(luma) AS mu FROM px GROUP BY doc_id
            ), bits AS (
                SELECT p.doc_id, gy * 8 + gx AS pos,
                       CASE WHEN p.luma > mn.mu THEN 1 ELSE 0 END AS bit
                FROM px p JOIN mn USING (doc_id)
            ), packed AS (
                SELECT doc_id,
                       sum(bit::HUGEINT * (1::HUGEINT << (63 - pos))) AS v
                FROM bits GROUP BY doc_id
            ), ph AS (
                SELECT doc_id,
                       (CASE WHEN v >= 9223372036854775808::HUGEINT
                             THEN v - 18446744073709551616::HUGEINT
                             ELSE v END)::BIGINT AS phash
                FROM packed
            ), allph AS (
                SELECT doc_id, phash FROM ph
                UNION ALL
                -- perceptual twins: regenerated under id+1e6 from the SAME
                -- source pixels, so the twin's hash IS the base hash
                SELECT doc_id + 1000000, phash FROM ph WHERE doc_id % 50 = 0
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.phash, b.phash)) AS hamming
            FROM allph a JOIN allph b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.phash, b.phash)) <= 7
        """,
        # the Y4M replay: frame f's luma plane is a modular integer
        # gradient, so sampled-frame stats replay as a grid expansion; mean
        # is an EXACT integer-sum ratio (identical double both engines),
        # std via sqrt(E[x^2]-E[x]^2) (exact integer sums) matches numpy's
        # deviation-form std within the 6dp canon (parity verified at
        # sf0.01 AND sf0.1 — 15k rows hash-equal)
        "video_features": """
            WITH m AS (
                SELECT doc_id,
                       (n_chars % 32 + 16)::INT AS w,
                       (n_chars % 24 + 16)::INT AS h,
                       (n_chars % 8 + 2)::INT AS nf
                FROM documents
            ), fr AS (
                SELECT doc_id, w, h, f.i AS frame_index
                FROM m, range(10) f(i)
                WHERE f.i < nf AND f.i % 2 = 0
            ), px AS (
                SELECT doc_id, frame_index,
                       ((x.i * (doc_id % 7 + 1) + y.i * (frame_index + 1)
                         + doc_id + frame_index) % 256)::DOUBLE AS v
                FROM fr, range(48) x(i), range(40) y(i)
                WHERE x.i < w AND y.i < h
            )
            SELECT doc_id, frame_index,
                   round(avg(v), 6) AS mean_luma,
                   round(sqrt(avg(v*v) - avg(v)*avg(v)), 6) AS std_luma,
                   min(v)::INT AS min_luma,
                   max(v)::INT AS max_luma
            FROM px GROUP BY doc_id, frame_index
        """,
        "media_features": """
            SELECT doc_id,
                   array_to_string(list_transform(range(0, 8), i ->
                       ('0x' || substr(sha256(text), 4*i + 1, 4))::BIGINT), ',')
                       AS features
            FROM documents
        """,
        "event_sessions": """
            WITH m AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM m
            )
            SELECT user_id, floor(epoch(min(ts)))::BIGINT AS session_start,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 2) AS total_value
            FROM s GROUP BY user_id, sid
        """,
        "asof_join": """
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'
            ), pur AS (
                SELECT user_id, ts, max(event_id) AS p_event_id,
                       max(value) AS p_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            )
            SELECT c.user_id, epoch_us(c.ts) AS t_us, c.event_id,
                   p.p_event_id, round(p.p_value, 6) AS p_value
            FROM clicks c ASOF LEFT JOIN pur p
                 ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "asof_join_forward": """
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'
            ), pur AS (
                SELECT user_id, ts, max(event_id) AS p_event_id,
                       max(value) AS p_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            )
            SELECT c.user_id, epoch_us(c.ts) AS t_us, c.event_id,
                   p.p_event_id, round(p.p_value, 6) AS p_value
            FROM clicks c ASOF LEFT JOIN pur p
                 ON c.user_id = p.user_id AND c.ts <= p.ts
        """,
        "asof_join_tolerance": """
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'
            ), pur AS (
                SELECT user_id, ts, max(event_id) AS p_event_id,
                       max(value) AS p_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            ), j AS (
                SELECT c.user_id, c.ts, c.event_id, p.ts AS p_ts,
                       p.p_event_id, p.p_value
                FROM clicks c ASOF LEFT JOIN pur p
                     ON c.user_id = p.user_id AND c.ts >= p.ts
            )
            SELECT user_id, epoch_us(ts) AS t_us, event_id,
                   CASE WHEN epoch_us(ts) - epoch_us(p_ts) <= 1800000000
                        THEN p_event_id END AS p_event_id,
                   CASE WHEN epoch_us(ts) - epoch_us(p_ts) <= 1800000000
                        THEN round(p_value, 6) END AS p_value
            FROM j
        """,
        "quantile_sketch": """
            WITH s AS (
                SELECT ('0x' || substr(md5(l_orderkey::VARCHAR || ':'
                           || l_linenumber::VARCHAR), 1, 8))::BIGINT AS h,
                       l_extendedprice::DOUBLE AS v
                FROM lineitem
            ), samp AS (SELECT h, v FROM s ORDER BY h, v LIMIT 1024),
            q AS (
                SELECT quantile_cont(v, [0.25, 0.5, 0.75, 0.9, 0.99]) AS qs
                FROM samp
            )
            SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]) AS p,
                   round(unnest(qs), 6) AS q
            FROM q
        """,
        "quantile_sketch_grouped": """
            WITH s AS (
                SELECT l_returnflag,
                       ('0x' || substr(md5(l_orderkey::VARCHAR || ':'
                           || l_linenumber::VARCHAR), 1, 8))::BIGINT AS h,
                       l_extendedprice::DOUBLE AS v
                FROM lineitem
            ), rn AS (
                SELECT l_returnflag, h, v,
                       row_number() OVER (PARTITION BY l_returnflag
                                          ORDER BY h, v) AS rn
                FROM s
            ), samp AS (SELECT l_returnflag, v FROM rn WHERE rn <= 256),
            q AS (
                SELECT l_returnflag,
                       quantile_cont(v, [0.5, 0.9, 0.99]) AS qs
                FROM samp GROUP BY l_returnflag
            )
            SELECT l_returnflag, unnest([0.5, 0.9, 0.99]) AS p,
                   round(unnest(qs), 6) AS q
            FROM q
        """,
        "winsorized_stats": """
            WITH cuts AS (
                SELECT event_type,
                       quantile_cont(value, 0.05) AS lo,
                       quantile_cont(value, 0.95) AS hi
                FROM events WHERE value IS NOT NULL GROUP BY 1
            )
            SELECT e.event_type,
                   count(*)::BIGINT AS n,
                   sum((e.value < c.lo)::BIGINT)::BIGINT AS n_clipped_low,
                   sum((e.value > c.hi)::BIGINT)::BIGINT AS n_clipped_high,
                   round(min(c.lo), 6) AS p_lo,
                   round(min(c.hi), 6) AS p_hi,
                   round(avg(least(greatest(e.value, c.lo), c.hi)), 6)
                       AS mean_winsorized
            FROM events e JOIN cuts c USING (event_type)
            WHERE e.value IS NOT NULL
            GROUP BY e.event_type
        """,
        "event_pivot": """
            SELECT user_id,
                   coalesce(round(sum(value) FILTER (event_type = 'click'), 2), 0) AS click,
                   coalesce(round(sum(value) FILTER (event_type = 'error'), 2), 0) AS error,
                   coalesce(round(sum(value) FILTER (event_type = 'purchase'), 2), 0) AS purchase,
                   coalesce(round(sum(value) FILTER (event_type = 'signup'), 2), 0) AS signup,
                   coalesce(round(sum(value) FILTER (event_type = 'view'), 2), 0) AS view
            FROM events GROUP BY user_id
        """,
        "negative_samples": """
            WITH enum AS (
                SELECT doc_id,
                       (row_number() OVER (
                            ORDER BY md5('7|' || doc_id::VARCHAR)
                                     || '|' || doc_id::VARCHAR) - 1)::BIGINT AS r
                FROM documents
            ), nn AS (SELECT count(*)::BIGINT AS n FROM enum),
            fanned AS (
                SELECT e.doc_id, u.j,
                       (e.r + (u.j * nn.n) // 3) % nn.n AS nr
                FROM enum e, nn, unnest([1, 2]) AS u(j)
            )
            SELECT f.doc_id, f.j::INT AS j, e2.doc_id AS neg_id
            FROM fanned f JOIN enum e2 ON e2.r = f.nr
        """,
        "hard_negative_samples": f"""
            {_ivf_cte()},
            ranked AS (
                SELECT vec_id, cluster,
                       (row_number() OVER (
                            PARTITION BY cluster
                            ORDER BY md5('11|' || vec_id::VARCHAR)
                                     || '|' || vec_id::VARCHAR) - 1)::BIGINT AS r
                FROM assigned
            ),
            sizes AS (
                SELECT cluster, count(*)::BIGINT AS nc FROM ranked GROUP BY 1
            ),
            fanned AS (
                SELECT DISTINCT rk.vec_id, rk.cluster,
                       (rk.r + (u.j * s.nc) // 3) % s.nc AS nr
                FROM ranked rk JOIN sizes s USING (cluster),
                     unnest([1, 2]) AS u(j)
                WHERE (rk.r + (u.j * s.nc) // 3) % s.nc <> rk.r
            )
            SELECT f.vec_id, f.cluster, n.vec_id AS neg_id
            FROM fanned f JOIN ranked n
              ON n.cluster = f.cluster AND n.r = f.nr
        """,
        "value_histogram": """
            SELECT event_type,
                   CASE WHEN value < 0 THEN 0
                        WHEN value >= 100 THEN 21
                        ELSE floor(value / 5.0)::BIGINT + 1 END AS bin,
                   round((CASE WHEN value < 0 THEN 0
                               WHEN value >= 100 THEN 21
                               ELSE floor(value / 5.0)::BIGINT + 1 END - 1)
                         * 5.0, 6) AS bin_lo,
                   round(CASE WHEN value < 0 THEN 0
                              WHEN value >= 100 THEN 21
                              ELSE floor(value / 5.0)::BIGINT + 1 END
                         * 5.0, 6) AS bin_hi,
                   count(*)::BIGINT AS n
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2, 3, 4
        """,
        "decayed_sum": """
            SELECT user_id,
                   round(sum(value * pow(0.5,
                       (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                        - epoch_us(ts)) / 1000000.0 / 86400.0)), 6)
                       AS decayed_sum,
                   round(sum(pow(0.5,
                       (epoch_us(TIMESTAMP '2024-02-01 00:00:00')
                        - epoch_us(ts)) / 1000000.0 / 86400.0)), 6)
                       AS decayed_count
            FROM events
            WHERE ts IS NOT NULL AND ts <= TIMESTAMP '2024-02-01 00:00:00'
            GROUP BY user_id
        """,
        "label_consistency": f"""
            {_ivf_cte()},
            qprobe AS (
                SELECT vec_id AS query_id, (u.i - 1)::INT AS cluster,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s[u.i] DESC, u.i ASC) AS rk
                FROM sims, unnest(range(1, len(s) + 1)) AS u(i)
            ),
            probes AS (SELECT query_id, cluster FROM qprobe WHERE rk <= 2),
            qv AS (SELECT vec_id AS query_id, v FROM e),
            cand AS (
                SELECT p.query_id, a.vec_id,
                       round(list_dot_product(q.v, a.v)
                           / (sqrt(list_dot_product(q.v, q.v))
                              * sqrt(list_dot_product(a.v, a.v))), 6) AS cos_sim
                FROM probes p
                JOIN assigned a USING (cluster)
                JOIN qv q ON q.query_id = p.query_id
            ),
            rankd AS (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC, vec_id ASC)
                           AS knn_rank
                FROM cand
            ),
            nn AS (
                SELECT query_id, vec_id FROM rankd
                WHERE knn_rank <= 5 AND vec_id <> query_id
            ),
            lab AS (SELECT vec_id, label FROM embeddings)
            SELECT n.query_id AS vec_id, la.label,
                   count(*)::BIGINT AS n_neighbors,
                   sum((lb.label = la.label)::BIGINT)::BIGINT AS n_same_label,
                   round(avg((lb.label = la.label)::INT), 6) AS consistency
            FROM nn n
            JOIN lab lb ON lb.vec_id = n.vec_id
            JOIN lab la ON la.vec_id = n.query_id
            GROUP BY 1, 2
        """,
        "funnel_counts": """
            WITH s1 AS (
                SELECT user_id, min(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY 1
            ), s2 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                                     AND e.ts >= s1.t
                WHERE e.event_type = 'click' GROUP BY 1
            ), s3 AS (
                SELECT e.user_id, min(e.ts) AS t
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                                     AND e.ts >= s2.t
                WHERE e.event_type = 'purchase' GROUP BY 1
            )
            SELECT 1 AS step_idx, 'view' AS step,
                   (SELECT count(*) FROM s1)::BIGINT AS n_users
            UNION ALL
            SELECT 2, 'click', (SELECT count(*) FROM s2)::BIGINT
            UNION ALL
            SELECT 3, 'purchase', (SELECT count(*) FROM s3)::BIGINT
        """,
        "retention_matrix": """
            WITH fw AS (
                SELECT user_id, min(date_trunc('week', ts)) AS cohort
                FROM events GROUP BY 1
            ), active AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
                FROM events
            )
            SELECT epoch(cohort)::BIGINT AS cohort_week,
                   ((epoch(wk) - epoch(cohort)) // 604800)::BIGINT
                       AS week_offset,
                   count(*)::BIGINT AS n_users
            FROM active JOIN fw USING (user_id)
            GROUP BY 1, 2
        """,
        "scd2_apply": """
            WITH cur AS (
                SELECT c_custkey, c_mktsegment,
                       TIMESTAMP '2024-01-01 00:00:00' AS vf
                FROM customer
            ), upd AS (
                SELECT c_custkey, 'PROMO-NEW' AS seg FROM customer
                WHERE c_custkey % 10 = 0
                UNION ALL
                SELECT c_custkey + 900000, 'FRESH' FROM customer
                WHERE c_custkey % 13 = 0
            ), j AS (
                SELECT cur.c_custkey AS ck, cur.c_mktsegment, cur.vf,
                       upd.c_custkey AS uk, upd.seg
                FROM cur FULL OUTER JOIN upd ON cur.c_custkey = upd.c_custkey
            )
            SELECT ck AS c_custkey, c_mktsegment,
                   epoch(vf)::BIGINT AS valid_from,
                   NULL::BIGINT AS valid_to
            FROM j WHERE ck IS NOT NULL AND (uk IS NULL OR seg = c_mktsegment)
            UNION ALL
            SELECT ck, c_mktsegment, epoch(vf)::BIGINT,
                   epoch(TIMESTAMP '2024-02-01 00:00:00')::BIGINT
            FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL
                     AND seg <> c_mktsegment
            UNION ALL
            SELECT uk, seg, epoch(TIMESTAMP '2024-02-01 00:00:00')::BIGINT,
                   NULL::BIGINT
            FROM j WHERE uk IS NOT NULL AND (ck IS NULL OR seg <> c_mktsegment)
        """,
        "cooccurrence_pmi": f"""
            WITH toks AS (
                SELECT doc_id, (u.i - 1)::BIGINT AS p, w[u.i] AS word
                FROM (SELECT doc_id,
                             string_split({_NORM_SQL}, ' ') AS w
                      FROM documents),
                     unnest(range(1, len(w) + 1)) AS u(i)
                WHERE w[u.i] <> ''
            ),
            nt AS (SELECT count(*)::DOUBLE AS total FROM toks),
            probes AS (
                SELECT t.doc_id, t.word AS wa, t.p + u.k AS p
                FROM toks t, unnest(range(1, 4)) AS u(k)
            ),
            pairs AS (
                SELECT least(pr.wa, t2.word) AS w1,
                       greatest(pr.wa, t2.word) AS w2,
                       count(*)::BIGINT AS n_pair
                FROM probes pr JOIN toks t2
                  ON t2.doc_id = pr.doc_id AND t2.p = pr.p
                WHERE least(pr.wa, t2.word) <> greatest(pr.wa, t2.word)
                GROUP BY 1, 2
                HAVING count(*) >= 5
            ),
            wc AS (SELECT word AS w, count(*)::BIGINT AS n_w FROM toks GROUP BY 1)
            SELECT p.w1, p.w2, p.n_pair,
                   round(ln(p.n_pair * (SELECT total FROM nt)
                            / (a.n_w * b.n_w)), 6) AS pmi
            FROM pairs p
            JOIN wc a ON a.w = p.w1
            JOIN wc b ON b.w = p.w2
        """,
        "comembership": """
            WITH m AS (
                SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
            ), sizes AS (SELECT g, count(*) AS sz FROM m GROUP BY 1),
            kept AS (SELECT g FROM sizes WHERE sz BETWEEN 2 AND 1000),
            mk AS (SELECT m.g, m.i FROM m JOIN kept USING (g))
            SELECT a.i AS item_a, b.i AS item_b, count(*)::BIGINT AS n_shared
            FROM mk a JOIN mk b ON a.g = b.g AND a.i < b.i
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "session_paths": """
            WITH e AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                 > 1800000000
                            THEN 1 ELSE 0 END AS nf
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, event_type, ts, event_id,
                       sum(nf) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS sess
                FROM e
            ), p AS (
                SELECT user_id, sess,
                       array_to_string(
                           (list(event_type ORDER BY ts, event_id))[1:8], '>')
                           AS path
                FROM s GROUP BY 1, 2
            )
            SELECT path, count(*)::BIGINT AS n_sessions
            FROM p GROUP BY 1 HAVING count(*) >= 2
        """,
        "bm25_search": f"""
            WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
            w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
            dl AS (SELECT doc_id, len(ws)::DOUBLE AS dl FROM w),
            scal AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
            toks AS (SELECT doc_id, unnest(ws) AS word FROM w),
            tf AS (
                SELECT doc_id, word, count(*)::BIGINT AS tf FROM toks
                WHERE word IN ('fast', 'join', 'spark') GROUP BY 1, 2
            ),
            dft AS (SELECT word, count(*)::BIGINT AS df FROM tf GROUP BY 1),
            idf AS (
                SELECT word,
                       ln(1.0 + ((SELECT n FROM scal) - df + 0.5)
                                / (df + 0.5)) AS idf
                FROM dft
            ),
            per AS (
                SELECT tf.doc_id,
                       idf.idf * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                         / (SELECT avgdl FROM scal))) AS s
                FROM tf JOIN idf USING (word) JOIN dl USING (doc_id)
            )
            SELECT doc_id, round(sum(s), 6) AS bm25 FROM per GROUP BY 1
        """,
        "zscore_outliers": """
            WITH st AS (
                SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
                FROM events WHERE value IS NOT NULL GROUP BY 1
            )
            SELECT e.event_id, e.event_type, e.value,
                   round((e.value - st.mu) / st.sd, 6) AS z
            FROM events e JOIN st USING (event_type)
            WHERE e.value IS NOT NULL AND st.sd IS NOT NULL AND st.sd > 0
              AND abs((e.value - st.mu) / st.sd) > 2.5
        """,
        "srp_near_pairs": f"""
            WITH e AS ({_EMB_AUG_SQL}),
            fp AS (SELECT vec_id, ({_srp_terms})::BIGINT AS srp FROM e)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   bit_count(xor(a.srp, b.srp))::INT AS hamming
            FROM fp a JOIN fp b ON a.vec_id < b.vec_id
            WHERE bit_count(xor(a.srp, b.srp)) <= 3
        """,
        "table_diff": """
            WITH oldt AS (
                SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
            ), newt AS (
                SELECT c_custkey,
                       CASE WHEN c_custkey % 10 = 0 THEN 'PROMO'
                            ELSE c_mktsegment END AS c_mktsegment,
                       CASE WHEN c_custkey % 7 = 0
                            THEN round(c_acctbal + 100, 2)
                            ELSE c_acctbal END AS c_acctbal
                FROM customer WHERE c_custkey % 50 <> 1
                UNION ALL
                SELECT c_custkey + 500000, c_mktsegment, c_acctbal
                FROM customer WHERE c_custkey % 97 = 0
            ), j AS (
                SELECT o.c_custkey AS ok, n.c_custkey AS nk,
                       (o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
                        AND o.c_custkey IS NOT NULL
                        AND n.c_custkey IS NOT NULL) AS ch_seg,
                       (o.c_acctbal IS DISTINCT FROM n.c_acctbal
                        AND o.c_custkey IS NOT NULL
                        AND n.c_custkey IS NOT NULL) AS ch_bal
                FROM oldt o FULL OUTER JOIN newt n
                  ON o.c_custkey = n.c_custkey
            )
            SELECT 'added' AS metric,
                   sum((ok IS NULL)::BIGINT)::BIGINT AS n FROM j
            UNION ALL
            SELECT 'removed', sum((nk IS NULL)::BIGINT)::BIGINT FROM j
            UNION ALL
            SELECT 'changed',
                   sum((ok IS NOT NULL AND nk IS NOT NULL
                        AND (ch_seg OR ch_bal))::BIGINT)::BIGINT FROM j
            UNION ALL
            SELECT 'unchanged',
                   sum((ok IS NOT NULL AND nk IS NOT NULL
                        AND NOT (ch_seg OR ch_bal))::BIGINT)::BIGINT FROM j
            UNION ALL
            SELECT 'changed:c_mktsegment', sum(ch_seg::BIGINT)::BIGINT FROM j
            UNION ALL
            SELECT 'changed:c_acctbal', sum(ch_bal::BIGINT)::BIGINT FROM j
        """,
        "cdc_apply": """
            WITH base AS (
                SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
            ), changes AS (
                SELECT c_custkey, 'CDC-U' AS c_mktsegment,
                       round(c_acctbal + 1, 2) AS c_acctbal, 2 AS seq,
                       'U' AS op
                FROM customer WHERE c_custkey % 10 = 0
                UNION ALL
                SELECT c_custkey, 'STALE', c_acctbal, 1, 'U'
                FROM customer WHERE c_custkey % 10 = 0
                UNION ALL
                SELECT c_custkey, NULL, NULL, 3, 'D'
                FROM customer WHERE c_custkey % 25 = 0
                UNION ALL
                SELECT c_custkey + 700000, 'CDC-I', 1.5, 1, 'I'
                FROM customer WHERE c_custkey % 97 = 0
            ), latest AS (
                SELECT * FROM (
                    SELECT c_custkey AS ck, c_mktsegment AS cs,
                           c_acctbal AS cb, op,
                           row_number() OVER (PARTITION BY c_custkey
                                              ORDER BY seq DESC) AS rn
                    FROM changes
                ) WHERE rn = 1
            ), j AS (
                SELECT b.c_custkey AS bk, b.c_mktsegment, b.c_acctbal,
                       l.ck, l.cs, l.cb, l.op
                FROM base b FULL OUTER JOIN latest l ON b.c_custkey = l.ck
            )
            SELECT coalesce(ck, bk) AS c_custkey,
                   CASE WHEN op IS NOT NULL THEN cs
                        ELSE c_mktsegment END AS c_mktsegment,
                   round(CASE WHEN op IS NOT NULL THEN cb
                              ELSE c_acctbal END, 2) AS c_acctbal
            FROM j WHERE op IS NULL OR op <> 'D'
        """,
        "impute_median": """
            WITH planted AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 11 = 0 THEN NULL
                            ELSE value END AS value
                FROM events
            ), med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS m
                FROM planted WHERE value IS NOT NULL GROUP BY 1
            )
            SELECT p.event_id, p.event_type,
                   round(coalesce(p.value, med.m), 6) AS value_filled
            FROM planted p LEFT JOIN med USING (event_type)
        """,
        "feature_correlations": """
            SELECT l_returnflag, 'l_quantity' AS col_a,
                   'l_extendedprice' AS col_b,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr
            FROM lineitem GROUP BY 1
            UNION ALL
            SELECT l_returnflag, 'l_quantity', 'l_discount',
                   round(corr(l_quantity, l_discount), 6)
            FROM lineitem GROUP BY 1
            UNION ALL
            SELECT l_returnflag, 'l_extendedprice', 'l_discount',
                   round(corr(l_extendedprice, l_discount), 6)
            FROM lineitem GROUP BY 1
        """,
        "zipf_fit": f"""
            WITH wc AS (
                SELECT w, count(*)::BIGINT AS n FROM (
                    SELECT unnest(string_split({_NORM_SQL}, ' ')) AS w
                    FROM documents
                ) WHERE w <> ''
                GROUP BY w ORDER BY n DESC, w ASC LIMIT 300
            ), pts AS (
                SELECT ln((row_number() OVER (ORDER BY n DESC, w ASC))::DOUBLE)
                           AS lr,
                       ln(n::DOUBLE) AS lf
                FROM wc
            )
            SELECT count(*)::BIGINT AS n_words,
                   round(covar_pop(lr, lf) / var_pop(lr), 6) AS slope,
                   round(avg(lf) - (covar_pop(lr, lf) / var_pop(lr)) * avg(lr),
                         6) AS intercept,
                   round(pow(corr(lr, lf), 2), 6) AS r2
            FROM pts
        """,
        "psi_drift": """
            WITH b AS (
                SELECT l_extendedprice AS v FROM lineitem
                WHERE l_shipdate < TIMESTAMP '1996-01-01'
                  AND l_extendedprice IS NOT NULL
            ), c AS (
                SELECT l_extendedprice AS v FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_extendedprice IS NOT NULL
            ), bounds AS (
                SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs FROM b
            ), pb AS (
                SELECT (1 + list_sum(list_transform((SELECT bs FROM bounds),
                           x -> (v > x)::INT)))::INT AS bin
                FROM b
            ), cb AS (
                SELECT (1 + list_sum(list_transform((SELECT bs FROM bounds),
                           x -> (v > x)::INT)))::INT AS bin
                FROM c
            ), ps AS (
                SELECT bin, count(*)::DOUBLE / (SELECT count(*) FROM b) AS p
                FROM pb GROUP BY bin
            ), qs AS (
                SELECT bin, count(*)::DOUBLE / (SELECT count(*) FROM c) AS q
                FROM cb GROUP BY bin
            ), bins AS (SELECT unnest(range(1, 11))::INT AS bin)
            SELECT bin,
                   round(coalesce(p, 0), 6) AS p_baseline,
                   round(coalesce(q, 0), 6) AS p_current,
                   round(((coalesce(q, 0) + 1e-6) - (coalesce(p, 0) + 1e-6))
                         * ln((coalesce(q, 0) + 1e-6)
                              / (coalesce(p, 0) + 1e-6)), 6) AS psi_contrib
            FROM bins LEFT JOIN ps USING (bin) LEFT JOIN qs USING (bin)
        """,
        "dup_span_scrub_keep_first": f"""
            WITH {_SPAN_CTES},
            spcut AS (
                SELECT doc_id, pos FROM (
                    SELECT doc_id, pos,
                           row_number() OVER (PARTITION BY h
                                              ORDER BY doc_id, pos) AS rk
                    FROM sph WHERE h IN (SELECT h FROM spfreq)
                ) WHERE rk > 1
            ),
            covw AS (
                SELECT DISTINCT doc_id, pos + u.i AS widx
                FROM spcut, unnest(range(0, 8)) AS u(i)
            ),
            wordsx AS (
                SELECT doc_id, unnest(words) AS word,
                       unnest(range(len(words))) AS widx
                FROM spw
            ),
            keptx AS (
                SELECT w2.doc_id, w2.widx, w2.word
                FROM wordsx w2 LEFT JOIN covw c
                  ON w2.doc_id = c.doc_id AND w2.widx = c.widx
                WHERE c.doc_id IS NULL
            ),
            rebuilt AS (
                SELECT doc_id,
                       array_to_string(list(word ORDER BY widx), ' ') AS text,
                       count(*)::BIGINT AS n_kept
                FROM keptx GROUP BY doc_id
            )
            SELECT b.doc_id, coalesce(r.text, '') AS text,
                   coalesce(r.n_kept, 0)::BIGINT AS n_kept,
                   (b.n_tokens - coalesce(r.n_kept, 0))::BIGINT AS n_dropped
            FROM spbase b LEFT JOIN rebuilt r USING (doc_id)
        """,
        "k_hop_profile": """
            WITH sym AS MATERIALIZED (
                SELECT u, v FROM (
                    SELECT 'o:' || l_orderkey::VARCHAR AS u,
                           'p:' || l_partkey::VARCHAR AS v
                    FROM lineitem
                    UNION
                    SELECT 'p:' || l_partkey::VARCHAR,
                           'o:' || l_orderkey::VARCHAR
                    FROM lineitem
                ) WHERE u <> v
            ),
            seeds(seed) AS (VALUES ('p:1'), ('p:2'), ('p:3')),
            v0 AS MATERIALIZED (SELECT seed, seed AS node FROM seeds),
            n1 AS MATERIALIZED (
                SELECT DISTINCT f.seed, s.v AS node
                FROM v0 f JOIN sym s ON f.node = s.u
                EXCEPT SELECT seed, node FROM v0
            ),
            v1 AS MATERIALIZED (
                SELECT seed, node FROM v0 UNION SELECT seed, node FROM n1
            ),
            n2 AS MATERIALIZED (
                SELECT DISTINCT f.seed, s.v AS node
                FROM n1 f JOIN sym s ON f.node = s.u
                EXCEPT SELECT seed, node FROM v1
            ),
            v2 AS MATERIALIZED (
                SELECT seed, node FROM v1 UNION SELECT seed, node FROM n2
            ),
            n3 AS MATERIALIZED (
                SELECT DISTINCT f.seed, s.v AS node
                FROM n2 f JOIN sym s ON f.node = s.u
                EXCEPT SELECT seed, node FROM v2
            )
            SELECT seed, 1 AS hop, count(*)::BIGINT AS n_new_nodes
            FROM n1 GROUP BY seed
            UNION ALL
            SELECT seed, 2, count(*)::BIGINT FROM n2 GROUP BY seed
            UNION ALL
            SELECT seed, 3, count(*)::BIGINT FROM n3 GROUP BY seed
        """,
        "bpe_merges": _bpe_sql(6),
        "bpe_encode": _bpe_encode_sql(6),
        "lsh_recall": f"""
            WITH {_JACCARD_CTES.replace(
                "norm AS (SELECT doc_id, " + _NORM_SQL + " AS t FROM aug)",
                "norm AS (SELECT doc_id, " + _NORM_SQL
                + " AS t FROM aug WHERE doc_id % 2 = 0)",
            )},
            sigs AS (
                SELECT doc_id,
                       CASE WHEN hashes IS NULL THEN NULL ELSE
                       list_transform(range(0, 16), i -> list_min(
                           list_transform(hashes,
                               h -> ((2*i + 1) * h + i*i + i + 41)
                                    % 2147483647))) END AS sigl
                FROM hs
            ),
            banded AS (
                SELECT doc_id, b.b AS band,
                       md5(array_to_string(sigl[b.b*2+1 : b.b*2+2], ','))
                           AS bucket
                FROM sigs, unnest(range(0, 8)) AS b(b)
                WHERE sigl IS NOT NULL
            ),
            bsizes AS (
                SELECT band, bucket, count(*) AS c FROM banded GROUP BY 1, 2
            ),
            bounded AS (
                SELECT bd.doc_id, bd.band, bd.bucket
                FROM banded bd JOIN bsizes s USING (band, bucket)
                WHERE s.c <= 1000
            ),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bounded a JOIN bounded b USING (band, bucket)
                WHERE a.doc_id < b.doc_id
            ),
            tr AS (SELECT id_a, id_b FROM vpairs),
            hit AS (SELECT t.id_a, t.id_b FROM tr t
                    JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b)
            SELECT (SELECT count(*) FROM tr)::BIGINT AS n_true_pairs,
                   (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
                   (SELECT count(*) FROM hit)::BIGINT AS n_hit,
                   coalesce(round((SELECT count(*) FROM hit)::DOUBLE
                       / nullif((SELECT count(*) FROM tr), 0), 6), 1.0)
                       AS recall
        """,
        "target_encoding": """
            WITH g AS (
                SELECT p_brand, sum(p_retailprice) AS s, count(*) AS n
                FROM part WHERE p_retailprice IS NOT NULL GROUP BY 1
            ), gm AS (
                SELECT avg(p_retailprice) AS m FROM part
                WHERE p_retailprice IS NOT NULL
            )
            SELECT p.p_partkey, p.p_brand,
                   round((g.s - p.p_retailprice + 10.0 * (SELECT m FROM gm))
                         / (g.n - 1 + 10.0), 6) AS target_enc
            FROM part p JOIN g USING (p_brand)
            WHERE p.p_retailprice IS NOT NULL
        """,
        "asof_join_nearest": """
            WITH clicks AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'click'
            ), pur AS (
                SELECT user_id, ts, max(event_id) AS p_event_id,
                       max(value) AS p_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            ), b AS (
                SELECT c.user_id, c.ts, c.event_id, p.ts AS b_ts,
                       p.p_event_id AS b_id, p.p_value AS b_val
                FROM clicks c ASOF LEFT JOIN pur p
                     ON c.user_id = p.user_id AND c.ts >= p.ts
            ), f AS (
                SELECT c.user_id, c.event_id, p.ts AS f_ts,
                       p.p_event_id AS f_id, p.p_value AS f_val
                FROM clicks c ASOF LEFT JOIN pur p
                     ON c.user_id = p.user_id AND c.ts <= p.ts
            ), j AS (
                SELECT b.user_id, b.ts, b.event_id,
                       b_ts, b_id, b_val, f_ts, f_id, f_val
                FROM b JOIN f ON b.user_id = f.user_id
                            AND b.event_id = f.event_id
            )
            SELECT user_id, epoch_us(ts) AS t_us, event_id,
                   CASE WHEN b_ts IS NULL THEN f_id
                        WHEN f_ts IS NULL THEN b_id
                        WHEN epoch_us(ts) - epoch_us(b_ts)
                             <= epoch_us(f_ts) - epoch_us(ts) THEN b_id
                        ELSE f_id END AS p_event_id,
                   round(CASE WHEN b_ts IS NULL THEN f_val
                              WHEN f_ts IS NULL THEN b_val
                              WHEN epoch_us(ts) - epoch_us(b_ts)
                                   <= epoch_us(f_ts) - epoch_us(ts) THEN b_val
                              ELSE f_val END, 6) AS p_value
            FROM j
        """,
        "interval_join": """
            WITH iv AS (
                SELECT user_id, ts AS start_ts, ts + INTERVAL 1 HOUR AS end_ts,
                       event_id AS iv_id
                FROM events WHERE event_type = 'signup'
            ), pt AS (SELECT user_id, ts FROM events)
            SELECT iv.iv_id, count(*)::BIGINT AS n_in_window
            FROM iv JOIN pt ON pt.user_id = iv.user_id
                 AND pt.ts >= iv.start_ts AND pt.ts < iv.end_ts
            GROUP BY 1
        """,
        "interval_overlap": """
            WITH s AS (
                SELECT user_id, ts AS s_start, ts + INTERVAL 2 HOUR AS s_end
                FROM events WHERE event_type = 'signup'
            ), e AS (
                SELECT user_id, ts AS e_start, ts + INTERVAL 1 HOUR AS e_end
                FROM events WHERE event_type = 'error'
            )
            SELECT s.user_id, count(*)::BIGINT AS n_overlaps
            FROM s JOIN e ON s.user_id = e.user_id
                 AND s.s_start < e.e_end AND e.e_start < s.s_end
            GROUP BY 1
        """,
        "hypertable_rollup": """
            WITH g AS (
                SELECT event_type,
                       date_trunc('hour', ts) AS gh,
                       date_trunc('day', ts)  AS gd,
                       date_trunc('week', ts) AS gw,
                       value
                FROM events
            )
            SELECT CASE WHEN GROUPING(gh) = 0 THEN 'hour'
                        WHEN GROUPING(gd) = 0 THEN 'day'
                        ELSE 'week' END AS grain,
                   event_type,
                   floor(epoch(coalesce(gh, gd, gw)))::BIGINT AS bucket_epoch,
                   count(*)::BIGINT AS n_events,
                   round(sum(value), 2) AS total_value
            FROM g
            GROUP BY GROUPING SETS ((event_type, gh), (event_type, gd),
                                    (event_type, gw))
        """,
        "chunk_spans": """
            SELECT doc_id, u.i AS chunk_idx, u.i * 150 AS chunk_start,
                   greatest(least(150, n_chars - u.i * 150), 0) AS chunk_tokens
            FROM documents,
                 unnest(range(0, greatest(ceil(n_chars / 150.0)::BIGINT, 1)))
                 AS u(i)
        """,
        "sliding_windows": """
            SELECT doc_id, n_chars, u.i AS window_idx,
                   u.i * 100 AS window_start,
                   greatest(least(200, n_chars - u.i * 100), 0)
                       AS window_tokens
            FROM documents,
                 unnest(range(0, greatest(
                     ceil((n_chars - 200) / 100.0)::BIGINT + 1, 1)))
                 AS u(i)
        """,
        "cms_counts": """
            WITH src AS (SELECT md5(l_partkey::VARCHAR) AS h FROM lineitem),
            hh AS (
                SELECT ('0x' || substr(h, 1, 8))::BIGINT AS h1,
                       ('0x' || substr(h, 9, 8))::BIGINT AS h2
                FROM src
            ),
            grid AS (
                SELECT d.d, (h1 + d.d * h2) % 1024 AS w,
                       count(*)::BIGINT AS cnt
                FROM hh, unnest(range(0, 4)) AS d(d)
                GROUP BY 1, 2
            ),
            keys AS (
                SELECT DISTINCT l_partkey,
                       md5(l_partkey::VARCHAR) AS h
                FROM lineitem WHERE l_partkey < 20
            ),
            probes AS (
                SELECT l_partkey, d.d,
                       (('0x' || substr(h, 1, 8))::BIGINT
                        + d.d * ('0x' || substr(h, 9, 8))::BIGINT) % 1024 AS w
                FROM keys, unnest(range(0, 4)) AS d(d)
            )
            SELECT l_partkey, min(coalesce(g.cnt, 0))::BIGINT AS estimate
            FROM probes p LEFT JOIN grid g ON p.d = g.d AND p.w = g.w
            GROUP BY l_partkey
        """,
        "triangle_count": """
            WITH op AS (
                SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem WHERE l_partkey % 4 = 0
            ),
            e0 AS (
                SELECT DISTINCT a.pk AS u, b.pk AS v
                FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
            ),
            deg AS (
                SELECT n, count(*)::BIGINT AS d
                FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)
                GROUP BY n
            ),
            o AS (
                SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                            THEN u ELSE v END AS s,
                       CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                            THEN v ELSE u END AS t,
                       CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                            THEN dv.d ELSE du.d END AS td
                FROM e0
                JOIN deg du ON du.n = e0.u
                JOIN deg dv ON dv.n = e0.v
            ),
            w AS (
                SELECT x.t AS s, y.t AS t
                FROM o x JOIN o y
                ON x.s = y.s
                   AND (x.td < y.td OR (x.td = y.td AND x.t < y.t))
            )
            SELECT (SELECT count(*) FROM e0)::BIGINT AS n_edges,
                   (SELECT count(*) FROM w)::BIGINT AS n_wedges,
                   (SELECT count(*) FROM w
                    JOIN o ON w.s = o.s AND w.t = o.t)::BIGINT AS n_triangles
        """,
        "tfidf_top_terms": """
            WITH toks AS (
                SELECT doc_id, unnest(
                    string_split(
                        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        ' ')
                ) AS term
                FROM documents
            ), nz AS (
                SELECT doc_id, term FROM toks WHERE term <> ''
            ), tf AS (
                SELECT doc_id, term, count(*)::BIGINT AS tf
                FROM nz GROUP BY doc_id, term
            ), df_t AS (
                SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
            ), n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       tf.tf * (ln((n.n_docs + 1) / (df_t.df + 1.0)) + 1.0)
                           AS score
                FROM tf JOIN df_t USING (term), n
            ), ranked AS (
                SELECT doc_id, term, tf, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, term ASC) AS rn
                FROM scored
            )
            SELECT doc_id, term, tf, round(score, 6) AS tfidf
            FROM ranked WHERE rn <= 3
        """,
        "bloom_decontaminate": """
            WITH bench AS (
                SELECT DISTINCT text AS v FROM documents
                WHERE doc_id % 7 = 0 AND text IS NOT NULL
            ),
            bh AS (
                SELECT ('0x' || substr(md5(v), 1, 8))::BIGINT AS h1,
                       ('0x' || substr(md5(v), 9, 8))::BIGINT AS h2
                FROM bench
            ),
            bits AS (
                SELECT DISTINCT (h1 + j.j * h2) % 65536 AS pos
                FROM bh, unnest(range(0, 4)) AS j(j)
            ),
            ph AS (
                SELECT doc_id,
                       ('0x' || substr(md5(text), 1, 8))::BIGINT AS h1,
                       ('0x' || substr(md5(text), 9, 8))::BIGINT AS h2
                FROM documents WHERE text IS NOT NULL
            ),
            probe_pos AS (
                SELECT doc_id, j.j AS j, (h1 + j.j * h2) % 65536 AS pos
                FROM ph, unnest(range(0, 4)) AS j(j)
            ),
            hits AS (
                SELECT doc_id, count(DISTINCT j) AS nhit
                FROM probe_pos JOIN bits USING (pos)
                GROUP BY doc_id
            )
            SELECT d.source,
                   sum(CASE WHEN h.nhit = 4 THEN 1 ELSE 0 END)::BIGINT
                       AS n_flagged,
                   count(*)::BIGINT AS n_docs
            FROM documents d LEFT JOIN hits h USING (doc_id)
            GROUP BY d.source
        """,
        "kmv_grouped": """
            WITH v AS (
                SELECT DISTINCT event_type, user_id::VARCHAR AS v
                FROM events WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5(v), 1, 8))::BIGINT AS h
                FROM v
            ),
            r AS (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h) AS rn
                FROM h
            ),
            k AS (SELECT event_type, h FROM r WHERE rn <= 64)
            SELECT event_type, count(*)::BIGINT AS n_hashes,
                   round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                              ELSE 63 / (max(h) / 4294967296.0) END,
                         6) AS estimate
            FROM k GROUP BY event_type
        """,
        "hll_grouped": """
            WITH h AS (
                SELECT l_returnflag AS grp,
                       ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM lineitem WHERE l_partkey IS NOT NULL
            ), hv AS (
                SELECT grp, (h % 512)::INT AS reg, (h >> 9) AS v FROM h
            ), regs AS (
                SELECT grp, reg,
                       max(CASE WHEN v = 0 THEN 52
                                ELSE 51 - (length(to_base(v, 2)) - 1)
                           END)::INT AS rho
                FROM hv GROUP BY 1, 2
            ), agg AS (
                SELECT grp, count(*)::BIGINT AS used,
                       sum(pow(2.0, -rho)) AS s
                FROM regs GROUP BY 1
            ), raw AS (
                SELECT grp, used,
                       0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 512.0)
                           * 512.0 * 512.0 / (s + (512 - used)) AS e
                FROM agg
            )
            SELECT grp AS l_returnflag, used AS used_registers,
                   round(CASE WHEN e <= 1280.0 AND (512 - used) > 0
                              THEN 512.0 * ln(512.0 / (512 - used))
                              ELSE e END, 4) AS estimate
            FROM raw
        """,
        "hll_distinct": """
            WITH h AS (
                SELECT ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM lineitem WHERE l_partkey IS NOT NULL
            ), hv AS (
                SELECT (h % 512)::INT AS reg, (h >> 9) AS v FROM h
            ), regs AS (
                SELECT reg,
                       max(CASE WHEN v = 0 THEN 52
                                ELSE 51 - (length(to_base(v, 2)) - 1)
                           END)::INT AS rho
                FROM hv GROUP BY reg
            ), agg AS (
                SELECT count(*)::BIGINT AS used,
                       sum(pow(2.0, -rho)) AS s
                FROM regs
            ), raw AS (
                SELECT used,
                       0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 512.0)
                           * 512.0 * 512.0 / (s + (512 - used)) AS e
                FROM agg
            )
            SELECT 512 AS m, used AS used_registers,
                   round(CASE WHEN e <= 1280.0 AND (512 - used) > 0
                              THEN 512.0 * ln(512.0 / (512 - used))
                              ELSE e END, 4) AS estimate
            FROM raw
        """,
        "kmv_distinct": """
            WITH h AS (
                SELECT DISTINCT
                       ('0x' || substr(md5(l_partkey::VARCHAR), 1, 8))::BIGINT AS h
                FROM lineitem WHERE l_partkey IS NOT NULL
            ), k AS (SELECT h FROM h ORDER BY h LIMIT 256)
            SELECT count(*)::BIGINT AS n_hashes,
                   round(CASE WHEN count(*) < 256 THEN count(*)::DOUBLE
                              ELSE 255 / (max(h) / 4294967296.0) END,
                         6) AS estimate
            FROM k
        """,
        "hash_split_counts": """
            WITH b AS (
                SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 10000 AS b
                FROM documents
            )
            SELECT CASE WHEN b < 9000 THEN 'train'
                        WHEN b < 9500 THEN 'val'
                        ELSE 'test' END AS split,
                   count(*)::BIGINT AS n_rows
            FROM b GROUP BY 1
        """,
        "heavy_hitters": """
            SELECT event_type, user_id, count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
            ORDER BY n DESC, event_type ASC, user_id ASC LIMIT 20
        """,
        "extractor_suite": r"""
            WITH raw AS (
                SELECT p_partkey, p_name,
                       '  HGNC:' || p_partkey || ' | go:GO:' || (p_partkey + 1)
                       || ' |  malformed token | uniprot:P' || p_partkey AS raw
                FROM part
            ), tok AS (
                SELECT p_partkey,
                       trim(regexp_replace('  a  b ' || p_name || '  ',
                                           '\s+', ' ', 'g')) AS norm_name,
                       trim(t) AS t
                FROM raw, unnest(string_split(raw, '|')) AS u(t)
            ), parsed AS (
                SELECT p_partkey, norm_name,
                       lower(regexp_extract(t, '^([^:]+):', 1)) AS prefix,
                       regexp_extract(t, '^[^:]+:(.*)$', 1) AS identifier
                FROM tok
            )
            SELECT p_partkey, norm_name, prefix, identifier,
                   substr(identifier, 4) AS stripped,
                   'https://identifiers.org/' || prefix || ':' || identifier AS url
            FROM parsed WHERE prefix <> '' AND identifier <> ''
        """,
        "filter_suite": """
            SELECT p_partkey, p_name, p_brand, p_type FROM part
            WHERE p_brand NOT IN ('Brand#13', 'Brand#19')
              AND NOT contains(p_name, 'bolt')
              AND p_name LIKE 'small%'
              AND p_type = 'ECONOMY'
        """,
        "semi_join_enrich": """
            SELECT p_partkey, p_name FROM part
            WHERE p_partkey IN (
                SELECT l_partkey FROM lineitem WHERE l_orderkey IN (
                    SELECT o_orderkey FROM orders WHERE o_totalprice > 40000))
        """,
        "kg_degree_distribution": """
            WITH e AS (
                SELECT 'customer:' || c_custkey AS s,
                       'nation:' || c_nationkey AS t FROM customer
                UNION ALL
                SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey
                FROM supplier
            ), ends AS (
                SELECT s AS node FROM e UNION ALL SELECT t FROM e
            ), deg AS (
                SELECT node, count(*)::BIGINT AS degree FROM ends GROUP BY 1
            )
            SELECT degree, count(*)::BIGINT AS n_nodes FROM deg GROUP BY 1
        """,
        "shipping_priority": """
            SELECT l_orderkey,
                   floor(epoch(o_orderdate))::BIGINT AS odate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1996-01-01'
            GROUP BY 1, 2
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "dict_lookup": """
            SELECT n.n_name AS nation_name, count(*)::BIGINT AS n_customers
            FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        """,
        "grounding_retry": """
            WITH g AS (
                SELECT p_name AS text, min(p_partkey)::VARCHAR AS ident
                FROM part GROUP BY 1
            ), raw AS (
                SELECT p_partkey,
                       CASE p_partkey % 3
                           WHEN 0 THEN p_name
                           WHEN 1 THEN CASE WHEN position(' ' IN p_name) > 0
                               THEN substr(p_name, position(' ' IN p_name) + 1)
                                    || ', '
                                    || substr(p_name, 1, position(' ' IN p_name) - 1)
                               ELSE p_name END
                           ELSE 'zzz ' || p_name END AS mir
                FROM part
            ), sw AS (
                SELECT p_partkey, mir,
                       CASE WHEN position(', ' IN mir) > 0
                            THEN substr(mir, position(', ' IN mir) + 2)
                                 || ' ' || substr(mir, 1, position(', ' IN mir) - 1)
                       END AS mir_sw,
                       CASE WHEN contains(mir, ',')
                            THEN array_to_string(
                                list_reverse(list_transform(
                                    string_split(mir, ','), x -> trim(x))), ' ')
                       END AS mir_rev
                FROM raw
            )
            SELECT r.p_partkey,
                   coalesce(g0.ident, g1.ident, g2.ident) AS source_id,
                   CASE WHEN coalesce(g0.ident, g1.ident, g2.ident) IS NULL
                        THEN 'ungrounded' ELSE 'grounded' END AS status
            FROM sw r
            LEFT JOIN g g0 ON r.mir = g0.text
            LEFT JOIN g g1 ON r.mir_sw = g1.text
            LEFT JOIN g g2 ON r.mir_rev = g2.text
        """,
        "point_lookup": """
            SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
            FROM orders WHERE o_orderkey = 42
        """,
        "stratified_sample": """
            WITH r AS (
                SELECT source, doc_id,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
                                    doc_id
                       ) AS rn
                FROM documents
            )
            SELECT source, doc_id FROM r WHERE rn <= 5
        """,
        "weighted_mixture": """
            WITH h AS (
                SELECT source,
                       ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                       % 1000000 AS h
                FROM documents
            )
            SELECT source, count(*)::BIGINT AS n_kept
            FROM h
            WHERE h < CASE source WHEN 'src0' THEN 1000000
                                  WHEN 'src1' THEN 500000
                                  WHEN 'src2' THEN 250000
                                  ELSE 100000 END
            GROUP BY 1
        """,
        "value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6)  AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY 1
        """,
        "pack_chunks": """
            WITH c AS (
                SELECT source, doc_id, n_chars,
                       coalesce(sum(n_chars) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cb
                FROM documents
            )
            SELECT source, floor(cb / 2048)::BIGINT AS pack_id,
                   count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS pack_chars
            FROM c GROUP BY 1, 2
        """,
        # --- round-11 SPARQL-at-bench-scale oracles: each replays the
        # query's algebra over the SAME synthesized triples (one CTE per
        # predicate, see _SCALE_TRIPLES_SQL) -----------------------------
        "sparql_scale_bgp": "WITH " + _SCALE_TRIPLES_SQL + """
            SELECT ib.o AS brand, COUNT(*)::BIGINT AS n
            FROM hp
            JOIN ib ON ib.s = hp.o
            JOIN st ON st.s = hp.s AND st.o = 'F'
            WHERE ib.o LIKE 'Brand#1%'
            GROUP BY ib.o
        """,
        "sparql_scale_path": "WITH RECURSIVE " + _SCALE_TRIPLES_SQL + """,
            reach AS (
                SELECT c.s AS d, c.o AS a FROM co c
                UNION
                SELECT r.d, c.o FROM reach r JOIN co c ON r.a = c.s
            )
            SELECT a AS root, COUNT(*)::BIGINT AS n
            FROM reach JOIN rt ON rt.s = reach.a
            GROUP BY a
        """,
        "sparql_path_range": "WITH " + _SCALE_TRIPLES_SQL + """,
            d2 AS (SELECT e1.s AS x, e2.o AS a
                   FROM co e1 JOIN co e2 ON e1.o = e2.s),
            d3 AS (SELECT d2.x, e3.o AS a
                   FROM d2 JOIN co e3 ON d2.a = e3.s),
            u AS (SELECT x, a FROM d2 UNION SELECT x, a FROM d3)
            SELECT a AS anc, COUNT(*)::BIGINT AS n
            FROM u GROUP BY a HAVING COUNT(*) >= 20
        """,
        "sparql_subquery": "WITH " + _SCALE_TRIPLES_SQL + """,
            top5 AS (
                SELECT ib.o AS brand, COUNT(*)::BIGINT AS cnt
                FROM ib GROUP BY ib.o
                ORDER BY cnt DESC, brand LIMIT 5
            )
            -- the engine re-projects the inner COUNT as its lexical
            -- string (binding-table invariant) -> cast to VARCHAR
            SELECT t.brand, t.cnt::VARCHAR AS n, st.o AS status,
                   COUNT(*)::BIGINT AS m
            FROM top5 t
            JOIN ib ON ib.o = t.brand
            JOIN hp ON hp.o = ib.s
            JOIN st ON st.s = hp.s
            GROUP BY t.brand, t.cnt, st.o
        """,
        "sparql_describe": """
            WITH roots AS (
                SELECT 'part://'||p_partkey AS r FROM part
                WHERE p_partkey BETWEEN 1 AND 9
                UNION ALL SELECT 'order://1'
            ), t AS (
                SELECT 'order://'||l_orderkey AS s,
                       'http://ex.org/hasPart' AS p,
                       'part://'||l_partkey AS o FROM lineitem
                UNION ALL
                SELECT 'part://'||l_partkey, 'http://ex.org/returnedAs',
                       l_returnflag FROM lineitem
                UNION ALL
                SELECT 'part://'||p_partkey, 'http://ex.org/inBrand',
                       p_brand FROM part
                UNION ALL
                SELECT 'part://'||p_partkey, 'http://ex.org/childOf',
                       'part://'||(p_partkey//10) FROM part
                WHERE p_partkey >= 10
                UNION ALL
                SELECT 'part://'||p_partkey, 'http://ex.org/isRoot',
                       'true' FROM part WHERE p_partkey BETWEEN 1 AND 9
                UNION ALL
                SELECT 'order://'||o_orderkey, 'http://ex.org/status',
                       o_orderstatus FROM orders
                UNION ALL
                SELECT 'part://'||p_partkey, 'http://ex.org/retailPrice',
                       CAST(p_retailprice AS VARCHAR) FROM part
            )
            SELECT DISTINCT t.s, t.p, t.o
            FROM t JOIN roots ON t.s = roots.r
        """,
        "sparql_expr_suite": "WITH " + _SCALE_TRIPLES_SQL + """
            SELECT ib.o AS brand, COUNT(*)::BIGINT AS n
            FROM ib LEFT JOIN rt ON rt.s = ib.s
            WHERE ib.o IN ('Brand#11', 'Brand#22', 'Brand#13')
               OR rt.s IS NOT NULL
            GROUP BY ib.o
            ORDER BY n DESC, length(ib.o), ib.o LIMIT 10
        """,
        "sparql_from_dataset": "WITH " + _SCALE_TRIPLES_SQL + """
            SELECT ib.o AS brand, 'graph://lineitem' AS g,
                   COUNT(*)::BIGINT AS n
            FROM ib JOIN hp ON hp.o = ib.s
            WHERE ib.o LIKE 'Brand#1%'
            GROUP BY ib.o
        """,
        "sparql_graph_scale": "WITH " + _SCALE_TRIPLES_SQL + """
            SELECT 'graph://part' AS g, ib.o AS brand,
                   COUNT(*)::BIGINT AS n
            FROM ib
            JOIN hp ON hp.o = ib.s   -- GRAPH <graph://lineitem> hasPart
            JOIN pr ON pr.s = ib.s   -- default-graph retailPrice
            WHERE ib.o LIKE 'Brand#2%'
            GROUP BY ib.o
        """,
        "sparql_update_graph": "WITH " + _SCALE_TRIPLES_SQL + """
            SELECT DISTINCT * FROM (
                -- (G \\ D): inBrand rows whose brand was NOT re-filed
                SELECT s, 'http://ex.org/inBrand' AS p, o FROM ib
                WHERE o NOT LIKE 'Brand#1%'
                UNION ALL
                -- I: the modify's two insert templates
                SELECT s, 'http://ex.org/brandGroup', o FROM ib
                WHERE o LIKE 'Brand#1%'
                UNION ALL
                SELECT s, 'http://ex.org/rebranded', 'true' FROM ib
                WHERE o LIKE 'Brand#1%'
                UNION ALL
                -- op 2, DELETE WHERE: status minus the 'P' rows
                SELECT s, 'http://ex.org/status', o FROM st WHERE o <> 'P'
            )
        """,
        "sparql_scale_builtins": "WITH " + _SCALE_TRIPLES_SQL + """,
            b3 AS (
                -- STRENDS(?brand,"3") + STRAFTER(?brand,"#"):
                -- brands are 'Brand#N' / 'Brand#NN', all-digit suffix,
                -- so the ISNUMERIC(?bno) filter never drops a row here
                SELECT ib.s AS part,
                       substr(ib.o, strpos(ib.o, '#') + 1) AS bno
                FROM ib WHERE ib.o LIKE '%3'
            )
            SELECT CASE WHEN strpos(b3.bno, '3') > 0
                        THEN substr(b3.bno, 1, strpos(b3.bno, '3') - 1)
                        ELSE '' END AS digit,
                   COUNT(*)::BIGINT AS n,
                   CAST(SUM(CAST(floor(pr.o + 0.5) AS BIGINT))
                        AS DOUBLE) AS tot,
                   CAST(SUM(CAST(floor(pr.o) AS BIGINT))
                        AS DOUBLE) AS flo,
                   -- aggregate-Extend replay: ROUND(AVG(?r)) over the
                   -- per-row rounded prices, as its lexical string
                   CAST(CAST(floor(
                       AVG(CAST(floor(pr.o + 0.5) AS BIGINT)) + 0.5
                   ) AS BIGINT) AS VARCHAR) AS avgr
            FROM b3 JOIN pr ON pr.s = b3.part
            GROUP BY 1
        """,
        "sparql_arith": "WITH " + _SCALE_TRIPLES_SQL + """
            SELECT ib.o AS brand, COUNT(*)::BIGINT AS n,
                   CAST(SUM(CAST(floor(pr.o * 0.9) AS BIGINT) - 10)
                        AS DOUBLE) AS tot
            FROM ib JOIN pr ON pr.s = ib.s
            WHERE floor(pr.o * 0.9) - 10 > 850
            GROUP BY 1
        """,
        "sparql_ntriples_file": "WITH " + _SCALE_TRIPLES_SQL + """
            -- the .nt dataset is a lossless serialization of these
            -- CTEs, so the parquet-side counts replay the file-side BGP
            SELECT ib.o AS brand, COUNT(*)::BIGINT AS n
            FROM ib JOIN pr ON pr.s = ib.s
            GROUP BY ib.o
        """,
        "sparql_graph_path": "WITH RECURSIVE " + _SCALE_TRIPLES_SQL + """,
            reach AS (
                SELECT c.s AS d, c.o AS a FROM co c
                UNION
                SELECT r.d, c.o FROM reach r JOIN co c ON r.a = c.s
            ),
            nroots AS (SELECT COUNT(*) AS tot FROM rt)
            -- every childOf/isRoot fact lives in graph://part, so the
            -- per-graph closure equals the single-graph closure tagged
            -- with its graph; the per-graph subquery's root count is
            -- the SAMPLE'd lexical string
            SELECT 'graph://part' AS g, a AS root,
                   COUNT(*)::BIGINT AS n,
                   CAST(nroots.tot AS VARCHAR) AS roots
            FROM reach JOIN rt ON rt.s = reach.a
            CROSS JOIN nroots
            GROUP BY a, nroots.tot
        """,
        "sparql_update_quads": "WITH " + _SCALE_TRIPLES_SQL + """
            -- (G \\ D) ∪ I per graph, projected to the touched
            -- predicates; graph://orders was CLEARed so status
            -- contributes nothing
            SELECT * FROM (
                -- G \\ D: inBrand survivors in the WITH graph
                SELECT 'graph://part' AS g, s,
                       'http://ex.org/inBrand' AS p, o
                FROM ib WHERE o NOT LIKE 'Brand#1%'
                UNION ALL
                -- I template 1: the brandTier marker (WITH target)
                SELECT DISTINCT 'graph://part', s,
                       'http://ex.org/brandTier', 'tier1'
                FROM ib WHERE o LIKE 'Brand#1%'
                UNION ALL
                -- I template 2: the audit quad (GRAPH block target)
                SELECT 'graph://audit', s, 'http://ex.org/wasBrand', o
                FROM ib WHERE o LIKE 'Brand#1%'
            )
        """,
        "sparql_typed_literals": """
            -- typed-literal replay: the encoded "..."^^xsd:decimal /
            -- "..."@en terms decode back to exactly these part columns
            -- (double -> lexical -> double round-trips exactly; LANG =
            -- 'en' selects the even part keys; DATATYPE(?pr) is decimal
            -- on every price row, a no-op guard)
            SELECT p_brand AS brand,
                   COUNT(*)::BIGINT AS n,
                   CAST(SUM(CAST(floor(p_retailprice) AS BIGINT))
                        AS DOUBLE) AS tot
            FROM part
            WHERE p_retailprice > 950.0 AND p_partkey % 2 = 0
            GROUP BY 1
        """,
        "sparql_tz_histogram": """
            -- parity split replay: odd keys spell Z, even +02:00; the
            -- per-family MIN is the earliest INSTANT re-encoded, ties
            -- broken by the serialization (engine key struct field 3)
            WITH inst AS (
                SELECT CASE WHEN o_orderkey % 2 = 1
                            THEN 'Z' ELSE '+02:00' END AS z,
                       o_orderdate
                         + INTERVAL (o_orderkey % 24) HOUR AS t,
                       CASE WHEN o_orderkey % 2 = 1
                            THEN '"' || strftime(
                                   o_orderdate
                                     + INTERVAL (o_orderkey % 24) HOUR,
                                   '%Y-%m-%dT%H:%M:%S')
                                 || 'Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
                            ELSE '"' || strftime(
                                   o_orderdate
                                     + INTERVAL (o_orderkey % 24 + 2) HOUR,
                                   '%Y-%m-%dT%H:%M:%S')
                                 || '+02:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
                       END AS ser
                FROM orders)
            SELECT z, COUNT(*)::BIGINT AS n,
                   first(ser ORDER BY t, ser) AS "first"
            FROM inst GROUP BY z
        """,
        "sparql_agg_roundtrip": """
            -- two-level rollup replay: per-brand integer SUMs re-enter
            -- as "T"^^xsd:integer terms and re-aggregate per leading
            -- brand digit; integer SUM is associative so the direct
            -- per-digit sum is identical
            SELECT substr(p_brand, 7, 1) AS g,
                   CAST(SUM(p_size) AS DOUBLE) AS grand,
                   COUNT(DISTINCT p_brand)::BIGINT AS nbrands
            FROM part GROUP BY 1
        """,
        "sparql_distinct_agg": """
            -- canonical integer lexicals: term-distinct == value-
            -- distinct, so DuckDB's DISTINCT aggregates replay exactly
            SELECT p_brand AS brand,
                   CAST(SUM(DISTINCT p_size) AS DOUBLE) AS tot,
                   CAST(AVG(DISTINCT p_size) AS DOUBLE) AS mean,
                   COUNT(*)::BIGINT AS n
            FROM part GROUP BY 1
        """,
        "sparql_bnode_iri": """
            -- bnode-list desugaring replay: every part matches the
            -- class triple; fn:encode-for-uri leaves [A-Za-z0-9_.~-]
            -- untouched, so only '#' encodes in 'Brand#NN'
            SELECT 'http://ex.org/brand/'
                   || replace(p_brand, '#', '%23') AS u,
                   COUNT(*)::BIGINT AS n
            FROM part WHERE p_size > 45 GROUP BY 1
        """,
        "sparql_construct_quads": """
            -- quad-template replay: the GRAPH ?g scatter (every inBrand
            -- fact lives in graph://part) plus the default-graph
            -- audited marker; CONSTRUCT is set semantics but these
            -- instantiations are already distinct
            SELECT * FROM (
                SELECT 'graph://part' AS g,
                       'part://'||p_partkey AS s,
                       'http://ex.org/tierBrand' AS p, p_brand AS o
                FROM part WHERE p_brand LIKE 'Brand#1%'
                UNION ALL
                SELECT CAST(NULL AS VARCHAR), 'part://'||p_partkey,
                       'http://ex.org/audited', 'true'
                FROM part WHERE p_brand LIKE 'Brand#1%'
            )
        """,
        "sparql_nquads_file": """
            -- the .nq dataset is a lossless serialization of the quad
            -- store; per-(graph, predicate) counts replay from the
            -- parquet sources, the default graph tagged 'default'
            SELECT * FROM (
                SELECT 'graph://lineitem' AS g,
                       'http://ex.org/hasPart' AS p,
                       COUNT(*)::BIGINT AS n FROM lineitem
                UNION ALL
                SELECT 'graph://lineitem', 'http://ex.org/returnedAs',
                       COUNT(*)::BIGINT FROM lineitem
                UNION ALL
                SELECT 'graph://part', 'http://ex.org/inBrand',
                       COUNT(*)::BIGINT FROM part
                UNION ALL
                SELECT 'graph://part', 'http://ex.org/childOf',
                       COUNT(*)::BIGINT FROM part WHERE p_partkey >= 10
                UNION ALL
                SELECT 'graph://part', 'http://ex.org/isRoot',
                       COUNT(*)::BIGINT FROM part
                WHERE p_partkey BETWEEN 1 AND 9
                UNION ALL
                SELECT 'graph://orders', 'http://ex.org/status',
                       COUNT(*)::BIGINT FROM orders
                UNION ALL
                SELECT 'default', 'http://ex.org/retailPrice',
                       COUNT(*)::BIGINT FROM part
            )
        """,
        "sparql_graph_topk": """
            -- per-graph paging replay: distinct objects per named
            -- graph, each graph's own top-5 by DESC lexical order
            WITH """ + _SCALE_TRIPLES_SQL + """,
            objs AS (
                SELECT 'graph://lineitem' AS g, o FROM hp
                UNION ALL
                SELECT 'graph://lineitem', l_returnflag FROM lineitem
                UNION ALL SELECT 'graph://part', o FROM ib
                UNION ALL SELECT 'graph://part', o FROM co
                UNION ALL SELECT 'graph://part', 'true' FROM rt
                UNION ALL SELECT 'graph://orders', o FROM st
            ),
            d AS (SELECT DISTINCT g, o FROM objs)
            SELECT g, o FROM d
            QUALIFY row_number() OVER
                (PARTITION BY g ORDER BY o DESC) <= 5
        """,
        "sparql_typed_order": """
            -- §15.1 VALUE ordering replay: MIN/MAX over the typed
            -- integer sizes are the NUMERIC extremes (lexicographic
            -- MAX would answer "9"), re-encoded as the engine's
            -- "<n>"^^xsd:integer terms; the outer ORDER BY ... LIMIT
            -- pages by the hi VALUE (desc), lo value, then brand
            WITH agg AS (
                SELECT p_brand AS brand,
                       MIN(p_size) AS lo_v, MAX(p_size) AS hi_v,
                       -- the subquery's COUNT re-enters the binding
                       -- table as its LEXICAL string (engine invariant)
                       CAST(COUNT(*) AS VARCHAR) AS n
                FROM part GROUP BY 1)
            SELECT brand,
                   '"' || lo_v ||
                   '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS lo,
                   '"' || hi_v ||
                   '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS hi,
                   n
            FROM agg
            ORDER BY hi_v DESC, lo_v, brand
            LIMIT 10
        """,
        "sparql_datetime": """
            -- instant replay: both spelling families decode to the SAME
            -- naive-UTC timeline (+02:00 wall-shift cancels the offset);
            -- the boundary and per-group MIN compare instants, with the
            -- serialization itself as the deterministic tie-break (the
            -- engine key struct's third field)
            WITH inst AS (
                SELECT o_orderstatus AS st,
                       o_orderdate
                         + INTERVAL (o_orderkey % 24) HOUR AS t,
                       CASE WHEN o_orderkey % 2 = 1
                            THEN '"' || strftime(
                                   o_orderdate
                                     + INTERVAL (o_orderkey % 24) HOUR,
                                   '%Y-%m-%dT%H:%M:%S')
                                 || 'Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
                            ELSE '"' || strftime(
                                   o_orderdate
                                     + INTERVAL (o_orderkey % 24 + 2) HOUR,
                                   '%Y-%m-%dT%H:%M:%S')
                                 || '+02:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>'
                       END AS ser
                FROM orders)
            SELECT st, COUNT(*)::BIGINT AS n,
                   first(ser ORDER BY t, ser) AS "first"
            FROM inst
            WHERE t >= TIMESTAMP '1997-06-15 12:00:00'
            GROUP BY st
        """,
        "sparql_scale_fns": "WITH " + _SCALE_TRIPLES_SQL + """
            SELECT CASE WHEN ib.o LIKE 'Brand#1%' THEN 'b1'
                        ELSE 'rest' END AS k,
                   CASE WHEN co.s IS NOT NULL THEN 'child'
                        ELSE 'root' END AS r,
                   COUNT(*)::BIGINT AS n
            FROM ib LEFT JOIN co ON co.s = ib.s
            GROUP BY 1, 2
        """,
        **(
            {"compression_ratio": _compression_ratio_sql()}
            if _compression_ratio_sql() is not None
            else {}
        ),
    }
