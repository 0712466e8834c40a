"""The benchmark's workloads. Each drives the program only through its
public functions and checks every answer against ``gen``'s ground truth.

A workload has a set-up (populate what its ops read), a warm-up (one op of
every class) and a stream of rounds; a round is a fixed, seeded mix of
ops, and the closed-loop client only stops between rounds, so every run
measures the same mix.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from collections import Counter

import gen
from harness import Op

SOURCES = ["intact", "biogrid", "tfregulons", "hmdd", "go", "rhea"]
#: the sources whose edges make up kg_analytics' knowledge graph
KG_SOURCES = ["tfregulons", "hmdd"]


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def parquet_files(path: str) -> list:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def read_parquet_rows(path: str, columns=None) -> list:
    """The program's stored table, read back without Spark."""
    import pyarrow.parquet as pq

    rows = []
    for f in parquet_files(path):
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


def parquet_row_count(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


class Base:
    """Shared plumbing: the session, the tracer and the input readers."""

    name = ""

    def __init__(self, host, tracer, generator, work: str):
        self.host = host
        self.tracer = tracer
        self.gen = generator
        self.work = work
        self.input_bytes = 0

    @property
    def spark(self):
        return self.host.spark

    def fresh_warehouse(self, tag: str) -> str:
        path = os.path.join(self.work, "warehouse", tag)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def read_inputs(self, cls, paths: dict) -> dict:
        """Raw files -> DataFrames through the ingest layer."""
        from bio2bel_spark import ingest

        dfs = {}
        for name, path in paths.items():
            with self.tracer.span("ingest.read"):
                if path.endswith(".nt"):
                    dfs[name] = ingest.read_ntriples(self.spark, path)
                else:
                    schema = cls.inputs.get(name, (False, None))[1]
                    if schema is None:
                        with open(path, encoding="utf-8") as f:
                            header = f.readline().rstrip("\n").split("\t")
                        schema = ", ".join(f"`{c}` STRING" for c in header)
                    dfs[name] = ingest.read_tsv(self.spark, path, schema)
            if self.tracer.enabled:
                with self.tracer.bookkeeping():
                    header = 0 if path.endswith(".nt") else 1
                    self.tracer.count("ingest.rows_read", line_count(path) - header)
        return dfs

    def populate(self, cls, paths: dict, warehouse: str):
        ds = cls(self.spark, warehouse, input_dfs=self.read_inputs(cls, paths))
        with self.tracer.span("catalog.populate"):
            ds.populate()
        if self.tracer.enabled:
            with self.tracer.bookkeeping():
                for logical in ds.tables:
                    n = parquet_row_count(ds.catalog.table_path(ds.table_name(logical)))
                    key = "rejected" if logical == "rejects" else "accepted"
                    self.tracer.count(f"sources.{key}", n)
        return ds

    # the setup and the op stream, per workload
    def setup(self, tag: str) -> None:
        raise NotImplementedError

    def warmup(self) -> list:
        raise NotImplementedError

    def round(self, i: int) -> list:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def corrupt(self) -> None:
        """Falsify one expected answer, so checks must report a failure."""
        raise NotImplementedError


def source_classes() -> dict:
    from bio2bel_spark.sources import datasets as D

    return {
        "intact": D.IntactDataset, "biogrid": D.BioGRIDDataset,
        "tfregulons": D.TFRegulonsDataset, "hmdd": D.HMDDDataset,
        "go": D.GODataset, "rhea": D.RheaDataset,
    }


def line_count(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


def tsv_matches(path: str, triples) -> bool:
    """An exported triples TSV holds exactly ``triples`` (as a multiset)."""
    with open(path, encoding="utf-8") as f:
        got = [tuple(line.rstrip("\n").split("\t")) for line in f]
    return gen.rows_digest(got) == gen.rows_digest(triples)


def check_source(warehouse: str, src: str, batch) -> bool:
    """A populated source holds exactly the expected rows and rejects."""
    table = "reactions" if src == "rhea" else "edges"
    path = os.path.join(warehouse, f"{src}_{table}")
    if src == "rhea":
        got = sorted(
            (r["identifier"], sorted(x["identifier"] for x in r["reactants"]),
             sorted(x["identifier"] for x in r["products"]))
            for r in read_parquet_rows(path))
        return got == sorted(batch.reactions)
    if parquet_row_count(path) != batch.accepted[src]:
        return False
    rej_path = os.path.join(warehouse, f"{src}_rejects")
    if os.path.isdir(rej_path):
        got = Counter(r["reject_reason"] for r in read_parquet_rows(rej_path, ["reject_reason"]))
        return got == batch.rejects[src]
    return not batch.rejects[src]


# =============================================================== etl_populate
class EtlPopulate(Base):
    """Bulk write path: raw files -> six sources -> catalog + exports."""

    name = "etl_populate"
    BATCHES = 2

    def __init__(self, *a):
        super().__init__(*a)
        self.batches = [self.gen.source_batch(f"b{k}") for k in range(self.BATCHES)]
        self.warehouse = None

    def setup(self, tag: str) -> None:
        self.warehouse = self.fresh_warehouse(f"setup-{tag}")

    def warmup(self) -> list:
        # one op per class on the cheapest source, in a throwaway warehouse
        return self._ops(self.batches[0], self.warehouse, ["go"], "go")

    def round(self, i: int) -> list:
        batch = self.batches[i % len(self.batches)]
        self.warehouse = self.fresh_warehouse(f"round-{i % 2}")
        self.input_bytes = batch.input_bytes
        return self._ops(batch, self.warehouse, SOURCES, "intact")

    def corrupt(self) -> None:
        self.batches[0].accepted["go"] += 1

    def _ops(self, batch, wh: str, sources: list, export_src: str) -> list:
        from bio2bel_spark.catalog import Catalog
        from bio2bel_spark.io.automate import ensure_graph_json, ensure_triples_tsv

        classes = source_classes()
        ops = []
        for src in sources:
            ops.append(Op(
                "populate",
                lambda src=src: self.populate(classes[src], batch.paths[src], wh),
                lambda _, src=src: check_source(wh, src, batch),
                rows=batch.rows[src],
            ))
        expected = batch.edges[export_src]

        def check_tsv(path):
            return tsv_matches(path, [(h, r, t) for h, r, t, _ in expected])

        def check_json(path):
            n_nodes, n_edges = (
                sum(line_count(f) for f in glob.glob(os.path.join(path, part, "part-*")))
                for part in ("nodes", "edges"))
            nodes = {h for h, *_ in expected} | {t for _, _, t, _ in expected}
            return n_nodes == len(nodes) and n_edges == len(expected)

        def check_provenance(rows):
            latest = {r["resource"]: r["action"] for r in rows}
            return all(latest.get(s) == "populate" for s in sources)

        def export(fn, span):
            def run():
                with self.tracer.span(span):
                    path = fn(export_src, self.spark, wh)
                if self.tracer.enabled:
                    with self.tracer.bookkeeping():
                        size = tree_bytes(path) if os.path.isdir(path) else os.path.getsize(path)
                        self.tracer.count("io.export_bytes", size)
                return path
            return run

        ops.append(Op("export_tsv", export(ensure_triples_tsv, "io.triples_tsv"), check_tsv))
        ops.append(Op("export_json", export(ensure_graph_json, "io.graph_json"), check_json))

        def provenance():
            with self.tracer.span("catalog.latest_actions"):
                return Catalog(self.spark, wh).latest_actions().collect()

        ops.append(Op("provenance", provenance, check_provenance))
        return ops

    def stored_bytes(self) -> int:
        return tree_bytes(self.warehouse)


# ============================================================== catalog_query
def geneset_dataset_class():
    """A ComPath-style gene-set source registered the way a user would."""
    from bio2bel_spark.dataset import get_dataset_classes
    from bio2bel_spark.sources.datasets import SourceDataset

    existing = get_dataset_classes().get("genesets")
    if existing is not None:
        return existing

    class GeneSetsDataset(SourceDataset):
        module_name = "genesets"
        tables = {
            "pathway": "pathway_id STRING, prefix STRING, identifier STRING, name STRING",
            "protein": "protein_id STRING, entrez_id STRING, hgnc_id STRING, hgnc_symbol STRING",
            "membership": "pathway_id STRING, protein_id STRING",
            "namespace": "identifier STRING, name STRING, encoding STRING",
            "edges": None,
        }
        inputs = {
            "pathway": (True, tables["pathway"]),
            "protein": (True, tables["protein"]),
            "membership": (True, tables["membership"]),
        }

        def _populate_tables(self, **kwargs):
            from bio2bel_spark.operators.graph import pathway_membership_to_edges
            from bio2bel_spark.operators.namespace import make_namespace

            pathway, protein = self._input("pathway"), self._input("protein")
            membership = self._input("membership")
            return {
                "pathway": pathway,
                "protein": protein,
                "membership": membership,
                "namespace": make_namespace(protein, "hgnc_id", "hgnc_symbol"),
                "edges": pathway_membership_to_edges(membership, pathway, protein),
            }

    return GeneSetsDataset


class CatalogQuery(Base):
    """Interactive reads with small writes beside them."""

    name = "catalog_query"
    classes = ["lookup_id", "lookup_symbols", "search", "enrich", "summarize",
               "provenance", "cache_hit", "write"]
    #: ops of each class in one round (30 ops, 3 of them writes)
    MIX = {"lookup_id": 6, "lookup_symbols": 6, "search": 5, "enrich": 4,
           "summarize": 1, "provenance": 2, "cache_hit": 3, "write": 3}
    ZIPF_S = 1.1

    def __init__(self, *a):
        super().__init__(*a)
        self.gs = self.gen.genesets()
        self.pool = self.gen.gene_set_pool()
        self.input_bytes = self.gs["input_bytes"]
        self._enrich_truth = {}
        self._zipf = [1.0 / (k + 1) ** self.ZIPF_S for k in range(len(self.pool))]

    def setup(self, tag: str) -> None:
        from bio2bel_spark.operators.pathways import PathwayStore

        self.warehouse = self.fresh_warehouse(f"setup-{tag}")
        self.ds = self.populate(geneset_dataset_class(), self.gs["paths"], self.warehouse)
        self.store = PathwayStore(self.ds.table("pathway"), self.ds.table("protein"),
                                  self.ds.table("membership"))
        self.tsv = None
        self.namespace = {p[2]: p[3] for p in self.gs["proteins"]}
        self.latest = {"genesets": "populate"}
        self.n_writes = 0
        self.sets_seen = set()
        self.enrich_requests = self.enrich_repeats = 0
        self.rng = random.Random(f"catalog-{self.gen.seed}-{tag}")

    def warmup(self) -> list:
        # the BEL export is built once here; the timed ops hit its cache
        return [self._op_export()] + [self._op(c) for c in self.classes]

    def round(self, i: int) -> list:
        ops = [c for c, n in self.MIX.items() for _ in range(n)]
        self.rng.shuffle(ops)
        return [self._op(c) for c in ops]

    def stored_bytes(self) -> int:
        return tree_bytes(self.warehouse)

    def corrupt(self) -> None:
        pid, prefix, ident, name = self.gs["pathways"][0]
        self.gs["pathways"] = [(pid, prefix, ident, name + " (wrong)")] + self.gs["pathways"][1:]

    # ---------------------------------------------------------------- ops
    def _op(self, cls: str) -> Op:
        return getattr(self, f"_op_{cls}")()

    def _op_lookup_id(self) -> Op:
        pw = self.rng.choice(self.gs["pathways"])

        def run():
            with self.tracer.span("pathways.lookup"):
                return self.store.get_pathway_by_id(pw[2])

        return Op("lookup_id", run,
                  lambda row: row is not None and (row["pathway_id"], row["name"]) == (pw[0], pw[3]))

    def _op_lookup_symbols(self) -> Op:
        prots = self.gs["proteins"]
        picks = self.rng.sample(prots, self.rng.randint(3, 12))
        symbols = [p[3] for p in picks] + ["NOSUCHGENE"]
        want = {(p[0], p[3]) for p in picks}

        def run():
            with self.tracer.span("pathways.lookup"):
                df = self.store.get_proteins_by_symbols(symbols)
                rows = df.collect()
            self._scan_ratio(df, len(rows))
            return rows

        return Op("lookup_symbols", run,
                  lambda rows: {(r["protein_id"], r["hgnc_symbol"]) for r in rows} == want)

    def _op_search(self) -> Op:
        limit = 10
        if self.rng.random() < 0.5:
            g = self.rng.choice(self.gen.genes)
            q = g.symbol[: max(2, len(g.symbol) - 1)].lower()
            method, col = "search_genes", "hgnc_symbol"
            n_match = sum(q in p[3].lower() for p in self.gs["proteins"])
        else:
            q = self.rng.choice(["signal", "metab", "repair", "pathway 1", "hsa0"])
            method, col = "search_pathways", None
            n_match = sum(q in p[3].lower() or q in p[2].lower() for p in self.gs["pathways"])

        def run():
            with self.tracer.span("pathways.search"):
                df = getattr(self.store, method)(q, limit=limit)
                rows = df.collect()
            self._scan_ratio(df, len(rows))
            return rows

        def check(rows):
            if len(rows) != min(limit, n_match):
                return False
            if col:
                return all(q in r[col].lower() for r in rows)
            return all(q in r["name"].lower() or q in r["identifier"].lower() for r in rows)

        return Op("search", run, check)

    def _op_enrich(self) -> Op:
        k = self.rng.choices(range(len(self.pool)), weights=self._zipf)[0]
        symbols = self.pool[k]
        self.enrich_requests += 1
        if k in self.sets_seen:
            self.enrich_repeats += 1
        self.sets_seen.add(k)
        if k not in self._enrich_truth:
            self._enrich_truth[k] = gen.enrichment(self.gs["members"], self.gs["pathways"], symbols)
        want = self._enrich_truth[k]

        def run():
            with self.tracer.span("pathways.query_symbols"):
                df = self.store.query_symbols(symbols)
                rows = df.collect()
            self._scan_ratio(df, len(rows))
            return rows

        return Op("enrich", run, lambda rows: {
            (r["pathway_id"], r["pathway_name"], r["mapped_proteins"], r["pathway_size"],
             tuple(r["gene_set"])) for r in rows} == want)

    def _op_summarize(self) -> Op:
        # ops are built in execution order, so the state seen here is the
        # state the op will read
        want = {"pathway": len(self.gs["pathways"]), "protein": len(self.gs["proteins"]),
                "membership": self.gs["n_membership"], "namespace": len(self.namespace),
                "edges": len(self.gs["edges"])}

        def run():
            with self.tracer.span("catalog.summarize"):
                return self.ds.summarize()

        return Op("summarize", run, lambda got: got == want)

    def _op_provenance(self) -> Op:
        want = dict(self.latest)

        def run():
            with self.tracer.span("catalog.latest_actions"):
                return self.ds.catalog.latest_actions().collect()

        return Op("provenance", run,
                  lambda rows: {r["resource"]: r["action"] for r in rows} == want)

    def _op_export(self) -> Op:
        from bio2bel_spark.io.automate import ensure_triples_tsv

        def run():
            with self.tracer.span("io.triples_tsv"):
                self.tsv = ensure_triples_tsv("genesets", self.spark, self.warehouse)
            self.tracer.count("io.export_bytes", os.path.getsize(self.tsv))
            return self.tsv

        return Op("export_tsv", run, lambda path: tsv_matches(path, self.gs["edges"]))

    def _op_cache_hit(self) -> Op:
        from bio2bel_spark.io.automate import ensure_triples_tsv

        def run():
            with self.tracer.span("io.cache_hit"):
                return ensure_triples_tsv("genesets", self.spark, self.warehouse)

        return Op("cache_hit", run, lambda path: path == self.tsv and os.path.isfile(path))

    def _op_write(self) -> Op:
        from bio2bel_spark.operators.namespace import ENTRY_SCHEMA, namespace_hash

        self.n_writes += 1
        w = self.n_writes
        old = self.rng.sample(sorted(self.namespace), 3)
        new = [(f"n{w}x{j}", f"NEWSYM{w}X{j}") for j in range(self.rng.randint(2, 6))]
        delta = [(i, self.namespace[i], "GRP") for i in old] + [(i, n, "GRP") for i, n in new]
        self.namespace.update(new)
        names = list(self.namespace.values())
        resource = f"namespace-{w % 3}"
        self.latest[resource] = "upsert"

        def run():
            df = self.spark.createDataFrame(delta, ENTRY_SCHEMA)
            with self.tracer.span("catalog.upsert"):
                added = self.ds.upsert("namespace", df, "identifier")
            self.tracer.count("catalog.upsert_rows_added", added)
            with self.tracer.span("namespace.hash"):
                digest = namespace_hash(self.ds.table("namespace"))
            self.ds.catalog.store_action(resource, "upsert")
            return added, digest

        return Op("write", run,
                  lambda out: out == (len(new), gen.namespace_digest(names)))

    def _scan_ratio(self, df, n_result: int) -> None:
        if not self.tracer.enabled:
            return
        with self.tracer.bookkeeping():
            self.tracer.count("pathways.scan_rows", scan_rows(df))
            self.tracer.count("pathways.result_rows", n_result)

    def repeat_share(self) -> float:
        return self.enrich_repeats / self.enrich_requests if self.enrich_requests else 0.0


def scan_rows(df) -> int:
    """Rows the executed plan's file scans produced (SQL metrics)."""
    plan = df._jdf.queryExecution().executedPlan()
    total, stack = 0, [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls in ("FileSourceScanExec", "BatchScanExec"):
            metric = node.metrics().get("numOutputRows")
            if metric.isDefined():
                total += metric.get().value()
        children = node.children()
        for k in range(children.size()):
            stack.append(children.apply(k))
    return total


# =============================================================== kg_analytics
class KgAnalytics(Base):
    """Long iterative jobs over the union knowledge graph."""

    name = "kg_analytics"

    def __init__(self, *a):
        super().__init__(*a)
        self.batch = self.gen.source_batch("b0")
        self.hier = self.gen.hierarchy()
        self.input_bytes = self.hier["input_bytes"] + sum(
            os.path.getsize(p) for s in KG_SOURCES for p in set(self.batch.paths[s].values()))
        edges = [e for s in KG_SOURCES for e in self.batch.edges[s]]
        self.truth = gen.graph_truth(edges)
        self.oracle = gen.SparqlOracle([(h, r, t) for h, r, t, _ in edges] + [
            (f"go:{c}", "isA", f"go:{p}") for c, _, p in self.hier["edges"]])

    def setup(self, tag: str) -> None:
        from pyspark.sql import functions as F

        from bio2bel_spark import ingest
        from bio2bel_spark.operators.graph import KnowledgeGraph

        self.warehouse = self.fresh_warehouse(f"setup-{tag}")
        classes = source_classes()
        kg = None
        for src in KG_SOURCES:
            ds = self.populate(classes[src], self.batch.paths[src], self.warehouse)
            edges = ds.table("edges")
            part = KnowledgeGraph(KnowledgeGraph(None, edges).induced_nodes(), edges)
            kg = part if kg is None else kg.union(part)
        self.kg = kg
        with self.tracer.span("ingest.read"):
            self.hierarchy = ingest.read_tsv(
                self.spark, self.hier["path"], "child STRING, relation STRING, parent STRING")
        self.rdf = kg.triples().toDF("s", "p", "o").unionByName(self.hierarchy.select(
            F.concat(F.lit("go:"), "child").alias("s"), F.lit("isA").alias("p"),
            F.concat(F.lit("go:"), "parent").alias("o")))
        self.rng = random.Random(f"kg-{self.gen.seed}-{tag}")

    def warmup(self) -> list:
        return [self._op_components(), self._op_descendants(), self._op_degree(),
                self._op_edge_list(), self._op_sparql("group_having")]

    def round(self, i: int) -> list:
        ops = [self._op_components(), self._op_descendants(), self._op_degree(),
               self._op_degree(), self._op_edge_list()]
        ops += [self._op_sparql(q) for q in gen.SPARQL_QUERIES]
        self.rng.shuffle(ops)
        return ops

    def stored_bytes(self) -> int:
        return tree_bytes(self.warehouse)

    def corrupt(self) -> None:
        self.truth["components"] += 1

    def _op_components(self) -> Op:
        t = self.truth

        def run():
            with self.tracer.span("graph.components"):
                return self.kg.summary(with_components=True)

        return Op("components", run, lambda s: (
            s["nodes"], s["edges"], s["citations"], s["components"]) == (
            t["nodes"], t["edges"], t["citations"], t["components"])
            and abs(s["density"] - t["density"]) < 1e-12)

    def _op_descendants(self) -> Op:
        from bio2bel_spark.operators.graph import KnowledgeGraph

        # two roots one level below the top: a fixed number of BFS steps
        roots = [self.gen.go_term(x) for x in self.rng.sample(self.hier["levels"][1], 2)]
        want = gen.descendants(self.hier["children"], roots)

        def run():
            seeds = self.spark.createDataFrame([(r,) for r in roots], "node string")
            with self.tracer.span("graph.descendants"):
                return KnowledgeGraph.descendants(self.hierarchy, seeds).collect()

        return Op("descendants", run, lambda rows: {r["node"] for r in rows} == want)

    def _op_degree(self) -> Op:
        def run():
            with self.tracer.span("graph.degree"):
                return self.kg.degree_distribution().collect()

        return Op("degree", run, lambda rows: {
            r["degree"]: r["n_nodes"] for r in rows} == self.truth["degree_hist"])

    def _op_edge_list(self) -> Op:
        def run():
            with self.tracer.span("graph.edge_list"):
                return self.kg.edge_list().collect()

        return Op("edge_list", run, lambda rows: gen.rows_digest(
            (r["source_id"], r["target_id"]) for r in rows) == self.truth["edge_list_digest"])

    def _op_sparql(self, name: str) -> Op:
        from bio2bel_spark import sparql

        levels = self.hier["levels"]
        level = levels[-1] if name == "path_plus" else levels[len(levels) // 2]
        term = "go:" + self.gen.go_term(self.rng.choice(level))
        query = gen.SPARQL_QUERIES[name].replace("{term}", term)
        want = self.oracle.answer(name, term)

        def run():
            # a traced run wraps sparql_select itself as "sparql.plan"
            df = sparql.sparql_select(self.rdf, query)
            with self.tracer.span("sparql.exec"):
                return df.collect()

        return Op("sparql", run, lambda rows: gen.rows_digest(tuple(r) for r in rows) == want)


WORKLOADS = {w.name: w for w in (EtlPopulate, CatalogQuery, KgAnalytics)}
