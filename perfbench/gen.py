"""Seeded input generator with ground truth for the benchmark.

Everything here is plain Python: the generator writes raw source files
(MITAB-style TSV, TF-regulon / HMDD / GO TSVs, Rhea-style N-triples and the
gene-set and hierarchy tables) and computes, independently of the program,
the answer every benchmark operation must return. The program under test
only ever sees the files.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
import random
import zlib
from collections import Counter, defaultdict
from dataclasses import dataclass, field

#: sizes per scale: "full" for measurement, "tiny" for the smoke test and the
#: traced runs' probe pass
SCALES = {
    "full": dict(
        genes=3000, intact=6000, biogrid=6000, tfregulons=1500, hmdd=2000,
        go=4000, reactions=300, pathways=400, terms=750, depth=5,
        gene_sets=16,
    ),
    "tiny": dict(
        genes=120, intact=200, biogrid=200, tfregulons=60, hmdd=80,
        go=150, reactions=12, pathways=24, terms=60, depth=4,
        gene_sets=8,
    ),
}

FAMILIES = ["KRT", "ZNF", "SLC", "MAPK", "CDK", "RAB", "HOX", "TP", "IL", "WNT",
            "FOX", "SOX", "TNF", "GATA", "NOTCH", "SMAD"]

# PSI-MI interaction types and the BEL relation each maps to (IntAct)
INTACT_TYPES = {
    'psi-mi:"MI:0217"(phosphorylation reaction)': "increases",
    'psi-mi:"MI:0220"(ubiquitination reaction)': "increases",
    'psi-mi:"MI:0203"(dephosphorylation reaction)': "decreases",
    'psi-mi:"MI:0570"(protein cleavage)': "decreases",
    'psi-mi:"MI:0914"(association)': "association",
    'psi-mi:"MI:0915"(physical association)': "association",
    'psi-mi:"MI:0407"(direct interaction)': "regulates",
    'psi-mi:"MI:0195"(covalent binding)': "binds",
}
INTACT_OMIT = 'psi-mi:"MI:1110"(predicted interaction)'
BIOGRID_TYPES = {
    'psi-mi:"MI:0794"(synthetic genetic interaction defined by inequality)': "association",
    'psi-mi:"MI:0915"(physical association)': "association",
    'psi-mi:"MI:0403"(colocalization)': "association",
    'psi-mi:"MI:0407"(direct interaction)': "binds",
}
UNKNOWN_TYPE = 'psi-mi:"MI:9999"(unknown)'

ORGANS = ["liver", "lung", "breast", "colon", "brain", "kidney", "skin", "bone"]
KINDS = ["carcinoma", "fibrosis", "syndrome", "neoplasm", "disease"]

RH = "http://rdf.rhea-db.org/"
CHEBI = "http://purl.obolibrary.org/obo/CHEBI_"
XSD_LONG = "http://www.w3.org/2001/XMLSchema#long"

#: the SPARQL queries the kg_analytics workload runs, over the knowledge
#: graph's (h, r, t) triples plus the hierarchy's isA triples
SPARQL_QUERIES = {
    "bgp_join": (
        "SELECT ?a ?b ?c WHERE { ?a <increases> ?b . ?b <transcribedTo> ?c }"
    ),
    "path_plus": "SELECT ?x WHERE { <{term}> <isA>+ ?x }",
    "path_star": "SELECT ?x WHERE { ?x <isA>* <{term}> }",
    "group_having": (
        "SELECT ?s (COUNT(?o) AS ?n) WHERE { ?s <regulates> ?o } "
        "GROUP BY ?s HAVING (COUNT(?o) > 2)"
    ),
    "optional_filter": (
        "SELECT ?s ?o ?r WHERE { ?s <directlyIncreases> ?o . "
        "OPTIONAL { ?o <increases> ?r } FILTER(?s != ?o) }"
    ),
}


def rows_digest(rows) -> str:
    """Order-independent digest of result rows (tuples of str/int/None)."""
    lines = sorted(json.dumps(list(r), default=str) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def namespace_digest(names, encoding: str = "GRP", n_buckets: int = 64) -> str:
    """Content hash of a namespace, by the documented definition of
    ``operators.namespace.namespace_hash``: crc32 buckets of
    ``name:encoding`` lines, md5 per bucket of the sorted lines, md5 of the
    bucket digests in bucket order."""
    buckets = defaultdict(list)
    for n in names:
        line = f"{n}:{encoding}"
        buckets[zlib.crc32(line.encode()) % n_buckets].append(line)
    per = [hashlib.md5("\n".join(sorted(buckets[b])).encode()).hexdigest()
           for b in sorted(buckets)]
    return hashlib.md5("\n".join(per).encode()).hexdigest()


@dataclass
class Gene:
    symbol: str
    hgnc: str
    ncbi: str
    uniprot: str
    biogrid: str


@dataclass
class Batch:
    """One set of raw source files plus what populating them must yield."""

    paths: dict = field(default_factory=dict)       # source -> {input: path}
    rows: dict = field(default_factory=dict)        # source -> raw rows in
    accepted: dict = field(default_factory=dict)    # source -> edge/row count
    rejects: dict = field(default_factory=dict)     # source -> Counter(reason)
    edges: dict = field(default_factory=dict)       # source -> [(h, r, t, cit)]
    reactions: list = field(default_factory=list)   # (id, reactants, products)
    input_bytes: int = 0


class Generator:
    """Deterministic inputs and answers for one ``--seed``."""

    def __init__(self, root: str, seed: int, scale: str = "full"):
        self.root = root
        self.seed = seed
        self.size = SCALES[scale]
        rng = random.Random(f"universe-{seed}")
        n = self.size["genes"]
        order = list(range(n))
        rng.shuffle(order)
        self.genes = [
            Gene(
                symbol=f"{FAMILIES[i % len(FAMILIES)]}{i // len(FAMILIES) + 1}",
                hgnc=str(1000 + i),
                ncbi=str(50000 + i),
                uniprot=f"P{10000 + i}",
                biogrid=str(900000 + i),
            )
            for i in order
        ]
        # popularity rank = list position: Zipf weights over genes
        self._cum = list(itertools.accumulate(1.0 / (r + 1) ** 0.8 for r in range(n)))
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ utilities
    def _pick_index(self, rng) -> int:
        return rng.choices(range(len(self.genes)), cum_weights=self._cum)[0]

    def _pick_gene(self, rng) -> Gene:
        return self.genes[self._pick_index(rng)]

    def _write_tsv(self, batch: Batch, name: str, header, rows) -> str:
        path = os.path.join(self.root, name)
        with open(path, "w", encoding="utf-8") as f:
            f.write("\t".join(header) + "\n")
            for r in rows:
                f.write("\t".join("" if v is None else str(v) for v in r) + "\n")
        batch.input_bytes += os.path.getsize(path)
        return path

    # ---------------------------------------------------------- raw sources
    def source_batch(self, tag: str) -> Batch:
        """Raw files for the six ETL sources; ``tag`` names the batch."""
        b = Batch()
        rng = random.Random(f"batch-{self.seed}-{tag}")
        d = f"{tag}"
        os.makedirs(os.path.join(self.root, d), exist_ok=True)
        self._intact(b, rng, d)
        self._biogrid(b, rng, d)
        self._tfregulons(b, rng, d)
        self._hmdd(b, rng, d)
        self._go(b, rng, d)
        self._rhea(b, rng, d)
        return b

    def _mapping_tsvs(self, b: Batch, d: str) -> dict:
        g = self.genes
        return {
            "uniprot_ncbigene": self._write_tsv(
                b, f"{d}/uniprot_ncbigene.tsv", ["uniprot_id", "ncbigene_id"],
                [(x.uniprot, x.ncbi) for x in g]),
            "ncbigene_names": self._write_tsv(
                b, f"{d}/ncbigene_names.tsv", ["ncbigene_id", "name"],
                [(x.ncbi, x.symbol) for x in g]),
            "biogrid_map": self._write_tsv(
                b, f"{d}/biogrid_map.tsv", ["biogrid_id", "ncbigene_id"],
                [(x.biogrid, x.ncbi) for x in g]),
            "hgnc_map": self._write_tsv(
                b, f"{d}/hgnc_map.tsv", ["hgnc_symbol", "hgnc_id"],
                [(x.symbol, x.hgnc) for x in g]),
            "uniprot_hgnc": self._write_tsv(
                b, f"{d}/uniprot_hgnc.tsv", ["uniprot_id", "hgnc_id"],
                [(x.uniprot, x.hgnc) for x in g]),
            "hgnc_ncbigene": self._write_tsv(
                b, f"{d}/hgnc_ncbigene.tsv", ["hgnc_id", "ncbigene_id"],
                [(x.hgnc, x.ncbi) for x in g]),
        }

    def _intact(self, b, rng, d):
        maps = self._mapping_tsvs(b, d)
        self._maps = maps
        types = list(INTACT_TYPES)
        rows, edges, rejects = [], [], Counter()
        for i in range(self.size["intact"]):
            ga, gb = self._pick_gene(rng), self._pick_gene(rng)
            a, bb = f"uniprotkb:{ga.uniprot}", f"uniprotkb:{gb.uniprot}"
            t = rng.choice(types)
            pub = f"imex:IM-{i}|pubmed:{rng.randrange(10**6, 10**7)}"
            u = rng.random()
            if u < 0.70:
                edges.append((f"ncbigene:{ga.ncbi}", INTACT_TYPES[t],
                              f"ncbigene:{gb.ncbi}", pub.split("|")[1]))
            elif u < 0.80:
                a = f"ensembl:ENSG{i:08d}"
                rejects["unmapped_interactor"] += 1
            elif u < 0.90:
                a = f"intact:EBI-{i}"
                rejects["ebi_identifier"] += 1
            elif u < 0.97:
                t = UNKNOWN_TYPE
                rejects["unhandled_relation"] += 1
            else:
                t = INTACT_OMIT
            rows.append((a, bb, t, pub, 'psi-mi:"MI:0018"(two hybrid)',
                         'psi-mi:"MI:0469"(IntAct)',
                         f"intact-miscore:0.{rng.randrange(10, 99)}"))
        cols = ["interactor_a", "interactor_b", "interaction_type",
                "publications", "detection_method", "source_database",
                "confidence"]
        b.paths["intact"] = {
            "raw": self._write_tsv(b, f"{d}/intact.tsv", cols, rows),
            "uniprot_ncbigene": maps["uniprot_ncbigene"],
            "ncbigene_names": maps["ncbigene_names"],
        }
        b.rows["intact"] = len(rows) + 2 * len(self.genes)
        b.accepted["intact"] = len(edges)
        b.rejects["intact"] = rejects
        b.edges["intact"] = edges

    def _biogrid(self, b, rng, d):
        types = list(BIOGRID_TYPES)
        rows, edges, rejects = [], [], Counter()
        for i in range(self.size["biogrid"]):
            ga, gb = self._pick_gene(rng), self._pick_gene(rng)
            a = rng.choice([f"entrez gene/locuslink:{ga.ncbi}",
                            f"ncbigene:{ga.ncbi}", f"biogrid:{ga.biogrid}"])
            bb = f"entrez gene/locuslink:{gb.ncbi}"
            t = rng.choice(types)
            pub = f"pubmed:{rng.randrange(10**6, 10**7)}"
            u = rng.random()
            if u < 0.70:
                edges.append((f"ncbigene:{ga.ncbi}", BIOGRID_TYPES[t],
                              f"ncbigene:{gb.ncbi}", pub))
            elif u < 0.80:
                pub = f"doi:10.{i}/bench"
                rejects["non_pubmed_provenance"] += 1
            elif u < 0.90:
                bb = f"biogrid:{10**7 + i}"
                rejects["unmapped_interactor"] += 1
            else:
                t = UNKNOWN_TYPE
                rejects["unhandled_relation"] += 1
            rows.append((a, bb, t, pub, 'psi-mi:"MI:0018"(two hybrid)',
                         'psi-mi:"MI:0463"(biogrid)', "-"))
        cols = ["interactor_a", "interactor_b", "interaction_type",
                "publications", "detection_method", "source_database",
                "confidence"]
        b.paths["biogrid"] = {
            "raw": self._write_tsv(b, f"{d}/biogrid.tsv", cols, rows),
            "biogrid_map": self._maps["biogrid_map"],
        }
        b.rows["biogrid"] = len(rows) + len(self.genes)
        b.accepted["biogrid"] = len(edges)
        b.rejects["biogrid"] = rejects
        b.edges["biogrid"] = edges

    def _tfregulons(self, b, rng, d):
        # regulons are dense: few TFs over a pool of popular targets
        tfs = self.genes[: max(8, len(self.genes) // 60)]
        pool = self.genes[: max(16, len(self.genes) // 10)]
        rows, edges, targets = [], [], set()
        for i in range(self.size["tfregulons"]):
            tf, tg = rng.choice(tfs), rng.choice(pool)
            effect = rng.choice([1, 1, -1])
            score = rng.choice(["A", "B", "C"])
            pmids = [str(rng.randrange(10**6, 10**7))
                     for _ in range(rng.randint(1, 3))]
            tf_sym, tg_sym = tf.symbol, tg.symbol
            u = rng.random()
            if u < 0.75:
                up = effect == 1
                for p in pmids:
                    edges.append((f"complex:{tf.hgnc}_{tg.hgnc}",
                                  "directlyIncreases" if up else "directlyDecreases",
                                  f"hgnc:{tg.hgnc}", p))
                    edges.append((f"hgnc:{tf.hgnc}",
                                  "increases" if up else "decreases",
                                  f"hgnc:{tg.hgnc}", p))
                if tg.hgnc not in targets:
                    targets.add(tg.hgnc)
                    # one transcription edge per target; its citation is
                    # whichever row Spark keeps, so it is not checked
                    edges.append((f"hgnc:{tg.hgnc}", "transcribedTo",
                                  f"hgnc:{tg.hgnc}", None))
            elif u < 0.85:
                score = "D"
            elif u < 0.93:
                tg_sym = f"NOSYM{i}"
            else:
                effect = 0
            rows.append((tf_sym, tg_sym, effect, score, ", ".join(pmids)))
        b.paths["tfregulons"] = {
            "raw": self._write_tsv(
                b, f"{d}/tfregulons.tsv",
                ["tf_hgnc_symbol", "target_hgnc_symbol", "effect", "score", "pmids"],
                rows),
            "hgnc_map": self._maps["hgnc_map"],
        }
        b.rows["tfregulons"] = len(rows) + len(self.genes)
        b.accepted["tfregulons"] = len(edges)
        b.rejects["tfregulons"] = Counter()
        b.edges["tfregulons"] = edges

    def _hmdd(self, b, rng, d):
        n_mir = max(10, len(self.genes) // 30)
        n_dis = max(10, len(self.genes) // 50)
        mirs = [f"hsa-mir-{k + 1}" for k in range(n_mir)]
        dis = [(f"{ORGANS[k % len(ORGANS)]}{k}", KINDS[k % len(KINDS)])
               for k in range(n_dis)]
        rows, edges, rejects = [], [], Counter()
        for i in range(self.size["hmdd"]):
            m = rng.randrange(n_mir)
            k = rng.randrange(n_dis)
            organ, kind = dis[k]
            mir, disease = mirs[m], f"{organ} {kind}"
            pmid = str(rng.randrange(10**6, 10**7))
            u = rng.random()
            if u < 0.60:
                edges.append((f"mirbase:MI{m:07d}", "regulates", f"mondo:{k:07d}", pmid))
            elif u < 0.75:
                disease = f"{kind}, {organ}"  # grounds through the comma swap
                edges.append((f"mirbase:MI{m:07d}", "regulates", f"mondo:{k:07d}", pmid))
            elif u < 0.87:
                mir = f"hsa-mir-x{i}"
                rejects["ungrounded_mirna"] += 1
            else:
                disease = f"mystery{i} syndrome"
                rejects["ungrounded_disease"] += 1
            rows.append(("circulation", mir, disease, pmid, f"finding {i} in {organ}"))
        g_cols = ["text", "prefix", "identifier", "name"]
        b.paths["hmdd"] = {
            "raw": self._write_tsv(
                b, f"{d}/hmdd.tsv",
                ["category", "mir", "disease", "pmid", "description"], rows),
            "mirna_grounding": self._write_tsv(
                b, f"{d}/mirna_grounding.tsv", g_cols,
                [(m, "mirbase", f"MI{k:07d}", m) for k, m in enumerate(mirs)]),
            "disease_grounding": self._write_tsv(
                b, f"{d}/disease_grounding.tsv", g_cols,
                [(f"{o} {kd}", "mondo", f"{k:07d}", f"{o} {kd}")
                 for k, (o, kd) in enumerate(dis)]),
        }
        b.rows["hmdd"] = len(rows) + n_mir + n_dis
        b.accepted["hmdd"] = len(edges)
        b.rejects["hmdd"] = rejects
        b.edges["hmdd"] = edges

    def go_term(self, k: int) -> str:
        return f"{k:07d}"

    def _go(self, b, rng, d):
        n_terms = self.size["terms"]
        rows, edges = [], []
        for i in range(self.size["go"]):
            g = self._pick_gene(rng)
            term = self.go_term(rng.randrange(n_terms))
            src, tax = f"UniProtKB:{g.uniprot}", "9606"
            u = rng.random()
            if u < 0.80:
                edges.append((f"ncbigene:{g.ncbi}", "association", f"go:{term}", None))
            elif u < 0.87:
                tax = "10090"
            elif u < 0.94:
                src = f"MGI:{i}"
            else:
                src = f"UniProtKB:Q{i}"
            rows.append((src, g.symbol, tax, f"GO:{term}", f"process {term}", "false"))
        b.paths["go"] = {
            "raw": self._write_tsv(
                b, f"{d}/go.tsv",
                ["source_id", "source_name", "taxonomy_id", "target_id",
                 "target_label", "negated"], rows),
            "uniprot_hgnc": self._maps["uniprot_hgnc"],
            "hgnc_ncbigene": self._maps["hgnc_ncbigene"],
        }
        b.rows["go"] = len(rows) + 2 * len(self.genes)
        b.accepted["go"] = len(edges)
        b.rejects["go"] = Counter()
        b.edges["go"] = edges

    def _rhea(self, b, rng, d):
        n_cmp = max(20, self.size["reactions"])
        with_chebi = {c for c in range(n_cmp) if rng.random() < 0.9}
        lines, reactions = [], []
        for r in range(self.size["reactions"]):
            rid = 10000 + 4 * r
            iri = f"<{RH}{rid}>"
            sides = {s: rng.sample(range(n_cmp), rng.randint(1, 3)) for s in "LR"}
            eq = " + ".join(f"cmpd{c}" for c in sides["L"]) + " = " + \
                " + ".join(f"cmpd{c}" for c in sides["R"])
            lines.append(f'{iri} <{RH}equation> "{eq}" .')
            complete = rng.random() < 0.9
            if complete:
                lines.append(f"{iri} <{RH}bidirectionalReaction> <{RH}{rid + 3}> .")
            lines.append(f'{iri} <{RH}id> "{rid}"^^<{XSD_LONG}> .')
            for s, comps in sides.items():
                for j, c in enumerate(comps):
                    part = f"<{RH}Participant_{rid}_{s}_{j}>"
                    lines.append(f"<{RH}{rid}_{s}> <{RH}contains> {part} .")
                    lines.append(f"{part} <{RH}compound> <{RH}Compound_{c}> .")
            if complete:
                reactions.append((
                    str(rid),
                    sorted(str(c) for c in sides["L"] if c in with_chebi),
                    sorted(str(c) for c in sides["R"] if c in with_chebi),
                ))
        for c in range(n_cmp):
            lines.append(f'<{RH}Compound_{c}> <{RH}name> "cmpd{c}" .')
            if c in with_chebi:
                lines.append(f"<{RH}Compound_{c}> <{RH}chebi> <{CHEBI}{c}> .")
        path = os.path.join(self.root, f"{d}/rhea.nt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        b.input_bytes += os.path.getsize(path)
        b.paths["rhea"] = {"triples": path}
        b.rows["rhea"] = len(lines)
        b.accepted["rhea"] = len(reactions)
        b.rejects["rhea"] = Counter()
        b.reactions = reactions

    # ------------------------------------------------------ gene-set tables
    def genesets(self) -> dict:
        """ComPath-style pathway / protein / membership tables, plus the
        truth needed to answer lookups and enrichment."""
        rng = random.Random(f"genesets-{self.seed}")
        b = Batch()
        os.makedirs(os.path.join(self.root, "genesets"), exist_ok=True)
        proteins = [(f"prot{i}", g.ncbi, g.hgnc, g.symbol) for i, g in enumerate(self.genes)]
        topics = ["signaling", "metabolism", "repair", "transport", "immune", "cycle"]
        pathways, members = [], defaultdict(set)
        membership_rows = []
        for j in range(self.size["pathways"]):
            ident = f"hsa{j:05d}"
            name = f"{topics[j % len(topics)]} pathway {j}"
            pid = f"pw{j}"
            pathways.append((pid, rng.choice(["kegg", "reactome", "wikipathways"]), ident, name))
            size = min(len(self.genes) // 2, int(math.exp(rng.uniform(1.2, 4.5))))
            while len(members[pid]) < size:
                members[pid].add(self._pick_index(rng))
            for gi in sorted(members[pid]):
                membership_rows.append((pid, f"prot{gi}"))
            if rng.random() < 0.1:  # a duplicated membership row
                membership_rows.append((pid, f"prot{min(members[pid])}"))
        prefix = {p[0]: p[1] for p in pathways}
        ident = {p[0]: p[2] for p in pathways}
        paths = {
            "protein": self._write_tsv(
                b, "genesets/protein.tsv",
                ["protein_id", "entrez_id", "hgnc_id", "hgnc_symbol"], proteins),
            "pathway": self._write_tsv(
                b, "genesets/pathway.tsv",
                ["pathway_id", "prefix", "identifier", "name"], pathways),
            "membership": self._write_tsv(
                b, "genesets/membership.tsv", ["pathway_id", "protein_id"],
                membership_rows),
        }
        return {
            "paths": paths,
            "input_bytes": b.input_bytes,
            "rows": len(proteins) + len(pathways) + len(membership_rows),
            "pathways": pathways,
            "proteins": proteins,
            "members": {p: {self.genes[g].symbol for g in s} for p, s in members.items()},
            "n_membership": len(membership_rows),
            # the BEL export: one partOf edge per membership row
            "edges": [(f"hgnc:{self.genes[int(prot[4:])].hgnc}", "partOf",
                       f"{prefix[pid]}:{ident[pid]}") for pid, prot in membership_rows],
        }

    def gene_set_pool(self) -> list:
        """Enrichment queries: each set draws genes by Zipf popularity."""
        rng = random.Random(f"genesetpool-{self.seed}")
        pool = []
        for _ in range(self.size["gene_sets"]):
            k = rng.randint(4, 16)
            s = set()
            while len(s) < k:
                s.add(self._pick_gene(rng).symbol)
            pool.append(sorted(s))
        return pool

    # ------------------------------------------------------------ hierarchy
    def hierarchy(self) -> dict:
        """A DAG of is_a edges with ``depth`` equal levels, written as TSV.

        Every term below the top has a parent one level up, and every term
        above the bottom has a child, so traversals from a given level take
        the same number of steps whatever the seed."""
        rng = random.Random(f"hierarchy-{self.seed}")
        n, depth = self.size["terms"], self.size["depth"]
        per = max(1, n // depth)
        levels = [list(range(lv * per, (lv + 1) * per)) for lv in range(depth)]
        edges = []
        for lv in range(1, depth):
            above = levels[lv - 1]
            for k, c in enumerate(levels[lv]):
                parents = {above[k % per]}
                if rng.random() < 0.3:
                    parents.add(rng.choice(above))
                edges.extend((self.go_term(c), "is_a", self.go_term(p)) for p in sorted(parents))
        b = Batch()
        os.makedirs(os.path.join(self.root, "ontology"), exist_ok=True)
        path = self._write_tsv(b, "ontology/hierarchy.tsv", ["child", "relation", "parent"], edges)
        children = defaultdict(set)
        for c, _, p in edges:
            children[p].add(c)
        return {"path": path, "edges": edges, "levels": levels,
                "children": children, "input_bytes": b.input_bytes}


# ---------------------------------------------------------------- answers
def enrichment(members: dict, pathways: list, symbols) -> set:
    """Expected ``query_symbols`` rows."""
    seeds = set(symbols)
    names = {p[0]: p[3] for p in pathways}
    out = set()
    for pid, ms in members.items():
        hit = ms & seeds
        if hit:
            out.add((pid, names[pid], len(hit), len(ms), tuple(sorted(hit))))
    return out


def descendants(children: dict, roots) -> set:
    seen, frontier = set(roots), list(roots)
    while frontier:
        nxt = []
        for x in frontier:
            for c in children.get(x, ()):
                if c not in seen:
                    seen.add(c)
                    nxt.append(c)
        frontier = nxt
    return seen


def graph_truth(edges) -> dict:
    """Summary, components, degree histogram and node order of the union
    knowledge graph given ``(h, r, t, citation)`` edges."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    deg = Counter()
    for h, _, t, _ in edges:
        parent.setdefault(h, h)
        parent.setdefault(t, t)
        deg[h] += 1
        deg[t] += 1
        ra, rb = find(h), find(t)
        if ra != rb:
            parent[ra] = rb
    nodes = sorted(parent)
    n = len(nodes)
    index = {k: i for i, k in enumerate(nodes)}
    return {
        "nodes": n,
        "edges": len(edges),
        "citations": len({c for *_, c in edges if c is not None}),
        "components": len({find(x) for x in nodes}),
        "density": len(edges) / (n * (n - 1)) if n > 1 else 0.0,
        "degree_hist": dict(Counter(deg.values())),
        "edge_list_digest": rows_digest((index[h], index[t]) for h, _, t, _ in edges),
    }


class SparqlOracle:
    """Expected result digests of :data:`SPARQL_QUERIES` over ``(s, p, o)``
    triples (bag semantics, like the engine)."""

    def __init__(self, triples):
        by_p = defaultdict(list)
        for s, p, o in triples:
            by_p[p].append((s, o))
        inc, tr = defaultdict(list), defaultdict(list)
        for s, o in by_p["increases"]:
            inc[s].append(o)
        for s, o in by_p["transcribedTo"]:
            tr[s].append(o)
        self.up, self.down = defaultdict(set), defaultdict(set)
        for s, o in by_p["isA"]:
            self.up[s].add(o)
            self.down[o].add(s)
        cnt = Counter(s for s, _ in by_p["regulates"])
        rows = []
        for s, o in by_p["directlyIncreases"]:
            if s != o:
                rows.extend([(s, o, r) for r in inc[o]] or [(s, o, None)])
        self.static = {
            "bgp_join": rows_digest(
                (a, b, c) for a, b in by_p["increases"] for c in tr.get(b, ())),
            "group_having": rows_digest((s, n) for s, n in cnt.items() if n > 2),
            "optional_filter": rows_digest(rows),
        }

    def answer(self, name: str, term: str) -> str:
        if name == "path_plus":
            # the hierarchy is acyclic: a term is never its own ancestor
            return rows_digest((x,) for x in descendants(self.up, [term]) - {term})
        if name == "path_star":
            return rows_digest((x,) for x in descendants(self.down, [term]))
        return self.static[name]
