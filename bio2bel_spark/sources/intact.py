"""IntAct MITAB pipeline, Spark-first.

Behavioral parity with ``/root/reference/src/bio2bel/sources/intact.py``:

* filter cascade ``get_processed_intact_df`` (``:513-545``): dropna → omit-set
  → interactor normalization (nulls filtered) → pmid/score extraction →
  ``EBI-`` exclusion;
* interactor CURIE dispatch ``_process_interactor`` (``:458-510``) — here a
  ``when/otherwise`` chain (F1) with every external dict lookup
  (uniprot→ncbigene, ncbigene/chebi names, complexportal/reactome remaps)
  as a broadcast left join (J5);
* relation dispatch ``_add_row`` (``:595-875``) — the ~280-line if/elif
  cascade becomes ONE broadcast join against a relation mapping table
  (F9: relation → BEL relation, target variant, dsl overrides, modifiers);
* annotations dict (``:626-631``) → MapType column; whitespace normalization
  (``:634``) → regexp.

Known deviation: the reference's dna/rna-cleavage branches set the modified
target's identifier to ``source_id`` (``intact.py:688,706``) — an apparent
copy-paste bug; we keep the target's own identifier.

Scale notes: the only shuffle in this pipeline is none at all — every join is
a broadcast against vocabulary-sized mappings, so the plan is a single
map-side stage over the (potentially huge) MITAB scan.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bio2bel_spark.functions.extractors import first_prefixed_token

MODULE_NAME = "intact"
EVIDENCE = "From IntAct"

#: raw MITAB column names (reference COLUMNS, intact.py:220-228)
COL_A = "interactor_a"
COL_B = "interactor_b"
COL_TYPE = "interaction_type"
COL_PUBS = "publications"
COL_DETECTION = "detection_method"
COL_SOURCE_DB = "source_database"
COL_CONFIDENCE = "confidence"
RAW_COLUMNS = [COL_A, COL_B, COL_TYPE, COL_PUBS, COL_DETECTION, COL_SOURCE_DB, COL_CONFIDENCE]

RAW_SCHEMA = ", ".join(f"{c} STRING" for c in RAW_COLUMNS)


def _mi(code: str, label: str) -> str:
    return f'psi-mi:"MI:{code}"({label})'


#: interaction types omitted entirely (reference INTACT_OMIT_INTERACTIONS)
OMIT_INTERACTIONS = [_mi("1110", "predicted interaction")]

#: Relation mapping rows:
#: (psi_mi, relation, variant_kind, var_ns, var_id, var_name, target_dsl,
#:  source_modifier, target_modifier)
#: Encodes the reference's INCREASES/DECREASES/ASSOCIATION/REGULATES/BINDS
#: sets, PROTEIN_*_MOD_DICTs, SUBJECT_ACTIVITIES and special-case branches
#: as one table (intact.py:231-298,300-395,595-875).
_R = []
_BEL = "bel"  # short pmod codes live in the default BEL namespace


def _inc(code, label, ns=None, ident=None, name=None, subj=None):
    _R.append((_mi(code, label), "increases", "pmod" if (ns or name) else None,
               ns or (_BEL if name else None), ident, name, None, subj, None))


# increases + pmod short codes
for code, label, short in [
    ("0844", "phosphotransfer reaction", "Ph"),
    ("0217", "phosphorylation reaction", "Ph"),
    ("0559", "glycosylation reaction", "Glyco"),
    ("0216", "palmitoylation reaction", "Palm"),
    ("1327", "sulfurtransfer reaction", "Sulf"),
    ("0566", "sumoylation reaction", "Sumo"),
    ("0213", "methylation reaction", "Me"),
    ("0220", "ubiquitination reaction", "Ub"),
    ("0192", "acetylation reaction", "Ac"),
    ("0557", "adp ribosylation reaction", "ADPRib"),
    ("0567", "neddylation reaction", "Nedd"),
    ("0210", "hydroxylation reaction", "Hy"),
]:
    _inc(code, label, name=short)
# increases + ontology-qualified pmods
_inc("0556", "transglutamination reaction", "mi", "0556", "transglutamination reaction")
_inc("0945", "oxidoreductase activity electron transfer reaction", "mi", "0945",
     "oxidoreductase activity electron transfer reaction")
_inc("1250", "isomerase reaction", "mop", "0000789", "isomerization")
_inc("1237", "proline isomerization reaction", "go", "0000413",
     "protein peptidyl-prolyl isomerization")
_inc("0193", "amidation reaction", "go", "0018032", "protein amidation")
_inc("1148", "ampylation reaction", "go", "0018117", "protein adenylylation")
_inc("0214", "myristoylation reaction", "go", "0018377", "protein myristoylation")
_inc("0211", "lipid addition", "go", "0006497", "protein lipidation")
_inc("1143", "aminoacylation reaction", "go", "0043039", "tRNA aminoacylation")
# increases + pmod + subject activity (SUBJECT_ACTIVITIES)
_inc("0883", "gtpase reaction", "go", "0003924", "GTPase activity", subj="act(go:0003924)")
_inc("0882", "atpase reaction", "go", "0016887", "ATPase activity", subj="act(go:0016887)")
_inc("1146", "phospholipase reaction", "go", "0004620", "phospholipase activity",
     subj="act(go:0004620)")
# dna strand elongation → target rendered as Gene + gmod
_R.append((_mi("0701", "dna strand elongation"), "increases", "gmod", "go",
           "0022616", "DNA strand elongation", "Gene", None, None))

# decreases special branches
_R.append((_mi("0572", "dna cleavage"), "decreases", None, None, None, None, "Gene", None, None))
_R.append((_mi("0902", "rna cleavage"), "decreases", None, None, None, None, "Rna", None, None))
for code, label in [("0194", "cleavage reaction"), ("0570", "protein cleavage")]:
    _R.append((_mi(code, label), "decreases", None, None, None, None, None, None, None))
_R.append((_mi("1355", "lipid cleavage"), "decreases", "pmod", "go", "0016042",
           "lipid catabolic process", None, None, "act()"))
_R.append((_mi("0212", "lipoprotein cleavage reaction"), "decreases", "pmod", "go",
           "0042160", "lipoprotein modification", None, None, "act()"))
_R.append((_mi("0199", "deformylation reaction"), "decreases", "pmod", "go", "0018256",
           "protein formylation", None, None, None))
_R.append((_mi("2280", "deamidation reaction"), "decreases", "pmod", "go", "0018032",
           "protein amidation", None, None, "act()"))
_R.append((_mi("1140", "decarboxylation reaction"), "decreases", "pmod", "go", "0018214",
           "protein carboxylation", None, None, None))
_R.append((_mi("0985", "deamination reaction"), "decreases", "pmod", "go", "0043176",
           "amine binding", None, None, None))
# decreases + pmod short codes (PROTEIN_DECREASES_MOD_DICT)
for code, label, short in [
    ("0197", "deacetylation reaction", "Ac"),
    ("0204", "deubiquitination reaction", "Ub"),
    ("0203", "dephosphorylation reaction", "Ph"),
    ("0569", "deneddylation reaction", "Nedd"),
    ("0871", "demethylation reaction", "Me"),
]:
    _R.append((_mi(code, label), "decreases", "pmod", _BEL, None, short, None, None, None))

# association / regulates / binds
for code, label in [
    ("1127", "putative self interaction"),
    ("0914", "association"),
    ("1126", "self interaction"),
    ("0915", "physical association"),
    ("0414", "enzymatic reaction"),
    ("0403", "colocalization"),
]:
    _R.append((_mi(code, label), "association", None, None, None, None, None, None, None))
_R.append((_mi("0407", "direct interaction"), "regulates", None, None, None, None, None, None, None))
for code, label in [("0195", "covalent binding"), ("0408", "disulfide bond")]:
    _R.append((_mi(code, label), "binds", None, None, None, None, None, None, None))

RELATION_ROWS = _R
RELATION_SCHEMA = (
    "psi_mi STRING, relation STRING, variant_kind STRING, variant_ns STRING, "
    "variant_id STRING, variant_name STRING, target_dsl STRING, "
    "source_modifier STRING, target_modifier STRING"
)


def relation_table(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(RELATION_ROWS, RELATION_SCHEMA)


def _lookup(df, key_expr, mapping, value_alias):
    """Broadcast left-join helper: mapping(key, value) onto key_expr."""
    if mapping is None:
        return df.withColumn(value_alias, F.lit(None).cast("string"))
    cols = mapping.columns
    m = mapping.select(
        F.col(cols[0]).alias("__k"), F.col(cols[1]).alias(value_alias)
    ).dropDuplicates(["__k"])
    return df.withColumn("__k", key_expr).join(F.broadcast(m), "__k", "left").drop("__k")


def _parse_interactor(
    df: DataFrame,
    col: str,
    out_prefix: str,
    uniprot_ncbigene: Optional[DataFrame],
    ncbigene_names: Optional[DataFrame],
    uniprot_mnemonics: Optional[DataFrame],
    chebi_names: Optional[DataFrame],
    complexportal: Optional[DataFrame],
    reactome: Optional[DataFrame],
) -> DataFrame:
    """Columnar ``_process_interactor`` (reference intact.py:458-510) for one
    interactor column: emits ``{out_prefix}_ns/_id/_name`` (null = unmapped)."""
    c = F.col(col)
    uniprot_id = F.when(c.startswith("uniprotkb:"), F.substring(c, len("uniprotkb:") + 1, 1 << 20))
    chebi_id = F.regexp_extract(c, r'^chebi:"CHEBI:(.+)"$', 1)
    chembl_id = F.regexp_extract(c, r"^chembl target:(.+).$", 1)
    intact_id = F.when(c.startswith("intact:"), F.substring(c, len("intact:") + 1, 1 << 20))
    intenz_id = F.when(c.startswith("intenz:"), F.substring(c, len("intenz:") + 1, 1 << 20))

    df = _lookup(df, uniprot_id, uniprot_ncbigene, f"__{out_prefix}_ncbi")
    df = _lookup(df, F.col(f"__{out_prefix}_ncbi"), ncbigene_names, f"__{out_prefix}_ncbi_name")
    df = _lookup(df, uniprot_id, uniprot_mnemonics, f"__{out_prefix}_mnemonic")
    df = _lookup(df, F.when(chebi_id != "", chebi_id), chebi_names, f"__{out_prefix}_chebi_name")
    df = _lookup(df, intact_id, complexportal, f"__{out_prefix}_cp")
    df = _lookup(df, intact_id, reactome, f"__{out_prefix}_react")

    ncbi = F.col(f"__{out_prefix}_ncbi")
    cp = F.col(f"__{out_prefix}_cp")
    react = F.col(f"__{out_prefix}_react")

    ns = (
        F.when(uniprot_id.isNotNull() & ncbi.isNotNull(), F.lit("ncbigene"))
        .when(uniprot_id.isNotNull(), F.lit("uniprot"))
        .when(chebi_id != "", F.lit("chebi"))
        .when(chembl_id != "", F.lit("chembl.target"))
        .when(intact_id.isNotNull() & cp.isNotNull(), F.lit("complexportal"))
        .when(intact_id.isNotNull() & react.isNotNull(), F.lit("reactome"))
        .when(intact_id.isNotNull(), F.lit("intact"))
        .when(intenz_id.isNotNull(), F.lit("eccode"))
    )
    ident = (
        F.when(uniprot_id.isNotNull() & ncbi.isNotNull(), ncbi)
        .when(uniprot_id.isNotNull(), uniprot_id)
        .when(chebi_id != "", chebi_id)
        .when(chembl_id != "", chembl_id)
        .when(intact_id.isNotNull() & cp.isNotNull(), cp)
        .when(intact_id.isNotNull() & react.isNotNull(), react)
        .when(intact_id.isNotNull(), intact_id)
        .when(intenz_id.isNotNull(), intenz_id)
    )
    name = (
        F.when(uniprot_id.isNotNull() & ncbi.isNotNull(), F.col(f"__{out_prefix}_ncbi_name"))
        .when(uniprot_id.isNotNull(), F.col(f"__{out_prefix}_mnemonic"))
        .when(chebi_id != "", F.col(f"__{out_prefix}_chebi_name"))
    )
    return (
        df.withColumn(f"{out_prefix}_ns", ns)
        .withColumn(f"{out_prefix}_id", ident)
        .withColumn(f"{out_prefix}_name", name)
        .drop(*[c for c in df.columns if c.startswith(f"__{out_prefix}_")])
    )


def process(
    spark: SparkSession,
    raw: DataFrame,
    uniprot_ncbigene: Optional[DataFrame] = None,
    ncbigene_names: Optional[DataFrame] = None,
    uniprot_mnemonics: Optional[DataFrame] = None,
    chebi_names: Optional[DataFrame] = None,
    complexportal: Optional[DataFrame] = None,
    reactome: Optional[DataFrame] = None,
) -> tuple[DataFrame, DataFrame]:
    """Full pipeline: raw MITAB → (qualified edges, rejects).

    Returns edges with columns ``source_ns source_id source_name relation
    target_ns target_id target_name target_dsl variant_kind variant_ns
    variant_id variant_name source_modifier target_modifier citation evidence
    annotations`` and a rejects side-output with a ``reject_reason`` column
    (A8 error counters — ``groupBy('reject_reason').count()`` reproduces the
    reference's ``_unhandled`` Counter).
    """
    base = raw.na.drop("any", subset=RAW_COLUMNS).filter(
        ~F.col(COL_TYPE).isin(OMIT_INTERACTIONS)
    )
    parsed = _parse_interactor(
        base, COL_A, "source",
        uniprot_ncbigene, ncbigene_names, uniprot_mnemonics,
        chebi_names, complexportal, reactome,
    )
    parsed = _parse_interactor(
        parsed, COL_B, "target",
        uniprot_ncbigene, ncbigene_names, uniprot_mnemonics,
        chebi_names, complexportal, reactome,
    )
    parsed = parsed.withColumn(
        "citation", first_prefixed_token(COL_PUBS, "pubmed:")
    ).withColumn("confidence_score", first_prefixed_token(COL_CONFIDENCE, "intact-miscore:"))

    rel = relation_table(spark)
    parsed = parsed.join(
        F.broadcast(rel), parsed[COL_TYPE] == rel["psi_mi"], "left"
    )

    unmapped = F.col("source_ns").isNull() | F.col("target_ns").isNull()
    ebi = F.col("source_id").contains("EBI-") | F.col("target_id").contains("EBI-")
    unhandled_rel = F.col("relation").isNull()

    rejects = parsed.filter(unmapped | (~unmapped & ebi) | (~unmapped & ~ebi & unhandled_rel)).select(
        *RAW_COLUMNS,
        F.when(unmapped, F.lit("unmapped_interactor"))
        .when(ebi, F.lit("ebi_identifier"))
        .otherwise(F.lit("unhandled_relation"))
        .alias("reject_reason"),
    )

    edges = (
        parsed.filter(~unmapped & ~ebi & ~unhandled_rel)
        .withColumn(
            "annotations",
            F.create_map(
                F.lit("psi-mi"), F.col(COL_TYPE),
                F.lit("intact-detection"), F.col(COL_DETECTION),
                F.lit("intact-source"), F.col(COL_SOURCE_DB),
                F.lit("intact-confidence"), F.col("confidence_score"),
            ),
        )
        .withColumn("evidence", F.lit(EVIDENCE))
        # missing pmid → ('database', 'intact') fallback (reference :624-625)
        .withColumn("citation", F.coalesce("citation", F.lit("database:intact")))
        .select(
            "source_ns", "source_id", "source_name", "relation",
            "target_ns", "target_id", "target_name", "target_dsl",
            "variant_kind", "variant_ns", "variant_id", "variant_name",
            "source_modifier", "target_modifier",
            "citation", "evidence", "annotations",
        )
    )
    return edges, rejects
