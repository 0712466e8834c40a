"""Reference-fidelity counters (round-6 verdict ask #8): a synthetic MITAB
fixture with EXACTLY known structure run end-to-end through the IntAct
pipeline, asserting the graph summary reproduces the known node / edge /
citation / connected-component counts — the same four metrics the reference
publishes for its IntAct/BioGRID builds (BASELINE.md; reference
``sources/intact.py:174-190``) — and that the counts scale exactly 10×
under disjoint replication (G4 components at scale).

The fixture is C star components of S proteins each (hub ↔ S-1 leaves),
with two distinct pubmed citations per component, so every metric has a
closed form: nodes = C·S, edges = C·(S-1) + C (one re-cited duplicate
edge per component), citations = 2·C, components = C.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bio2bel_spark.operators.graph import KnowledgeGraph
from bio2bel_spark.sources import intact

ASSOC = 'psi-mi:"MI:0914"(association)'
CONF = "author score:high|intact-miscore:0.56"

C, S = 12, 5  # components × proteins per component


def _fixture_rows(replica: int = 0):
    """MITAB rows for replica ``replica`` (protein ids offset so replicas
    are disjoint; pmids offset so citations are replica-unique)."""
    rows = []
    base = replica * 10_000
    for c in range(C):
        hub = base + c * 100
        pm_a, pm_b = 1000 + replica * 1000_0 + c, 5000_0 + replica * 1000_0 + c
        for leaf in range(1, S):
            rows.append(
                (
                    f"uniprotkb:P{hub}",
                    f"uniprotkb:P{hub + leaf}",
                    ASSOC,
                    f"imex:IM-1|pubmed:{pm_a}",
                    "m",
                    "intact",
                    CONF,
                )
            )
        # one duplicate hub↔leaf-1 edge under a SECOND citation
        rows.append(
            (
                f"uniprotkb:P{hub}",
                f"uniprotkb:P{hub + 1}",
                ASSOC,
                f"imex:IM-2|pubmed:{pm_b}",
                "m",
                "intact",
                CONF,
            )
        )
    return rows


def _mappings(spark, replicas: int):
    prot = [
        r * 10_000 + c * 100 + leaf
        for r in range(replicas)
        for c in range(C)
        for leaf in range(S)
    ]
    return {
        "uniprot_ncbigene": spark.createDataFrame(
            [(f"P{i}", str(70_000 + i)) for i in prot],
            "uniprot_id string, ncbigene_id string",
        ),
        "ncbigene_names": spark.createDataFrame(
            [(str(70_000 + i), f"G{i}") for i in prot],
            "ncbigene_id string, name string",
        ),
    }


def _summary(spark, replicas: int) -> dict:
    rows = [r for rep in range(replicas) for r in _fixture_rows(rep)]
    raw = spark.createDataFrame(rows, intact.RAW_SCHEMA)
    edges, rejects = intact.process(spark, raw, **_mappings(spark, replicas))
    assert rejects.count() == 0  # the fixture is fully mappable
    kg = KnowledgeGraph(nodes=None, edges=edges)
    kg.nodes = kg.induced_nodes()
    return kg.summary(with_components=True)


def test_golden_counts_base(spark):
    got = _summary(spark, replicas=1)
    assert got["nodes"] == C * S
    assert got["edges"] == C * (S - 1) + C
    assert got["citations"] == 2 * C
    assert got["components"] == C


def test_golden_counts_10x(spark):
    """Disjoint 10× replication: every published-stat metric scales
    exactly linearly — the G4 component count in particular (a
    cross-replica merge or a dropped replica would break it)."""
    got = _summary(spark, replicas=10)
    assert got["nodes"] == 10 * C * S
    assert got["edges"] == 10 * (C * (S - 1) + C)
    assert got["citations"] == 10 * 2 * C
    assert got["components"] == 10 * C


def test_components_driver_and_distributed_tiers_agree(spark, size_gate):
    """min_label_components' adaptive driver tier (round-7) must produce
    the identical labeling as the distributed propagation path."""
    from bio2bel_spark.operators.graph import min_label_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (30, 30), (11, 12), (5, 4)],
        "src long, dst long",
    )
    driver = {
        (r.node, r.component)
        for r in min_label_components(pairs, "src", "dst").collect()
    }
    size_gate(0)
    dist = {
        (r.node, r.component)
        for r in min_label_components(pairs, "src", "dst").collect()
    }
    assert driver == dist
    assert driver == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (4, 4), (5, 4),
    }
