"""10× scale-stress for the round-6 operators (round-6 verdict ask #4).

Same recipe as ``test_round5_scale.py``: inflate into structure-preserving
DISJOINT replicas (ids offset, words replica-suffixed) so a linear operator
owes exactly 10× the base run's output and a quadratic regression blows the
row count or the wall clock.

The incremental-fuzzy replay uses a SYNTHETIC disjoint-vocabulary corpus:
every distinct doc's word set is disjoint (true jaccard 0, so the
minhash-estimate admission gate is deterministic at any scale) while exact
copies share signatures exactly (estimate 1.0) — admission counts are then
scale-exact instead of hash-variance-fuzzy.

Marked ``slow``: run with ``SPARK_GRAFT_SLOW=1``.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.1"

pytestmark = [
    pytest.mark.slow,
    pytest.mark.skipif(
        not os.environ.get("SPARK_GRAFT_SLOW"),
        reason="scale-stress: set SPARK_GRAFT_SLOW=1 to run",
    ),
]


def _docs(spark):
    from bio2bel_spark.tables import load_table

    # sf0.1 parquet = ONE file = one input split; spread before map work
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _inflate(df, replicas: int = 10, text_col: str = "text"):
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep")
    out = df.select(rep, *df.columns).select(
        (F.col("rep") * 10_000_000 + F.col("doc_id")).alias("doc_id"),
        *[c for c in df.columns if c not in ("doc_id", text_col)],
        F.expr(
            f"regexp_replace({text_col}, '(\\\\S+)', concat('$1x', rep))"
        ).alias(text_col),
    )
    return out.repartition(
        out.sparkSession.sparkContext.defaultParallelism * 4
    )


def _synth_batches(spark, n: int):
    """Three serial batches over a disjoint-vocabulary corpus:

    * batch 1: docs 0..n-1, all fresh;
    * batch 2: exact copies of docs 0..n/2-1 (new ids) + n/2 fresh;
    * batch 3: exact copies of batch 2's fresh half + n*0.6 fresh.

    Expected admissions: n, n/2, 6n/10 — deterministic because distinct
    docs share no words (estimate ~0) and copies share every word
    (estimate 1.0).
    """
    def doc(i):
        return " ".join(f"w{i}_{k}" for k in range(20))

    half, fresh3 = n // 2, (6 * n) // 10
    b1 = [(i, doc(i)) for i in range(n)]
    b2 = [(100_000 + i, doc(i)) for i in range(half)] + [
        (100_000 + half + i, doc(n + i)) for i in range(half)
    ]
    b3 = [(200_000 + i, doc(n + i)) for i in range(half)] + [
        (200_000 + half + i, doc(2 * n + i)) for i in range(fresh3)
    ]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string"
    ).repartition(spark.sparkContext.defaultParallelism)
    return [mk(b1), mk(b2), mk(b3)], [n, half, fresh3]


def _run_replay(spark, batches, tmp_path, tag):
    from bio2bel_spark.catalog import Catalog
    from dataops.dedup import incremental_fuzzy_dedup

    cat = Catalog(spark, str(tmp_path / f"wh_{tag}"))
    admitted = []
    for b in batches:
        admitted.append(
            incremental_fuzzy_dedup(cat, b, threshold=0.5).count()
        )
    return admitted


def test_incremental_fuzzy_dedup_10x(spark, tmp_path):
    """3-increment replay over 10 disjoint replicas: every increment's
    admission count scales exactly 10× (per-increment work is O(batch) +
    banded index join; a cross-replica or rescans-history regression
    breaks the count or the clock)."""
    batches, expect = _synth_batches(spark, 300)
    base = _run_replay(spark, batches, tmp_path, "base")
    assert base == expect
    big_batches = [_inflate(b) for b in batches]
    big = _run_replay(spark, big_batches, tmp_path, "big")
    assert big == [10 * e for e in expect]


def test_select_token_budget_10x(spark):
    """The range-partitioned prefix-sum selection at 10× rows stays EXACT:
    the selected set equals a driver-side replay of the same total order
    (sort → cumsum → cut), and the inclusive running total never crosses
    the budget."""
    from dataops.packing import select_token_budget
    from dataops.textquality import whitespace_token_count
    from bio2bel_spark.tables import load_table

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select(
            "doc_id", "n_chars",
            whitespace_token_count("text").cast("long").alias("toks"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    rep = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
    big = docs.select(rep, "doc_id", "n_chars", "toks").select(
        (F.col("rep") * 10_000_000 + F.col("doc_id")).alias("doc_id"),
        "n_chars", "toks",
    )
    total = big.agg(F.sum("toks")).collect()[0][0]
    budget = int(total) // 2
    got = select_token_budget(big, "n_chars", "toks", budget=budget)
    rows = got.select("doc_id", "cum_tokens").collect()
    assert max(r["cum_tokens"] for r in rows) <= budget
    # driver replay of the same deterministic total order
    local = sorted(
        big.collect(), key=lambda r: (-r["n_chars"], r["doc_id"])
    )
    acc, want = 0, set()
    for r in local:
        if acc + r["toks"] > budget:
            break
        acc += r["toks"]
        want.add(r["doc_id"])
    assert {r["doc_id"] for r in rows} == want


def test_cluster_split_10x(spark):
    """Leakage-free splitting over 10 disjoint replicas with planted
    exact twins: 10× rows out, and EVERY planted twin pair stays
    co-clustered and co-split at scale (exact-duplicate LSH collision is
    hash-certain, so the invariant is deterministic)."""
    from dataops.dedup import cluster_split

    docs = _docs(spark)
    twins = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.upper(F.col("text")).alias("text"),  # normalizes identical
    )
    planted = docs.unionByName(twins)
    fr = {"train": 0.8, "test": 0.2}

    def check(corpus, n_expected_rows, pair_offset):
        out = cluster_split(
            corpus, fr, n_hashes=16, bands=8, threshold=0.9
        ).select("doc_id", "cluster", "split")
        rows = {r["doc_id"]: (r["cluster"], r["split"]) for r in out.collect()}
        assert len(rows) == n_expected_rows
        for base_id, twin_id in pair_offset:
            assert rows[base_id] == rows[twin_id], (base_id, twin_id)

    n_base = planted.count()
    check(planted, n_base, [(i, i + 900_000) for i in range(50)])
    big = _inflate(planted)
    pairs10 = [
        (rep * 10_000_000 + i, rep * 10_000_000 + i + 900_000)
        for rep in range(10)
        for i in range(50)
    ]
    check(big, 10 * n_base, pairs10)


def test_hilbert_layout_nd_10x(spark):
    """The N-D Hilbert code is a pure codegen expression: 10 exact
    coordinate replicas owe exactly the SAME code histogram scaled 10×
    (any drift means the expression stopped being deterministic)."""
    from dataops.layout import hilbert_value_nd
    from bio2bel_spark.tables import load_table

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "value")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism)
    )
    code = hilbert_value_nd(
        [
            F.pmod(F.col("event_id"), F.lit(64)),
            F.pmod(F.col("user_id"), F.lit(64)),
            F.pmod(F.col("value").cast("long"), F.lit(64)),
        ],
        bits=6,
    ).alias("h")
    base_hist = {
        r["h"]: r["n"]
        for r in ev.select(code).groupBy("h").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    rep = F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
    big = ev.select(rep, "event_id", "user_id", "value")
    big_hist = {
        r["h"]: r["n"]
        for r in big.select(code).groupBy("h").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert big_hist == {h: 10 * n for h, n in base_hist.items()}


def test_curation_pipeline_v2_10x(spark):
    """The 4-stage composed pipeline at 10× corpus: completes in one plan,
    output stays the bounded mixture size (50 per pseudo-source), and the
    persisted gated corpus is released afterwards."""
    import __spark_entry__ as entry

    out = entry.q_curation_pipeline_v2(spark, SF_DIR)
    assert out.count() == 200

    # 10×: run the same pipeline body over the inflated corpus by
    # monkeypatching the corpus loader seam
    orig = entry._docs_augmented
    try:
        entry._docs_augmented = lambda s, d: _inflate(orig(s, d))
        big = entry.q_curation_pipeline_v2(spark, SF_DIR)
        assert big.count() == 200  # bounded mixture output by design
    finally:
        entry._docs_augmented = orig
