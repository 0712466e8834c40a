"""Fleet-wide physical-plan guardrails over every driver query.

Catches the two classic scale-killers at plan level, for ALL of
``__spark_entry__.QUERIES`` at once, so a regression in any operator's plan
shape fails CI even while its small-data answer stays correct:

* ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan. The package
  contract is built-ins + Arrow-batched pandas UDFs only.
* ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an unbucketed
  quadratic join. Only the explicitly-labeled exact correctness baseline is
  allowed to go quadratic.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

#: cross joins whose build side is a single-row aggregate (scalar
#: stitching, O(1) per probe row by construction). The exact all-pairs
#: baseline no longer needs an exemption: exact_near_pairs_blocked does its
#: quadratic arithmetic inside grid cells, so its PLAN is a plain hash
#: shuffle — no CartesianProduct node anywhere in the fleet anymore.
QUADRATIC_OK = {"kg_summary", "tfidf_top_terms", "lm_perplexity",
                # 1-row scalar totals (smoothing denominators + unseen-bucket
                # default) stitched onto the <=B-row ratio table and the
                # doc-gram stream — O(1) per probe row by construction
                "dsir_weights", "dsir_select", "dsir_maintenance",
                "selection_pipeline", "selection_pipeline_packed",
                # same DSIR 1-row scalar stitches; the added BPE stage is
                # map-only over the 40 selected docs
                "selection_pipeline_tokens",
                # inherits lm_perplexity's 1-row vocabulary-size scalar
                "perplexity_buckets", "perplexity_maintenance",
                # corpus-total scalar (1-row aggregate) stitched onto the
                # per-slice vocabulary — O(1) per probe row by construction
                "vocab_divergence",
                # two 1-row count scalars stitched onto the 1-row estimate
                "join_size_estimate",
                # per scenario, two 1-row side rollups cross-joined into the
                # 1-row decision — O(1) build sides by construction
                "join_strategy"}


@pytest.mark.parametrize("name", sorted(entrymod.QUERIES))
def test_plan_has_no_scale_killers(spark, sf_dir, name):
    df = entrymod.QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan"
    )
    if name not in QUADRATIC_OK:
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, f"{name}: {node} in plan"


def test_ngram_contamination_hashes_grams_once_per_side(spark, sf_dir):
    """The gram md5 pipeline must appear exactly once per side (train +
    bench) in the physical plan. A plain ``explode`` lets the optimizer
    infer a ``size(__hs) > 0`` filter and push it below the projection,
    re-inlining the ENTIRE md5 gram pipeline into a Filter — the corpus
    pays the gram hash twice, part of it on the pre-repartition partition
    layout (measured 4.9s → 1.4s at sf0.1 when removed)."""
    from dataops.dedup import ngram_contamination
    from bio2bel_spark.tables import load_table

    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 31 == 0)
    plan = (
        ngram_contamination(docs, bench, n=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("md5(") == 2, (
        "gram hash pipeline duplicated (inferred-filter pushdown?):"
        f" {plan.count('md5(')} md5 sites"
    )


def test_asof_join_is_single_shuffle(spark, sf_dir):
    """The union-sort as-of join must cost exactly one exchange for the
    union'd stream (plus nothing quadratic) — the property that makes it
    viable at 100 TB."""
    from pyspark.sql import functions as F

    from dataops.temporal import asof_join
    from bio2bel_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    plan = (
        asof_join(left, right, on="ts", by="user_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one Exchange for the window partitioning; no join node at all
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_timeline_features_is_single_exchange(spark, sf_dir):
    """All seven timeline features must share ONE hash exchange on the
    entity key — lag/lead/rolling/range frames are windows over the same
    sort, never joins."""
    from dataops.temporal import timeline_features
    from bio2bel_spark.tables import load_table

    plan = (
        timeline_features(load_table(spark, sf_dir, "events"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_quantile_sketch_is_take_ordered(spark, sf_dir):
    """The bottom-k quantile synopsis must be TakeOrdered over a map-side
    projection — no full-table sort exchange."""
    from dataops.sketch import quantile_sample_state
    from bio2bel_spark.tables import load_table

    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "rid", F.concat_ws(":", "l_orderkey", "l_linenumber")
    )
    plan = (
        quantile_sample_state(li, "l_extendedprice", "rid", k=1024)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bloom_probe_stage_is_exchange_free(spark, sf_dir):
    """The whole point of the Bloom prefilter is that the LARGE side is
    probed as a pure map BEFORE anything shuffles — a regression that
    reintroduces an Exchange (or a join) into the probe stage would
    silently ship the full table again. The filter state embeds as a
    literal bitmask, so the probe plan must be scan → project/filter
    only."""
    from pyspark.sql import functions as F

    from dataops.sketch import bloom_probe, bloom_state
    from bio2bel_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    keys = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey")
    ).limit(64)
    state = bloom_state(keys, "l_partkey", m=1 << 12)
    probed = bloom_probe(state, li, "l_partkey", m=1 << 12).where(
        F.col("maybe_member")
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "bloom probe stage must not shuffle"
    assert "Join" not in plan, "bloom probe stage must not join"
    assert "BatchEvalPython" not in plan


def test_nearest_asof_is_single_shuffle(spark, sf_dir):
    """direction='nearest' evaluates both frames over ONE sort — still a
    single exchange, no join."""
    from pyspark.sql import functions as F

    from dataops.temporal import asof_join
    from bio2bel_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    plan = (
        asof_join(left, right, on="ts", by="user_id", direction="nearest")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
