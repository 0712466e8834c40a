"""Robust numeric statistics and pivoted summary reports.

Beyond-reference extensions (SURVEY §7.2): the numeric-hygiene steps of a
feature/metrics pipeline — outlier-robust aggregates and the wide pivoted
summary sheet (the distributed analog of the reference's driver-side
``summarize`` dicts, ``/root/reference/src/bio2bel/manager/abstract_manager.py``
summary surface).

Design for 100 TB:

* :func:`winsorized_stats` — two passes by construction (cut points, then
  clamp+aggregate), both plain grouped aggregations; the per-group cut-point
  table is tiny and broadcast back. Exact ``percentile`` is the correctness
  tier; at production scale pass ``approx=True`` for the mergeable
  Greenwald-Khanna sketch (identical plan shape, bounded executor state,
  no exact per-group sort).
* :func:`pivot_report` — ``groupBy().pivot()`` with an EXPLICIT category
  list: with the list given, Spark skips the extra category-discovery job
  and the output schema is deterministic (required for SQL replay; an
  inferred pivot schema depends on the data).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["winsorized_stats", "pivot_report", "value_histogram", "decayed_sum", "zscore_outliers", "impute_group_median", "feature_correlations", "target_encode_loo", "psi_report", "quantile_transform", "ab_test_report", "robust_scale", "equiheight_histogram"]


def quantile_transform(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Rank-normalize a numeric feature to [0, 1] (optionally per group):
    adds ``out_col = percent_rank`` over ``value_col`` — the monotone
    transform that makes heavy-tailed features comparable across sources
    before mixing (the rank twin of z-scoring, immune to outliers).

    Ties share a rank (standard ``percent_rank`` semantics), so the output
    is a pure function of the VALUE — deterministic regardless of row
    order or partitioning. NULL values pass through with a NULL rank
    rather than polluting the rank denominator. One shuffle (window per
    group); per-partition state is a counter.

    Scale note: an UNGROUPED call (``by=None``) is a single global sort —
    correct but single-reducer-bounded, like any total ordering; prefer a
    grouping key at corpus scale.
    """
    from pyspark.sql import Window

    w = (Window.partitionBy(by) if by else Window.partitionBy()).orderBy(
        F.col(value_col).asc()
    )
    ranked = F.round(F.percent_rank().over(w), 6)
    nn = df.where(F.col(value_col).isNotNull()).withColumn(out_col, ranked)
    nulls = df.where(F.col(value_col).isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )
    return nn.unionByName(nulls)


def winsorized_stats(
    df: DataFrame,
    value_col: str,
    by: str,
    lower: float = 0.05,
    upper: float = 0.95,
    approx: bool = False,
) -> DataFrame:
    """Per-group outlier-robust summary: values are clamped (winsorized) to
    the group's ``[lower, upper]`` quantiles before aggregating.

    Returns ``(by, n, n_clipped_low, n_clipped_high, p_lo, p_hi,
    mean_winsorized)`` — the mean a corrupt long-tail row cannot drag.
    Null values are ignored in both passes.
    """
    fn = "approx_percentile" if approx else "percentile"
    cuts = df.where(F.col(value_col).isNotNull()).groupBy(by).agg(
        F.expr(f"{fn}({value_col}, {lower})").alias("__lo"),
        F.expr(f"{fn}({value_col}, {upper})").alias("__hi"),
    )
    v = F.col(value_col)
    clamped = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    return (
        df.where(v.isNotNull())
        .join(F.broadcast(cuts), by)
        .groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((v < F.col("__lo")).cast("long")).alias("n_clipped_low"),
            F.sum((v > F.col("__hi")).cast("long")).alias("n_clipped_high"),
            F.round(F.min("__lo"), 6).alias("p_lo"),
            F.round(F.min("__hi"), 6).alias("p_hi"),
            F.round(F.avg(clamped), 6).alias("mean_winsorized"),
        )
    )


def pivot_report(
    df: DataFrame,
    row_key: str,
    pivot_col: str,
    value_col: str,
    categories: Sequence[str],
    agg: str = "sum",
    round_dp: int = 2,
) -> DataFrame:
    """Wide summary sheet: one row per ``row_key``, one column per category
    of ``pivot_col`` holding ``agg(value_col)`` (missing cells = 0).

    The explicit ``categories`` list keeps the plan single-pass (no
    category-discovery job) and the schema deterministic. One shuffle on
    ``row_key``; the pivot itself is a map-side conditional aggregation.
    """
    aggf = getattr(F, agg)
    pivoted = (
        df.groupBy(row_key)
        .pivot(pivot_col, list(categories))
        .agg(F.round(aggf(value_col), round_dp))
    )
    return pivoted.select(
        row_key,
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in categories],
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 10,
) -> DataFrame:
    """Fixed-width histogram of ``value_col`` (optionally per ``by`` group):
    ``(by?, bin, bin_lo, bin_hi, n)``.

    Binning is a pure projection (``width_bucket`` semantics: values below
    ``lo`` land in bin 0, at or above ``hi`` in bin ``n_bins+1``) followed
    by ONE map-side-combinable count — the reducer sees at most
    ``groups × (n_bins+2)`` rows regardless of input size. Empty bins are
    not emitted (at corpus scale the dense-bin join would cost more than
    the consumer filling gaps).
    """
    v = F.col(value_col)
    width = (hi - lo) / n_bins
    bin_ = (
        F.when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(n_bins + 1))
        .otherwise(F.floor((v - lo) / width) + 1)
        .cast("long")
    )
    keys = ([F.col(by)] if by else []) + [bin_.alias("bin")]
    out = (
        df.where(v.isNotNull())
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.select(
        *([by] if by else []),
        "bin",
        F.round(F.lit(lo) + (F.col("bin") - 1) * width, 6).alias("bin_lo"),
        F.round(F.lit(lo) + F.col("bin") * width, 6).alias("bin_hi"),
        "n",
    )


def decayed_sum(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    by: str,
    half_life_sec: float,
    as_of=None,
) -> DataFrame:
    """Exponentially time-decayed aggregate per key — the feature-store
    "recent activity" signal: ``sum(value * 0.5^((as_of - t)/half_life))``
    and the equally-decayed event count.

    One map-side-combinable groupBy; the decay factor is a pure column
    expression, so the whole thing stays in whole-stage codegen. ``as_of``
    defaults to the maximum timestamp in the frame (computed as a scalar
    subquery-free two-phase max: pass an explicit datetime at production
    scale to keep the plan single-pass).
    """
    from dataops.temporal import epoch_us

    if as_of is None:
        as_of = df.agg(F.max(ts_col)).collect()[0][0]
    age_sec = (
        F.unix_micros(F.lit(as_of).cast("timestamp")) - epoch_us(ts_col)
    ) / 1_000_000.0
    w = F.pow(F.lit(0.5), age_sec / F.lit(float(half_life_sec)))
    return (
        df.where(F.col(ts_col).isNotNull() & (F.col(ts_col) <= F.lit(as_of)))
        .groupBy(by)
        .agg(
            F.round(F.sum(F.col(value_col) * w), 6).alias("decayed_sum"),
            F.round(F.sum(w), 6).alias("decayed_count"),
        )
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    by: str,
    id_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose value sits more than ``threshold`` sample standard
    deviations from their group mean: ``(id, by, value, z)`` — the cheap
    first-pass anomaly screen before anything model-based.

    Two passes: per-group ``(mean, stddev_samp)`` (combinable aggregates,
    tiny result broadcast back) then a map-only flag. Groups with zero
    variance or a single row emit nothing (z is undefined there).
    """
    stats = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(by)
        .agg(
            F.avg(value_col).alias("__mu"),
            F.stddev_samp(value_col).alias("__sd"),
        )
        .where(F.col("__sd").isNotNull() & (F.col("__sd") > 0))
    )
    z = (F.col(value_col) - F.col("__mu")) / F.col("__sd")
    return (
        df.where(F.col(value_col).isNotNull())
        .join(F.broadcast(stats), by)
        .where(F.abs(z) > threshold)
        .select(
            F.col(id_col),
            F.col(by),
            F.col(value_col),
            F.round(z, 6).alias("z"),
        )
    )


def impute_group_median(
    df: DataFrame,
    value_col: str,
    by: str,
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULLs in ``value_col`` with the GROUP median (exact
    ``percentile`` 0.5; swap ``approx_percentile`` at production scale) —
    the standard leakage-safe numeric imputation when a global constant is
    too blunt. Groups that are entirely NULL stay NULL (no global
    fallback — silence would hide a broken upstream).

    One grouped aggregation for the medians (tiny, broadcast back) + a
    map-only coalesce; all other columns pass through untouched.
    """
    out_col = out_col or value_col
    med = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(by)
        .agg(F.expr(f"percentile({value_col}, 0.5)").alias("__med"))
    )
    return (
        df.join(F.broadcast(med), by, "left")
        .withColumn(out_col, F.coalesce(F.col(value_col), F.col("__med")))
        .drop("__med")
    )


def feature_correlations(
    df: DataFrame,
    cols: "Sequence[str]",
    by: str | None = None,
) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns (optionally per
    group): ``(by?, col_a, col_b, corr)`` for every unordered pair — the
    quick multicollinearity screen before feature selection.

    ONE aggregation computes every pair (``corr`` is map-side combinable);
    the pair explosion happens on the single aggregated row, so the
    shuffle payload is O(groups × pairs), never O(rows × pairs).
    """
    if len(list(cols)) < 2:
        # zero pairs would reach df.agg() with no expressions — require the
        # minimum input that yields at least one correlation
        raise ValueError("feature_correlations requires at least 2 cols")
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in list(cols)[i + 1 :]
    ]
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"__corr_{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    keys = [by] if by else []
    wide = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    melted = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__corr_{i}").alias("corr"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return wide.select(*keys, F.explode(melted).alias("__p")).select(
        *keys,
        F.col("__p.col_a").alias("col_a"),
        F.col("__p.col_b").alias("col_b"),
        F.col("__p.corr").alias("corr"),
    )


def target_encode_loo(
    df: DataFrame,
    category_col: str,
    target_col: str,
    prior_weight: float = 10.0,
) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the standard
    high-cardinality categorical feature that avoids leaking a row's own
    label into its feature: each row gets
    ``(group_sum - own_target + prior_weight * global_mean) /
    (group_n - 1 + prior_weight)``.

    One grouped aggregation (sums/counts, map-side combinable, broadcast
    back) + a map-only projection; the global mean is a bounded driver
    scalar. Singleton categories fall back to the smoothed prior instead of
    dividing by zero.
    """
    clean = df.where(F.col(target_col).isNotNull())
    g_mean = float(clean.agg(F.avg(target_col)).collect()[0][0])
    grp = clean.groupBy(category_col).agg(
        F.sum(target_col).alias("__sum"), F.count(F.lit(1)).alias("__n")
    )
    denom = F.col("__n") - 1 + prior_weight
    # ANSI mode throws on 0/0 (a singleton with zero prior) — that row has
    # no leakage-free encoding, so it is explicitly null
    enc = F.when(
        denom != 0,
        (F.col("__sum") - F.col(target_col) + prior_weight * g_mean) / denom,
    )
    return (
        clean.join(F.broadcast(grp), category_col)
        .withColumn("target_enc", F.round(enc, 6))
        .drop("__sum", "__n")
    )


def psi_report(
    baseline: DataFrame,
    current: DataFrame,
    value_col: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population-stability-index drift report between two snapshots of a
    numeric column — the standard "did my feature/corpus distribution
    move" monitor. Bins are the BASELINE's ``n_bins`` quantile buckets
    (equal-population on the baseline by construction), so drift shows up
    as current-share imbalance; ``psi_contrib = (q - p) * ln(q / p)`` with
    ``eps`` smoothing for empty bins. Sum the column for the headline PSI
    (< 0.1 stable, > 0.25 action).

    The quantile boundaries are a bounded driver list (same convention as
    IVF centroids); binning is then a map-only literal fold and each side
    needs ONE grouped count. Returns ``(bin, p_baseline, p_current,
    psi_contrib)`` — one row per bin, always exactly ``n_bins`` rows.
    """
    probs = [i / n_bins for i in range(1, n_bins)]
    arr = F.percentile(
        value_col, F.array(*[F.lit(float(p)) for p in probs])
    )
    raw = (
        baseline.where(F.col(value_col).isNotNull())
        .agg(arr.alias("b"))
        .collect()[0]["b"]
    )
    if raw is None:
        raise ValueError(
            "psi_report: baseline has no non-null values — no quantile "
            "bins can be formed"
        )
    bounds = [float(b) for b in raw]

    def bin_expr():
        b = F.lit(1)
        for x in bounds:
            b = b + (F.col(value_col) > F.lit(x)).cast("int")
        return b.alias("bin")

    def shares(df: DataFrame, name: str) -> DataFrame:
        clean = df.where(F.col(value_col).isNotNull())
        # the side's total is one bounded scalar (pagerank-count convention)
        # — a global window for it would funnel the counts through a single
        # partition, the exact shape the plan guardrails ban
        total = clean.count()
        return (
            clean.select(bin_expr())
            .groupBy("bin")
            .agg((F.count(F.lit(1)) / F.lit(float(total))).alias(name))
        )

    spark = baseline.sparkSession
    bins = spark.createDataFrame([(i,) for i in range(1, n_bins + 1)], "bin int")
    p = shares(baseline, "__p")
    q = shares(current, "__q")
    pc = F.coalesce("__p", F.lit(0.0)) + eps
    qc = F.coalesce("__q", F.lit(0.0)) + eps
    return (
        bins.join(p, "bin", "left")
        .join(q, "bin", "left")
        .select(
            "bin",
            F.round(F.coalesce("__p", F.lit(0.0)), 6).alias("p_baseline"),
            F.round(F.coalesce("__q", F.lit(0.0)), 6).alias("p_current"),
            F.round((qc - pc) * F.log(qc / pc), 6).alias("psi_contrib"),
        )
    )


def ab_test_report(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    a: str = "a",
    b: str = "b",
) -> DataFrame:
    """Two-sample experiment readout in ONE combinable aggregation:
    ``(n_a, mean_a, n_b, mean_b, diff, welch_t, welch_dof)`` comparing
    variant ``b`` against control ``a`` on ``metric_col`` — the closed-form
    Welch unequal-variance t statistic with Welch–Satterthwaite degrees of
    freedom, the standard guardrail-metric sheet an experimentation
    pipeline prints per assignment (pair with
    :func:`dataops.sketch.hash_split` for deterministic
    assignment).

    Everything reduces to conditional count/avg/var_samp sums, so the plan
    is a single map-side-combinable aggregate — no window, no join, no
    second pass. NULL metrics are ignored; a variant with < 2 observations
    yields NULL t/dof rather than a division error (ANSI-safe guards).
    """
    v = F.col(variant_col)
    m = F.col(metric_col)

    def side(tag):
        cond = (v == tag) & m.isNotNull()
        return (
            F.count(F.when(cond, 1)).alias(f"__n_{tag}"),
            F.avg(F.when(cond, m)).alias(f"__m_{tag}"),
            F.var_samp(F.when(cond, m)).alias(f"__v_{tag}"),
        )

    agg = df.agg(*side(a), *side(b))
    na, nb = F.col(f"__n_{a}"), F.col(f"__n_{b}")
    ma, mb = F.col(f"__m_{a}"), F.col(f"__m_{b}")
    va, vb = F.col(f"__v_{a}"), F.col(f"__v_{b}")
    ok = (na >= 2) & (nb >= 2) & ((va > 0) | (vb > 0))
    se2 = va / na + vb / nb
    t = (mb - ma) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        F.round(ma, 6).alias("mean_a"),
        nb.cast("long").alias("n_b"),
        F.round(mb, 6).alias("mean_b"),
        F.round(mb - ma, 6).alias("diff"),
        F.round(F.when(ok, t), 6).alias("welch_t"),
        F.round(F.when(ok, dof), 6).alias("welch_dof"),
    )


def robust_scale(
    df: DataFrame,
    value_col: str,
    by: str,
    out_col: str = "scaled",
) -> DataFrame:
    """Median/IQR feature scaling per group: ``(v - median) / (p75 - p25)``
    — the outlier-immune cousin of z-scoring (a corrupted long-tail value
    moves mean/std arbitrarily but barely touches the quartiles).

    Two grouped aggregations by construction (quartiles, then the map-only
    scale through a broadcast of the tiny per-group cut table — the
    :func:`winsorized_stats` shape). A zero-IQR group (constant values)
    yields NULL scaled values rather than a division error; NULL inputs
    pass through with a NULL scale.
    """
    cuts = df.where(F.col(value_col).isNotNull()).groupBy(by).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med"),
        (
            F.expr(f"percentile({value_col}, 0.75)")
            - F.expr(f"percentile({value_col}, 0.25)")
        ).alias("__iqr"),
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(cuts), by, "left")
        .withColumn(
            out_col,
            F.when(
                v.isNotNull() & (F.col("__iqr") > 0),
                F.round((v - F.col("__med")) / F.col("__iqr"), 6),
            ),
        )
        .drop("__med", "__iqr")
    )


def equiheight_histogram(
    df: DataFrame,
    value_col: str,
    by: str,
    n_bins: int = 10,
    approx: bool = False,
) -> DataFrame:
    """Equi-HEIGHT histogram per group: bins are the group's own quantile
    intervals, so every bin holds ~``1/n_bins`` of the rows — the
    histogram shape query optimizers and drift monitors prefer over
    fixed-width bins, whose tails go empty on skewed data. Output:
    ``(by, bin, n, bin_min, bin_max)`` with observed per-bin extremes.

    Two grouped aggregations (the ``winsorized_stats`` shape): the
    ``n_bins - 1`` interior cut points per group come from ONE
    ``percentile(array)`` call, broadcast back; bin assignment is a pure
    fold over that tiny cut array (``1 + #cuts below v``) inside codegen;
    the final count is map-side combinable. Values equal to a cut land in
    the lower bin (``>`` strictly), so assignment is a pure function of
    the value.

    ``approx=True`` swaps the exact sort-based ``percentile`` for the
    MERGEABLE ``approx_percentile`` (Greenwald-Khanna at Spark's default
    accuracy 10000 — rank error <= 1/10000 of the group size, so a bin's
    share is ``1/n_bins ± 1e-4``): at 100 TB with high-cardinality
    groups the exact tier's per-group sort is the bottleneck, while the
    sketch is one combinable pass (the ``winsorized_stats`` convention).
    Bin COUNTS stay exact either way — only the cut placement is
    approximate.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    fn = "approx_percentile" if approx else "percentile"
    fracs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    cuts = df.where(F.col(value_col).isNotNull()).groupBy(by).agg(
        F.expr(f"{fn}({value_col}, array({fracs}))").alias("__cuts")
    )
    v = F.col(value_col)
    bin_ = F.lit(1) + F.aggregate(
        F.col("__cuts"),
        F.lit(0),
        lambda acc, c: acc + F.when(v > c, 1).otherwise(0),
    )
    return (
        df.where(v.isNotNull())
        .join(F.broadcast(cuts), by)
        .groupBy(by, bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min(v), 6).alias("bin_min"),
            F.round(F.max(v), 6).alias("bin_max"),
        )
    )
