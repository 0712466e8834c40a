"""Declarative data-quality constraints (Deequ-style, reduced to one pass).

Beyond-reference extension: the reference trusts its feeds and fails inside
pandas transforms; a 100 TB ingest needs the inverse — declare the contract,
measure violations, gate on the report. Constraints are data, not code:

``{"type": "not_null", "col": c}``
``{"type": "range", "col": c, "min": x, "max": y}`` (inclusive, open-ended
when one bound is omitted)
``{"type": "in_set", "col": c, "values": [...]}``
``{"type": "regex", "col": c, "pattern": r"..."}`` (Java∩RE2 subset, like
:mod:`dataops.cleaning`'s PII patterns, so DuckDB replays)
``{"type": "unique", "cols": [a, b]}``
``{"type": "ordered", "low": a, "high": b}`` (row-wise ``a <= b``)

Scale shape: every ROW-level constraint compiles to one conditional-sum
aggregate, so N constraints over a table cost ONE scan + one reduce
(map-side combinable). ``unique`` constraints genuinely need a distinct
count each — they run as separate aggregates and union into the same
report. Output, one row per constraint:
``(constraint, target, violations, total, passed)``.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["check_constraints", "assert_constraints", "table_diff", "join_size_estimate"]


def _row_violation(c: Mapping) -> Column:
    """Boolean column: TRUE where the row violates the constraint."""
    kind = c["type"]
    if kind == "not_null":
        return F.col(c["col"]).isNull()
    if kind == "range":
        col = F.col(c["col"])
        ok = F.lit(True)
        if "min" in c:
            ok = ok & (col >= F.lit(c["min"]))
        if "max" in c:
            ok = ok & (col <= F.lit(c["max"]))
        # null is a missing value, not a range violation — not_null is its
        # own constraint; conflating them double-counts every null
        return col.isNotNull() & ~ok
    if kind == "in_set":
        col = F.col(c["col"])
        return col.isNotNull() & ~col.isin(list(c["values"]))
    if kind == "regex":
        col = F.col(c["col"])
        return col.isNotNull() & ~col.rlike(c["pattern"])
    if kind == "ordered":
        lo, hi = F.col(c["low"]), F.col(c["high"])
        return lo.isNotNull() & hi.isNotNull() & (lo > hi)
    raise ValueError(f"unknown constraint type {c['type']!r}")


def _target(c: Mapping) -> str:
    if c["type"] == "unique":
        return ",".join(c["cols"])
    if c["type"] == "ordered":
        return f"{c['low']}<={c['high']}"
    return c["col"]


def check_constraints(
    df: DataFrame, constraints: Sequence[Mapping]
) -> DataFrame:
    """Violation report for the declared constraints — one output row per
    constraint: ``(constraint, target, violations, total, passed)``.

    All row-level constraints share ONE scan (each is a conditional-sum
    aggregate in the same ``agg``); each ``unique`` adds one distinct
    aggregation. Deterministic output order: the constraint declaration
    order, carried by an explicit index (a union of aggregates has no
    inherent order).
    """
    row_cs = [c for c in constraints if c["type"] != "unique"]
    uniq_cs = [c for c in constraints if c["type"] == "unique"]

    reports = []
    if row_cs:
        aggs = [F.count(F.lit(1)).cast("long").alias("__total")]
        for i, c in enumerate(row_cs):
            aggs.append(
                F.sum(_row_violation(c).cast("long")).alias(f"__v{i}")
            )
        base = df.agg(*aggs)
        for i, c in enumerate(row_cs):
            reports.append(
                base.select(
                    F.lit(constraints.index(c)).alias("__ord"),
                    F.lit(c["type"]).alias("constraint"),
                    F.lit(_target(c)).alias("target"),
                    F.coalesce(F.col(f"__v{i}"), F.lit(0)).alias("violations"),
                    F.col("__total").alias("total"),
                )
            )
    for c in uniq_cs:
        cols = [F.col(x) for x in c["cols"]]
        agg = df.agg(
            F.count(F.lit(1)).cast("long").alias("__total"),
            (
                F.count(F.lit(1)) - F.count_distinct(F.struct(*cols))
            ).cast("long").alias("__v"),
        )
        reports.append(
            agg.select(
                F.lit(constraints.index(c)).alias("__ord"),
                F.lit("unique").alias("constraint"),
                F.lit(_target(c)).alias("target"),
                F.col("__v").alias("violations"),
                F.col("__total").alias("total"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("__ord").select(
        "constraint",
        "target",
        "violations",
        "total",
        (F.col("violations") == 0).alias("passed"),
    )


def assert_constraints(df: DataFrame, constraints: Sequence[Mapping]) -> None:
    """Gate form: raise ``ValueError`` naming every failed constraint.

    The report is tiny (one row per constraint), so the collect is bounded
    by the declaration, never the data.
    """
    failed = [
        f"{r['constraint']}({r['target']}): {r['violations']}/{r['total']}"
        for r in check_constraints(df, constraints).collect()
        if not r["passed"]
    ]
    if failed:
        raise ValueError("constraints failed: " + "; ".join(failed))


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: "Sequence[str]",
    compare_cols: "Sequence[str]",
) -> DataFrame:
    """Audit two versions of a table: ``(metric, n)`` rows counting
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` keys plus a
    ``changed:<col>`` row per compared column — the regression sheet a
    pipeline prints before promoting a new snapshot.

    ONE key-keyed full-outer join and ONE aggregation; comparisons are
    ``eqNullSafe`` so NULL↔value transitions count as changes. The output
    is a handful of rows regardless of input size.
    """
    keys = list(key_cols)
    comp = list(compare_cols)
    if not keys or not comp:
        # empty compare_cols would leave any_changed undefined (opaque
        # TypeError on ~None) — fail with the actual contract instead
        raise ValueError("key_cols and compare_cols must be non-empty")
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in comp],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in comp],
        F.lit(1).alias("__in_new"),
    )
    cond = [F.col(f"__ok_{k}") == F.col(f"__nk_{k}") for k in keys]
    j = o.join(n, cond, "full_outer")

    in_old = F.col("__in_old").isNotNull()
    in_new = F.col("__in_new").isNotNull()
    col_changed = {
        c: in_old & in_new & ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        for c in comp
    }
    any_changed = None
    for expr in col_changed.values():
        any_changed = expr if any_changed is None else (any_changed | expr)

    aggs = [
        F.sum((in_new & ~in_old).cast("long")).alias("added"),
        F.sum((in_old & ~in_new).cast("long")).alias("removed"),
        F.sum((in_old & in_new & any_changed).cast("long")).alias("changed"),
        F.sum((in_old & in_new & ~any_changed).cast("long")).alias("unchanged"),
    ] + [
        F.sum(expr.cast("long")).alias(f"changed:{c}")
        for c, expr in col_changed.items()
    ]
    wide = j.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(F.lit(m).alias("metric"), F.col(f"`{m}`").alias("n"))
            for m in (
                ["added", "removed", "changed", "unchanged"]
                + [f"changed:{c}" for c in comp]
            )
        ]
    )
    return wide.select(F.explode(pairs).alias("__p")).select(
        F.col("__p.metric").alias("metric"),
        F.coalesce(F.col("__p.n"), F.lit(0)).cast("long").alias("n"),
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    on: str,
) -> DataFrame:
    """Pre-join audit: EXACT output cardinality and skew profile of the
    equi-join ``left ⋈ right ON on`` computed WITHOUT running it — one
    row: ``(n_left, n_right, n_keys_overlap, est_output_rows,
    max_key_output, top_key)``.

    ``Σ (count_left(k) · count_right(k))`` over shared keys IS the join's
    output size, and ``max_key_output`` is the single hottest key's
    contribution — the number that says "salt this key before you
    shuffle". Cost: one map-side-combinable count per side plus a join of
    the (distinct-key-sized) count tables — orders cheaper than the join
    it audits; the rollup of products is a single aggregation.
    """
    lc = left.groupBy(F.col(on).alias("__k")).agg(
        F.count(F.lit(1)).alias("__nl")
    )
    rc = right.groupBy(F.col(on).alias("__k")).agg(
        F.count(F.lit(1)).alias("__nr")
    )
    j = lc.join(rc, "__k")
    prod = (F.col("__nl") * F.col("__nr")).alias("__p")
    per_key = j.select("__k", F.col("__nl"), F.col("__nr"), prod)
    totals_l = left.agg(F.count(F.lit(1)).alias("n_left"))
    totals_r = right.agg(F.count(F.lit(1)).alias("n_right"))
    # struct-max tie-break: max_by alone picks an ARBITRARY key among
    # equal products; (product, key-string) struct ordering is total
    top = F.max(
        F.struct(
            F.col("__p").alias("p"), F.col("__k").cast("string").alias("k")
        )
    )
    agg = per_key.agg(
        F.count(F.lit(1)).alias("n_keys_overlap"),
        F.sum("__p").alias("est_output_rows"),
        F.max("__p").alias("max_key_output"),
        top["k"].alias("top_key"),
    )
    return agg.crossJoin(F.broadcast(totals_l)).crossJoin(
        F.broadcast(totals_r)
    ).select(
        "n_left", "n_right", "n_keys_overlap",
        "est_output_rows", "max_key_output", "top_key",
    )
