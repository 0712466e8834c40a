"""Event-sequence analytics: ordered conversion funnels and retention
cohorts.

Beyond-reference extensions (SURVEY §7.2): the two standard product-metric
queries every event warehouse serves, expressed as chained combinable
aggregations (no self-joins over the fact table, no window over the whole
event stream).

Design for 100 TB:

* :func:`funnel_counts` — ORDERED funnel (a later step counts only if it
  happens at-or-after the user's earliest previous step). One grouped
  aggregation per step, each keyed by user — the per-step user table is a
  projection of the previous one, so Catalyst pipelines the chain into
  successive combinable aggs; nothing ever joins back to the raw events
  except the next step's filtered scan.
* :func:`retention_matrix` — cohort = the week of the user's first event;
  the matrix cell (cohort, offset) counts distinct users active that many
  weeks later. Two aggregations (first-seen per user; distinct user-weeks)
  + one broadcast-size join on user — the classic two-pass shape.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["funnel_counts", "retention_matrix", "session_paths"]


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
) -> DataFrame:
    """Ordered conversion funnel: ``(step_idx, step, n_users)`` — users
    counted at step i+1 only if their earliest step-i+1 event is at or
    after their earliest qualifying step-i event.

    Each stage produces ``(user, t_i)`` = min event time of step i at or
    after that user's ``t_{i-1}``; the next stage inner-joins it (user-keyed
    equi-join) against the next step's events. Step tables shrink
    monotonically. Returns one row per step.
    """
    if not steps:
        raise ValueError("funnel_counts needs at least one step")
    from bio2bel_spark.operators.caching import tracked_persist

    reached = None
    out = []
    for i, step in enumerate(steps):
        ev = events.where(F.col(type_col) == step).select(
            F.col(user_col), F.col(ts_col).alias("__t")
        )
        if reached is None:
            stage = ev.groupBy(user_col).agg(F.min("__t").alias("__t_prev"))
        else:
            stage = (
                ev.join(reached, user_col)
                .where(F.col("__t") >= F.col("__t_prev"))
                .groupBy(user_col)
                .agg(F.min("__t").alias("__t_prev"))
            )
        # each stage feeds BOTH its count row and the next stage — without a
        # persist, counting step k re-executes every earlier stage (k scans
        # of the fact table per step, O(k^2) total)
        stage = stage.transform(tracked_persist)
        reached = stage
        out.append(
            stage.agg(
                F.lit(i + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def retention_matrix(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly retention cohorts: ``(cohort_week, week_offset, n_users)`` —
    users whose FIRST event fell in ``cohort_week`` and who were active
    ``week_offset`` weeks later (offset 0 = the cohort week itself).

    ``cohort_week`` is emitted as an epoch-second long so the result is
    timezone-layout-proof across engines.
    """
    week = F.date_trunc("week", F.col(ts_col))
    first = events.groupBy(user_col).agg(F.min(week).alias("__cohort"))
    active = events.select(F.col(user_col), week.alias("__week")).distinct()
    return (
        active.join(first, user_col)
        .groupBy(
            F.unix_timestamp("__cohort").alias("cohort_week"),
            F.floor(
                (F.unix_timestamp("__week") - F.unix_timestamp("__cohort"))
                / (7 * 86400)
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def session_paths(
    events: DataFrame,
    gap_sec: int = 1800,
    max_steps: int = 8,
    min_count: int = 2,
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Frequent session paths: gap-based sessionization (a new session
    starts after ``gap_sec`` of inactivity), each session reduced to the
    '>'-joined sequence of its first ``max_steps`` event types, counted
    across the corpus — the batch path-analysis twin of the streaming
    sessionizer.

    All three stages are windows/aggregations over the SAME (user)
    partitioning: gap flag (lag), session id (running sum of flags), path
    assembly (ordered collect + slice). ``min_count`` replaces a top-k
    limit so the result set is deterministic under count ties. Ties at
    equal timestamps break on ``id_col`` on every engine.
    """
    from pyspark.sql import Window

    from dataops.temporal import epoch_us

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    new_flag = (
        F.when(
            epoch_us(ts_col) - F.lag(epoch_us(ts_col)).over(w)
            > gap_sec * 1_000_000,
            1,
        )
        .otherwise(0)
        .cast("long")
    )
    sess = events.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(id_col),
        F.col(type_col),
    ).withColumn(
        "__sess",
        F.sum(new_flag).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = sess.groupBy(user_col, "__sess").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(ts_col, id_col, type_col))
                    ),
                    lambda x: x[type_col],
                ),
                1,
                max_steps,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .where(F.col("n_sessions") >= min_count)
    )
