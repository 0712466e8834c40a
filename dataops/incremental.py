"""Incremental materialized-aggregate maintenance (batch-side IVM).

Beyond-reference extension (SURVEY §7.2): the reference recomputes its
summary tables from scratch on every populate; at 100 TB a grouped
aggregate over the full corpus cannot be rebuilt per increment. SUM/COUNT
(and anything derivable from them — mean, rate) are self-mergeable, so the
materialized state updates from each new batch in O(batch + touched-state):

1. aggregate the increment alone (map-side combinable partial aggregate);
2. union with the stored state and re-sum per key;
3. overwrite the state (materialized first — its lineage reads the table
   being replaced, the same contract as the streaming maintainers).

Exactly-once under replays comes from an applied-batch ledger: a batch id
seen before is skipped OUTRIGHT (sums are not idempotent, unlike the
register-max/bit-union sketch maintainers, so the guard is load-bearing).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["refresh_sum_aggregate", "refresh_distinct_aggregate"]


def refresh_sum_aggregate(
    catalog,
    increment: DataFrame,
    state_table: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    batch_id: str | None = None,
) -> DataFrame:
    """Fold one increment batch into a materialized grouped aggregate.

    State schema: ``keys + n_rows + sum_<col> per sum_cols``. Pass a stable
    ``batch_id`` (file name, ingest timestamp, offset range) to make
    replays no-ops; without one, every call is assumed to be new data.
    Returns the refreshed state DataFrame.
    """
    keys = list(keys)
    ledger = f"{state_table}__applied"
    if batch_id is not None and catalog.table_exists(ledger):
        seen = (
            catalog.read_table(ledger)
            .where(F.col("batch_id") == batch_id)
            .limit(1)
            .count()
        )
        if seen:
            return catalog.read_table(state_table)

    part = increment.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
    )
    if catalog.table_exists(state_table):
        merged = (
            catalog.read_table(state_table)
            .unionByName(part)
            .groupBy(*keys)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            )
        )
    else:
        merged = part
    merged = merged.localCheckpoint(eager=True)
    catalog.write_table(merged, state_table, mode="overwrite")
    if batch_id is not None:
        spark = increment.sparkSession
        catalog.write_table(
            spark.createDataFrame([(batch_id,)], "batch_id string"),
            ledger,
            mode="append",
        )
    return merged


def refresh_distinct_aggregate(
    catalog,
    increment: DataFrame,
    state_table: str,
    col: str,
    by: str,
    b: int = 9,
) -> DataFrame:
    """Maintain per-group APPROXIMATE DISTINCT counts incrementally: the
    state is a grouped HyperLogLog register table
    (:func:`dataops.sketch.hll_state_grouped`), merged with
    each batch by group-wise register max.

    Unlike :func:`refresh_sum_aggregate` this needs NO batch ledger —
    register max is idempotent, so replays are harmless by construction.
    State is O(groups × 2^b) forever. Read estimates with
    ``sketch.hll_estimate_grouped(state, by, b)``.
    """
    from dataops.sketch import (
        hll_merge_grouped,
        hll_state_grouped,
    )

    batch_state = hll_state_grouped(increment, col, by, b=b)
    if catalog.table_exists(state_table):
        merged = hll_merge_grouped(
            [catalog.read_table(state_table), batch_state], by
        )
    else:
        merged = batch_state
    merged = merged.localCheckpoint(eager=True)
    catalog.write_table(merged, state_table, mode="overwrite")
    return merged
