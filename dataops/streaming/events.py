"""Streaming operators over the events feed.

The batch transforms in ``__spark_entry__``/operators are reused unchanged on
``readStream`` inputs — the point of declaring them as DataFrame plans. This
module adds the stream-specific pieces:

* :func:`stream_events` — schema-pinned streaming parquet source;
* :func:`hourly_rollup` — watermarked tumbling-window aggregation (late data
  beyond the watermark is dropped deterministically);
* :func:`run_to_table` — foreachBatch sink appending into a catalog table,
  giving the reference's idempotent-populate semantics in streaming form;
* :func:`sessionize` — custom stateful operator via
  ``applyInPandasWithState``: gap-based sessions per user (the
  'custom stateful streaming operator' slot from the build brief).
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: canonical post-normalization shape of the events stream (documentation;
#: the physical scan schema is peeked from the parquet footers per layout)
EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of an events parquet directory, layout-proof the same
    way the batch loader is (``tables._normalize_ts``): ``ts`` may arrive as
    TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ micros, or plain TIMESTAMP —
    the driver's data drops have shipped all three across rounds — and is
    normalized to TIMESTAMP under the pinned-UTC session at scan time. A
    streaming source needs an explicit schema, so the actual layout is
    peeked from the directory's parquet footers with a driver-side static
    read (no data scan).

    Build a fresh source per started query: sharing one streaming DataFrame
    lineage between two ``writeStream.start()`` calls can break physical
    planning of stateful operators (observed on Spark 4.1: NPE in
    ``FlatMapGroupsInPandasWithStateExec`` when the lineage is reused).
    """
    # runtime confs, self-sufficient like tables.load_table: nanos parquet
    # is unreadable without the legacy flag, and the NTZ→TIMESTAMP cast
    # below reads the session timezone at execution time
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(path).schema
    raw = spark.readStream.schema(schema).parquet(path)
    dtype = dict(raw.dtypes)["ts"]
    if dtype == "bigint":
        # integer DIV: float division of large nanos loses the low bits
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if dtype in ("timestamp_ntz", "date"):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    if dtype == "timestamp":
        return raw
    raise TypeError(
        f"stream_events: unexpected ts dtype {dtype!r}; expected bigint "
        "(nanos-as-long), timestamp, timestamp_ntz or date — the driver's "
        "testdata layout changed again; extend stream_events"
    )


def enrich_stream(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: "str | list[str]",
    how: str = "left",
) -> DataFrame:
    """Stream–static enrichment join: attach dimension attributes to every
    streaming row (the classic events×users/documents×domain-stats shape in
    a training-data feed).

    The static side gets an explicit ``broadcast`` hint: Structured
    Streaming re-plans the join every micro-batch, and broadcasting the dim
    table keeps each batch map-only — the unbounded side is never shuffled,
    which is the only sane shape when the stream is the 100 TB feed and the
    dim fits an executor. ``how="left"`` (default) preserves stream rows
    with no dim match (nulls downstream gate into a rejects side-output);
    inner drops them. Stateless — no watermark needed, nothing accumulates.
    """
    return stream_df.join(F.broadcast(dim_df), on=on, how=how)


def hourly_rollup(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window rollup: the streaming twin of the batch
    ``events_hourly`` query. ``window`` sets the grain ("1 hour", "1 day",
    ...) — the streaming counterpart of one hypertable_rollup level (state
    per open window only; closed windows are emitted and evicted at the
    watermark, so coarser grains hold *fewer* open windows, not more
    state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop records whose ``keys`` were already seen
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    This is the streaming half of the exact-dedup operator family
    (operators/dedup.py): at-least-once sources (Kafka replays, S3
    redeliveries) become effectively-once downstream. State is one entry per
    distinct key and is EVICTED once the watermark passes — bounded memory,
    unlike plain ``dropDuplicates`` whose state grows forever on a stream.
    """
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_to_table(
    stream_df: DataFrame,
    catalog,
    table: str,
    checkpoint: str,
    mode: str = "append",
):
    """foreachBatch sink into the parquet catalog with availableNow
    semantics — processes everything currently in the source, then stops.
    Each micro-batch append is atomic per batch id (Spark streaming's
    exactly-once-per-batch contract on the checkpoint)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        catalog.write_table(batch_df, table, mode=mode)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessions via the built-in ``session_window`` — the JVM-native
    twin of :func:`sessionize`. Preferred at scale: state lives in the Spark
    state store with watermark eviction, no Python boundary, and the same
    expression works in batch mode (``groupBy(session_window(...))``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


SESSION_SCHEMA = (
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events INT, total_value DOUBLE"
)
_STATE_SCHEMA = "start BIGINT, end BIGINT, n INT, total DOUBLE"


def _sessionize_group(
    key: Tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    gap_seconds: int,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    rows = pd.concat(list(batches)).sort_values("ts")
    if state.exists:
        start_us, end_us, n, total = state.get
    else:
        start_us = end_us = None
        n, total = 0, 0.0
    out = []
    for ts, value in zip(rows["ts"], rows["value"]):
        ts_us = int(ts.value // 1000)  # pandas ns → µs
        if start_us is None:
            start_us, end_us, n, total = ts_us, ts_us, 1, float(value)
        elif ts_us - end_us <= gap_seconds * 1_000_000:
            end_us, n, total = ts_us, n + 1, total + float(value)
        else:
            out.append((user_id, start_us, end_us, n, total))
            start_us, end_us, n, total = ts_us, ts_us, 1, float(value)
    state.update((start_us, end_us, n, total))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [o[0] for o in out],
                "session_start": [pd.Timestamp(o[1], unit="us") for o in out],
                "session_end": [pd.Timestamp(o[2], unit="us") for o in out],
                "n_events": [o[3] for o in out],
                "total_value": [o[4] for o in out],
            }
        )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization per user via ``applyInPandasWithState``.

    Emits a session row once a later event arrives more than ``gap_seconds``
    after the session's last event (the still-open session stays in state).
    State is one tiny tuple per user — bounded, shuffle-partitioned by key.

    No state timeout: a processing-time timeout makes Spark run a no-data
    batch after every batch, so an ``availableNow`` query over this operator
    would never terminate.
    """

    def fn(key, pdf_iter, state):
        return _sessionize_group(key, pdf_iter, state, gap_seconds)

    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_state_maintenance(
    stream_df: DataFrame,
    catalog,
    state_table: str,
    checkpoint: str,
    transition,
    guarded: bool = False,
):
    """The ONE foreachBatch skeleton every incremental-state maintainer
    shares: read the persistent state (if any), apply a pure state
    ``transition``, atomically overwrite the state table.

    ``transition(prev, batch_df) -> DataFrame`` takes the previous state
    (None on the first batch) and the micro-batch, and returns the merged
    state WITHOUT bookkeeping columns. Two durability tiers:

    * ``guarded=False`` — for IDEMPOTENT merges (min-k, set union,
      register max, distinct-sample, latest-wins CDC): a restart replays
      at most one batch harmlessly, so no marker is needed.
    * ``guarded=True`` — for NON-idempotent merges (counter summing):
      the last applied ``batch_id`` rides ON the state rows
      (``last_batch_id`` column, same value on every row) so counters
      and marker commit in ONE atomic overwrite — there is no window
      where the counters include a batch the marker doesn't know about.
      A batch whose id is not strictly greater than the recorded marker
      is skipped. (The transactional-marker pattern Spark documents for
      non-idempotent foreachBatch sinks; caveat: the guard is scoped to
      one checkpoint — rebuilding the checkpoint restarts batch ids, so
      pair a fresh checkpoint with a fresh state table.)

    The merged state is materialized (``localCheckpoint``) BEFORE the
    overwrite: its lineage reads the very table being overwritten, and
    recache-by-path would otherwise re-execute the plan over its own
    output. State stays sketch-sized (rows bounded by the sketch
    parameters, never the stream volume), so each update is O(state).
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = None
        if catalog.table_exists(state_table):
            prev = catalog.read_table(state_table)
            if guarded:
                marker = prev.agg(F.max("last_batch_id")).collect()[0][0]
                if marker is not None and batch_id <= marker:
                    return  # replay of an applied batch: skip
        merged = transition(prev, batch_df)
        if guarded:
            merged = merged.withColumn(
                "last_batch_id", F.lit(int(batch_id)).cast("long")
            )
        out = merged.localCheckpoint(eager=True)
        catalog.write_table(out, state_table, mode="overwrite")

    return (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_sketch_maintenance(
    stream_df: DataFrame,
    catalog,
    col: str,
    state_table: str,
    checkpoint: str,
    k: int = 256,
    backend: str = "md5",
):
    """Maintain a KMV distinct-count sketch incrementally over a stream.

    Each micro-batch builds the batch's KMV state (``≤ k`` hash rows, tiny)
    and merges it into the persistent ``state_table`` via
    ``sketch.kmv_merge`` — mergeability makes the update O(k), never a
    re-scan of history. Min-k merge is idempotent under replay (re-merging
    rows already in the state changes nothing), so the unguarded
    :func:`run_state_maintenance` tier applies. Read the estimate at any
    time with ``sketch.kmv_estimate`` over the state table.
    """
    from dataops.sketch import kmv_merge, kmv_state

    def transition(prev, batch_df):
        batch_state = kmv_state(batch_df, col, k=k, backend=backend)
        if prev is None:
            return batch_state
        return kmv_merge([prev, batch_state], k=k)

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition
    )


def run_cms_maintenance(
    stream_df: DataFrame,
    catalog,
    col: str,
    state_table: str,
    checkpoint: str,
    width: int = 1024,
    depth: int = 4,
    backend: str = "md5",
):
    """Maintain a count-min frequency sketch incrementally over a stream.

    Per micro-batch: build the batch's CMS state (≤ depth×width counter
    rows) and SUM it into the persistent ``state_table`` via
    ``sketch.cms_merge``. Counter SUMMING IS NOT replay-idempotent, so
    this runs on the guarded :func:`run_state_maintenance` tier (batch-id
    marker committed in the same atomic overwrite).
    """
    from dataops.sketch import cms_merge, cms_state

    def transition(prev, batch_df):
        batch_state = cms_state(
            batch_df, col, width=width, depth=depth, backend=backend
        )
        if prev is None:
            return batch_state
        return cms_merge([prev.select("d", "w", "cnt"), batch_state])

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition, guarded=True
    )


def run_bloom_maintenance(
    stream_df: DataFrame,
    catalog,
    col: str,
    state_table: str,
    checkpoint: str,
    m: int = 1 << 20,
    k: int = 4,
    backend: str = "md5",
):
    """Maintain a Bloom membership filter incrementally over a stream.

    Per micro-batch the batch's set bit positions union into the persistent
    state (``sketch.bloom_merge``). Set union IS idempotent — replaying a
    batch re-sets bits that are already set — so the unguarded
    :func:`run_state_maintenance` tier applies. Probe the accumulated
    filter at any time with ``sketch.bloom_probe`` over the state table.
    """
    from dataops.sketch import bloom_merge, bloom_state

    def transition(prev, batch_df):
        batch_state = bloom_state(batch_df, col, m=m, k=k, backend=backend)
        if prev is None:
            return batch_state
        return bloom_merge([prev, batch_state])

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition
    )


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    by: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream–stream time-bounded join: attribute each purchase to the
    click(s) by the same ``by`` key that happened at most ``within`` before
    it (the canonical attribution shape).

    Both sides carry a watermark AND the join condition bounds event time
    from both directions (``click.ts <= purchase.ts <= click.ts + within``),
    which is what lets Spark evict join state: without the time bound the
    state store would grow forever holding every click ever seen. State per
    key is bounded by the watermark horizon — the 100 TB-stream
    requirement. Output: ``(by, click_id, click_ts, purchase_id,
    purchase_ts, value)``.
    """
    l = clicks.select(
        F.col(by),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    r = purchases.select(
        F.col(by).alias("__rby"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (l[by] == r["__rby"])
        & (r["purchase_ts"] >= l["click_ts"])
        & (r["purchase_ts"] <= l["click_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, "inner").select(
        by, "click_id", "click_ts", "purchase_id", "purchase_ts", "value"
    )


def run_hll_maintenance(
    stream_df: DataFrame,
    catalog,
    col: str,
    state_table: str,
    checkpoint: str,
    b: int = 9,
):
    """Maintain a HyperLogLog distinct-count sketch incrementally over a
    stream — the O(m)-state sibling of the KMV maintenance.

    Per micro-batch the batch's register table merges into the persistent
    state by register-wise max (``sketch.hll_merge``). Max IS idempotent,
    so the unguarded :func:`run_state_maintenance` tier applies. Read the
    estimate at any time with ``sketch.hll_estimate`` over the state
    table.
    """
    from dataops.sketch import hll_merge, hll_state

    def transition(prev, batch_df):
        batch_state = hll_state(batch_df, col, b=b)
        if prev is None:
            return batch_state
        return hll_merge([prev, batch_state])

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition
    )


def run_quantile_maintenance(
    stream_df: DataFrame,
    catalog,
    value_col: str,
    id_col: str,
    state_table: str,
    checkpoint: str,
    k: int = 1024,
):
    """Maintain a bottom-k sampled-quantile synopsis incrementally over a
    stream (the quantile sibling of the KMV/HLL maintainers).

    Per micro-batch the batch's own bottom-k sample merges into the
    persistent ``(h, v)`` state by union → distinct → re-take the k
    hash-smallest rows. The merge is idempotent (replayed rows collapse in
    the distinct), so the unguarded :func:`run_state_maintenance` tier
    applies. Read quantiles at any time with ``sketch.quantile_estimate``;
    state is ≤ k rows forever, independent of stream volume.
    """
    from dataops.sketch import (
        quantile_sample_merge,
        quantile_sample_state,
    )

    def transition(prev, batch_df):
        batch_state = quantile_sample_state(batch_df, value_col, id_col, k=k)
        if prev is None:
            return batch_state
        return quantile_sample_merge([prev, batch_state], k=k)

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition
    )


def run_dsir_maintenance(
    stream_df: DataFrame,
    catalog,
    state_table: str,
    checkpoint: str,
    target_col: str = "lang",
    target_value: str = "en",
    text_col: str = "text",
    buckets: int = 512,
):
    """Maintain DSIR gram-bucket counters incrementally over a document
    stream: per micro-batch, featurize the batch (hashed unigram+bigram
    buckets) and SUM its ``(b, c_r, c_t)`` counters into the persistent
    state. Counter summing is NOT replay-idempotent, so this runs on the
    guarded :func:`run_state_maintenance` tier (batch-id marker committed
    in the same atomic overwrite).

    The read side is ``textquality.dsir_weights_from_state``: because
    summing is batch-order-invariant, weights scored against the
    maintained state equal a one-pass ``dsir_log_weights`` fit over
    everything the state has seen — the selection model keeps up with a
    growing 100 TB corpus at O(buckets) state, never a history re-scan.
    """
    from dataops.textquality import (
        dsir_bucket_state,
        dsir_merge,
    )

    def transition(prev, batch_df):
        batch_state = dsir_bucket_state(
            batch_df,
            F.col(target_col) == target_value,
            text_col=text_col,
            buckets=buckets,
        )
        if prev is None:
            return batch_state
        return dsir_merge([prev.select("b", "c_r", "c_t"), batch_state])

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition, guarded=True
    )


def run_perplexity_maintenance(
    stream_df: DataFrame,
    catalog,
    reference: DataFrame,
    state_table: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    alpha: float = 1.0,
):
    """Maintain the CCNet per-language milli-perplexity histogram
    incrementally over a document stream: per micro-batch, score the batch
    against the FROZEN ``reference`` LM (a static DataFrame — scores from
    different models are not comparable, so the reference must not change
    across increments) and SUM its ``(lang, m, c)`` histogram into the
    persistent state. Counter summing is NOT replay-idempotent, so this
    runs on the guarded :func:`run_state_maintenance` tier (batch-id
    marker committed in the same atomic overwrite).

    The read side is ``textquality.perplexity_thresholds_from_state`` /
    ``perplexity_buckets_from_state``: because summing is
    batch-order-invariant, thresholds from the maintained state equal a
    one-pass ``ccnet_perplexity_buckets`` fit over everything the state
    has seen — head/middle/tail boundaries keep up with a growing 100 TB
    corpus at O(histogram) state, never a history re-scan.

    The reference LM count tables are fit ONCE here (persisted via
    ``lm_model(persist=True)``) and every micro-batch scores against the
    pinned tables — per-batch cost is O(batch), not
    O(reference + batch).
    """
    from dataops.textquality import (
        lm_model,
        perplexity_hist_merge,
        perplexity_histogram_state,
    )

    model = lm_model(reference, text_col=text_col, persist=True)

    def transition(prev, batch_df):
        batch_state = perplexity_histogram_state(
            batch_df, text_col=text_col, id_col=id_col,
            lang_col=lang_col, alpha=alpha, model=model,
        )
        if prev is None:
            return batch_state
        return perplexity_hist_merge(
            [prev.select("lang", "m", "c"), batch_state]
        )

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition, guarded=True
    )


def run_cdc_apply(
    stream_df: DataFrame,
    catalog,
    snapshot_table: str,
    key_cols,
    checkpoint: str,
    seq_col: str = "seq",
    op_col: str = "op",
):
    """Maintain a snapshot table from a streaming CDC feed: each micro-batch
    merges through :func:`dataops.scd.cdc_apply`
    (latest-wins by sequence, deletes remove, upserts overwrite).

    Replay-idempotent WITHOUT a batch-id guard: reapplying a change batch
    to the snapshot it already produced is a no-op (same seq → same
    winner; deletes re-remove nothing; upserts rewrite identical values)
    — MERGE semantics instead of monotone state, same unguarded
    :func:`run_state_maintenance` tier.
    """
    from dataops.scd import cdc_apply

    def transition(prev, batch_df):
        base = prev if prev is not None else batch_df.sparkSession.createDataFrame(
            [], batch_df.drop(seq_col, op_col).schema
        )
        return cdc_apply(base, batch_df, key_cols, seq_col=seq_col, op_col=op_col)

    return run_state_maintenance(
        stream_df, catalog, snapshot_table, checkpoint, transition
    )


def run_windowed_hll_maintenance(
    stream_df: DataFrame,
    catalog,
    col: str,
    state_table: str,
    checkpoint: str,
    grain: str = "hour",
    ts_col: str = "ts",
    b: int = 9,
):
    """Approximate DISTINCT-per-time-window maintained over a stream: the
    state is a grouped HyperLogLog register table keyed by the truncated
    event-time bucket, merged per micro-batch by (bucket, register) max.

    This answers "distinct users per hour, forever, with late data" in
    O(buckets × 2^b) state — an exact windowed count-distinct would keep
    every id per window alive indefinitely. Register max is idempotent
    (unguarded tier), and LATE events simply re-merge into their old
    bucket (no watermark truncation is forced on the metric). Read with
    ``sketch.hll_estimate_grouped(state, "bucket", b)``.
    """
    from dataops.sketch import (
        hll_merge_grouped,
        hll_state_grouped,
    )

    def transition(prev, batch_df):
        bucketed = batch_df.withColumn(
            "bucket", F.date_trunc(grain, F.col(ts_col))
        )
        batch_state = hll_state_grouped(bucketed, col, "bucket", b=b)
        if prev is None:
            return batch_state
        return hll_merge_grouped([prev, batch_state], "bucket")

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition
    )


def topk_merge_batch(
    prev: "DataFrame | None",
    batch_df: DataFrame,
    col: str,
    m: int,
    dropped_prev: int = 0,
):
    """One space-saving merge step — the pure state transition inside
    :func:`run_topk_maintenance`, factored out so the batch-replay driver
    query and the streaming maintainer share ONE code path. ``prev`` is
    the surviving ``(key, cnt)`` state (or None on the first batch);
    returns ``(kept_rows, dropped_max)`` where ``kept_rows`` is the ≤ m
    surviving ``(key, cnt)`` tuples and ``dropped_max`` the updated
    eviction floor. Driver transfer is bounded at ``m + 1`` rows.
    """
    batch_counts = (
        batch_df.select(F.col(col).cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if prev is not None:
        # space-saving admission credit: a batch key with no surviving
        # counter inherits the eviction floor on (re-)admission, so
        # counters stay OVERestimates across evict/re-admit cycles
        prev_keys = prev.select("key")
        admitted = batch_counts.join(prev_keys, "key", "left_anti").withColumn(
            "cnt", F.col("cnt") + F.lit(int(dropped_prev))
        )
        surviving = batch_counts.join(prev_keys, "key", "left_semi")
        merged = (
            prev.select("key", "cnt")
            .unionByName(surviving)
            .unionByName(admitted)
            .groupBy("key")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_counts
    # top-(m+1) via TakeOrdered: row m+1 (if any) is the eviction floor
    top = merged.orderBy(F.desc("cnt"), F.asc("key")).limit(m + 1).collect()
    kept, evicted = top[:m], top[m:]
    dropped = max([int(dropped_prev)] + [int(r["cnt"]) for r in evicted])
    return [(r["key"], int(r["cnt"])) for r in kept], dropped


def run_topk_maintenance(
    stream_df: DataFrame,
    catalog,
    col: str,
    state_table: str,
    checkpoint: str,
    m: int = 256,
):
    """Maintain a bounded heavy-hitters summary incrementally over a stream
    (the streaming tier of ``sketch.heavy_hitters``): at most ``m``
    ``(key, cnt)`` rows survive each micro-batch, Misra-Gries/space-saving
    style.

    Per batch: count the batch's keys (map-side combinable), SUM into the
    surviving counters — a key ABSENT from the previous state is credited
    with the running eviction floor ``dropped_max`` on (re-)admission,
    space-saving style, so evict/re-admit cycles cannot silently shed a
    steady key's history — keep the top ``m`` by ``(cnt desc, key asc)``
    via TakeOrdered (bounded driver transfer — never the full key space),
    and record ``dropped_max`` = the largest counter ever evicted. The
    floor credit makes counters OVERestimates, which is what makes the
    truncation honest: a kept key's TRUE count lies in
    ``[cnt - dropped_max, cnt]``, and any key whose true count exceeds
    ``dropped_max`` is guaranteed present (if it were absent, its last
    evicted counter — itself ≥ its true count, by the same induction —
    would have raised ``dropped_max`` past it). Read top-k with
    ``k << m`` and treat ``dropped_max`` as the error bar; adversarial
    evict/re-admit streams are covered by
    ``tests/test_streaming.py::test_topk_maintenance_readmission_floor``.

    Counter summing is NOT replay-idempotent → guarded
    :func:`run_state_maintenance` tier; the eviction floor rides on the
    state rows alongside the batch-id marker, same atomic overwrite.
    """

    def transition(prev, batch_df):
        dropped_prev = 0
        if prev is not None:
            d = prev.agg(F.max("dropped_max")).collect()[0][0]
            dropped_prev = int(d or 0)
        kept, dropped = topk_merge_batch(prev, batch_df, col, m, dropped_prev)
        rows = [(k, c, dropped) for k, c in kept]
        return batch_df.sparkSession.createDataFrame(
            rows or [], "key STRING, cnt BIGINT, dropped_max BIGINT"
        )

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition, guarded=True
    )


def psi_bin_counts(
    batch_df: DataFrame, value_col: str, bounds: list
) -> DataFrame:
    """Per-batch bin counts against PINNED baseline bounds — the pure
    binning step inside :func:`run_psi_maintenance`, factored out so the
    batch-replay driver query and the streaming maintainer share ONE code
    path. Bin ``i`` (1-based) holds values in ``(bounds[i-2], bounds[i-1]]``;
    NULLs are ignored, matching the batch operator. Returns ``(bin, cnt)``.
    """
    b = F.lit(1)
    for x in bounds:
        b = b + (F.col(value_col) > F.lit(float(x))).cast("int")
    return (
        batch_df.where(F.col(value_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def run_psi_maintenance(
    stream_df: DataFrame,
    catalog,
    value_col: str,
    baseline_bounds: list,
    state_table: str,
    checkpoint: str,
):
    """Maintain the CURRENT side of a PSI drift monitor incrementally over
    a stream: per micro-batch, bin the batch's values against the PINNED
    baseline quantile bounds (a bounded literal list — the same
    convention as ``stats.psi_report``) and SUM the per-bin counts into
    the persistent ``state_table``. State is ``n_bins`` counter rows, so
    every update is O(bins), never a rescan; read the drift at any time
    with :func:`psi_from_state`. NULL values are ignored, matching the
    batch operator. Counter summing is NOT replay-idempotent → guarded
    :func:`run_state_maintenance` tier.
    """
    bounds = [float(b) for b in baseline_bounds]

    def transition(prev, batch_df):
        batch_counts = psi_bin_counts(batch_df, value_col, bounds)
        if prev is None:
            return batch_counts
        return (
            prev.select("bin", "cnt").unionByName(batch_counts)
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return run_state_maintenance(
        stream_df, catalog, state_table, checkpoint, transition, guarded=True
    )


def psi_from_state(
    spark,
    catalog,
    state_table: str,
    baseline_shares: list,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI report from a maintained bin-count state vs the pinned baseline
    shares: ``(bin, p_baseline, p_current, psi_contrib)`` — the streaming
    read side of ``stats.psi_report`` (same contribution formula)."""
    n_bins = len(baseline_shares)
    state = {r["bin"]: r["cnt"] for r in catalog.read_table(state_table).collect()}
    total = sum(state.values()) or 1
    rows = []
    for i in range(1, n_bins + 1):
        p = max(float(baseline_shares[i - 1]), eps)
        q = max(state.get(i, 0) / total, eps)
        import math

        rows.append((i, round(p, 6), round(q, 6), round((q - p) * math.log(q / p), 6)))
    return spark.createDataFrame(
        rows, "bin INT, p_baseline DOUBLE, p_current DOUBLE, psi_contrib DOUBLE"
    )
