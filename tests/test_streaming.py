"""Streaming operator tests: watermarked rollup, foreachBatch sink,
session_window rollup, and the custom stateful sessionizer.

Sources are availableNow streams over a small synthetic events parquet with
a known session structure, so every assertion is exact.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dataops.streaming import events as sev


def _us(minutes: float) -> int:
    """Minutes after 2024-01-01T00:00Z as epoch nanoseconds (driver layout)."""
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return int((base + dt.timedelta(minutes=minutes)).timestamp() * 1_000_000_000)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # user 1: events at t=0,5,10 (one session), then t=60,62 (second session)
    # user 2: single event at t=30
    rows = [
        (1, _us(0), 1, "click", 1.0, "{}"),
        (2, _us(5), 1, "click", 2.0, "{}"),
        (3, _us(10), 1, "view", 3.0, "{}"),
        (4, _us(60), 1, "click", 4.0, "{}"),
        (5, _us(62), 1, "view", 5.0, "{}"),
        (6, _us(30), 2, "click", 10.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path_factory.mktemp("events_src"))
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _run_to_memory(df, name, tmp_path_factory, mode="append", timeout=240):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path_factory.mktemp(f"ck_{name}")))
        .trigger(availableNow=True)
        .start()
    )
    return q.awaitTermination(timeout)


def test_hourly_rollup_matches_batch(spark, events_dir, tmp_path_factory):
    # max event time is 01:02; a 1s watermark closes the 00:00 hour window,
    # while the 01:00 window stays open (append mode holds it back)
    roll = sev.hourly_rollup(
        sev.stream_events(spark, events_dir), watermark="1 second"
    )
    _run_to_memory(roll, "t_roll", tmp_path_factory)
    got = {
        (r["hour_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from t_roll").collect()
    }
    # batch twin over the same file, restricted to the closed hour
    batch = (
        spark.read.parquet(events_dir)
        .withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .filter(F.col("hour_epoch") == 1704067200)
    )
    want = {
        (r["hour_epoch"], r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    assert got == want and len(got) == 2


def test_session_rollup_builtin(spark, events_dir, tmp_path_factory):
    # watermark lands at 01:01:59: the t=0..10 and t=30 sessions have closed,
    # user 1's t=60,62 session has not (append mode holds it in state)
    sess = sev.session_rollup(
        sev.stream_events(spark, events_dir), gap="15 minutes", watermark="1 second"
    )
    _run_to_memory(sess, "t_sess_builtin", tmp_path_factory)
    rows = sorted(
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.sql("select * from t_sess_builtin").collect()
    )
    assert rows == [(1, 3, 6.0), (2, 1, 10.0)]


def test_sessionize_stateful(spark, events_dir, tmp_path_factory):
    sess = sev.sessionize(sev.stream_events(spark, events_dir), gap_seconds=900)
    # the availableNow query ends once its input is drained
    assert _run_to_memory(sess, "t_sess_state", tmp_path_factory)
    rows = spark.sql("select * from t_sess_state").collect()
    # only CLOSED sessions are emitted: user 1's first session closes when
    # t=60 arrives; the t=60 session and user 2's stay open in state
    assert [(r["user_id"], r["n_events"], r["total_value"]) for r in rows] == [
        (1, 3, 6.0)
    ]


def test_source_transform_reused_on_stream(spark, tmp_path_factory):
    """SURVEY §2.9 extension: the batch source transforms run unchanged
    inside foreachBatch over a streamed raw feed — declaring pipelines as
    DataFrame plans is what makes ingest readStream-compatible."""
    from bio2bel_spark.catalog import Catalog
    from bio2bel_spark.sources import tfregulons

    src = tmp_path_factory.mktemp("tf_stream")
    (src / "part1.tsv").write_text(
        "TP53\tMDM2\t1\tA\t111, 222\nTP53\tBCL2\t-1\tB\t333\n"
    )
    hgnc_map = spark.createDataFrame(
        [("TP53", "11998"), ("MDM2", "6973"), ("BCL2", "990")],
        "hgnc_symbol string, hgnc_id string",
    )
    raw_stream = (
        spark.readStream.schema(
            "tf_hgnc_symbol string, target_hgnc_symbol string, effect int, "
            "score string, pmids string"
        )
        .option("sep", "\t")
        .csv(str(src))
    )
    catalog = Catalog(spark, str(tmp_path_factory.mktemp("tf_wh")))

    def ingest(batch_df, batch_id):
        edges = tfregulons.to_edges(tfregulons.prepare(batch_df, hgnc_map))
        catalog.write_table(edges, "tfregulons_edges", mode="append")

    q = (
        raw_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path_factory.mktemp("tf_ck")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = catalog.read_table("tfregulons_edges")
    assert got.count() == 8  # same fan-out as the batch CLI test


def test_run_to_table_foreachbatch(spark, events_dir, tmp_path_factory):
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    stream = sev.stream_events(spark, events_dir)
    q = sev.run_to_table(
        stream,
        catalog,
        "stream_events_sink",
        str(tmp_path_factory.mktemp("ck_sink")),
    )
    q.awaitTermination(240)
    got = catalog.read_table("stream_events_sink")
    assert got.count() == 6
    assert dict(got.dtypes)["ts"] == "timestamp"


def test_stream_dedup_within_watermark(spark, tmp_path_factory):
    """Replayed event_ids are dropped; distinct ids all survive."""
    rows = [
        (1, _us(0), 1, "click", 1.0, "{}"),
        (1, _us(0), 1, "click", 1.0, "{}"),   # exact replay
        (1, _us(1), 1, "click", 1.0, "{}"),   # same id, later ts: still a dup
        (2, _us(2), 1, "view", 2.0, "{}"),
        (3, _us(3), 2, "click", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path_factory.mktemp("dedup_src"))
    df.coalesce(1).write.mode("overwrite").parquet(path)

    deduped = sev.stream_dedup(sev.stream_events(spark, path))
    _run_to_memory(deduped, "t_dedup", tmp_path_factory)
    got = spark.sql("SELECT event_id FROM t_dedup").collect()
    assert sorted(r.event_id for r in got) == [1, 2, 3]


def test_rollup_daily_grain(spark, tmp_path_factory):
    """The generalized window grain: day-1 bucket closes once a day-2 event
    advances the watermark past its end (append emits closed windows only)."""
    rows = [
        (1, _us(0), 1, "click", 1.0, "{}"),
        (2, _us(5), 1, "click", 2.0, "{}"),
        (3, _us(10), 1, "view", 3.0, "{}"),
        # next-day event pushes the watermark past day-1's window end
        (4, _us(25 * 60), 2, "view", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path_factory.mktemp("daily_src"))
    df.coalesce(1).write.mode("overwrite").parquet(path)

    roll = sev.hourly_rollup(
        sev.stream_events(spark, path), watermark="1 second", window="1 day"
    )
    _run_to_memory(roll, "t_roll_day", tmp_path_factory)
    got = spark.sql(
        "SELECT event_type, n_events, sum_value FROM t_roll_day ORDER BY 1"
    ).collect()
    assert [(r.event_type, r.n_events, r.sum_value) for r in got] == [
        ("click", 2, 3.0),
        ("view", 1, 3.0),
    ]


def test_run_to_table_rerun_is_idempotent(spark, events_dir, tmp_path_factory):
    """Re-starting the availableNow sink on the SAME checkpoint with no new
    source data appends nothing — the checkpoint's batch tracking gives
    exactly-once-per-batch admission."""
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_idem")))
    ck = str(tmp_path_factory.mktemp("ck_idem"))
    q1 = sev.run_to_table(
        sev.stream_events(spark, events_dir), catalog, "idem_sink", ck
    )
    q1.awaitTermination(240)
    n1 = catalog.read_table("idem_sink").count()
    q2 = sev.run_to_table(
        sev.stream_events(spark, events_dir), catalog, "idem_sink", ck
    )
    q2.awaitTermination(240)
    assert catalog.read_table("idem_sink").count() == n1 == 6


def test_kmv_sketch_maintenance_incremental(spark, tmp_path_factory):
    """Two incremental maintenance runs == the direct sketch of all data
    (mergeable state), and the estimate is exact below k."""
    from bio2bel_spark.catalog import Catalog
    from dataops.sketch import kmv_estimate, kmv_state

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_kmv")))
    src = str(tmp_path_factory.mktemp("kmv_src"))

    def batch(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    batch([(i, _us(i), i % 5, "click", 1.0, "{}") for i in range(20)])
    ck = str(tmp_path_factory.mktemp("ck_kmv"))
    q = sev.run_sketch_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "kmv_state", ck, k=64
    )
    q.awaitTermination(240)

    batch([(100 + i, _us(100 + i), 3 + i, "view", 1.0, "{}") for i in range(10)])
    q2 = sev.run_sketch_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "kmv_state", ck, k=64
    )
    q2.awaitTermination(240)

    state = catalog.read_table("kmv_state")
    # distinct user_ids: {0..4} ∪ {3..12} = 13
    est = kmv_estimate(state, k=64).collect()[0]
    assert (est.n_hashes, est.estimate) == (13, 13.0)
    # state == single-pass state over the concatenated source
    direct = kmv_state(
        spark.read.parquet(src).select("user_id"), "user_id", k=64
    )
    assert sorted(r.h for r in state.collect()) == sorted(
        r.h for r in direct.collect()
    )


def test_cms_maintenance_incremental_and_replay_guarded(spark, tmp_path_factory):
    """Two incremental CMS runs == direct sketch of all data; the batch-id
    guard makes counter-summing safe against foreachBatch replays."""
    from bio2bel_spark.catalog import Catalog
    from dataops.sketch import cms_state

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_cms")))
    src = str(tmp_path_factory.mktemp("cms_src"))

    def batch(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    batch([(i, _us(i), i % 5, "click", 1.0, "{}") for i in range(20)])
    ck = str(tmp_path_factory.mktemp("ck_cms"))
    q = sev.run_cms_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "cms_state", ck,
        width=64, depth=2,
    )
    q.awaitTermination(240)

    batch([(100 + i, _us(100 + i), 3 + i, "view", 1.0, "{}") for i in range(10)])
    q2 = sev.run_cms_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "cms_state", ck,
        width=64, depth=2,
    )
    q2.awaitTermination(240)

    rows = catalog.read_table("cms_state").collect()
    state = {(r.d, r.w): r.cnt for r in rows}
    direct = cms_state(
        spark.read.parquet(src).select("user_id"), "user_id",
        width=64, depth=2,
    )
    assert state == {(r.d, r.w): r.cnt for r in direct.collect()}
    # the replay marker rides on the state rows — one atomic overwrite
    assert len({r.last_batch_id for r in rows}) == 1


def test_bloom_maintenance_incremental(spark, tmp_path_factory):
    """Incremental bloom state == direct state; accumulated filter has no
    false negatives over everything streamed so far."""
    from bio2bel_spark.catalog import Catalog
    from dataops.sketch import bloom_probe, bloom_state
    from pyspark.sql import functions as F

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_bloom")))
    src = str(tmp_path_factory.mktemp("bloom_src"))

    def batch(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    batch([(i, _us(i), i, "click", 1.0, "{}") for i in range(10)])
    ck = str(tmp_path_factory.mktemp("ck_bloom"))
    q = sev.run_bloom_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "bloom_state", ck,
        m=1 << 12, k=3,
    )
    q.awaitTermination(240)

    batch([(100 + i, _us(100 + i), 10 + i, "view", 1.0, "{}") for i in range(10)])
    q2 = sev.run_bloom_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "bloom_state", ck,
        m=1 << 12, k=3,
    )
    q2.awaitTermination(240)

    state = catalog.read_table("bloom_state")
    direct = bloom_state(
        spark.read.parquet(src).select("user_id"), "user_id", m=1 << 12, k=3
    )
    assert sorted(r.pos for r in state.collect()) == sorted(
        r.pos for r in direct.collect()
    )
    seen = spark.createDataFrame([(i,) for i in range(20)], "user_id long")
    probed = bloom_probe(state, seen, "user_id", m=1 << 12, k=3)
    assert probed.filter(~F.col("maybe_member")).count() == 0


def test_stream_events_reads_driver_layout(spark, sf_dir, tmp_path_factory):
    """The streaming source must accept whatever physical ts layout the
    driver's data drop uses (NTZ micros today) and agree with the batch
    loader's rollup on closed windows."""
    import os

    from bio2bel_spark.tables import load_table

    # the driver ships events as a single parquet FILE; the file stream
    # source requires a directory, so stage a symlink (zero copy)
    src = str(tmp_path_factory.mktemp("driver_events"))
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(src, "events.parquet"),
    )
    stream = sev.stream_events(spark, src)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    roll = sev.hourly_rollup(stream, watermark="1 second")
    _run_to_memory(roll, "t_driver_roll", tmp_path_factory)
    got = {
        (r["hour_epoch"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from t_driver_roll").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    last_hour = ev.select(
        F.date_trunc("hour", F.max("ts").cast("timestamp"))
    ).first()[0]
    batch = (
        ev.withColumn("h", F.date_trunc("hour", F.col("ts").cast("timestamp")))
        .filter(F.col("h") < F.lit(last_hour))
        .groupBy("h", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .collect()
    )
    assert len(batch) > 0
    for r in batch:
        key = (int(r["h"].timestamp()), r["event_type"])
        assert got[key] == (r["n"], r["s"]), key


def test_enrich_stream_broadcast_join(spark, events_dir, tmp_path_factory):
    dims = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    out = sev.enrich_stream(
        sev.stream_events(spark, events_dir), dims, on="user_id"
    ).select("event_id", "user_id", "tier")
    _run_to_memory(out, "t_enriched", tmp_path_factory)
    rows = {r["event_id"]: r["tier"] for r in spark.sql("select * from t_enriched").collect()}
    assert rows == {1: "gold", 2: "gold", 3: "gold", 4: "gold", 5: "gold", 6: "silver"}


def test_attribution_join_time_bounded(spark, tmp_path_factory):
    """Stream-stream join: purchases attribute to clicks by the same user
    within the window; a purchase outside the window and a different-user
    purchase must NOT match."""
    rows = [
        # user 1: click at t=0, purchases at t=10 (in) and t=90 (out of 1h)
        (1, _us(0), 1, "click", 0.0, "{}"),
        (2, _us(10), 1, "purchase", 9.99, "{}"),
        (3, _us(90), 1, "purchase", 5.00, "{}"),
        # user 2: purchase with no prior click
        (4, _us(20), 2, "purchase", 1.00, "{}"),
        # user 3: click after its purchase — must not match backwards
        (5, _us(40), 3, "purchase", 2.00, "{}"),
        (6, _us(50), 3, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    src = str(tmp_path_factory.mktemp("attr_src"))
    df.coalesce(1).write.mode("overwrite").parquet(src)

    ev_c = sev.stream_events(spark, src).filter(F.col("event_type") == "click")
    ev_p = sev.stream_events(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    out = sev.attribution_join(ev_c, ev_p, within="1 hour")
    _run_to_memory(out, "t_attr", tmp_path_factory)
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"]): r["value"]
        for r in spark.sql("select * from t_attr").collect()
    }
    assert got == {(1, 1, 2): 9.99}


def test_hll_maintenance_matches_direct_state(spark, tmp_path_factory):
    """Two incremental batches must produce exactly the register table a
    single direct pass over everything builds (max-merge is lossless)."""
    from bio2bel_spark.catalog import Catalog
    from dataops.sketch import hll_estimate, hll_state

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_hll")))
    src = str(tmp_path_factory.mktemp("hll_src"))

    def batch(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    batch([(i, _us(i), i % 40, "click", 1.0, "{}") for i in range(60)])
    ck = str(tmp_path_factory.mktemp("ck_hll"))
    q = sev.run_hll_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "hll_state", ck
    )
    q.awaitTermination(240)

    batch([(100 + i, _us(100 + i), 30 + i, "view", 1.0, "{}") for i in range(30)])
    q2 = sev.run_hll_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "hll_state", ck
    )
    q2.awaitTermination(240)

    state = catalog.read_table("hll_state")
    direct = hll_state(spark.read.parquet(src).select("user_id"), "user_id")
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, direct.collect())
    )
    est = hll_estimate(state).collect()[0]
    # 60 distinct user_ids (0..39 and 30..59); m=512 linear counting is tight
    assert abs(est["estimate"] - 60) / 60 < 0.15


def test_quantile_maintenance_matches_direct_state(spark, tmp_path_factory):
    """Two incremental batches must produce exactly the sample a single
    direct pass over everything builds (bottom-k merge is lossless)."""
    from bio2bel_spark.catalog import Catalog
    from dataops.sketch import (
        quantile_estimate,
        quantile_sample_state,
    )

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_qs")))
    src = str(tmp_path_factory.mktemp("qs_src"))

    def batch(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    batch([(i, _us(i), i % 40, "click", float(i % 97), "{}") for i in range(80)])
    ck = str(tmp_path_factory.mktemp("ck_qs"))
    q = sev.run_quantile_maintenance(
        sev.stream_events(spark, src), catalog, "value", "event_id",
        "q_state", ck, k=32,
    )
    q.awaitTermination(240)

    batch([(200 + i, _us(200 + i), i, "view", float(i), "{}") for i in range(40)])
    q2 = sev.run_quantile_maintenance(
        sev.stream_events(spark, src), catalog, "value", "event_id",
        "q_state", ck, k=32,
    )
    q2.awaitTermination(240)

    state = catalog.read_table("q_state")
    direct = quantile_sample_state(
        spark.read.parquet(src).select("event_id", "value"), "value",
        "event_id", k=32,
    )
    assert sorted(map(tuple, state.collect())) == sorted(
        map(tuple, direct.collect())
    )
    est = {r["p"]: r["q"] for r in quantile_estimate(state, probs=(0.5,)).collect()}
    assert 0.0 <= est[0.5] <= 97.0


def test_cdc_apply_stream_maintains_snapshot(spark, tmp_path_factory):
    """Two CDC micro-batches must leave exactly the snapshot a direct
    batch merge of all changes produces."""
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_cdc")))
    src = str(tmp_path_factory.mktemp("cdc_src"))

    def batch(rows):
        spark.createDataFrame(
            rows, "k long, attr string, seq long, op string"
        ).coalesce(1).write.mode("append").parquet(src)

    def stream():
        return (
            spark.readStream.schema("k long, attr string, seq long, op string")
            .parquet(src)
        )

    ck = str(tmp_path_factory.mktemp("ck_cdc"))
    batch([(1, "a", 1, "I"), (2, "b", 1, "I"), (3, "c", 1, "I")])
    q = sev.run_cdc_apply(stream(), catalog, "snap", ["k"], ck)
    q.awaitTermination(240)

    batch([(1, "a2", 2, "U"), (2, None, 2, "D"), (4, "d", 2, "I")])
    q2 = sev.run_cdc_apply(stream(), catalog, "snap", ["k"], ck)
    q2.awaitTermination(240)

    got = {r["k"]: r["attr"] for r in catalog.read_table("snap").collect()}
    assert got == {1: "a2", 3: "c", 4: "d"}


def test_windowed_hll_maintenance(spark, tmp_path_factory):
    """Per-hour distinct sketches across two batches (one late event) must
    equal the direct grouped build over everything."""
    from pyspark.sql import functions as F

    from bio2bel_spark.catalog import Catalog
    from dataops.sketch import (
        hll_estimate_grouped,
        hll_state_grouped,
    )

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_whll")))
    src = str(tmp_path_factory.mktemp("whll_src"))

    def batch(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    batch([(i, _us((i % 2) * 60 + i * 0.001), i % 25, "c", 1.0, "{}")
           for i in range(50)])
    ck = str(tmp_path_factory.mktemp("ck_whll"))
    q = sev.run_windowed_hll_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "whll", ck
    )
    q.awaitTermination(240)

    # second batch includes a LATE event for hour 0
    batch([(100, _us(0.1), 99, "c", 1.0, "{}"),
           (101, _us(60.2), 98, "c", 1.0, "{}")])
    q2 = sev.run_windowed_hll_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "whll", ck
    )
    q2.awaitTermination(240)

    state = catalog.read_table("whll")
    # direct build: same nanos->timestamp normalization stream_events does
    direct = hll_state_grouped(
        spark.read.parquet(src)
        .withColumn(
            "bucket",
            F.date_trunc(
                "hour", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            ),
        ),
        "user_id",
        "bucket",
    )
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, direct.collect()))
    est = {r["bucket"]: r["estimate"] for r in hll_estimate_grouped(state, "bucket").collect()}
    assert len(est) == 2 and all(v > 0 for v in est.values())


def test_topk_maintenance_incremental_and_bounded(spark, tmp_path_factory):
    """Two incremental top-k runs over a skewed stream: state stays <= m
    rows, the heavy keys' counts are exact while nothing was evicted, and
    replaying an applied batch is a no-op."""
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_topk")))
    src = str(tmp_path_factory.mktemp("topk_src"))

    def batch(rows):
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        )
        df.coalesce(1).write.mode("append").parquet(src)

    # skew: user 1 dominates, users 2-4 moderate, long tail of singletons
    rows1 = [(i, _us(i), 1, "click", 1.0, "{}") for i in range(30)]
    rows1 += [(100 + i, _us(100 + i), 2 + i % 3, "view", 1.0, "{}") for i in range(15)]
    rows1 += [(200 + i, _us(200 + i), 50 + i, "view", 1.0, "{}") for i in range(10)]
    batch(rows1)
    ck = str(tmp_path_factory.mktemp("ck_topk"))
    q = sev.run_topk_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "topk_state", ck, m=8
    )
    q.awaitTermination(240)

    batch([(300 + i, _us(300 + i), 1, "click", 1.0, "{}") for i in range(5)])
    q2 = sev.run_topk_maintenance(
        sev.stream_events(spark, src), catalog, "user_id", "topk_state", ck, m=8
    )
    q2.awaitTermination(240)

    state = catalog.read_table("topk_state").collect()
    assert len(state) <= 8
    counts = {r.key: r.cnt for r in state}
    # heavy keys exact across both increments
    assert counts["1"] == 35
    assert counts["2"] == 5 and counts["3"] == 5 and counts["4"] == 5
    # eviction floor recorded (tail singletons were dropped)
    dropped = {r.dropped_max for r in state}
    assert dropped == {1}
    # guarantee: every key with true count > dropped_max is present
    assert {"1", "2", "3", "4"} <= set(counts)
    assert len({r.last_batch_id for r in state}) == 1


def test_topk_maintenance_readmission_floor(spark, tmp_path_factory):
    """Adversarial evict/re-admit stream: a steady key that is evicted
    every batch must keep raising the eviction floor (space-saving
    admission credit), so its absence stays honest — true count never
    exceeds dropped_max. Without the credit, dropped_max would freeze at
    the first batch's count while the key's true count grows unbounded."""
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_topk_floor")))
    src = str(tmp_path_factory.mktemp("topk_floor_src"))
    ck = str(tmp_path_factory.mktemp("ck_topk_floor"))

    def batch(offset):
        rows = [(offset + i, _us(offset + i), 1, "click", 1.0, "{}") for i in range(10)]
        rows += [(offset + 10 + i, _us(offset + 10 + i), 2, "click", 1.0, "{}") for i in range(10)]
        rows += [(offset + 20 + i, _us(offset + 20 + i), 7, "click", 1.0, "{}") for i in range(3)]
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(src)

    for n in range(3):
        batch(1000 * n)
        q = sev.run_topk_maintenance(
            sev.stream_events(spark, src), catalog, "user_id", "topk_state", ck, m=2
        )
        q.awaitTermination(240)

    state = {r.key: r for r in catalog.read_table("topk_state").collect()}
    # heavy keys present and exact (never evicted)
    assert state["1"].cnt == 30 and state["2"].cnt == 30
    # the steady key (true count 9) was evicted every batch; the floor must
    # have tracked its accumulated credit: 3 -> 3+3=6 -> 6+3=9
    dropped_max = max(r.dropped_max for r in state.values())
    assert dropped_max == 9
    # absence guarantee holds: the absent key's true count (9) <= dropped_max
    assert "7" not in state and 9 <= dropped_max
    # overestimate bound for kept keys: cnt - dropped_max <= true <= cnt
    assert state["1"].cnt - dropped_max <= 30 <= state["1"].cnt


def test_psi_maintenance_matches_batch_report(spark, tmp_path_factory):
    """Streaming-maintained bin counts must reproduce stats.psi_report's
    current-side shares for the same data; drift visible after a shifted
    second batch."""
    from bio2bel_spark.catalog import Catalog

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_psi")))
    src = str(tmp_path_factory.mktemp("psi_src"))

    def batch(rows):
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("append").parquet(src)

    # baseline: uniform 0..99 -> quartile bounds and equal shares
    bounds = [24.5, 49.5, 74.5]
    shares = [0.25, 0.25, 0.25, 0.25]

    batch([(i, _us(i), i, "e", float(i % 100), "{}") for i in range(100)])
    ck = str(tmp_path_factory.mktemp("ck_psi"))
    q = sev.run_psi_maintenance(
        sev.stream_events(spark, src), catalog, "value", bounds, "psi_state", ck
    )
    q.awaitTermination(240)
    rep = {
        r.bin: r for r in sev.psi_from_state(
            spark, catalog, "psi_state", shares
        ).collect()
    }
    assert all(abs(rep[b].p_current - 0.25) < 1e-6 for b in (1, 2, 3, 4))
    assert sum(abs(rep[b].psi_contrib) for b in rep) < 1e-6  # no drift yet

    # second batch: all mass into the top bucket -> drift
    batch([(1000 + i, _us(1000 + i), i, "e", 90.0, "{}") for i in range(300)])
    q2 = sev.run_psi_maintenance(
        sev.stream_events(spark, src), catalog, "value", bounds, "psi_state", ck
    )
    q2.awaitTermination(240)
    rep2 = sev.psi_from_state(spark, catalog, "psi_state", shares).collect()
    psi = sum(r.psi_contrib for r in rep2)
    assert psi > 0.25  # action threshold crossed
    state = catalog.read_table("psi_state").collect()
    assert len({r.last_batch_id for r in state}) == 1


def test_dsir_maintenance_incremental_matches_onepass(spark, tmp_path_factory):
    """Two incremental DSIR counter runs == one-pass fit over everything:
    weights scored from the maintained state equal dsir_log_weights over
    the full corpus (counter summing is batch-order-invariant), and the
    guarded batch-id marker rides on the state rows."""
    from pyspark.sql import functions as F

    from bio2bel_spark.catalog import Catalog
    from dataops.textquality import (
        dsir_log_weights,
        dsir_weights_from_state,
    )

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_dsir")))
    src = str(tmp_path_factory.mktemp("dsir_src"))
    schema = "doc_id long, text string, lang string"

    def batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    batch([(1, "alpha beta gamma alpha", "en"),
           (2, "omega psi chi", "de")])
    ck = str(tmp_path_factory.mktemp("ck_dsir"))
    q = sev.run_dsir_maintenance(
        spark.readStream.schema(schema).parquet(src), catalog,
        "dsir_state", ck, buckets=64,
    )
    q.awaitTermination(240)

    batch([(3, "alpha beta delta", "en"),
           (4, "psi chi omega omega", "fr"),
           (5, "   ", "en")])
    q2 = sev.run_dsir_maintenance(
        spark.readStream.schema(schema).parquet(src), catalog,
        "dsir_state", ck, buckets=64,
    )
    q2.awaitTermination(240)

    all_docs = spark.read.parquet(src)
    state = catalog.read_table("dsir_state")
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_weights_from_state(
            all_docs, state, buckets=64
        ).collect()
    }
    want = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_log_weights(
            all_docs, all_docs.where(F.col("lang") == "en"), buckets=64
        ).collect()
    }
    assert got == want and len(got) == 5
    assert got[5] == (0, None)  # empty doc stays explicit
    # the replay marker rides on the state rows — one atomic overwrite
    assert len({r["last_batch_id"] for r in state.collect()}) == 1


def test_perplexity_maintenance_incremental_matches_onepass(
    spark, tmp_path_factory
):
    """Two incremental histogram runs == one-pass CCNet bucketing against
    the same frozen reference LM: thresholds and bucket assignments from
    the maintained state equal ccnet_perplexity_buckets over everything
    (counter summing is batch-order-invariant)."""
    from bio2bel_spark.catalog import Catalog
    from dataops.textquality import (
        ccnet_perplexity_buckets,
        perplexity_buckets_from_state,
        perplexity_thresholds_from_state,
    )

    catalog = Catalog(spark, str(tmp_path_factory.mktemp("wh_ppl")))
    src = str(tmp_path_factory.mktemp("ppl_src"))
    schema = "doc_id long, text string, lang string"
    ref_rows = [
        (100 + i, f"the quick brown fox {w} jumps over the lazy dog", "en")
        for i, w in enumerate(["again", "once", "twice", "thrice"])
    ] + [(200, "der schnelle braune fuchs springt", "de")]
    reference = spark.createDataFrame(ref_rows, schema)

    def batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    batch([
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "zzz qqq xxx glorp", "en"),
        (3, "der schnelle braune fuchs", "de"),
    ])
    ck = str(tmp_path_factory.mktemp("ck_ppl"))
    q = sev.run_perplexity_maintenance(
        spark.readStream.schema(schema).parquet(src), catalog, reference,
        "ppl_state", ck,
    )
    q.awaitTermination(240)

    batch([
        (4, "the lazy dog jumps over the quick fox", "en"),
        (5, "fox dog lazy the the the", "en"),
        (6, "short", "en"),  # < 2 tokens -> unscored, never in state
        (7, "springt der fuchs braune schnelle", None),  # NULL-lang group
    ])
    q2 = sev.run_perplexity_maintenance(
        spark.readStream.schema(schema).parquet(src), catalog, reference,
        "ppl_state", ck,
    )
    q2.awaitTermination(240)

    all_docs = spark.read.parquet(src)
    state = catalog.read_table("ppl_state")
    got = {
        r["doc_id"]: (r["lang"], r["perplexity"], r["bucket"])
        for r in perplexity_buckets_from_state(
            all_docs, state, reference=reference
        ).collect()
    }
    want = {
        r["doc_id"]: (r["lang"], r["perplexity"], r["bucket"])
        for r in ccnet_perplexity_buckets(
            all_docs, reference=reference
        ).collect()
    }
    assert got == want and len(got) == 7
    assert got[6][2] == "unscored"
    # thresholds derive per language, including the NULL-lang group
    thr = {
        r["lang"]: (r["t1"], r["t2"])
        for r in perplexity_thresholds_from_state(state).collect()
    }
    assert set(thr) == {"en", "de", None}
    assert all(t1 <= t2 for t1, t2 in thr.values())
    assert len({r["last_batch_id"] for r in state.collect()}) == 1
