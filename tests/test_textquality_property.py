"""Property-based checks for the data-selection operators: random corpora
vs exact pure-Python models (DSIR weights vs a dict-based replay, CCNet
bucket cut ranks vs a sorted-list replay)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

WORD = st.text(alphabet="abcde", min_size=1, max_size=3)
DOC = st.lists(WORD, min_size=0, max_size=8).map(" ".join)
CORPUS = st.lists(DOC, min_size=2, max_size=12)


def _grams(text: str) -> list[str]:
    toks = [t for t in text.lower().strip().split() if t]
    return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]


def _bucket(g: str, buckets: int) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % buckets


def _py_dsir(docs, target_rows, buckets=32, alpha=1.0):
    """Exact python replay of dsir_log_weights."""
    raw = Counter(_bucket(g, buckets) for t in docs for g in _grams(t))
    tgt = Counter(
        _bucket(g, buckets) for t in target_rows for g in _grams(t)
    )
    d_r = sum(raw.values()) + alpha * buckets
    d_t = sum(tgt.values()) + alpha * buckets
    out = {}
    for i, t in enumerate(docs):
        gs = _grams(t)
        if not gs:
            out[i] = (0, None)
            continue
        lw = sum(
            math.log((tgt.get(_bucket(g, buckets), 0) + alpha) / d_t)
            - math.log((raw.get(_bucket(g, buckets), 0) + alpha) / d_r)
            for g in gs
        )
        out[i] = (len(gs), round(lw, 6))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=CORPUS, split=st.integers(1, 6))
def test_dsir_weights_match_python_model(spark, docs, split):
    from pyspark.sql import functions as F

    from dataops.textquality import dsir_log_weights

    split = min(split, len(docs) - 1)
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["log_weight"])
        for r in dsir_log_weights(
            df, df.where(F.col("doc_id") < split), buckets=32
        ).collect()
    }
    want = _py_dsir(docs, docs[:split], buckets=32)
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], (i, got[i], want[i])
        if want[i][1] is None:
            assert got[i][1] is None
        else:
            assert got[i][1] is not None
            assert abs(got[i][1] - want[i][1]) < 1e-5, (i, got[i], want[i])


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    millis=st.lists(st.integers(1000, 1040), min_size=1, max_size=25),
    qs=st.tuples(st.floats(0.1, 0.5), st.floats(0.5, 0.9)),
)
def test_ccnet_cut_ranks_match_sorted_replay(spark, millis, qs):
    """The discrete order-stat threshold (min value whose cumulative count
    reaches ceil(q*n)) must equal the sorted-list element at that rank —
    for any tie structure."""
    from pyspark.sql import functions as F, Window

    lo, hi = sorted(qs)
    df = spark.createDataFrame([(int(m),) for m in millis], "m long")
    hist = df.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = Window.orderBy("m").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "m",
        F.sum("c").over(w_cum).alias("cum"),
        F.lit(len(millis)).cast("long").alias("n"),
    )
    row = cum.agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(lo) * F.col("n")), F.col("m"))
        ).alias("t1"),
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(hi) * F.col("n")), F.col("m"))
        ).alias("t2"),
    ).collect()[0]
    s = sorted(millis)
    assert row["t1"] == s[math.ceil(lo * len(s)) - 1]
    assert row["t2"] == s[math.ceil(hi * len(s)) - 1]
