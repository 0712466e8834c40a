"""Tests for the sequence-packing operators."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "source STRING, doc_id BIGINT, toks BIGINT")


def test_pack_concat_chunks_boundaries(spark):
    from dataops.packing import pack_concat_chunks

    docs = _docs(
        spark,
        [
            ("s", 1, 600),
            ("s", 2, 500),   # cum_before=600  -> pack 0
            ("s", 3, 100),   # cum_before=1100 -> pack 1
            ("s", 4, 2500),  # oversized doc: still exactly one pack
            ("s", 5, 10),    # cum_before=3700 -> pack 3
        ],
    )
    out = {r.doc_id: r.pack_id for r in
           pack_concat_chunks(docs, "toks", budget=1000, by="source").collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 3}


def test_pack_concat_chunks_groups_independent(spark):
    from dataops.packing import pack_concat_chunks

    docs = _docs(spark, [("a", 1, 900), ("b", 2, 900), ("a", 3, 900)])
    out = {(r.source, r.doc_id): r.pack_id for r in
           pack_concat_chunks(docs, "toks", budget=1000, by="source").collect()}
    # each source starts its own pack 0
    assert out == {("a", 1): 0, ("a", 3): 0, ("b", 2): 0}


def test_pack_first_fit_respects_budget(spark):
    from dataops.packing import pack_first_fit

    docs = _docs(
        spark,
        [("s", i, t) for i, t in enumerate([700, 600, 400, 300, 300, 200])],
    )
    out = pack_first_fit(docs, "toks", budget=1000, by="source")
    per_pack = (
        out.groupBy("pack_id").agg(F.sum("toks").alias("t")).collect()
    )
    assert all(r.t <= 1000 for r in per_pack)
    # FFD packs [700+300, 600+400, 300+200] -> 3 packs (optimal)
    assert len(per_pack) == 3


def test_pack_first_fit_oversized_singleton(spark):
    from dataops.packing import pack_first_fit

    docs = _docs(spark, [("s", 1, 5000), ("s", 2, 100)])
    out = {r.doc_id: r.pack_id for r in
           pack_first_fit(docs, "toks", budget=1000, by="source").collect()}
    assert out[1] != out[2]  # the giant doc doesn't absorb the small one


def test_pack_first_fit_deterministic(spark):
    from dataops.packing import pack_first_fit

    docs = _docs(
        spark, [("s", i, (i * 37) % 500 + 50) for i in range(40)]
    ).repartition(7)
    a = sorted(
        (r.doc_id, r.pack_id)
        for r in pack_first_fit(docs, "toks", budget=1000).collect()
    )
    b = sorted(
        (r.doc_id, r.pack_id)
        for r in pack_first_fit(docs.repartition(3), "toks", budget=1000).collect()
    )
    assert a == b


def test_first_fit_never_looser_than_chunks(spark):
    from dataops.packing import (
        pack_concat_chunks,
        pack_first_fit,
    )

    docs = _docs(
        spark, [("s", i, (i * 53) % 700 + 20) for i in range(60)]
    )
    n_chunk = (
        pack_concat_chunks(docs, "toks", budget=1000)
        .select("pack_id").distinct().count()
    )
    n_ffd = (
        pack_first_fit(docs, "toks", budget=1000)
        .select("pack_id").distinct().count()
    )
    assert n_ffd <= n_chunk


def test_chunk_spans_covers_exactly(spark):
    from dataops.packing import chunk_spans

    docs = spark.createDataFrame(
        [(1, 350), (2, 150), (3, 1), (4, 0)], "doc_id BIGINT, toks BIGINT"
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_tokens)
        for r in chunk_spans(docs, "toks", budget=150).collect()
    )
    assert rows == [
        (1, 0, 0, 150), (1, 1, 150, 150), (1, 2, 300, 50),  # remainder chunk
        (2, 0, 0, 150),                                      # exact fit: 1 chunk
        (3, 0, 0, 1),
        (4, 0, 0, 0),                                        # empty doc kept
    ]
    # spans tile each document exactly: sum of chunk_tokens == tokens
    from pyspark.sql import functions as F2

    recon = (
        chunk_spans(docs, "toks", budget=150)
        .groupBy("doc_id")
        .agg(F2.sum("chunk_tokens").alias("t"))
        .collect()
    )
    toks = {1: 350, 2: 150, 3: 1, 4: 0}
    assert all(toks[r.doc_id] == r.t for r in recon)


def test_sliding_window_spans_coverage_and_overlap(spark):
    from dataops.packing import sliding_window_spans

    docs = spark.createDataFrame(
        [(1, 10), (2, 4), (3, 0), (4, 11)], "doc_id long, n long"
    )
    out = sliding_window_spans(docs, "n", window=4, stride=3)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["window_idx"], r["window_start"], r["window_tokens"])
        )
    # T=10, W=4, S=3 -> starts 0,3,6; tail truncated at the doc end
    assert spans[1] == [(0, 0, 4), (1, 3, 4), (2, 6, 4)]
    # T <= W -> one window of all tokens
    assert spans[2] == [(0, 0, 4)]
    # empty doc -> one empty span, not zero rows
    assert spans[3] == [(0, 0, 0)]
    # T=11 -> last start 9 covers the 2-token tail; every token covered
    assert spans[4][-1] == (3, 9, 2)
    for doc_id, (_, n) in [(1, (0, 10)), (4, (0, 11))]:
        covered = set()
        for _, start, tokens in spans[doc_id]:
            covered.update(range(start, start + tokens))
        assert covered == set(range(n))


def test_sliding_window_spans_rejects_bad_params(spark):
    from dataops.packing import sliding_window_spans

    docs = spark.createDataFrame([(1, 5)], "doc_id long, n long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sliding_window_spans(docs, "n", window=0, stride=3)
    with _pytest.raises(ValueError):
        sliding_window_spans(docs, "n", window=4, stride=0)


def test_select_token_budget_exact_cut(spark):
    """The distributed prefix-sum must reproduce the single-window truth:
    highest-quality docs kept in order, the budget-crossing doc excluded,
    cum_tokens globally correct, nulls dropped."""
    import pytest

    from dataops.packing import select_token_budget

    rows = [(i, float(100 - i), 10 + i % 3) for i in range(40)]
    rows += [(100, None, 5), (101, 50.0, None)]  # un-orderable: excluded
    df = spark.createDataFrame(rows, "doc_id long, q double, toks long")

    got = select_token_budget(df, "q", "toks", budget=100, n_partitions=4)
    out = sorted((r.doc_id, r.cum_tokens) for r in got.collect())
    # truth: docs in q-desc order are doc_id 0,1,2,... with toks 10,11,12,10,...
    truth, cum = [], 0
    for i in range(40):
        t = 10 + i % 3
        if cum + t > 100:
            break
        cum += t
        truth.append((i, cum))
    assert out == sorted(truth)
    assert (100, None) not in [(r[0], None) for r in out]  # nulls gone

    # budget below the first doc selects nothing; degenerate budget guard
    assert select_token_budget(df, "q", "toks", budget=5).count() == 0
    with pytest.raises(ValueError, match="budget"):
        select_token_budget(df, "q", "toks", budget=-1)


def test_select_token_budget_matches_partition_counts(spark):
    """Partition count must not change the selection (the offsets stitch
    partitions into one global order)."""
    from dataops.packing import select_token_budget

    rows = [(i, float(i % 7), 3 + i % 5) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, q double, toks long")
    a = sorted(
        (r.doc_id, r.cum_tokens)
        for r in select_token_budget(df, "q", "toks", 300, n_partitions=1).collect()
    )
    b = sorted(
        (r.doc_id, r.cum_tokens)
        for r in select_token_budget(df, "q", "toks", 300, n_partitions=7).collect()
    )
    assert a == b and len(a) > 0
