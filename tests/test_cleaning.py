"""Tests for corpus cleaning: line dedup, repetition metrics, PII redaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataops import cleaning


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "subscribe now\nunique first body\nfooter text"),
        (1, "subscribe now\nanother different body\nfooter text"),
        (2, "subscribe now\nthird distinct content here"),
        (3, "only original material\nnothing repeated at all"),
        (4, "subscribe now\nfooter text"),  # becomes empty after cleanup
        (5, ""),  # empty doc survives as empty
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_frequencies_counts_distinct_docs(docs):
    freq = {r.line_key: r.n_docs for r in cleaning.line_frequencies(docs).collect()}
    assert freq["subscribe now"] == 4
    assert freq["footer text"] == 3
    assert freq["unique first body"] == 1
    assert "" not in freq


def test_drop_boilerplate_lines(docs):
    out = {r.doc_id: r for r in cleaning.drop_boilerplate_lines(docs, min_docs=2).collect()}
    assert len(out) == 6  # row count stable through the stage
    assert out[0].text == "unique first body"
    assert (out[0].n_kept, out[0].n_dropped) == (1, 2)
    assert out[1].text == "another different body"
    assert out[2].text == "third distinct content here"
    assert out[3].text == "only original material\nnothing repeated at all"
    assert (out[3].n_kept, out[3].n_dropped) == (2, 0)
    assert out[4].text == "" and out[4].n_kept == 0 and out[4].n_dropped == 2
    # empty doc: split("") -> [""], the blank line is never boilerplate
    assert out[5].text == "" and out[5].n_dropped == 0


def test_drop_boilerplate_preserves_within_doc_repeats(spark):
    """A line repeated only WITHIN one doc is not cross-doc boilerplate."""
    docs = spark.createDataFrame(
        [(0, "la la\nla la\nbody"), (1, "other content")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.text for r in
           cleaning.drop_boilerplate_lines(docs, min_docs=2).collect()}
    assert out[0] == "la la\nla la\nbody"


def test_repetition_features(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c d"),              # all unique
            (1, "x x x x"),              # 1 distinct word of 4
            (2, "one two\none two\nend"),  # dup line + dup 2-gram
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.repetition_features(docs).collect()}
    assert out[0].dup_word_frac == 0.0 and out[0].dup_line_frac == 0.0
    assert out[1].dup_word_frac == 0.75
    assert out[2].dup_line_frac == pytest.approx(1 / 3, abs=1e-6)
    # words: one two one two end -> grams: "one two","two one","one two","two end"
    assert out[2].dup_2gram_frac == 0.25
    assert out[3].dup_word_frac == 0.0


def test_top_word_fraction(spark):
    docs = spark.createDataFrame(
        [(0, "spam spam spam eggs"), (1, "tie tie breaker breaker")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.top_word_fraction(docs).collect()}
    assert out[0].top_word == "spam" and out[0].top_word_frac == 0.75
    # count tie -> lexicographically largest word
    assert out[1].top_word == "tie" and out[1].top_word_frac == 0.5


def test_redact_pii_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (0, "mail me at alice@example.com or bob.smith+x@sub.dom.org"),
            (1, "server at 10.0.0.1 and 192.168.1.255 up"),
            (2, "call +1 555 867 5309 today"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in cleaning.pii_counts(docs).collect()}
    assert out[0].n_email == 2
    assert out[0].redacted == "mail me at <EMAIL> or <EMAIL>"
    assert out[1].n_ipv4 == 2
    assert "<IPV4>" in out[1].redacted and "10.0.0.1" not in out[1].redacted
    assert out[2].n_phone == 1 and "<PHONE>" in out[2].redacted
    assert out[3].redacted == "nothing sensitive here"
    assert out[3].n_email == out[3].n_ipv4 == out[3].n_phone == 0


def test_compression_ratio_matches_zlib(spark):
    import zlib

    from dataops.cleaning import compression_ratio

    rows = [
        (1, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),   # repetitive
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in compression_ratio(df).collect()}
    for doc_id, text in rows:
        b = text.encode()
        assert got[doc_id]["n_bytes"] == len(b)
        assert got[doc_id]["n_compressed"] == len(zlib.compress(b, 6))
    assert got[3]["ratio"] is None                      # empty text
    assert got[1]["ratio"] < got[2]["ratio"]            # junk compresses more


def test_quality_gate_reasons_and_keep(spark):
    from dataops.cleaning import quality_gate

    good = " ".join(
        "the word%d and next%d of item%d" % (i, i, i) for i in range(10)
    )
    docs = spark.createDataFrame(
        [
            (1, good),                              # passes everything
            (2, "tiny doc"),                        # too short
            (3, ("spam spam " * 40).strip()),       # repeats + no stopwords
            (4, "!!! ??? " * 30),                   # punctuation storm
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in quality_gate(docs, min_tokens=20).collect()}
    assert got[1]["keep"] and got[1]["reasons"] == []
    assert not got[2]["keep"] and "n_tokens" in got[2]["reasons"]
    assert not got[3]["keep"]
    assert {"dup_2gram_frac", "top_word_frac"} <= set(got[3]["reasons"])
    assert not got[4]["keep"] and "punct_ratio" in got[4]["reasons"]
    # reason order is the documented fixed rule order
    order = ["n_tokens", "mean_word_len", "punct_ratio", "stopword_ratio",
             "dup_line_frac", "dup_2gram_frac", "top_word_frac"]
    for r in got.values():
        idx = [order.index(x) for x in r["reasons"]]
        assert idx == sorted(idx)
