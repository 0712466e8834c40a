"""Edge-case + property-based tests for the text/dedup operator family:
null / empty / whitespace / unicode inputs, and hypothesis round-trips
against pure-Python reimplementations of the portable hash contracts.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dataops import dedup, textquality

EDGE_ROWS = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "héllo wörld ünïcode"),
    (4, "中文 文本 测试 abc"),
    (5, "a"),
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id long, text string")


def test_null_text_propagates(edge_docs):
    rows = {
        r["doc_id"]: r
        for r in edge_docs.select(
            "doc_id",
            dedup.minhash_signature("text", 4).alias("sig"),
            dedup.simhash("text", 8).alias("sh"),
            textquality.fingerprint("text").alias("fp"),
        ).collect()
    }
    assert rows[0]["sig"] is None and rows[0]["sh"] is None and rows[0]["fp"] is None
    # empty and whitespace-only normalize to the same "" doc
    assert rows[1]["sig"] == rows[2]["sig"]
    assert rows[1]["fp"] == 0 and rows[2]["fp"] == 0


def test_empty_and_whitespace_are_exact_dups(edge_docs):
    groups = dedup.exact_duplicates(edge_docs).collect()
    assert len(groups) == 1
    assert groups[0]["all_ids"] == [1, 2]


def test_quality_features_never_error_on_edge_rows(edge_docs):
    rows = {r["doc_id"]: r for r in textquality.quality_features(edge_docs).collect()}
    # ANSI mode would throw on unguarded division by zero — these must not
    assert rows[1]["n_tokens"] == 0 and rows[1]["mean_word_len"] == 0.0
    assert rows[2]["n_tokens"] == 0
    # unicode letters count as "punctuation" under the ASCII \w contract —
    # the documented behavior matching RE2/Java regex semantics
    assert rows[3]["punct_ratio"] > 0


# --------------------------------------------------------------- hypothesis

def _h32(s: str) -> int:
    """Python twin of the portable md5-prefix hash."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.lower()).strip()


def _tokens(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s.strip().lower()) if t]


TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from("ab cd e f  g\thi"), min_size=0, max_size=60
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_fingerprint_matches_python_model(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select(
            "doc_id", textquality.fingerprint("text").alias("fp")
        ).collect()
    }
    for i, t in enumerate(texts):
        acc = 0
        for tok in _tokens(t):
            acc = (acc * 31 + _h32(tok)) % textquality.FINGERPRINT_MOD
        assert got[i] == acc, (t, got[i], acc)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_minhash_matches_python_model(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["sig"]
        for r in df.select(
            "doc_id", dedup.minhash_signature("text", 8).alias("sig")
        ).collect()
    }
    for i, t in enumerate(texts):
        n = _norm(t)
        words = n.split(" ")
        if len(words) >= 3:
            shingles = [" ".join(words[j : j + 3]) for j in range(len(words) - 2)]
        else:
            shingles = [n]
        hashes = list(dict.fromkeys(_h32(s) for s in shingles))
        want = [
            min(((2 * k + 1) * h + k * k + k + 41) % dedup.MINHASH_PRIME for h in hashes)
            for k in range(8)
        ]
        assert got[i] == want, (t, got[i], want)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_simhash_matches_python_model(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", dedup.simhash("text", 16).alias("sh")).collect()
    }
    for i, t in enumerate(texts):
        toks = _norm(t).split(" ")  # simhash splits WITHOUT dropping empties
        hashes = [_h32(tok) for tok in toks]
        fp = 0
        for j in range(16):
            s = sum(1 if (h >> j) & 1 else -1 for h in hashes)
            if s > 0:
                fp += 1 << j
        assert got[i] == fp, (t, got[i], fp)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_quality_features_match_python_model(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r for r in textquality.quality_features(df).collect()
    }
    for i, t in enumerate(texts):
        toks = _tokens(t)
        assert got[i]["n_chars"] == len(t)
        assert got[i]["n_tokens"] == len(toks)
        if toks:
            mwl = sum(len(x) for x in toks) / len(toks)
            assert got[i]["mean_word_len"] == pytest.approx(round(mwl, 6))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=TEXTS)
def test_drop_exact_duplicates_matches_python_model(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"] for r in dedup.drop_exact_duplicates(df).select("doc_id").collect()
    )
    first_seen: dict[str, int] = {}
    for i, t in enumerate(texts):
        first_seen.setdefault(_norm(t), i)
    assert kept == sorted(first_seen.values())
