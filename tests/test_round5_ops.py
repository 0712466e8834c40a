"""Unit/model tests for the round-5 operators: winnowing fingerprints,
A-ES weighted sampling, lexical diversity, vocabulary divergence, OOV
rate, and quantile rank-transform."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# ------------------------------------------------------------- winnowing


def test_winnowing_matches_reference_model(spark):
    """Direct re-implementation of Schleimer et al. window-min selection."""
    from dataops.dedup import winnowing_fingerprints

    text = "a b c d e f g h i j a b c d"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        r.fp for r in winnowing_fingerprints(docs, k=3, window=4).collect()
    }

    words = text.split()
    grams = [
        _h(" ".join(words[i : i + 3])) for i in range(len(words) - 2)
    ]
    want = {
        min(grams[j : j + 4]) for j in range(max(len(grams) - 3, 1))
    }
    assert got == want


def test_winnowing_shared_substring_guarantee(spark):
    """Any shared run of >= k + window - 1 tokens must yield a shared
    fingerprint (the winnowing correctness theorem)."""
    from dataops.dedup import winnowing_fingerprints

    shared = "lorem ipsum dolor sit amet consectetur adipiscing"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (1, "unique alpha " + shared + " tail one"),
            (2, "other beta gamma " + shared + " coda"),
        ],
        "doc_id long, text string",
    )
    # k=4, window=4: guarantee threshold is 7 shared tokens
    out = winnowing_fingerprints(docs, k=4, window=4)
    pairs = (
        out.alias("a")
        .join(out.alias("b"), "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .count()
    )
    assert pairs > 0


def test_winnowing_short_docs(spark):
    from dataops.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d e")], "doc_id long, text string"
    )
    rows = winnowing_fingerprints(docs, k=4, window=4).collect()
    # doc 1: fewer than k tokens -> nothing; doc 2: 2 grams < window -> 1 fp
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.fp)
    assert 1 not in by_doc
    assert len(by_doc[2]) == 1
    want = min(
        _h("a b c d"), _h("b c d e")
    )
    assert by_doc[2][0] == want


# ------------------------------------------------------ weighted sampling


def test_weighted_sample_is_deterministic_and_bounded(spark):
    from dataops.sketch import weighted_sample_per_group

    rows = [(f"g{i % 2}", i, float(1 + i % 5)) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, k long, w double")
    a = {
        (r.g, r.k)
        for r in weighted_sample_per_group(df, "g", "k", "w", 10).collect()
    }
    b = {
        (r.g, r.k)
        for r in weighted_sample_per_group(
            df.repartition(7), "g", "k", "w", 10
        ).collect()
    }
    assert a == b and len(a) == 20


def test_weighted_sample_matches_aes_model(spark):
    """Exact A-ES model twin: score = ln((h+1)/2^32)/w, top-n per group."""
    from dataops.sketch import weighted_sample_per_group

    rows = [("g", i, float(1 + (i * 7) % 13)) for i in range(50)]
    df = spark.createDataFrame(rows, "g string, k long, w double")
    got = {
        r.k for r in weighted_sample_per_group(df, "g", "k", "w", 5).collect()
    }
    scored = sorted(
        rows,
        key=lambda r: (-(math.log((_h(str(r[1])) + 1) / 2**32) / r[2]), r[1]),
    )
    assert got == {r[1] for r in scored[:5]}


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from dataops.sketch import weighted_sample_per_group

    df = spark.createDataFrame(
        [("g", 1, 0.0), ("g", 2, -1.0), ("g", 3, 2.0)],
        "g string, k long, w double",
    )
    assert [
        r.k for r in weighted_sample_per_group(df, "g", "k", "w", 10).collect()
    ] == [3]


def test_weighted_sample_respects_weights_statistically(spark):
    """A key with 50x the weight must be sampled far more often across
    many disjoint groups (inclusion frequency tracks weight)."""
    from dataops.sketch import weighted_sample_per_group

    rows = []
    for g in range(200):
        rows += [(f"g{g}", g * 10 + 1, 50.0), (f"g{g}", g * 10 + 2, 1.0),
                 (f"g{g}", g * 10 + 3, 1.0), (f"g{g}", g * 10 + 4, 1.0)]
    df = spark.createDataFrame(rows, "g string, k long, w double")
    picked = [
        r.k % 10
        for r in weighted_sample_per_group(df, "g", "k", "w", 1).collect()
    ]
    heavy = sum(1 for x in picked if x == 1)
    assert len(picked) == 200 and heavy > 150  # E[heavy] ~ 200 * 50/53


# ------------------------------------------------- lexical diversity / oov


def test_lexical_diversity_model(spark):
    from dataops.textquality import lexical_diversity

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "x x x x")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in lexical_diversity(docs).collect()}
    r1 = rows[1]
    assert (r1.n_tokens, r1.n_types) == (4, 3)
    assert r1.type_token_ratio == 0.75
    want_entropy = -(0.5 * math.log(0.5) + 2 * 0.25 * math.log(0.25))
    assert abs(r1.word_entropy - round(want_entropy, 6)) < 1e-9
    r2 = rows[2]
    assert (r2.n_types, r2.word_entropy) == (1, 0.0)


def test_oov_rate_model(spark):
    from dataops.textquality import oov_rate

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b zz qq")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in oov_rate(docs, vocab_size=2).collect()}
    # corpus counts: a=4, b=2, zz=1, qq=1 -> vocab {a, b}
    assert rows[1].n_oov == 0
    assert rows[2].n_oov == 2 and rows[2].oov_ratio == 0.5


def test_vocab_divergence_identical_slices_are_zero(spark):
    from dataops.textquality import vocab_divergence

    docs = spark.createDataFrame(
        [(1, "s1", "a b c"), (2, "s2", "a b c")],
        "doc_id long, source string, text string",
    )
    for r in vocab_divergence(docs, by="source").collect():
        assert r.kl_vs_corpus == 0.0 and r.js_vs_corpus == 0.0


def test_vocab_divergence_model(spark):
    """Hand-computed KL/JS for a two-slice corpus with disjoint tails."""
    from dataops.textquality import vocab_divergence

    docs = spark.createDataFrame(
        [(1, "s1", "a a b"), (2, "s2", "a c")],
        "doc_id long, source string, text string",
    )
    # corpus: a=3, b=1, c=1 (N=5) -> Q = {a:.6, b:.2, c:.2}
    rows = {r.source: r for r in vocab_divergence(docs, by="source").collect()}
    p = {"a": 2 / 3, "b": 1 / 3}
    q = {"a": 3 / 5, "b": 1 / 5, "c": 1 / 5}
    kl = sum(pv * math.log(pv / q[w]) for w, pv in p.items())
    shared_q = sum(q[w] for w in p)
    js = (
        sum(pv * math.log(pv / ((pv + q[w]) / 2)) for w, pv in p.items())
        + sum(q[w] * math.log(q[w] / ((p[w] + q[w]) / 2)) for w in p)
        + (1 - shared_q) * math.log(2)
    ) / 2
    got = rows["s1"]
    assert got.n_tokens == 3
    assert abs(got.kl_vs_corpus - round(kl, 6)) < 1e-9
    assert abs(got.js_vs_corpus - round(js, 6)) < 1e-9
    # JS is bounded by ln 2 and symmetric-ish sanity on the other slice
    assert 0.0 < rows["s2"].js_vs_corpus < math.log(2)


# ------------------------------------------------------ quantile transform


def test_quantile_transform_model(spark):
    from dataops.stats import quantile_transform

    df = spark.createDataFrame(
        [("g", 10.0), ("g", 20.0), ("g", 20.0), ("g", 40.0), ("g", None)],
        "g string, v double",
    )
    out = quantile_transform(df, "v", by="g")
    vals = {
        (r.v, r.pct_rank) for r in out.collect()
    }
    assert vals == {
        (10.0, 0.0),
        (20.0, round(1 / 3, 6)),
        (40.0, 1.0),
        (None, None),
    } or vals == {
        (10.0, 0.0),
        (20.0, round(1 / 3, 6)),
        (20.0, round(1 / 3, 6)),
        (40.0, 1.0),
        (None, None),
    }


# ------------------------------------------------------- loop detection


def test_trailing_loop_detector(spark):
    from dataops.textquality import trailing_loop_features

    docs = spark.createDataFrame(
        [
            (1, "normal prose with no repeats at all here"),
            (2, "some intro then buy now buy now buy now"),
            (3, "word word word word word"),
            (4, "a b c a b c a b c"),
            (5, "ends buy now buy now"),  # 2 repeats < min_repeats
            (6, "x"),                      # < 2 tokens: filtered out
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in trailing_loop_features(docs, max_period=4, min_repeats=3).collect()
    }
    assert rows[1].loop_period is None
    assert (rows[2].loop_period, rows[2].loop_len) == (2, 6)
    assert (rows[3].loop_period, rows[3].loop_frac) == (1, 1.0)
    assert (rows[4].loop_period, rows[4].loop_len) == (3, 9)
    assert rows[5].loop_period is None
    assert 6 not in rows


def test_trailing_loop_prefers_smallest_period(spark):
    """'a a a a a a' loops at EVERY period; the smallest (1) must win."""
    from dataops.textquality import trailing_loop_features

    docs = spark.createDataFrame([(1, "a a a a a a")], "doc_id long, text string")
    r = trailing_loop_features(docs, max_period=4, min_repeats=3).collect()[0]
    assert r.loop_period == 1


# ------------------------------------------- contamination / experimentation


def test_ngram_contamination_model(spark):
    from dataops.dedup import ngram_contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "totally different words nothing shared here at all"),
            (3, "prefix text the quick brown fox jumps over suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "xx the quick brown fox jumps over yy")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r for r in ngram_contamination(train, bench, n=6).collect()
    }
    # doc1: grams (9-6+1)=4; bench contains 'the quick brown fox jumps over'
    # -> exactly 1 colliding 6-gram
    assert rows[1].n_grams == 4 and rows[1].n_hits == 1
    assert rows[2].n_hits == 0
    assert rows[3].n_hits == 1
    assert rows[1].hit_frac == 0.25


def test_ngram_contamination_counts_distinct_grams_once(spark):
    from dataops.dedup import ngram_contamination

    # the same 3-gram repeats inside one doc: counted once (distinct)
    train = spark.createDataFrame(
        [(1, "a b c a b c")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(9, "a b c")], "doc_id long, text string")
    r = ngram_contamination(train, bench, n=3).collect()[0]
    assert r.n_grams == 3  # distinct of 4 positional grams
    assert r.n_hits == 1


def test_ab_test_report_matches_scipy_free_model(spark):
    """Welch t/dof vs hand-computed values on a tiny fixture."""
    from dataops.stats import ab_test_report

    a = [1.0, 2.0, 3.0, 4.0]
    b = [2.0, 4.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "arm string, v double")
    r = ab_test_report(df, "arm", "v").collect()[0]
    import statistics

    ma, mb = statistics.mean(a), statistics.mean(b)
    va, vb = statistics.variance(a), statistics.variance(b)
    se2 = va / 4 + vb / 3
    t = (mb - ma) / math.sqrt(se2)
    dof = se2**2 / ((va / 4) ** 2 / 3 + (vb / 3) ** 2 / 2)
    assert (r.n_a, r.n_b) == (4, 3)
    assert abs(r.welch_t - round(t, 6)) < 1e-9
    assert abs(r.welch_dof - round(dof, 6)) < 1e-9


def test_ab_test_report_degenerate_sides(spark):
    from dataops.stats import ab_test_report

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("b", 3.0)], "arm string, v double"
    )
    r = ab_test_report(df, "arm", "v").collect()[0]
    assert r.n_a == 1 and r.welch_t is None and r.welch_dof is None


# ------------------------------------------------------ bloom-filtered join


def test_bloom_filtered_join_is_exact(spark):
    """Result must equal the plain inner join (no false negatives)."""
    from dataops.sketch import bloom_filtered_join

    big = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], "k long, payload string"
    )
    small = spark.createDataFrame(
        [(i * 7, f"s{i}") for i in range(20)], "k long, tag string"
    )
    got = {
        (r.k, r.payload, r.tag)
        for r in bloom_filtered_join(big, small, "k", m=1 << 12).collect()
    }
    want = {
        (r.k, r.payload, r.tag) for r in big.join(small, "k").collect()
    }
    assert got == want and len(want) > 0


def test_bloom_filtered_join_semi_and_bad_how(spark):
    from dataops.sketch import bloom_filtered_join

    big = spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string")
    small = spark.createDataFrame([(1,)], "k long")
    semi = bloom_filtered_join(big, small, "k", how="left_semi").collect()
    assert [(r.k, r.p) for r in semi] == [(1, "a")]
    with pytest.raises(ValueError, match="inner|left_semi"):
        bloom_filtered_join(big, small, "k", how="left")


# -------------------------------------------------- pooling / robust scale


def test_mean_pool_vectors_model(spark):
    from dataops.similarity import mean_pool_vectors

    df = spark.createDataFrame(
        [
            ("d1", [1.0, 2.0, 3.0]),
            ("d1", [3.0, 4.0, 5.0]),
            ("d2", [10.0, 0.0, -10.0]),
        ],
        "doc string, embedding array<double>",
    )
    rows = {r.doc: r for r in mean_pool_vectors(df, "doc").collect()}
    assert rows["d1"].n_vectors == 2
    assert list(rows["d1"].embedding) == [2.0, 3.0, 4.0]
    assert list(rows["d2"].embedding) == [10.0, 0.0, -10.0]


def test_mean_pool_vectors_degenerate_groups(spark):
    """Ragged groups null out instead of averaging each dimension over a
    different denominator; null/empty vectors are excluded from the mean
    but the count makes the exclusion visible; all-null groups survive
    with n_vectors=0."""
    from dataops.similarity import mean_pool_vectors

    df = spark.createDataFrame(
        [
            ("ragged", [1.0, 2.0, 3.0]),
            ("ragged", [3.0, 4.0]),          # shorter: per-dim counts disagree
            ("hasnull", [2.0, 4.0]),
            ("hasnull", None),                # excluded, still visible in count
            ("hasnull", []),                  # empty behaves like null
            ("allnull", None),
        ],
        "doc string, embedding array<double>",
    )
    rows = {r.doc: r for r in mean_pool_vectors(df, "doc").collect()}
    assert rows["ragged"].embedding is None and rows["ragged"].n_vectors == 2
    assert rows["hasnull"].n_vectors == 1
    assert list(rows["hasnull"].embedding) == [2.0, 4.0]
    assert rows["allnull"].n_vectors == 0 and rows["allnull"].embedding is None


def test_mean_pool_vectors_null_group_key(spark):
    """Round-7 ADVICE fix: a NULL group key groups fine, so its vectors
    must pool — the counts↔pooled join is null-SAFE, not a silent miss."""
    from dataops.similarity import mean_pool_vectors

    df = spark.createDataFrame(
        [
            (None, [2.0, 4.0]),
            (None, [4.0, 6.0]),
            ("d1", [1.0, 1.0]),
        ],
        "doc string, embedding array<double>",
    )
    rows = {r.doc: r for r in mean_pool_vectors(df, "doc").collect()}
    assert rows[None].n_vectors == 2
    assert list(rows[None].embedding) == [3.0, 5.0]
    assert list(rows["d1"].embedding) == [1.0, 1.0]


def test_robust_scale_model(spark):
    from dataops.stats import robust_scale

    # group g: values 0..8 -> median 4, IQR = 6 - 2 = 4
    rows = [("g", float(i)) for i in range(9)] + [("c", 5.0), ("c", 5.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = robust_scale(df, "v", by="k")
    got = {(r.k, r.v): r.scaled for r in out.collect()}
    assert got[("g", 4.0)] == 0.0
    assert got[("g", 8.0)] == 1.0
    assert got[("g", 0.0)] == -1.0
    # constant group: IQR 0 -> NULL, not a division error
    assert got[("c", 5.0)] is None


# ------------------------------------------------------- split leakage


def test_split_leakage_surfaces_cross_split_neardups(spark):
    """Plant near-dup twins assigned to OPPOSITE splits by construction
    and assert the audit reports them off-diagonal."""
    from dataops.dedup import split_leakage_report

    base = "the quick brown fox jumps over the lazy dog again and again"
    # pick two ids that hash_split sends to different splits
    import hashlib

    def split_of(i):
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000
        return "train" if b < 5000 else "test"

    ids = list(range(200))
    a = next(i for i in ids if split_of(i) == "train")
    b = next(i for i in ids if split_of(i) == "test")
    docs = spark.createDataFrame(
        [
            (a, base),
            (b, base + " extra"),
            (50, "completely unrelated text about something else entirely ok"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.split_a, r.split_b): r.n_pairs
        for r in split_leakage_report(
            docs, {"train": 0.5, "test": 0.5}, threshold=0.5
        ).collect()
    }
    assert rows.get(("test", "train"), 0) >= 1  # the leak is visible


def test_lsh_bucket_audit_observes_hub_guard(spark):
    """The audit reports how many docs a max_bucket cap excludes from the
    candidate join, and split_leakage_report's exposed max_bucket widens
    the guard so hub-bucket leaks become visible."""
    from dataops.dedup import (
        lsh_bucket_audit,
        split_leakage_report,
    )

    # 12 identical boilerplate docs: every band collapses to one hot bucket
    docs = spark.createDataFrame(
        [(i, "identical boilerplate footer text repeated on every page here")
         for i in range(12)],
        "doc_id long, text string",
    )
    audit = lsh_bucket_audit(docs, max_bucket=5).collect()[0]
    assert audit.n_dropped_buckets > 0
    assert audit.max_bucket_size == 12
    assert audit.n_docs_in_dropped > 0
    # with the guard below the hub size, the leakage report sees NOTHING...
    capped = split_leakage_report(
        docs, {"train": 0.5, "test": 0.5}, threshold=0.5, max_bucket=5
    ).count()
    assert capped == 0
    # ...widening max_bucket past the hub makes the cross-split dups visible
    widened = split_leakage_report(
        docs, {"train": 0.5, "test": 0.5}, threshold=0.5, max_bucket=100
    )
    assert widened.agg(F.sum("n_pairs")).collect()[0][0] >= 12 * 11 // 2 * 0.5
    # an uncapped audit reports a clean guard
    clean = lsh_bucket_audit(docs, max_bucket=100).collect()[0]
    assert clean.n_dropped_buckets == 0 and clean.n_docs_in_dropped == 0
    # round-7 ADVICE fix: an EMPTY corpus reports zeros, never NULLs
    empty = lsh_bucket_audit(
        docs.where(F.lit(False)), max_bucket=5
    ).collect()[0]
    assert empty.n_dropped_buckets == 0 and empty.n_docs_in_dropped == 0


def test_equiheight_histogram_approx_tier(spark):
    """The mergeable approx tier bounds bin shares within the documented
    GK rank-error: on 2000 rows per group every bin holds ~1/n_bins of
    the rows (tolerance widened to 2x the bound for tiny groups), and the
    exact invariants (full coverage, observed extremes) still hold."""
    from dataops.stats import equiheight_histogram

    rows = [("g", float(i)) for i in range(2000)]
    rows += [("skew", float(i * i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = equiheight_histogram(df, "v", "k", n_bins=4, approx=True).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.k, []).append(r)
    for k, bins in by_grp.items():
        assert {r.bin for r in bins} == {1, 2, 3, 4}
        total = sum(r.n for r in bins)
        assert total == 2000
        for r in bins:
            assert abs(r.n / total - 0.25) < 0.05, (k, r.bin, r.n)


def test_equiheight_histogram_model(spark):
    from dataops.stats import equiheight_histogram

    # 100 uniform values -> 4 bins of ~25 each; skewed tail still balanced
    rows = [("g", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.bin: r for r in equiheight_histogram(df, "v", "k", n_bins=4).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(20 <= out[b].n <= 30 for b in out)
    assert out[1].bin_min == 0.0 and out[4].bin_max == 99.0
    # heavy skew: fixed-width would cram everything into bin 1; equi-height
    # still spreads rows
    skew = spark.createDataFrame(
        [("g", float(1))] * 50 + [("g", float(10**i)) for i in range(2, 8)],
        "k string, v double",
    )
    bins = {r.bin for r in equiheight_histogram(skew, "v", "k", n_bins=4).collect()}
    assert len(bins) >= 2

    import pytest

    with pytest.raises(ValueError, match=">= 2"):
        equiheight_histogram(df, "v", "k", n_bins=1)


# --------------------------------------------------- edit-distance linkage


def test_edit_distance_pairs_model(spark):
    from dataops.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [
            (1, "kitten"),
            (2, "sitten"),    # dist 1 from kitten
            (3, "sitting"),   # dist 3 from kitten, 2 from sitten
            (4, "zebra"),
        ],
        "id long, name string",
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, "name", "id", max_dist=2,
                                     prefix_len=0).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(2, 3)] == 2
    assert (1, 3) not in got  # dist 3 > max
    assert all("zebra" not in k for k in [])  # zebra pairs with nothing
    assert not any(4 in k for k in got)


def test_edit_distance_blocking_covers_length_straddle(spark):
    """Strings whose lengths straddle a bucket boundary (diff <= max_dist)
    must still pair via the +1 probe."""
    from dataops.dedup import edit_distance_pairs

    # len 5 (bucket 1) vs len 7 (bucket 2) with dist 2
    df = spark.createDataFrame(
        [(1, "abcde"), (2, "abcdefg")], "id long, name string"
    )
    rows = edit_distance_pairs(df, "name", "id", max_dist=2, prefix_len=1).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in rows] == [(1, 2, 2)]


# ----------------------------------------------------- soft clustering


def test_soft_cluster_assign_properties(spark):
    """Probabilities behave like a softmax: argmax agrees with the hard
    IVF assignment, a vector AT a centroid is confident (low entropy),
    and entropy is bounded by ln(K)."""
    import math

    from dataops.similarity import (
        ivf_assign,
        soft_cluster_assign,
    )

    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    rows = [
        (1, [1.0, 0.0]),     # exactly centroid 0 -> confident
        (2, [0.7, 0.7]),     # between 0 and 1 -> high entropy
        (3, [-5.0, 0.1]),    # near centroid 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    soft = {
        r.vec_id: r
        for r in soft_cluster_assign(df, centroids=cents, temperature=10.0).collect()
    }
    hard = {
        r.vec_id: r.cluster for r in ivf_assign(df, centroids=cents).collect()
    }
    for i in (1, 2, 3):
        assert soft[i].cluster == hard[i]
        assert 0 < soft[i].top_prob <= 1
        assert 0 <= soft[i].entropy <= math.log(3) + 1e-9
    assert soft[1].entropy < soft[2].entropy  # boundary content is hotter
    assert soft[1].top_prob > soft[2].top_prob
