"""Text-analysis operator tests: lang-ID, quality, tokens, fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataops import textquality as tq


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! it's 2024",)], "text string")
    row = df.select(
        tq.whitespace_token_count("text").alias("ws"),
        tq.bpe_token_count("text").alias("bpe"),
    ).collect()[0]
    assert row["ws"] == 4
    # hello , world ! it ' s 2024 → 8 BPE-ish tokens
    assert row["bpe"] == 8


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is in the house"),
            (2, "el perro y la casa de los gatos en la calle"),
            (3, "le chat et le chien dans la maison des amis"),
            (4, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select("doc_id", tq.detect_language("text").alias("lang")).collect()
    }
    assert got == {1: "en", 2: "es", 3: "fr", 4: "und"}


def test_detect_language_on_driver_docs(tables):
    docs = tables["documents"]
    detected = docs.select(
        "lang", tq.detect_language("text").alias("detected")
    )
    agreement = detected.filter(F.col("lang") == F.col("detected")).count() / docs.count()
    # synthetic docs are built from shared operator words; just require the
    # operator to produce a valid label for every row
    labels = {r["detected"] for r in detected.select("detected").distinct().collect()}
    assert labels <= {"en", "es", "fr", "de", "und"}
    assert agreement >= 0.0


def test_quality_features(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "x"),
            (3, "!!! ??? ... ###"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in tq.quality_features(df).collect()}
    assert rows[1]["quality_score"] == 1.0
    assert rows[2]["n_tokens"] == 1 and rows[2]["quality_score"] < 1.0
    assert rows[3]["punct_ratio"] > 0.5
    assert rows[3]["quality_score"] <= 0.3


def test_fingerprint_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha  BETA gamma"),   # case/ws insensitive
            (3, "gamma beta alpha"),    # order sensitive
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", tq.fingerprint("text").alias("fp")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]
    assert 0 <= got[1] < tq.FINGERPRINT_MOD


def test_tfidf_top_terms_basic(spark):
    from dataops.textquality import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "date date date date"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, top_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: apple (tf=2, df=1) outscores banana (tf=1, df=2)
    assert by_doc[1][0]["term"] == "apple" and by_doc[1][0]["tf"] == 2
    # doc 3's only term is the rare 'date' with tf=4 — a single row
    assert len(by_doc[3]) == 1 and by_doc[3][0]["term"] == "date"
    # smooth idf: score = tf * (ln((N+1)/(df+1)) + 1), N=3
    import math

    expected = round(2 * (math.log(4 / 2) + 1), 6)
    assert abs(by_doc[1][0]["tfidf"] - expected) < 1e-9
    # every doc returns at most top_n rows, ties broken by term asc
    assert all(len(v) <= 2 for v in by_doc.values())


def test_tfidf_empty_text_yields_no_rows(spark):
    from dataops.textquality import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "   "), (2, "word")], "doc_id long, text string"
    )
    out = tfidf_top_terms(docs)
    assert [r["doc_id"] for r in out.collect()] == [2]


def test_lm_perplexity_matches_hand_model(spark):
    """Tiny corpus with hand-computable counts: repeated bigrams must score
    as more probable (lower bits) than one-off bigrams, and short docs keep
    a row with null scores."""
    import math

    from dataops.textquality import lm_perplexity

    docs = spark.createDataFrame(
        [
            (0, "a b a b"),
            (1, "a b c"),
            (2, "x"),          # < 2 tokens: n_bigrams 0, null scores
            (3, None),         # null text: same contract
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_perplexity(docs).collect()}
    assert len(out) == 4
    assert out[2]["n_bigrams"] == 0 and out[2]["avg_bits"] is None
    assert out[3]["n_bigrams"] == 0 and out[3]["perplexity"] is None
    # corpus: tokens a,b,a,b,a,b,c,x -> c(a)=3 c(b)=3 c(c)=1 c(x)=1, V=4
    # bigrams: ab ba ab | ab bc -> c(ab)=3 c(ba)=1 c(bc)=1
    V = 4.0
    def p(cb, cu):
        return (cb + 1.0) / (cu + V)
    bits0 = [-math.log2(p(3, 3)), -math.log2(p(1, 3)), -math.log2(p(3, 3))]
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_bits"] == pytest.approx(sum(bits0) / 3, abs=1e-6)
    bits1 = [-math.log2(p(3, 3)), -math.log2(p(1, 3))]
    assert out[1]["avg_bits"] == pytest.approx(sum(bits1) / 2, abs=1e-6)
    # the doc made of the dominant bigram is less surprising
    assert out[0]["perplexity"] < out[1]["perplexity"]


def test_corpus_report_counts(spark):
    from dataops.textquality import corpus_report

    docs = spark.createDataFrame(
        [
            (0, "one two three"),
            (1, "one  two   three"),  # whitespace dup of 0
            (2, " ".join(f"w{i}" for i in range(30))),  # long doc
            (3, ""),                  # empty
            (4, None),                # null
        ],
        "doc_id long, text string",
    )
    r = corpus_report(docs, short_doc_tokens=20).collect()[0]
    assert r["n_docs"] == 5
    assert r["n_empty"] == 2          # "" and NULL both tokenless
    assert r["n_short"] == 2          # the two three-token docs
    assert r["n_tokens"] == 3 + 3 + 30
    assert r["avg_tokens"] == pytest.approx(36 / 5, abs=1e-4)
    assert r["distinct_texts"] == 3   # {one two three, w..., ""}
    assert r["exact_dup_rate"] == pytest.approx(1 - 3 / 4, abs=1e-6)


def test_lm_perplexity_property(spark):
    """Random small corpora vs a pure-python bigram model: counts, V, and
    per-doc average bits must agree to float tolerance."""
    import math
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from dataops.textquality import lm_perplexity

    WORD = st.sampled_from(["a", "bb", "ccc", "dd", "e"])

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(docs=st.lists(st.lists(WORD, min_size=0, max_size=8), min_size=1, max_size=6))
    def check(docs):
        rows = [(i, " ".join(words) if words else None) for i, words in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in lm_perplexity(df).collect()}

        uni = Counter(w for ws in docs for w in ws)
        bi = Counter(
            (ws[i], ws[i + 1]) for ws in docs for i in range(len(ws) - 1)
        )
        V = len(uni)
        for i, ws in enumerate(docs):
            grams = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
            assert got[i]["n_bigrams"] == len(grams)
            if not grams:
                assert got[i]["avg_bits"] is None
                continue
            bits = [
                -math.log2((bi[g] + 1.0) / (uni[g[0]] + V)) for g in grams
            ]
            assert got[i]["avg_bits"] == pytest.approx(
                sum(bits) / len(bits), abs=2e-6
            )

    check()


def test_cooccurrence_pmi_window_and_counts(spark):
    from math import log

    from dataops.textquality import cooccurrence_pmi

    # "a b" adjacent twice; "a z" always > 3 tokens apart (never a pair)
    rows = [
        (1, "a b c d e z"),
        (2, "a b x y w z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["w1"], r["w2"]): r
        for r in cooccurrence_pmi(df, window=3, min_count=2).collect()
    }
    assert ("a", "b") in out
    assert out[("a", "b")]["n_pair"] == 2
    # 12 tokens total, a:2 b:2 -> pmi = ln(2*12/(2*2))
    assert abs(out[("a", "b")]["pmi"] - round(log(6.0), 6)) < 1e-9
    assert ("a", "z") not in out          # outside the window
    assert all(k[0] <= k[1] for k in out)  # unordered, lexicographic


def test_bm25_ranks_term_frequency_and_rarity(spark):
    from dataops.textquality import bm25_scores

    rows = [
        (1, "spark spark spark join"),   # heavy on both terms
        (2, "spark data data data"),     # one hit
        (3, "nothing relevant here"),    # no hits
        (4, "join only once appears"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, ["spark", "join"]).collect()}
    assert 3 not in got                      # zero-match docs absent
    assert got[1] > got[2] and got[1] > got[4]
    assert all(v > 0 for v in got.values())


def test_zipf_fit_recovers_planted_slope(spark):
    from math import exp

    from dataops.textquality import zipf_fit

    # corpus engineered so word w_r appears round(1000 * r^-1) times:
    # the fit must recover slope ~ -1 with near-perfect r2
    words = []
    for r in range(1, 40):
        words += [f"w{r:02d}"] * max(1, round(1000 * r ** -1.0))
    docs = spark.createDataFrame([(0, " ".join(words))], "doc_id long, text string")
    got = zipf_fit(docs, top_n=39).collect()[0]
    assert got["n_words"] == 39
    assert abs(got["slope"] + 1.0) < 0.05
    assert got["r2"] > 0.99
    assert abs(exp(got["intercept"]) - 1000) / 1000 < 0.2


def test_bm25_matches_python_model(spark):
    import math
    from collections import Counter

    from dataops.textquality import bm25_scores

    texts = {
        1: "spark joins data with spark sql engines",
        2: "pandas joins frames in memory",
        3: "spark spark spark everywhere",
        4: "completely unrelated words here",
    }
    terms = ["spark", "joins"]
    k1, b = 1.2, 0.75
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in bm25_scores(docs, terms, k1=k1, b=b).collect()}

    # reference model
    toks = {d: t.split() for d, t in texts.items()}
    n = len(texts)
    avgdl = sum(len(w) for w in toks.values()) / n
    want = {}
    for d, ws in toks.items():
        tf = Counter(ws)
        s = 0.0
        for t in terms:
            if not tf[t]:
                continue
            df_t = sum(1 for w in toks.values() if t in w)
            idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
            s += idf * (tf[t] * (k1 + 1)) / (tf[t] + k1 * (1 - b + b * len(ws) / avgdl))
        if s > 0:
            want[d] = round(s, 6)
    assert got == want


# ---------------------------------------------------------------- DSIR


@pytest.fixture()
def dsir_corpus(spark):
    """Raw corpus with two clearly-separated vocabularies: docs 1-4 speak
    'target-ish', docs 5-8 speak 'other-ish', doc 9 is empty."""
    rows = [
        (1, "alpha beta gamma alpha beta"),
        (2, "alpha beta beta gamma delta"),
        (3, "alpha gamma alpha beta delta"),
        (4, "beta gamma delta alpha alpha"),
        (5, "omega psi chi omega psi"),
        (6, "psi chi omega chi chi"),
        (7, "omega omega psi chi psi"),
        (8, "chi psi omega psi omega"),
        (9, "   "),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dsir_weights_tilt_toward_target(spark, dsir_corpus):
    target = dsir_corpus.where(F.col("doc_id") <= 4)
    got = {
        r["doc_id"]: r
        for r in tq.dsir_log_weights(
            dsir_corpus, target, buckets=64
        ).collect()
    }
    assert set(got) == set(range(1, 10))
    # every target-vocabulary doc outweighs every other-vocabulary doc
    lo = min(got[i]["log_weight"] for i in (1, 2, 3, 4))
    hi = max(got[i]["log_weight"] for i in (5, 6, 7, 8))
    assert lo > hi
    # empty doc: explicit row, zero grams, null weight
    assert got[9]["n_grams"] == 0 and got[9]["log_weight"] is None
    # 5 unigrams + 4 bigrams per doc
    assert got[1]["n_grams"] == 9


def test_dsir_weights_identity_when_target_is_raw(spark, dsir_corpus):
    """target == raw → p == q → every weight is exactly 0 (the log-ratio
    table is identically zero), the DSIR sanity invariant."""
    docs = dsir_corpus.where(F.col("doc_id") <= 8)
    got = tq.dsir_log_weights(docs, docs, buckets=64).collect()
    assert all(abs(r["log_weight"]) < 1e-9 for r in got)


def test_dsir_select_deterministic_topk(spark, dsir_corpus):
    target = dsir_corpus.where(F.col("doc_id") <= 4)
    a = tq.dsir_select(dsir_corpus, target, k=3, seed=7, buckets=64)
    b = tq.dsir_select(dsir_corpus, target, k=3, seed=7, buckets=64)
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert ids_a == ids_b and len(ids_a) == 3
    # with a strongly-tilted weight the selection stays in the target slice
    assert set(ids_a) <= {1, 2, 3, 4}


def test_dsir_select_seed_changes_gumbel_keys(spark, dsir_corpus):
    target = dsir_corpus.where(F.col("doc_id") <= 4)
    k1 = {r["doc_id"]: r["gumbel_key"]
          for r in tq.dsir_select(dsir_corpus, target, k=8, seed=1,
                                  buckets=64).collect()}
    k2 = {r["doc_id"]: r["gumbel_key"]
          for r in tq.dsir_select(dsir_corpus, target, k=8, seed=2,
                                  buckets=64).collect()}
    assert any(k1[i] != k2[i] for i in k1)


# ------------------------------------------------- CCNet perplexity buckets


def test_ccnet_buckets_split_thirds_and_unscored(spark):
    # doc i = a common phrase plus i one-off tokens: each extra unseen
    # bigram raises the average bits, so perplexities are strictly
    # increasing in i (distinct histogram bins)
    rows = [
        (i, "the cat sat on the mat "
            + " ".join("u%dx%d" % (i, j) for j in range(i)), "en")
        for i in range(1, 10)
    ]
    rows += [(99, "solo", "en")]  # < 2 tokens -> unscored
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in tq.ccnet_perplexity_buckets(docs).collect()}
    assert len(got) == 10
    assert got[99]["bucket"] == "unscored" and got[99]["perplexity"] is None
    ppls = [got[i]["perplexity"] for i in range(1, 10)]
    assert ppls == sorted(ppls) and len(set(ppls)) == 9
    from collections import Counter
    counts = Counter(r["bucket"] for i, r in got.items() if i != 99)
    # ceil(.33*9)=3, ceil(.67*9)=7 -> 3 head / 4 middle / 2 tail
    assert counts == {"head": 3, "middle": 4, "tail": 2}, counts


def test_ccnet_buckets_are_per_language(spark):
    """A noisy-but-uniform language must still split into its own thirds —
    the CCNet property that thresholds are per-language, not global."""
    rows = [(i, "aa bb cc dd ee ff gg"[: 2 + i], "en") for i in range(1, 7)]
    rows += [(10 + i, "zz yy xx ww vv uu tt"[: 2 + i], "de") for i in range(1, 7)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = tq.ccnet_perplexity_buckets(docs).collect()
    from collections import Counter
    per_lang = Counter((r["lang"], r["bucket"]) for r in got
                       if r["bucket"] not in ("unscored",))
    assert per_lang[("en", "head")] >= 1 and per_lang[("en", "tail")] >= 1
    assert per_lang[("de", "head")] >= 1 and per_lang[("de", "tail")] >= 1


def test_ccnet_bucket_ordering_respects_perplexity(spark):
    """Within a language every head doc's perplexity <= every middle doc's
    <= every tail doc's (ties aside, the defining monotonicity)."""
    rows = [(i, " ".join("w%d" % ((i * 7 + j) % (3 + i)) for j in range(8)),
             "en") for i in range(1, 13)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = [r for r in tq.ccnet_perplexity_buckets(docs).collect()
           if r["bucket"] != "unscored"]
    by = {b: [r["perplexity"] for r in got if r["bucket"] == b]
          for b in ("head", "middle", "tail")}
    if by["head"] and by["middle"]:
        assert max(by["head"]) <= min(by["middle"])
    if by["middle"] and by["tail"]:
        assert max(by["middle"]) <= min(by["tail"])


def test_ccnet_buckets_null_lang_is_its_own_group(spark):
    """NULL language is a real group: its docs split against their OWN
    thresholds (null-safe threshold join), never silently 'tail'."""
    rows = [(i, "the cat sat on the mat "
             + " ".join("u%dx%d" % (i, j) for j in range(i)), None)
            for i in range(1, 10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = tq.ccnet_perplexity_buckets(docs).collect()
    from collections import Counter
    counts = Counter(r["bucket"] for r in got)
    assert counts == {"head": 3, "middle": 4, "tail": 2}, counts
    assert all(r["lang"] is None for r in got)


def test_buckets_from_state_unseen_language_is_unscored(spark):
    """Maintained-state read path: a language the histogram state has
    never seen must bucket 'unscored', not fall through the NULL
    thresholds to 'tail' (state can lag a brand-new language by a
    batch)."""
    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat row %d" % i, "en")
         for i in range(4)],
        "doc_id long, text string, lang string",
    )
    model = tq.lm_model(ref)
    seen = spark.createDataFrame(
        [(i, "the cat sat on the mat row %d" % i, "en") for i in range(6)],
        "doc_id long, text string, lang string",
    )
    state = tq.perplexity_histogram_state(seen, model=model)
    batch = seen.unionByName(
        spark.createDataFrame(
            [(50, "der schnelle braune fuchs springt heute", "de")],
            "doc_id long, text string, lang string",
        )
    )
    got = {
        r["doc_id"]: r["bucket"]
        for r in tq.perplexity_buckets_from_state(
            batch, state, model=model
        ).collect()
    }
    assert got[50] == "unscored"  # de absent from state: honest, not 'tail'
    assert set(got[i] for i in range(6)) <= {"head", "middle", "tail"}
