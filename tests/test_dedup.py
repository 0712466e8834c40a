"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataops import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    rows = [
        (0, base),
        (1, base),                       # exact duplicate
        (2, "The  quick brown fox jumps over the lazy dog again and again today"),  # ws/case dup
        (3, near),                       # near duplicate (1 word differs)
        (4, "completely different content about spark engines and parquet files"),
        (5, "another unrelated document mentioning databases and queries only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    d = dedup.exact_duplicates(docs).collect()
    assert len(d) == 1
    assert d[0]["keep_id"] == 0 and d[0]["n_copies"] == 3
    assert d[0]["all_ids"] == [0, 1, 2]
    kept = dedup.drop_exact_duplicates(docs)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 3, 4, 5]


def test_minhash_lsh_finds_near_dup(docs):
    cand = dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    # the exact dups and the near dup must be candidates
    assert (0, 1) in pairs and (0, 2) in pairs
    assert (0, 3) in pairs or (1, 3) in pairs or (2, 3) in pairs
    verified = dedup.jaccard_verify(cand, docs, threshold=0.5).collect()
    vpairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified}
    assert vpairs[(0, 1)] == 1.0
    # near dup has high but < 1 jaccard
    near = [v for k, v in vpairs.items() if 3 in k]
    assert near and all(0.5 <= v < 1.0 for v in near)
    # unrelated docs never verified
    assert not any(4 in k or 5 in k for k in vpairs)


def test_dedup_fuzzy_transitive_cluster(docs):
    """A~B and B~C collapse into ONE cluster with the min id surviving."""
    out = {r["doc_id"]: (r["cluster"], r["keep"])
           for r in dedup.dedup_fuzzy(docs, bands=8, threshold=0.5).collect()}
    assert len(out) == 6  # one row per input doc
    # 0,1,2 exact/ws dups and 3 a near dup of them -> single cluster rooted at 0
    assert out[0] == (0, True)
    for i in (1, 2, 3):
        assert out[i] == (0, False)
    # singletons keep themselves
    assert out[4] == (4, True) and out[5] == (5, True)

    kept = dedup.drop_fuzzy_duplicates(docs, bands=8, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 4, 5]
    assert kept.columns == docs.columns


def test_min_label_components_chain(spark):
    """Chain a-b, b-c, c-d (never a-d directly) -> one component labeled a."""
    from bio2bel_spark.operators.graph import min_label_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    comp = {r["node"]: r["component"]
            for r in min_label_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_xxhash64_backend_matches_md5_verified_pairs(docs):
    """The speed tier must agree with the portable tier after verification:
    candidate recall may differ per backend, but exact-Jaccard verify pins
    the final pairs (and, collision-free, the jaccard values)."""
    v_md5 = dedup.jaccard_verify(
        dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=8), docs, threshold=0.5
    )
    v_xx = dedup.jaccard_verify(
        dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=8, backend="xxhash64"),
        docs,
        threshold=0.5,
        backend="xxhash64",
    )
    as_set = lambda df: {(r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()}
    assert as_set(v_md5) == as_set(v_xx)


def test_simhash_xxhash64_backend_runs(docs):
    fps = docs.select(dedup.simhash("text", 32, backend="xxhash64").alias("fp")).collect()
    assert all(r["fp"] is not None and 0 <= r["fp"] < (1 << 32) for r in fps)


def test_ngram_jaccard_exact_baseline(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs  # near dup caught exactly
    # LSH candidates verified at the same threshold reproduce the exact result
    lsh = dedup.jaccard_verify(
        dedup.lsh_candidate_pairs(docs, n_hashes=16, bands=8), docs, threshold=0.3
    )
    lsh_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh.collect()}
    for k, v in lsh_pairs.items():
        assert pairs[k] == v  # verified LSH ⊆ exact, with equal scores


def test_simhash_near_pairs(docs):
    fp = docs.select("doc_id", dedup.simhash("text").alias("fp")).collect()
    fps = {r["doc_id"]: r["fp"] for r in fp}
    assert fps[0] == fps[1] == fps[2]  # identical normalized text
    assert fps[0] != fps[4]
    pairs = dedup.simhash_near_pairs(docs, max_hamming=6)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 1)] == 0
    assert (0, 3) in got and got[(0, 3)] <= 6
    assert not any(4 in k for k in got)


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    spark_val = (
        spark.createDataFrame([("hello",)], "s string")
        .select(dedup.portable_hash("s").alias("h"))
        .collect()[0]["h"]
    )
    duck_val = duckdb.connect().execute(
        "select ('0x' || substr(md5('hello'),1,8))::BIGINT"
    ).fetchone()[0]
    assert spark_val == duck_val == 1564557354


def test_max_bucket_guard(spark):
    boiler = spark.createDataFrame(
        [(i, "same same same same") for i in range(50)], "doc_id long, text string"
    )
    # with the guard low, the degenerate bucket is dropped entirely
    assert dedup.lsh_candidate_pairs(boiler, max_bucket=10).count() == 0
    assert dedup.lsh_candidate_pairs(boiler, max_bucket=100).count() == 50 * 49 // 2


def test_fuzzy_join_links_perturbed_copies(spark):
    from dataops.dedup import fuzzy_join

    left = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different sentence about spark plans"),
            (3, "one more unrelated document body here"),
        ],
        "doc_id BIGINT, text STRING",
    )
    right = spark.createDataFrame(
        [
            (101, "THE  QUICK  BROWN FOX jumps over the lazy dog"),  # ≈ doc 1
            (102, "completely novel text with no counterpart at all"),
        ],
        "rid BIGINT, text STRING",
    )
    out = fuzzy_join(left, right, right_id="rid", threshold=0.5).collect()
    assert [(r.lid, r.rid, r.jaccard) for r in out] == [(1, 101, 1.0)]


def test_fuzzy_join_max_bucket_caps_pairs(spark):
    from dataops.dedup import fuzzy_join

    same = [(i, "identical boilerplate text repeated everywhere") for i in range(20)]
    left = spark.createDataFrame(same, "doc_id BIGINT, text STRING")
    right = spark.createDataFrame(
        [(i + 1000, t) for i, t in same], "rid BIGINT, text STRING"
    )
    # bucket cap of 5 drops the 20-doc boilerplate bucket on both sides
    out = fuzzy_join(left, right, right_id="rid", threshold=0.5, max_bucket=5)
    assert out.count() == 0


def test_decontaminate_drops_benchmark_overlaps(spark):
    from dataops.dedup import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different training document body"),
            (3, "yet another clean piece of text for training"),
        ],
        "doc_id BIGINT, text STRING",
    )
    bench = spark.createDataFrame(
        [(900, "The quick brown fox jumps over the LAZY dog")],
        "doc_id BIGINT, text STRING",
    )
    clean, hits = decontaminate(corpus, bench, threshold=0.5)
    assert sorted(r.doc_id for r in clean.collect()) == [2, 3]
    assert [(r.lid, r.rid) for r in hits.collect()] == [(1, 900)]


def test_incremental_dedup_across_batches(spark, tmp_path):
    from bio2bel_spark.catalog import Catalog
    from dataops.dedup import incremental_dedup

    cat = Catalog(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame(
        [
            (1, "alpha document text"),
            (2, "Alpha  Document  TEXT"),  # dup of 1 after normalization
            (3, "beta document text"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got1 = sorted(r.doc_id for r in incremental_dedup(cat, b1).collect())
    assert got1 == [1, 3]  # min-id survivor within the batch

    b2 = spark.createDataFrame(
        [
            (10, "beta document text"),    # seen in batch 1 -> dropped
            (11, "gamma document text"),   # new
            (12, "gamma document text"),   # dup within batch 2
        ],
        "doc_id BIGINT, text STRING",
    )
    got2 = sorted(r.doc_id for r in incremental_dedup(cat, b2).collect())
    assert got2 == [11]

    # a third run of only-seen content admits nothing
    b3 = spark.createDataFrame(
        [(20, "alpha document text"), (21, "gamma document text")],
        "doc_id BIGINT, text STRING",
    )
    assert incremental_dedup(cat, b3).count() == 0
    # history index holds one hash per distinct admitted text
    assert cat.read_table("dedup_seen_hashes").distinct().count() == 3


def test_dedup_fuzzy_quality_survivor(docs):
    """With score_col the highest-scoring cluster member survives (ties:
    lower id), not the minimum id; cluster labels are unchanged."""
    scored = docs.withColumn("score", F.length("text"))
    out = {
        r["doc_id"]: (r["cluster"], r["keep"])
        for r in dedup.dedup_fuzzy(
            scored, bands=8, threshold=0.5, score_col="score"
        ).collect()
    }
    # doc 3 ("...tonight") is one char longer than docs 0/1 and equal to
    # doc 2? -> compute expectation from the fixture directly
    lengths = {r["doc_id"]: len(r["text"]) for r in docs.collect()}
    cluster_members = [0, 1, 2, 3]
    best = max(cluster_members, key=lambda i: (lengths[i], -i))
    for i in cluster_members:
        assert out[i] == (0, i == best)
    assert out[4] == (4, True) and out[5] == (5, True)


def test_hamming_near_pairs_property(spark):
    """Random 64-bit fingerprints (sign bit exercised) across non-dividing
    band budgets: pair recall and distances must equal brute force exactly
    — the pigeonhole guarantee with the remainder-absorbing last band."""
    from itertools import combinations

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(2, 18),
        max_hamming=st.sampled_from([0, 3, 6, 7, 9]),
        flips=st.integers(0, 10),
    )
    def check(seed, n, max_hamming, flips):
        import random

        rng = random.Random(seed)
        fps = [rng.getrandbits(64) for _ in range(n)]
        # plant near-duplicates: clone fp[0] with a few bit flips so the
        # <= max_hamming band is actually populated
        twin = fps[0]
        for _ in range(flips):
            twin ^= 1 << rng.randrange(64)
        fps.append(twin)

        def signed(v):
            return v - (1 << 64) if v >= 1 << 63 else v

        df = spark.createDataFrame(
            [(i, signed(v)) for i, v in enumerate(fps)], "doc_id long, fp long"
        )
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.hamming_near_pairs(
                df, fp_col="fp", id_col="doc_id", bits=64, max_hamming=max_hamming
            ).collect()
        }
        want = {}
        for a, b in combinations(range(len(fps)), 2):
            d = bin(fps[a] ^ fps[b]).count("1")
            if d <= max_hamming:
                want[(a, b)] = d
        assert got == want

    check()


def test_duplicate_span_profile(spark):
    # docs 1 and 2 share the 8-word sentence; doc 3 is all-unique
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"one two three {shared} tail1"),
        (2, f"{shared} completely different ending here now"),
        (3, "nothing here repeats across any other document at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.duplicate_span_profile(df, n=8, min_docs=2).collect()
    }
    assert set(got) == {1, 2, 3}
    # doc 1: 12 words -> 5 spans; only the span at pos 3 (= shared) repeats
    assert got[1]["n_tokens"] == 12 and got[1]["n_spans"] == 5
    assert got[1]["n_dup_spans"] == 1 and got[1]["dup_tokens"] == 8
    # doc 2: shared at pos 0
    assert got[2]["n_dup_spans"] == 1 and got[2]["dup_tokens"] == 8
    assert got[3]["n_dup_spans"] == 0 and got[3]["dup_tokens"] == 0
    assert got[3]["dup_token_frac"] == 0.0


def test_duplicate_span_profile_union_coverage(spark):
    # two overlapping duplicated spans must count their union, not 2*n
    shared9 = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 9 words -> two overlapping 8-spans
    rows = [
        (1, f"{shared9} unique-a unique-b"),
        (2, f"prefix-x {shared9}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.duplicate_span_profile(df, n=8, min_docs=2).collect()
    }
    assert got[1]["n_dup_spans"] == 2 and got[1]["dup_tokens"] == 9
    assert got[2]["n_dup_spans"] == 2 and got[2]["dup_tokens"] == 9


def test_remove_duplicate_spans(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"one two three {shared}"),
        (2, f"{shared} different ending"),
        (3, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.remove_duplicate_spans(df, n=8, min_docs=2).collect()
    }
    assert got[1]["text"] == "one two three" and got[1]["n_dropped"] == 8
    assert got[2]["text"] == "different ending" and got[2]["n_kept"] == 2
    # < n words: untouched (normalized form)
    assert got[3]["text"] == "short doc" and got[3]["n_dropped"] == 0


def test_remove_duplicate_spans_full_doc(spark):
    shared = "a b c d e f g h"
    rows = [(1, shared), (2, shared), (3, "something else entirely unique words here are fine")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in dedup.remove_duplicate_spans(df, n=8).collect()}
    # fully-duplicated docs survive as rows with empty text
    assert got[1]["text"] == "" and got[1]["n_kept"] == 0
    assert got[2]["text"] == "" and got[2]["n_dropped"] == 8
    assert got[3]["n_dropped"] == 0


def test_lsh_recall_report_perfect_on_exact_dups(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.lsh_recall_report(df).collect()[0]
    # identical docs share every band: truth found, recall 1.0
    assert r["n_true_pairs"] == 1 and r["n_hit"] == 1 and r["recall"] == 1.0
    assert r["n_candidates"] >= 1


def test_duplicate_span_profile_matches_bruteforce(spark):
    """Random small corpora vs a pure-python span model: dup-span counts
    and union coverage must agree exactly."""
    import random

    for seed in range(4):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        shared = [rng.choice(vocab) for _ in range(5)]
        texts = []
        for _ in range(6):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
            if rng.random() < 0.6:
                pos = rng.randint(0, len(words))
                words = words[:pos] + shared + words[pos:]
            texts.append(" ".join(words))
        n = 4
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_tokens"])
            for r in dedup.duplicate_span_profile(df, n=n, min_docs=2).collect()
        }

        # model
        spans = {}
        for d, t in enumerate(texts):
            ws = t.split() if t else []
            for p in range(max(0, len(ws) - n + 1)):
                spans.setdefault(" ".join(ws[p : p + n]), set()).add(d)
        frequent = {s for s, docs_ in spans.items() if len(docs_) >= 2}
        for d, t in enumerate(texts):
            ws = t.split() if t else []
            n_spans = max(0, len(ws) - n + 1)
            dup_pos = [
                p
                for p in range(n_spans)
                if " ".join(ws[p : p + n]) in frequent
            ]
            covered = set()
            for p in dup_pos:
                covered.update(range(p, p + n))
            want = (n_spans, len(dup_pos), len(covered))
            # empty text normalizes to [''] (1 token) on the operator side
            if t == "":
                want = (0, 0, 0)
            assert got[d] == want, f"seed {seed} doc {d}: {got[d]} != {want}"


def test_remove_duplicate_spans_keep_first(spark):
    shared = "a b c d e f g h"
    rows = [
        (1, f"{shared} unique-one"),
        (2, f"{shared} unique-two"),
        (3, f"prefix-x {shared}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in dedup.remove_duplicate_spans(df, n=8, keep_first=True).collect()
    }
    # the canonical (smallest doc, pos) occurrence survives; others are cut
    assert got[1]["text"] == f"{shared} unique-one" and got[1]["n_dropped"] == 0
    assert got[2]["text"] == "unique-two" and got[2]["n_dropped"] == 8
    assert got[3]["text"] == "prefix-x" and got[3]["n_dropped"] == 8
    # default still removes every occurrence
    full = {
        r["doc_id"]: r["n_dropped"]
        for r in dedup.remove_duplicate_spans(df, n=8).collect()
    }
    assert full == {1: 8, 2: 8, 3: 8}


def test_remove_duplicate_spans_matches_bruteforce(spark):
    import random

    for seed in range(3):
        rng = random.Random(50 + seed)
        vocab = [f"w{i}" for i in range(10)]
        shared = [rng.choice(vocab) for _ in range(6)]
        texts = []
        for _ in range(5):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
            if rng.random() < 0.7:
                pos = rng.randint(0, len(words))
                words = words[:pos] + shared + words[pos:]
            texts.append(" ".join(words))
        n = 4
        df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        got = {
            r["doc_id"]: r["text"]
            for r in dedup.remove_duplicate_spans(df, n=n, min_docs=2).collect()
        }
        spans = {}
        for d, t in enumerate(texts):
            ws = t.split()
            for p in range(max(0, len(ws) - n + 1)):
                spans.setdefault(" ".join(ws[p : p + n]), set()).add(d)
        frequent = {s for s, ds in spans.items() if len(ds) >= 2}
        for d, t in enumerate(texts):
            ws = t.split()
            covered = set()
            for p in range(max(0, len(ws) - n + 1)):
                if " ".join(ws[p : p + n]) in frequent:
                    covered.update(range(p, p + n))
            want = " ".join(w for i, w in enumerate(ws) if i not in covered)
            assert got[d] == want, f"seed {seed} doc {d}"


def test_incremental_fuzzy_dedup_rejects_cross_batch_neardups(spark, tmp_path):
    """Batch 2's near-duplicate of a batch-1 document must be rejected via
    the persisted band index + signature estimate — without batch 1's text
    ever being re-read."""
    from bio2bel_spark.catalog import Catalog
    from dataops.dedup import incremental_fuzzy_dedup

    cat = Catalog(spark, str(tmp_path / "wh"))
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    other = "completely different content about databases and query engines ok"
    b1 = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    admitted1 = incremental_fuzzy_dedup(cat, b1, threshold=0.5)
    assert {r.doc_id for r in admitted1.collect()} == {1, 2}

    b2 = spark.createDataFrame(
        [
            (10, base + " extra"),  # near-dup of doc 1 -> reject
            (11, "entirely novel text with words never seen in any batch"),
        ],
        "doc_id long, text string",
    )
    admitted2 = incremental_fuzzy_dedup(cat, b2, threshold=0.5)
    assert {r.doc_id for r in admitted2.collect()} == {11}

    # the index holds band rows only for ADMITTED docs
    idx_ids = {
        r.doc_id for r in cat.read_table("fuzzy_band_index").collect()
    }
    assert idx_ids == {1, 2, 11}


def test_incremental_fuzzy_dedup_within_batch_and_identity(spark, tmp_path):
    """Within-batch near-dups collapse to one survivor; re-presenting an
    already-admitted document is rejected by its own signature."""
    from bio2bel_spark.catalog import Catalog
    from dataops.dedup import incremental_fuzzy_dedup

    cat = Catalog(spark, str(tmp_path / "wh2"))
    t = "some reasonably long document text that minhash can fingerprint well"
    b1 = spark.createDataFrame(
        [(1, t), (2, t + " tail")], "doc_id long, text string"
    )
    a1 = {r.doc_id for r in incremental_fuzzy_dedup(cat, b1, threshold=0.5).collect()}
    assert a1 == {1}  # min-id survivor within the batch
    # replaying the SAME doc as a later batch: exact self-match, rejected
    b2 = spark.createDataFrame([(5, t)], "doc_id long, text string")
    a2 = incremental_fuzzy_dedup(cat, b2, threshold=0.5).count()
    assert a2 == 0


def test_incremental_fuzzy_dedup_bands_override(spark, tmp_path):
    """Round-7 ADVICE fix: the within-batch band override must actually
    reach the within-batch banding, while index rows stay on the OUTER
    bands so the historical collision join keys stay compatible."""
    from bio2bel_spark.catalog import Catalog
    from dataops.dedup import incremental_fuzzy_dedup

    cat = Catalog(spark, str(tmp_path / "wh3"))
    t = "some reasonably long document text that minhash can fingerprint well"
    b1 = spark.createDataFrame(
        [(1, t), (2, "other totally distinct words about spark and parquet")],
        "doc_id long, text string",
    )
    admitted = incremental_fuzzy_dedup(
        cat, b1, n_hashes=16, bands=8, threshold=0.5,
        within_batch_bands=4,
    )
    assert {r.doc_id for r in admitted.collect()} == {1, 2}
    idx = cat.read_table("fuzzy_band_index")
    # index banding uses the OUTER bands (8 rows per admitted doc, bands 0-7)
    per_doc = {r.doc_id: r.n for r in
               idx.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per_doc == {1: 8, 2: 8}
    # a later batch replaying doc 1 is still rejected through the index
    b2 = spark.createDataFrame([(9, t)], "doc_id long, text string")
    assert incremental_fuzzy_dedup(cat, b2, bands=8, threshold=0.5).count() == 0


def test_cluster_split_is_leakage_free(spark):
    """Splitting on the near-dup cluster key puts every near-duplicate
    pair on ONE side by construction — zero cross-split verified pairs,
    while a doc-id hash split on the same corpus does leak."""
    from dataops.dedup import (
        cluster_split,
        jaccard_verify,
        lsh_candidate_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, base + f" tail {i % 3}") for i in range(30)]
        + [(100 + i, f"totally unrelated text number {i} about other things entirely ok fine") for i in range(10)],
        "doc_id long, text string",
    )
    out = cluster_split(
        docs, {"train": 0.5, "test": 0.5}, n_hashes=16, bands=8, threshold=0.5
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 40
    # every member of a cluster shares the cluster's split
    splits_by_cluster = {}
    for r in rows.values():
        splits_by_cluster.setdefault(r.cluster, set()).add(r.split)
    assert all(len(s) == 1 for s in splits_by_cluster.values())
    # the near-dup family landed in ONE cluster, so no verified pair
    # crosses splits
    pairs = jaccard_verify(
        lsh_candidate_pairs(docs, n_hashes=16, bands=8), docs, threshold=0.5
    ).collect()
    assert pairs  # the corpus does contain near-dups
    for p in pairs:
        assert rows[p.id_a].split == rows[p.id_b].split
