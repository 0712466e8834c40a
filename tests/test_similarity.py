"""Similarity-search tests: brute-force cosine, IVF bucketing, near-pairs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataops import similarity


def _py_cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))


@pytest.fixture(scope="module")
def emb(spark, tables):
    return tables["embeddings"]


def test_cosine_matches_python(spark):
    a, b = [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(similarity.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    assert got == pytest.approx(_py_cos(a, b))


def test_cosine_topk_exact(emb):
    rows = emb.limit(200).collect()
    query = rows[7]["embedding"]
    got = similarity.cosine_topk(emb, query, k=5).collect()
    # query vector itself must rank first with similarity 1.0
    assert got[0]["vec_id"] == rows[7]["vec_id"]
    assert got[0]["cos_sim"] == pytest.approx(1.0, abs=1e-5)
    # verify ordering against a python recomputation over the full table
    all_rows = emb.collect()
    expected = sorted(
        ((r["vec_id"], round(_py_cos(query, r["embedding"]), 6)) for r in all_rows),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [(r["vec_id"], pytest.approx(r["cos_sim"], abs=1e-5)) for r in got] == [
        (v, pytest.approx(c, abs=1e-5)) for v, c in expected
    ]


def test_ivf_assign_and_topk_recall(emb):
    n_clusters = 8
    assigned = similarity.ivf_assign(emb, n_clusters=n_clusters)
    dist = assigned.groupBy("cluster").count().collect()
    assert 1 <= len(dist) <= n_clusters
    assert sum(r["count"] for r in dist) == emb.count()

    cents = [
        r["embedding"]
        for r in emb.orderBy("vec_id").limit(n_clusters).collect()
    ]
    query = emb.collect()[17]["embedding"]
    exact = [r["vec_id"] for r in similarity.cosine_topk(emb, query, k=10).collect()]
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, cents, query, k=10, nprobe=4).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5  # nprobe=4 of 8 clusters: at least half recalled
    # probing everything reproduces the exact result
    full = [
        r["vec_id"]
        for r in similarity.ivf_topk(assigned, cents, query, k=10, nprobe=n_clusters).collect()
    ]
    assert full == exact


def test_embedding_near_pairs_self_consistency(spark):
    # seed centroids are the first n_clusters ids: 0 and 1 must separate
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near dup of 0
        (3, [1.0, 0.001, 0.0]),    # near dup of 0 and 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_pairs(df, threshold=0.999, n_clusters=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(0, 2), (0, 3), (2, 3)}


def test_knn_join_exact_on_small_corpus(spark):
    """With nprobe == n_clusters the probe covers everything, so knn_join
    must equal brute-force per-query top-k."""
    import itertools
    import math

    from dataops.similarity import knn_join

    def vec(i):
        return [math.cos(0.7 * i + j) + 2.0 for j in range(4)]

    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(12)], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(100 + i, vec(3 * i + 1)) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.query_id, r["rank"]): (r.vec_id, r.cos_sim)
        for r in knn_join(queries, corpus, k=3, n_clusters=4, nprobe=4).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    for qi in range(3):
        qid = 100 + qi
        scored = sorted(
            ((cos(vec(3 * qi + 1), vec(ci)), ci) for ci in range(12)),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (s, ci) in enumerate(scored[:3], start=1):
            assert got[(qid, rank)] == (ci, s), (qid, rank)


def test_knn_join_probes_restrict_candidates(spark):
    """nprobe < n_clusters: every reported neighbor shares a probed cluster
    with its query, and ranks are dense from 1."""
    from pyspark.sql import functions as F

    from dataops.similarity import knn_join

    import math

    corpus = spark.createDataFrame(
        [(i, [math.sin(i + j) + 1.5 for j in range(4)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 500).alias("vec_id"), "embedding"
    )
    out = knn_join(queries, corpus, k=4, n_clusters=6, nprobe=2)
    rows = out.collect()
    assert rows, "knn_join returned nothing"
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r["rank"])
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
    # each query's top hit is its identical corpus twin (cos == 1.0)
    top = {r.query_id: (r.vec_id, r.cos_sim) for r in rows if r["rank"] == 1}
    for qid, (vid, sim) in top.items():
        assert vid == qid - 500 and sim == 1.0


def test_kmeans_refine_recovers_planted_clusters(spark):
    """Two tight planted blobs: refined centroids land on the blob means and
    the refined assignment separates the blobs exactly."""
    from dataops.similarity import ivf_assign, kmeans_refine

    blob_a = [[1.0 + 0.01 * i, 0.1, 0.1, 0.1] for i in range(10)]
    blob_b = [[0.1, 0.1, 0.1, 1.0 + 0.01 * i] for i in range(10)]
    rows = [(i, v) for i, v in enumerate(blob_a + blob_b)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_refine(df, n_clusters=2, iterations=3)
    assert len(cents) == 2
    got = {r.vec_id: r.cluster for r in
           ivf_assign(df, centroids=cents).collect()}
    a_clusters = {got[i] for i in range(10)}
    b_clusters = {got[i] for i in range(10, 20)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    # centroid of blob A ~ its mean
    mean_a0 = sum(v[0] for v in blob_a) / 10
    ca = cents[next(iter(a_clusters))]
    assert abs(ca[0] - mean_a0) < 1e-6


def test_embedding_dedup_collapses_transitive_chain(spark):
    """v, v*1.01+eps, v*1.02+eps2 all near-dup -> one cluster, min id kept."""
    from dataops.similarity import embedding_dedup

    base = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (0, base),
        (1, [x * 1.01 + 0.001 for x in base]),
        (2, [x * 1.02 + 0.002 for x in base]),
        (3, [4.0, -3.0, 2.0, -1.0]),  # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.cluster, r.keep) for r in
           embedding_dedup(df, threshold=0.999, n_clusters=2, nprobe=2).collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False) and out[2] == (0, False)
    assert out[3] == (3, True)


def test_exact_blocked_matches_bruteforce(emb, spark):
    """The grid-cell matmul must reproduce the quadratic python answer
    pair-for-pair — including pairs whose members hash to the same block,
    different blocks, and the (empty-side) cells of a sparse grid."""
    sub = emb.limit(60)
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in similarity.exact_near_pairs_blocked(
            sub, threshold=0.2, n_blocks=4
        ).collect()
    }
    rows = sub.collect()
    want = {}
    for i in range(len(rows)):
        for j in range(len(rows)):
            a, b = rows[i], rows[j]
            if a["vec_id"] >= b["vec_id"]:
                continue
            c = round(_py_cos(a["embedding"], b["embedding"]), 6)
            if c >= 0.2:
                want[(a["vec_id"], b["vec_id"])] = c
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-6)


def test_exact_blocked_cell_guard_fires(spark):
    """An oversized grid cell must fail loudly, not OOM an executor."""
    df = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.rand(seed=7)).alias("embedding"),
    )
    with pytest.raises(Exception, match="max_block_rows|grid cell"):
        similarity.exact_near_pairs_blocked(
            df, threshold=0.0, n_blocks=2, max_block_rows=3
        ).collect()


def test_grid_near_pairs_property(spark):
    """Random vectors/dims/block counts: the grid evaluation must equal the
    brute-force python answer exactly (pair set AND 6dp scores), including
    n_blocks larger than the row count (empty cells) and n_blocks=1 (single
    diagonal cell)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import numpy as np

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(2, 25),
        dim=st.integers(2, 8),
        n_blocks=st.sampled_from([1, 2, 3, 7, 40]),
        threshold=st.sampled_from([-1.0, 0.0, 0.5, 0.9]),
    )
    def check(seed, n, dim, n_blocks, threshold):
        rng = np.random.default_rng(seed)
        vecs = rng.normal(size=(n, dim)).round(3)
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["id_a"], r["id_b"]): r["cos_sim"]
            for r in similarity.exact_near_pairs_blocked(
                df, threshold=threshold, n_blocks=n_blocks
            ).collect()
        }
        want = {}
        for i in range(n):
            for j in range(i + 1, n):
                c = round(_py_cos(list(vecs[i]), list(vecs[j])), 6)
                if c >= threshold:
                    want[(i, j)] = c
        assert set(got) == set(want)
        for k, v in want.items():
            assert got[k] == pytest.approx(v, abs=2e-6)

    check()


def test_hard_negative_samples_in_cluster(spark):
    from dataops.similarity import hard_negative_samples, ivf_assign

    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = hard_negative_samples(emb, n_clusters=4, k=2, seed=9).collect()
    assigned = {
        r["vec_id"]: r["cluster"]
        for r in ivf_assign(emb, n_clusters=4).select("vec_id", "cluster").collect()
    }
    assert out, "expected some negatives"
    seen = set()
    for r in out:
        # negative comes from the anchor's own cluster and is never itself
        assert assigned[r["neg_id"]] == r["cluster"] == assigned[r["vec_id"]]
        assert r["neg_id"] != r["vec_id"]
        key = (r["vec_id"], r["neg_id"])
        assert key not in seen, "duplicate (anchor, negative) pair"
        seen.add(key)
    # per-anchor count is bounded by k
    from collections import Counter

    per_anchor = Counter(r["vec_id"] for r in out)
    assert max(per_anchor.values()) <= 2
    # deterministic
    again = hard_negative_samples(emb, n_clusters=4, k=2, seed=9).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_label_consistency_flags_planted_outlier(spark):
    from dataops.similarity import label_consistency

    # two tight, well-separated clusters; one vector carries the wrong label
    rows = []
    for i in range(10):
        rows.append((i, [10.0 + i * 0.01, 0.0], 1))
    for i in range(10, 20):
        lbl = 2 if i != 10 else 1  # vec 10 sits in cluster B but labeled A
        rows.append((i, [0.0, 10.0 + i * 0.01], lbl))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {
        r["vec_id"]: r.asDict()
        for r in label_consistency(emb, "label", k=3, n_clusters=2, nprobe=1).collect()
    }
    # the mislabeled vector disagrees with every neighbor
    assert got[10]["consistency"] == 0.0
    # a correctly-labeled vector in the same cluster agrees with most
    assert got[15]["consistency"] >= 2 / 3
    assert got[0]["consistency"] == 1.0
    assert all(r["n_neighbors"] <= 4 for r in got.values())


def test_srp_near_pairs_finds_planted_duplicate(spark):
    import random

    from dataops.similarity import srp_near_pairs

    rng = random.Random(1)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)]
    # planted near-duplicate of vector 0 (tiny perturbation, cosine ~1)
    rows.append((100, [x * 1.01 + 1e-4 for x in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in srp_near_pairs(
            emb, bits=32, dim=16, seed=7, max_hamming=3
        ).collect()
    }
    assert (0, 100) in got and got[(0, 100)] <= 3
    # determinism: same seed reproduces the same pair set
    again = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in srp_near_pairs(
            emb, bits=32, dim=16, seed=7, max_hamming=3
        ).collect()
    }
    assert got == again


# ------------------------------------------------------- int8 quantization


def test_quantize_vectors_bounds_and_zero(spark):
    from dataops.similarity import quantize_vectors

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [2.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in quantize_vectors(df).collect()}
    assert got[1]["qvec"] == [64, -127, 32] and got[1]["scale"] == 1.0
    # round(0.5/1*127)=round(63.5)=64 (half away from zero), exact -127 max
    assert got[2]["qvec"] == [0, 0, 0] and got[2]["scale"] == 0.0
    assert got[3]["qvec"] == [127]
    for r in got.values():
        assert all(-127 <= q <= 127 for q in r["qvec"])


def test_quantization_report_error_bound(spark, tables):
    """Dequantization error is bounded by half a quantization step
    (scale/254) and cosine fidelity stays ~1 on real embeddings."""
    from dataops.similarity import quantization_report

    rows = quantization_report(tables["embeddings"]).collect()
    assert len(rows) == 500
    for r in rows:
        if r["scale"] and r["scale"] > 0:
            assert r["max_abs_err"] <= r["scale"] / 254 + 1e-6
            assert r["cos_q"] > 0.999


def test_quantized_recall_bounds(spark, tables):
    from dataops.similarity import quantized_recall

    emb = tables["embeddings"]
    from pyspark.sql import functions as F
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    row = quantized_recall(emb, query, k=10).collect()[0]
    assert row["k"] == 10 and 0 <= row["n_overlap"] <= 10
    # int8 keeps cosine to ~1e-4 on these vectors; top-10 should survive
    assert row["recall"] >= 0.9
