"""Dedup-seam regression guard: every fuzzy-family consumer must produce
IDENTICAL candidate/verified pairs for the same (n_hashes, bands,
shingle_n, threshold, backend) — the round-8/9 refactors routed them all
through the shared _shingle_projection/_sig_from_shingles/_bands_from_sig
seams, and a future drift in any one consumer's plumbing (a different
shingle base, a band-count mismatch, a double-hash) would silently change
recall rather than fail. This pins the seams to one truth:

  fuzzy_pairs == fuzzy_join(self) == split_leakage_report's pair universe
  == the python replay, and dedup_fuzzy / incremental_fuzzy_dedup(single
  batch) agree on the connected-component survivors of those pairs.
"""

from __future__ import annotations

import hashlib
import random

import pytest

PARAMS = dict(n_hashes=16, bands=8, shingle_n=3, threshold=0.5)


def _mk_corpus(seed: int, n_base: int = 14):
    """Deterministic corpus with real near-dup clusters: each base doc has
    0-2 mutated twins (word-level edits), plus unique filler docs."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    did = 0
    for b in range(n_base):
        words = [rng.choice(vocab) for _ in range(rng.randint(12, 24))]
        rows.append((did, " ".join(words)))
        did += 1
        for _ in range(rng.randint(0, 2)):
            tw = list(words)
            for _ in range(rng.randint(1, 2)):  # 1-2 word substitutions
                tw[rng.randrange(len(tw))] = rng.choice(vocab)
            rows.append((did, " ".join(tw)))
            did += 1
    for _ in range(6):  # unique fillers
        rows.append(
            (did, " ".join(rng.choice(vocab) for _ in range(30)) + f" uniq{did}")
        )
        did += 1
    return rows


def _shingles(text: str, n: int) -> set:
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _python_verified_pairs(rows, n_hashes, bands, shingle_n, threshold):
    """Independent replay of the LSH pipeline: md5 shingle hashes → minhash
    via the same per-slot arithmetic the Spark fold uses → banded buckets →
    true-Jaccard verify. Must track dataops.dedup exactly."""
    P = (1 << 31) - 1  # MINHASH_PRIME

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    sh = {i: _shingles(t, shingle_n) for i, t in rows}
    sigs = {}
    for i, grams in sh.items():
        hs = [h64(g) for g in grams] or [0]
        # the exact _minhash_from_hashes family: a_k=2k+1, b_k=k^2+k+41
        sigs[i] = tuple(
            min(((2 * k + 1) * a + k * k + k + 41) % P for a in hs)
            for k in range(n_hashes)
        )
    rows_per_band = n_hashes // bands
    buckets = {}
    for i, sig in sigs.items():
        for b in range(bands):
            key = (b, hash(sig[b * rows_per_band : (b + 1) * rows_per_band]))
            buckets.setdefault(key, []).append(i)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    out = {}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        j = inter / union if union else 0.0
        if j >= threshold:
            out[(a, b)] = j
    return out


@pytest.mark.parametrize("seed", range(3))
def test_fuzzy_family_shares_one_pair_universe(spark, tmp_path, seed):
    from bio2bel_spark.catalog import Catalog
    from dataops.dedup import (
        dedup_fuzzy,
        fuzzy_join,
        fuzzy_pairs,
        incremental_fuzzy_dedup,
        split_leakage_report,
    )

    rows = _mk_corpus(700 + seed)
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    base = {
        (r.id_a, r.id_b): r.jaccard
        for r in fuzzy_pairs(docs, **PARAMS).collect()
    }

    # 0. the python replay is the independent truth for the whole family
    #    (minhash banding replayed outside Spark -> identical pair set)
    replay = _python_verified_pairs(
        rows, PARAMS["n_hashes"], PARAMS["bands"], PARAMS["shingle_n"],
        PARAMS["threshold"],
    )
    assert set(base) == set(replay)
    for k, j in base.items():  # Spark side rounds jaccard to 6dp
        assert abs(j - round(replay[k], 6)) < 1e-9, k

    # 1. self fuzzy_join == fuzzy_pairs (same pairs AND same jaccard)
    right = docs.withColumnRenamed("doc_id", "rid")
    joined = {
        (min(r.lid, r.rid), max(r.lid, r.rid)): r.jaccard
        for r in fuzzy_join(
            docs, right, right_id="rid", left_id="doc_id", **PARAMS
        ).collect()
        if r.lid != r.rid
    }
    assert joined == base

    # 2. split_leakage_report's pair universe is exactly the base pairs
    report = split_leakage_report(
        docs, {"train": 0.8, "eval": 0.2},
        n_hashes=PARAMS["n_hashes"], bands=PARAMS["bands"],
        threshold=PARAMS["threshold"],
    ).collect()
    assert sum(r.n_pairs for r in report) == len(base)

    # 3. dedup_fuzzy clusters == python connected components of base pairs
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in base:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_cluster = {i: find(i) for i, _ in rows}
    got = dedup_fuzzy(docs, **PARAMS).collect()
    assert {r.doc_id: r.cluster for r in got} == want_cluster
    assert {r.doc_id for r in got if r.keep} == set(want_cluster.values())

    # 4. a single incremental batch admits exactly dedup_fuzzy's survivors
    cat = Catalog(spark, str(tmp_path / f"wh{seed}"))
    admitted = incremental_fuzzy_dedup(
        cat, docs, n_hashes=PARAMS["n_hashes"], bands=PARAMS["bands"],
        threshold=PARAMS["threshold"], shingle_n=PARAMS["shingle_n"],
    )
    assert {r.doc_id for r in admitted.collect()} == set(
        want_cluster.values()
    )
