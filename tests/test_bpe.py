"""BPE merge learning vs a pure-python reference implementation."""

from __future__ import annotations

from collections import Counter


def _python_bpe(word_counts, n_merges):
    """Reference BPE (Sennrich et al.): ties break on the pair ascending."""
    state = {tuple(w): n for w, n in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, n in state.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        merges.append((a, b, cnt))
        new_state = {}
        for syms, n in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_state[tuple(out)] = new_state.get(tuple(out), 0) + n
        state = new_state
    return merges


def test_bpe_matches_python_reference(spark):
    from dataops.bpe import bpe_learn_merges

    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "widest wide wide wider",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    counts = Counter(w for t in texts for w in t.split())
    want = _python_bpe(counts, 8)
    got = bpe_learn_merges(docs, n_merges=8)
    assert got == want


def test_bpe_apply_merges_runs(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from dataops.bpe import bpe_apply

    # merge (a, b) must collapse EVERY occurrence in a run: "ababab"
    df = spark.createDataFrame([("ababab",)], "w string")
    out = df.select(bpe_apply("w", [("a", "b", 0)]).alias("t")).collect()
    assert out[0]["t"] == "ab ab ab"
    # chained merges compose left-to-right
    out2 = df.select(
        bpe_apply("w", [("a", "b", 0), ("ab", "ab", 0)]).alias("t")
    ).collect()
    assert out2[0]["t"] == "abab ab"


def test_bpe_encode_roundtrip_and_compression(spark):
    """Train-then-apply round trip: subwords rejoin to the original word
    (lossless), and learned merges never increase the per-word token count
    (encoding with k merges is monotonically no longer than with 0)."""
    from pyspark.sql import functions as F

    from dataops.bpe import bpe_apply, bpe_learn_merges

    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "widest wide wide wider",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = bpe_learn_merges(docs, n_merges=6)
    words = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    rows = words.select(
        "w",
        bpe_apply("w", merges).alias("enc"),
        bpe_apply("w", []).alias("chars"),
    ).collect()
    for r in rows:
        assert r["enc"].replace(" ", "") == r["w"]  # lossless
        assert len(r["enc"].split(" ")) <= len(r["chars"].split(" "))
    # the corpus' most frequent pair is merged everywhere: 'lo' must be a
    # single learned symbol prefix in every 'low*' encoding
    first = merges[0][0] + merges[0][1]
    assert any(first in r["enc"].split(" ")[0] for r in rows)
