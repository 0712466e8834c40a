"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference extensions (SURVEY §7.2 phase 6): exact dedup, MinHash+LSH,
SimHash, and n-gram Jaccard near-dup detection over a documents table.

Design for 100 TB:

* all hashing is **portable** (integer from an md5 prefix) so results are
  reproducible across engines — this also makes every operator here
  oracle-checkable against DuckDB bit-for-bit;
* MinHash signatures are computed per-row with higher-order functions
  (``transform``/``aggregate``) — no explode of (doc × shingle × permutation),
  so the pre-LSH stage is map-only;
* LSH banding turns the quadratic near-dup problem into an equi-join on
  (band, band-hash) — the only shuffle; AQE handles hot buckets (boilerplate
  text) and the ``max_bucket`` guard drops degenerate buckets outright;
* candidate verification joins back to shingle sets and filters on true
  Jaccard, so LSH is a recall knob, never a correctness knob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1: modulus for the minhash permutation family
MINHASH_PRIME = (1 << 31) - 1


def normalize_text(col) -> Column:
    """Canonical text form for exact dedup: lowercase + collapsed whitespace."""
    col = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _hasher(backend: str):
    """String → nonnegative 32-bit-range long hash, by backend.

    * ``md5`` (default): first 8 hex chars of md5 — portable across engines
      (DuckDB: ``('0x' || substr(md5(x),1,8))::BIGINT``), the foundation of
      the DuckDB oracle checks. Cryptographic md5 is ~an order of magnitude
      more expensive than needed for dedup.
    * ``xxhash64``: Spark's built-in non-cryptographic hash folded into the
      same nonneg 32-bit range (``pmod`` keeps products inside long range in
      the minhash permutations). The production speed tier — same operator
      shapes, no oracle parity.
    """
    if backend == "md5":
        return lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    if backend == "xxhash64":
        return lambda c: F.pmod(F.xxhash64(c), F.lit(1 << 32)).cast("long")
    raise ValueError(f"unknown hash backend {backend!r} (md5 | xxhash64)")


def portable_hash(col, backend: str = "md5") -> Column:
    """Deterministic 32-bit-range integer hash of a string column."""
    col = F.col(col) if isinstance(col, str) else col
    return _hasher(backend)(col)


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy: one row per duplicated normalized text
    with the kept (minimum) id, the duplicate count, and the dropped ids."""
    return (
        docs.select(F.col(id_col), normalize_text(text_col).alias("__norm"))
        .groupBy("__norm")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("all_ids"),
        )
        .filter(F.col("n_copies") > 1)
        .drop("__norm")
    )


def drop_exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The dedup'd corpus: keeps the min-id representative per text."""
    w = docs.select(F.col(id_col), normalize_text(text_col).alias("__norm"))
    keep = w.groupBy("__norm").agg(F.min(id_col).alias(id_col))
    return docs.join(keep.select(id_col), id_col, "left_semi")


def incremental_dedup(
    catalog,
    new_docs: DataFrame,
    seen_table: str = "dedup_seen_hashes",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW batch against the full historical corpus without
    rescanning it: the catalog keeps a ``(text_hash)`` table of everything
    ever admitted; the batch is deduped within itself (min-id survivor),
    anti-joined against history, and the surviving hashes are appended.

    This is the production crawl-snapshot shape — each increment costs
    O(batch + history-index), not O(corpus). The hash table is one long per
    distinct historical document; at 100 TB of text that index is ~0.1% of
    corpus size and partitions like any other table. Exactly-once admission
    per hash holds as long as increments are applied serially (the same
    contract as the reference's upsert, A7).

    Returns the admitted (new-unique) rows of ``new_docs``.
    """
    h = F.xxhash64(normalize_text(text_col)).alias("text_hash")
    batch = new_docs.withColumn("text_hash", h)
    # within-batch survivors: min id per hash
    keep = batch.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    survivors = batch.join(
        keep, ["text_hash", id_col], "left_semi"
    )
    if catalog.table_exists(seen_table):
        seen = catalog.read_table(seen_table)
        survivors = survivors.join(seen, "text_hash", "left_anti")
    # truncate lineage BEFORE appending: a persist() is not enough — writing
    # to the seen-table path invalidates caches that scan it (recache-by-
    # path), and the re-executed plan would read its own append and admit
    # nothing. localCheckpoint detaches the result from the source entirely.
    survivors = survivors.localCheckpoint(eager=True)
    catalog.write_table(
        survivors.select("text_hash").distinct(), seen_table, mode="append"
    )
    return survivors.drop("text_hash")


def word_shingles(col, n: int = 3) -> Column:
    """Word n-grams of the normalized text as an array<string>."""
    words = F.split(normalize_text(col), " ")
    k = F.size(words) - (n - 1)
    return F.when(k >= 1, F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )).otherwise(F.array(normalize_text(col)))


def shingle_hashes(col, n: int = 3, backend: str = "md5") -> Column:
    """Distinct portable hashes of the word n-grams."""
    return F.array_distinct(F.transform(word_shingles(col, n), _hasher(backend)))


def minhash_signature(
    col, n_hashes: int = 16, shingle_n: int = 3, backend: str = "md5"
) -> Column:
    """MinHash signature: for permutation i, min over shingles of
    ``(a_i * h + b_i) mod P`` with a deterministic (a_i, b_i) family
    (``a_i = 2i+1`` odd, ``b_i = i²+i+41``).

    Shaped as ONE ``aggregate`` pass over the shingle-hash array carrying an
    ``n_hashes``-wide running-min vector. The obvious nesting —
    ``transform(perms, i -> array_min(transform(hashes, ...)))`` — embeds the
    md5 shingle pipeline inside the outer lambda, and Catalyst re-evaluates
    it once per permutation (16× the md5 work; measured 6× slower end-to-end
    at sf0.1). Single-pass keeps the hash array evaluated exactly once per
    row regardless of ``n_hashes``.
    """
    raw = F.col(col) if isinstance(col, str) else col
    hashes = shingle_hashes(col, shingle_n, backend)
    # null text → null signature (otherwise least() would silently skip the
    # null hash and return the init vector — a fake "empty doc" signature)
    return F.when(raw.isNotNull(), _minhash_from_hashes(hashes, n_hashes))


def _minhash_from_hashes(hashes: Column, n_hashes: int) -> Column:
    """The :func:`minhash_signature` fold over an ALREADY-COMPUTED shingle
    hash array — the reuse seam that lets a pipeline computing several
    signature consumers (banding, estimation, verification) pay for the
    md5 shingle pass exactly once."""
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), n_hashes)
    idx = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda m, i: F.least(
                m, ((2 * i + 1) * h + i * i + i + 41) % F.lit(MINHASH_PRIME)
            ),
        ),
    )


def _shingle_projection(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    backend: str,
) -> DataFrame:
    """Persisted ``(id, __tn, __sh)`` shingle-hash table — the ONE md5
    pass every fuzzy-pipeline stage (signature fold, banding, verify)
    shares. ``__tn`` records text-is-null so the signature fold can keep
    the null-doc guard without touching the text again."""
    from bio2bel_spark.operators.caching import tracked_persist

    return docs.select(
        F.col(id_col),
        F.col(text_col).isNull().alias("__tn"),
        shingle_hashes(text_col, shingle_n, backend).alias("__sh"),
    ).transform(tracked_persist)


def _sig_from_shingles(
    sh: DataFrame, id_col: str, n_hashes: int
) -> DataFrame:
    """``(id, __sig)`` from a :func:`_shingle_projection` table — the
    arithmetic minhash fold only, no re-hash of text. Null text gets a
    null signature (same guard as :func:`minhash_signature` — the fold
    would otherwise emit the fake all-init vector)."""
    return sh.select(
        F.col(id_col),
        F.when(
            ~F.col("__tn"), _minhash_from_hashes(F.col("__sh"), n_hashes)
        ).alias("__sig"),
    )


def _bucket_cap(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Drop banding rows in buckets larger than ``max_bucket`` — the hub
    guard that bounds every LSH pair join (a bucket contributes at most
    ``max_bucket²`` candidates regardless of corpus size)."""
    counts = (
        banded.groupBy("band", "bucket")
        .count()
        .filter(F.col("count") <= max_bucket)
    )
    return banded.join(
        counts.select("band", "bucket"), ["band", "bucket"], "left_semi"
    )


def _verify_pairs(
    cand: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    a_key: str,
    b_key: str,
    threshold: float,
) -> DataFrame:
    """True n-gram Jaccard over candidate pairs against two shingle
    tables ``(a_key, __sh_a)`` / ``(b_key, __sh_b)`` — the shared verify
    tail of the self-dedup and cross-table (record-linkage) pipelines."""
    return (
        cand.join(sh_a, a_key)
        .join(sh_b, b_key)
        .withColumn("__inter", F.size(F.array_intersect("__sh_a", "__sh_b")))
        .withColumn(
            "jaccard",
            F.col("__inter")
            / (F.size("__sh_a") + F.size("__sh_b") - F.col("__inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a_key, b_key, F.round("jaccard", 6).alias("jaccard"))
    )


def _banded_buckets(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    bands: int,
    backend: str,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) LSH banding rows, persisted.

    The banded table feeds several consumers (bucket counts, semi-joins,
    both sides of a pair join) — without persistence each one would re-run
    the whole minhash pipeline. It is tiny relative to the corpus (bands ×
    one hash per doc), so MEMORY_AND_DISK is safe at any scale.
    """
    sig = docs.select(
        F.col(id_col),
        minhash_signature(
            text_col, n_hashes, shingle_n=shingle_n, backend=backend
        ).alias("__sig"),
    )
    return _bands_from_sig(sig, id_col, n_hashes, bands)


def _bands_from_sig(
    sig_df: DataFrame, id_col: str, n_hashes: int, bands: int
) -> DataFrame:
    """Banding rows from an already-computed signature table
    ``(id, __sig)`` — the reuse seam for pipelines that hold the
    signature for other purposes (estimation, a persistent index)."""
    from bio2bel_spark.operators.caching import tracked_persist

    rows_per_band = n_hashes // bands
    banded = sig_df.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(F.slice("__sig", b * rows_per_band + 1, rows_per_band), ",")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    return banded.transform(tracked_persist)


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 1000,
    backend: str = "md5",
    banded: "DataFrame | None" = None,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b).

    Signature is split into ``bands`` bands of ``n_hashes/bands`` rows; docs
    sharing any band hash are candidates. ``max_bucket`` drops pathological
    buckets (e.g. empty/boilerplate docs) that would otherwise produce a
    quadratic blowup — at 100 TB this guard is what keeps the join bounded.
    Pass ``banded`` (a precomputed ``(id, band, bucket)`` table) to skip
    the signature pass when the caller already holds one. ``shingle_n``
    must match the verify stage's so candidate generation and
    verification band/score the SAME gram base.
    """
    if banded is None:
        banded = _banded_buckets(
            docs, text_col, id_col, n_hashes, bands, backend,
            shingle_n=shingle_n,
        )
    bounded = _bucket_cap(banded, max_bucket)
    a = bounded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    b = bounded.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    backend: str = "md5",
    shingles: "DataFrame | None" = None,
) -> DataFrame:
    """True n-gram Jaccard over candidate pairs (LSH is recall-only).
    Pass ``shingles`` (a precomputed persisted ``(id, __sh)`` table) to
    skip the md5 shingle pass when the caller already holds one."""
    from bio2bel_spark.operators.caching import tracked_persist

    sh = shingles if shingles is not None else docs.select(
        F.col(id_col), shingle_hashes(text_col, shingle_n, backend).alias("__sh")
    ).transform(tracked_persist)  # joined from both pair sides
    return _verify_pairs(
        candidates,
        sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "__sh_a"),
        sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "__sh_b"),
        "id_a", "id_b", threshold,
    )


def fuzzy_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    backend: str = "md5",
    banded: "DataFrame | None" = None,
    shingles: "DataFrame | None" = None,
) -> DataFrame:
    """Verified near-duplicate pairs ``(id_a, id_b, jaccard)`` — the
    shared LSH-candidates → true-Jaccard-verify head of every fuzzy
    pipeline (cluster dedup, leakage audit, recall report).

    When the caller holds neither seam, ONE shared shingle projection
    feeds both the signature/banding fold and the verify join, so the
    corpus text is md5-shingled exactly once (the naive composition pays
    the pass twice — once inside the minhash, once for the verify)."""
    if banded is None and shingles is None:
        sh_full = _shingle_projection(
            docs, text_col, id_col, shingle_n, backend
        )
        shingles = sh_full.select(id_col, "__sh")
        banded = _bands_from_sig(
            _sig_from_shingles(sh_full, id_col, n_hashes),
            id_col, n_hashes, bands,
        )
    return jaccard_verify(
        lsh_candidate_pairs(
            docs, text_col, id_col, n_hashes, bands, max_bucket, backend,
            banded=banded, shingle_n=shingle_n,
        ),
        docs,
        text_col,
        id_col,
        shingle_n,
        threshold,
        backend,
        shingles=shingles,
    )


def dedup_fuzzy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    backend: str = "md5",
    max_iterations: int = 50,
    score_col: "str | None" = None,
    banded: "DataFrame | None" = None,
    shingles: "DataFrame | None" = None,
) -> DataFrame:
    """End-to-end fuzzy dedup: cluster near-duplicates and pick one survivor
    per cluster.

    Pairwise near-dup detection (``lsh_candidate_pairs`` → ``jaccard_verify``)
    is not yet dedup: A~B and B~C must collapse to ONE kept doc even when A
    and C never pair directly. This runs connected components (min-label
    propagation, :func:`bio2bel_spark.operators.graph.min_label_components`)
    over the verified pairs, so the transitive closure of near-duplicates
    forms a cluster and the minimum ``id_col`` in each cluster survives.

    Returns one row per input doc: ``(id_col, cluster, keep)`` where
    ``cluster`` is the min doc id of the doc's near-dup cluster (its own id
    for singletons) and ``keep`` marks the survivor.

    Survivorship: by default the minimum ``id_col`` per cluster survives
    (cheapest — no extra shuffle, keep is a comparison against the cluster
    label). With ``score_col`` the HIGHEST-scoring doc per cluster survives
    instead (ties: lower id), the curation-grade rule — keep the longest /
    best-quality version of a near-duplicated page, not whichever crawled
    first. Costs one additional window shuffle keyed by cluster.

    Scale shape: pairs are bounded by the LSH ``max_bucket`` guard; component
    iterations are O(cluster diameter) — near-dup clusters are shallow (dups
    of a common original), so this converges in a handful of rounds. The
    final join back to ``docs`` is on the doc id — the natural partitioning
    key of the corpus.
    """
    from bio2bel_spark.operators.graph import min_label_components

    pairs = fuzzy_pairs(
        docs, text_col, id_col, n_hashes, bands, shingle_n, threshold,
        max_bucket, backend, banded=banded, shingles=shingles,
    )
    comp = min_label_components(
        pairs, src="id_a", dst="id_b", max_iterations=max_iterations
    )
    base_cols = [id_col] if score_col is None else [id_col, score_col]
    labeled = (
        docs.select(*base_cols)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("cluster", F.coalesce("component", F.col(id_col)))
    )
    if score_col is None:
        return labeled.select(
            id_col,
            "cluster",
            (F.col("cluster") == F.col(id_col)).alias("keep"),
        )
    from pyspark.sql import Window

    # explicit null placement: engines disagree on default null order
    # under DESC, and a null score must never beat a real one
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return labeled.select(
        id_col,
        "cluster",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def drop_fuzzy_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Surviving corpus after cluster-level fuzzy dedup (full doc rows)."""
    keep = dedup_fuzzy(docs, text_col, id_col, **kwargs).filter("keep")
    return docs.join(keep.select(id_col), id_col, "left_semi")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    backend: str = "md5",
) -> DataFrame:
    """Similarity join ACROSS two tables (record linkage / entity
    resolution): pairs ``(lid, rid, jaccard)`` with n-gram Jaccard ≥
    ``threshold``.

    Same LSH machinery as :func:`lsh_candidate_pairs`, but the band-bucket
    equi-join runs left-vs-right instead of self — the scalable form of the
    grounding problem (reference ``sources/hmdd.py:34-75`` matches free text
    to a vocabulary string-by-string at the driver; this links two whole
    tables in one bounded join). ``max_bucket`` caps each side's bucket
    population, so a single bucket contributes at most ``max_bucket²``
    candidate pairs regardless of corpus size. Candidates are verified with
    true Jaccard — LSH only costs recall, never precision. Each side is
    md5-shingled exactly ONCE (the shared :func:`_shingle_projection`
    feeds its signature fold AND its verify join).
    """
    def _side(df, idc):
        sh = _shingle_projection(df, text_col, idc, shingle_n, backend)
        banded = _bands_from_sig(
            _sig_from_shingles(sh, idc, n_hashes), idc, n_hashes, bands
        )
        return sh.select(idc, "__sh"), _bucket_cap(banded, max_bucket)

    shl, bl = _side(left, left_id)
    shr, br = _side(right, right_id)
    cand = (
        bl.select("band", "bucket", F.col(left_id).alias("lid"))
        .join(
            br.select("band", "bucket", F.col(right_id).alias("rid")),
            ["band", "bucket"],
        )
        .select("lid", "rid")
        .distinct()
    )
    return _verify_pairs(
        cand,
        shl.withColumnRenamed(left_id, "lid").withColumnRenamed("__sh", "__sh_a"),
        shr.withColumnRenamed(right_id, "rid").withColumnRenamed("__sh", "__sh_b"),
        "lid", "rid", threshold,
    )


def decontaminate(
    corpus: DataFrame,
    benchmarks: DataFrame,
    text_col: str = "text",
    corpus_id: str = "doc_id",
    benchmark_id: str = "doc_id",
    threshold: float = 0.5,
    **fuzzy_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Benchmark decontamination: drop corpus documents that n-gram-overlap
    any benchmark/eval document (training-data hygiene for LLM corpora).

    Returns ``(clean, contaminated)`` — the surviving corpus and the audit
    side-output ``(lid, rid, jaccard)`` naming each hit. Built on
    :func:`fuzzy_join`, so the match is LSH-bucketed (no corpus×benchmark
    quadratic scan) and verified with true Jaccard before anything is
    dropped. The left-anti removal keys on the corpus id only, so one
    benchmark hit removes the document everywhere.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    hits = fuzzy_join(
        corpus,
        benchmarks,
        text_col=text_col,
        left_id=corpus_id,
        right_id=benchmark_id,
        threshold=threshold,
        **fuzzy_kwargs,
    )
    # the anti-join (often a broadcast) and the returned audit DataFrame are
    # separate consumers of the whole fuzzy pipeline — persist the tiny
    # hit-id set so the LSH+verify plan runs once, not once per consumer
    hit_ids = (
        hits.select(F.col("lid").alias(corpus_id))
        .distinct()
        .transform(tracked_persist)
    )
    clean = corpus.join(hit_ids, corpus_id, "left_anti")
    return clean, hits


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    backend: str = "md5",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted index.

    Explode shingles → self-join on shingle → count shared per pair →
    Jaccard from set sizes. Exact (no LSH recall loss); quadratic only
    within shingle buckets, so it is the *exact* baseline the LSH path is
    validated against.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    # consumed three times (both join sides + sizes) — persist the exploded
    # inverted index instead of re-hashing the corpus per consumer
    sh = docs.select(
        F.col(id_col),
        F.explode(shingle_hashes(text_col, shingle_n, backend)).alias("h"),
    ).transform(tracked_persist)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.alias("x")
        .join(sh.alias("y"), "h")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .groupBy(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pairs.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b"), "id_b")
        .withColumn("jaccard", F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(col, bits: int = 32, token_sep: str = " ", backend: str = "md5") -> Column:
    """SimHash fingerprint: per bit j, sign of Σ_tokens (±1 by bit j of the
    token hash); fingerprint = Σ bit_j << j.

    One ``aggregate`` pass over the token-hash array carrying a ``bits``-wide
    counter vector (same single-pass rationale as
    :func:`minhash_signature` — nesting the hash array inside a per-bit
    lambda makes Catalyst recompute the md5 pipeline ``bits`` times).
    """
    col = F.col(col) if isinstance(col, str) else col
    hashes = F.transform(F.split(normalize_text(col), token_sep), _hasher(backend))
    # bit j of h = (h >>> j) & 1. The python wrappers for shiftleft /
    # shiftrightunsigned only accept literal shift amounts, but the
    # underlying Catalyst expressions are plain binary ops — call_function
    # reaches them with a lambda-bound column shift, replacing the old
    # pow(2.0, j) double-exponentiation + double-division per token per bit.
    sru = lambda h, j: F.call_function(  # noqa: E731
        "shiftrightunsigned", h.cast("long"), j.cast("int")
    )
    shl1 = lambda j: F.call_function(  # noqa: E731
        "shiftleft", F.lit(1).cast("long"), j.cast("int")
    )
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            idx,
            # +1 when bit set, -1 when clear: c + 2*bit - 1, branch-free
            lambda c, j: c - 1 + 2 * (sru(h, j) % 2),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            idx,
            lambda c, j: F.when(c > 0, shl1(j)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    backend: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: split the fingerprint into ``max_hamming + 1`` byte
    bands — any pair within the distance budget must agree on ≥1 band, so the
    candidate join is an equi-join, then verified with exact popcount.
    Delegates to :func:`hamming_near_pairs` (band keys are identical for
    these nonnegative 32-bit fingerprints).
    """
    fp = docs.select(
        F.col(id_col), simhash(text_col, bits, backend=backend).alias("__fp")
    )
    return hamming_near_pairs(
        fp, fp_col="__fp", id_col=id_col, bits=bits, max_hamming=max_hamming
    )


def hamming_near_pairs(
    fps: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup id pairs among integer fingerprints with hamming distance
    ≤ ``max_hamming`` — the shared pigeonhole core for SimHash text
    fingerprints and image perceptual hashes.

    The fingerprint splits into ``max_hamming + 1`` bit bands that PARTITION
    all ``bits`` (the last band absorbs any remainder — un-banded leftover
    bits would silently lose recall for pairs differing only there); a pair
    within the distance budget must agree exactly on ≥1 band (pigeonhole),
    so candidates come from an equi-join on ``(band, key)`` and verify with
    exact ``bit_count(xor)``. Band keys use ``shiftrightunsigned`` + mask —
    EXACT for all 64 bits including a set sign bit, where a float-division
    band key would shave everything past the 53-bit mantissa.
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands

    def _band_key(i: int) -> Column:
        shifted = F.shiftrightunsigned(F.col(fp_col), i * band_bits)
        width = bits - i * band_bits if i == n_bands - 1 else band_bits
        if width >= 64:  # full-width band: the mask literal would overflow
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    from bio2bel_spark.operators.caching import tracked_persist

    banded = fps.select(
        F.col(id_col),
        F.col(fp_col).alias("__fp"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), _band_key(i).alias("key"))
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "__fp", "bb.band", "bb.key").transform(tracked_persist)
    a = banded.select(
        "band", "key", F.col(id_col).alias("id_a"), F.col("__fp").alias("fp_a")
    )
    b = banded.select(
        "band", "key", F.col(id_col).alias("id_b"), F.col("__fp").alias("fp_b")
    )
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def span_positions(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    backend: str = "md5",
) -> DataFrame:
    """``(id, pos, h)``: the portable hash of every overlapping ``n``-word
    span of the normalized text, with its 0-based word position.

    Map-only (one ``posexplode`` per document, fan-out = word count); spans
    keep their positions — unlike :func:`shingle_hashes` there is no
    ``array_distinct``, because span-level dedup needs to know WHERE a
    repeated span sits, not just that it exists. Documents shorter than
    ``n`` words emit no rows (``posexplode`` of NULL).
    """
    words = F.split(normalize_text(text_col), " ")
    hasher = _hasher(backend)
    spans = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: hasher(F.array_join(F.slice(words, i + 1, n), " ")),
        ),
    )
    return docs.select(F.col(id_col), F.posexplode(spans).alias("pos", "h"))


def _duplicate_positions(
    docs: DataFrame,
    n: int,
    min_docs: int,
    text_col: str,
    id_col: str,
    backend: str,
) -> DataFrame:
    """``(id, pos)`` of every span whose hash occurs in >= ``min_docs``
    distinct documents — the shared core of the profile and scrub stages.

    One shuffle to count distinct docs per span hash (map-side combinable on
    ``(h, id)``), one semi-join back. The frequent-span set is tiny relative
    to the corpus (it IS the duplicated matter), so AQE broadcasts it.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    # consumed twice (frequency count + join-back side) — persist the
    # exploded positions so the per-span hash pipeline runs once
    pos = span_positions(docs, n, text_col, id_col, backend).transform(
        tracked_persist
    )
    frequent = (
        pos.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
    )
    return pos.join(frequent.select("h"), "h", "left_semi").select(
        id_col, "pos", "h"
    )


def duplicate_span_profile(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    backend: str = "md5",
) -> DataFrame:
    """Per-document exact duplicate-span profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": repeated
    ``n``-token substrings across documents are the dedup unit, not whole
    documents).

    Returns one row per input document: ``(id, n_tokens, n_spans,
    n_dup_spans, dup_tokens, dup_token_frac)`` where ``dup_tokens`` is the
    size of the UNION of all duplicated span intervals ``[pos, pos+n)`` —
    overlapping repeated spans are not double-counted. The union is computed
    with a running-max window over span end positions (per doc, ordered by
    ``pos``), so the whole operator is two shuffles: the span-frequency
    count and the per-doc aggregation; no per-pair work anywhere.
    """
    dup = _duplicate_positions(
        docs, n, min_docs, text_col, id_col, backend
    ).select(id_col, "pos")
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + n).over(w)
    contrib = F.greatest(
        F.lit(0),
        F.col("pos") + n - F.greatest(F.col("pos"), F.coalesce(prev_end, F.col("pos"))),
    )
    per_doc = (
        dup.withColumn("__c", contrib)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum("__c").alias("dup_tokens"),
        )
    )
    n_tokens = F.size(F.split(normalize_text(text_col), " "))
    base = docs.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        F.greatest(F.lit(0), n_tokens - (n - 1)).cast("long").alias("n_spans"),
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_spans",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_token_frac"),
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    backend: str = "md5",
    keep_first: bool = False,
) -> DataFrame:
    """Cut cross-document duplicated ``n``-token spans out of each document
    and reassemble the survivors in order (the destructive stage of
    substring-level dedup; :func:`duplicate_span_profile` is its audit twin).

    ``keep_first=True`` switches to the Lee et al. convention of keeping
    ONE canonical occurrence per duplicated span — the occurrence at the
    smallest ``(doc, position)`` (a per-span-hash rank window) — and
    cutting only the rest; a token then survives unless a NON-canonical
    duplicated span covers it.

    With the default ``keep_first=False``, a word survives iff NO
    duplicated span covers it. Covered word indices
    come from exploding each duplicated span into its ``n`` positions
    (bounded fan-out ``n``) + distinct; survivors are the anti-join of word
    positions against that set, reassembled with the same bounded per-doc
    sort as C4 line dedup. Output text is the NORMALIZED token stream
    (lowercased, whitespace-collapsed) — span identity is defined on
    normalized tokens, so the cut has to operate there too.

    Returns ``(id, text, n_kept, n_dropped)``, one row per input document
    (a fully-duplicated document survives with empty text).
    """
    dup = _duplicate_positions(docs, n, min_docs, text_col, id_col, backend)
    if keep_first:
        from pyspark.sql import Window

        w = Window.partitionBy("h").orderBy(F.col(id_col).asc(), F.col("pos").asc())
        dup = (
            dup.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") > 1)
            .drop("__rk")
        )
    covered = dup.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("widx"),
    ).distinct()
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias("widx", "word"),
    )
    kept = words.join(covered, [id_col, "widx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("widx", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("__clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_tokens = F.size(F.split(normalize_text(text_col), " "))
    return (
        docs.select(F.col(id_col), n_tokens.cast("long").alias("__total"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__clean", F.lit("")).alias(text_col),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("__total") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def lsh_recall_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 8,
    backend: str = "md5",
) -> DataFrame:
    """Measured candidate-tier recall of the MinHash-LSH index against the
    exact n-gram-Jaccard truth: ONE row ``(n_true_pairs, n_candidates,
    n_hit, recall)``.

    This is the operator that turns "LSH is a recall knob, never a
    correctness knob" from a docstring claim into a monitored number — run
    it on a sample whenever the banding parameters change. Composes the
    existing exact inverted-index baseline and the banded candidate
    generator; the comparison itself is one join + one aggregation.
    """
    truth = ngram_jaccard_pairs(
        docs, text_col, id_col, shingle_n, threshold, backend
    ).select("id_a", "id_b")
    cand = lsh_candidate_pairs(
        docs, text_col, id_col, n_hashes=n_hashes, bands=bands,
        backend=backend, shingle_n=shingle_n,
    ).select("id_a", "id_b")
    from bio2bel_spark.operators.caching import tracked_persist

    truth = truth.transform(tracked_persist)
    cand = cand.transform(tracked_persist)
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    n_true = truth.count()
    n_cand = cand.count()
    n_hit = hit.count()
    return docs.sparkSession.createDataFrame(
        [
            (
                n_true,
                n_cand,
                n_hit,
                round(n_hit / n_true, 6) if n_true else 1.0,
            )
        ],
        "n_true_pairs long, n_candidates long, n_hit long, recall double",
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 4,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    backend: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
    MOSS algorithm): hash every ``k``-gram, then keep the MINIMUM hash of
    each sliding window of ``window`` consecutive gram hashes — the
    guarantee is that any shared substring of at least ``k + window - 1``
    tokens yields at least one shared fingerprint, at ~``2/(window+1)`` of
    the density of full k-gram shingling. Output: ``(id, fp)`` rows, one
    per DISTINCT selected fingerprint per document — join on ``fp`` for
    local (substring-level) overlap candidates where MinHash/SimHash only
    answer whole-document similarity.

    Documents shorter than ``k`` tokens emit nothing; documents with fewer
    than ``window`` grams emit the single global-minimum fingerprint (the
    standard short-document degeneration).

    Scale shape: the entire gram-hash + window-min pipeline is
    higher-order array functions inside one narrow projection — NO explode
    of the gram stream, no shuffle at all until the caller aggregates; the
    only row expansion is the final explode of the (winnowed, distinct,
    ≈ ``2·n/window``-sized) fingerprint set. Memory per row is the token
    array — the same envelope as the MinHash signature operator.

    The window-min selection is ``transform(windows, j ->
    array_min(slice(hashes, j, w)))`` over a gram-hash array that has been
    MATERIALIZED as a bound attribute behind a Generate barrier
    (``explode(array(hs))`` — fan-out 1, no shuffle). The barrier is what
    makes that formulation safe: written inline, Catalyst's projection
    collapse substitutes the whole md5 gram pipeline into the per-window
    lambda and re-evaluates it once per window position — O(n²) md5 work
    (measured: 223 s vs ~1 s at sf0.1). Behind the barrier the hashes are
    evaluated exactly once per row and each window costs one O(w) slice.

    (Round 14: this replaces an ``aggregate`` ring-buffer fold that was
    output-identical but appended each window minimum with ``concat`` —
    an O(grams²) array-copy per document plus per-element struct churn;
    the barrier+transform form measured 9.8× faster at sf0.1, 7.44 s →
    0.76 s on the augmented corpus, byte-identical output.)
    """
    h = _hasher(backend)
    toks = F.split(normalize_text(text_col), " ")
    base = docs.select(
        F.col(id_col),
        toks.alias("__toks"),
        (F.size(toks) - k + 1).alias("__ng"),
    ).where(F.col("__ng") >= 1)
    # greatest(__ng, 1): the optimizer may push an inferred size(fps)>0
    # filter BELOW the __ng >= 1 guard (InferFiltersFromGenerate), so the
    # gram transform must evaluate safely on sub-k rows too — they produce
    # one junk gram and are then dropped by the guard as before
    grams = base.select(
        id_col,
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.col("__ng"), F.lit(1))),
            lambda i: h(F.concat_ws(" ", F.slice(F.col("__toks"), i, k))),
        ).alias("__hs"),
    )
    # Generate barrier: __hs becomes a bound attribute of a real child
    # operator, so the references below cannot be collapse-inlined into
    # the md5 gram pipeline (fan-out 1, no shuffle, no materialization)
    bound = grams.select(id_col, F.explode(F.array("__hs")).alias("__hs"))
    n = F.size(F.col("__hs"))
    # short documents (fewer grams than the window) degenerate to the
    # single global minimum — same as a ring buffer that never fills
    mins = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - window + 1),
            lambda j: F.array_min(F.slice(F.col("__hs"), j, window)),
        ),
    ).otherwise(F.array(F.array_min(F.col("__hs"))))
    fps = bound.select(id_col, F.array_distinct(mins).alias("__fps"))
    return fps.select(F.col(id_col), F.explode("__fps").alias("fp"))


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    backend: str = "md5",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Exact n-gram contamination scan (the GPT-3 appendix-C style
    benchmark-overlap screen): for every training document, how many of
    its distinct ``n``-gram hashes also occur ANYWHERE in the benchmark
    corpus — ``(id, n_grams, n_hits, hit_frac)``. Unlike the fuzzy
    :func:`decontaminate` (whole-doc LSH), this catches verbatim
    benchmark QUOTES embedded inside otherwise-novel documents.

    Scale shape: each side's gram hashes come from the same no-explode
    array HOF pipeline as :func:`winnowing_fingerprints` (one projection,
    ``array_distinct`` before the explode so a document contributes each
    gram once); the benchmark gram set — distinct, usually tiny next to
    the training corpus — broadcasts to the membership join by default,
    so the training gram stream NEVER shuffles. Set
    ``broadcast_bench=False`` for a benchmark too large to broadcast and
    pay one hash-partitioned equi-join instead.
    """
    h = _hasher(backend)

    def grams(df: DataFrame, with_id: bool):
        toks = F.split(normalize_text(text_col), " ")
        base = df.select(
            *( [F.col(id_col)] if with_id else [] ),
            toks.alias("__toks"),
            (F.size(toks) - n + 1).alias("__ng"),
        ).where(F.col("__ng") >= 1)
        # greatest(.., 1): evaluation-order-proof against inferred filters
        # pushed below the __ng guard (see winnowing_fingerprints)
        hs = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.col("__ng"), F.lit(1))),
                lambda i: h(F.concat_ws(" ", F.slice(F.col("__toks"), i, n))),
            )
        )
        return base.select(
            *( [F.col(id_col)] if with_id else [] ), hs.alias("__hs")
        )

    # n_grams comes from counting the exploded rows (the grams are distinct
    # already), NOT from a second size(__hs) reference — a sibling reference
    # would make projection collapse re-evaluate the md5 gram pipeline twice.
    # explode_OUTER, not explode: plain explode makes the optimizer infer a
    # `size(__hs) > 0` filter and push it below the projection (and below any
    # repartition), re-inlining the ENTIRE md5 gram pipeline into a Filter —
    # the corpus pays the gram hash twice, once of them before the data is
    # spread across tasks. The `__ng >= 1` guard already proves __hs is
    # non-null and non-empty, so outer explode emits the identical row set.
    tr = grams(train, True).select(id_col, F.explode_outer("__hs").alias("__h"))
    be = (
        grams(bench, False)
        .select(F.explode_outer("__hs").alias("__h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_bench:
        be = F.broadcast(be)
    return (
        tr.join(be, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
            F.round(
                F.sum(F.coalesce("__hit", F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("hit_frac"),
        )
    )


def lsh_bucket_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    max_bucket: int = 1000,
    backend: str = "md5",
    shingle_n: int = 3,
) -> DataFrame:
    """Observability for the LSH hub guard: ONE summary row —
    ``(n_buckets, n_dropped_buckets, max_bucket_size, n_docs_in_dropped)``
    — showing how much of the banded index a ``max_bucket`` cap excludes
    from the candidate join. The docs in oversized buckets are exactly the
    near-identical boilerplate most likely to be duplicated, so any audit
    built on ``lsh_candidate_pairs`` (contamination, split leakage) should
    run this alongside and either widen ``max_bucket`` or report the gap
    when ``n_dropped_buckets > 0``. Pure grouped count over the banded
    table — no pair join, safe at any scale.
    """
    banded = _banded_buckets(
        docs, text_col, id_col, n_hashes, bands, backend, shingle_n=shingle_n
    )
    counts = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.coalesce(
            F.sum((F.col("sz") > max_bucket).cast("long")), F.lit(0)
        ).cast("long").alias("n_dropped_buckets"),
        F.max("sz").cast("long").alias("max_bucket_size"),
        F.coalesce(
            F.sum(F.when(F.col("sz") > max_bucket, F.col("sz"))), F.lit(0)
        ).cast("long").alias("n_docs_in_dropped"),
    )


def split_leakage_report(
    docs: DataFrame,
    fractions,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    backend: str = "md5",
) -> DataFrame:
    """Train/test contamination audit: near-duplicate pairs (MinHash-LSH
    candidates verified by true Jaccard ≥ ``threshold``) crossed with the
    deterministic :func:`~dataops.sketch.hash_split`
    assignment — ``(split_a, split_b, n_pairs)`` with splits
    order-normalized. Off-diagonal rows ARE the leakage: an eval split
    that shares near-duplicates with train overstates model quality, the
    classic silent benchmark inflation a random split cannot prevent
    (near-dups land on both sides by construction).

    Scale shape: the pair search is the production LSH pipeline
    (banded equi-join, never all-pairs); the split column is a pure hash
    projection; the final rollup touches only the (tiny) verified-pair
    set. Run it BEFORE training, fix leaks by splitting on a
    near-dup-cluster key instead of the raw document id.

    ``max_bucket`` is the hub guard inherited from
    :func:`lsh_candidate_pairs`: buckets larger than it are excluded from
    the pair join, and the excluded docs (boilerplate/near-empty texts)
    are precisely the ones most likely to leak across splits — for an
    AUDIT, widen it as far as the cluster affords, and check
    :func:`lsh_bucket_audit` with the same parameters to see how many
    docs the guard excluded (``n_dropped_buckets > 0`` means this report
    UNDERSTATES contamination).
    """
    from dataops.sketch import split_column

    pairs = fuzzy_pairs(
        docs, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
        bands=bands, threshold=threshold, max_bucket=max_bucket,
        backend=backend,
    )
    splits = docs.select(
        F.col(id_col),
        split_column(
            F.col(id_col).cast("string"), fractions, backend=backend
        ).alias("__split"),
    )
    sa = splits.select(
        F.col(id_col).alias("id_a"), F.col("__split").alias("__sa")
    )
    sb = splits.select(
        F.col(id_col).alias("id_b"), F.col("__split").alias("__sb")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def cluster_split(
    docs: DataFrame,
    fractions,
    text_col: str = "text",
    id_col: str = "doc_id",
    backend: str = "md5",
    **fuzzy_kwargs,
) -> DataFrame:
    """LEAKAGE-FREE train/eval split: hash-split on the near-duplicate
    CLUSTER key instead of the raw document id, so a document and all its
    near-duplicates land on the SAME side by construction — the fix
    :func:`split_leakage_report` prescribes (a random/per-doc split puts
    near-dups on both sides and silently inflates eval scores).

    Clusters come from the production fuzzy-dedup pipeline
    (:func:`dedup_fuzzy` — LSH candidates, exact-Jaccard verify,
    min-label components; forward its parameters via ``fuzzy_kwargs``);
    the split is the deterministic
    :func:`~dataops.sketch.split_column` hash of the
    cluster id, so assignment is engine-portable, append-stable for
    singletons, and reproducible. Returns every input doc with
    ``(cluster, split)`` attached.
    """
    from dataops.sketch import split_column

    clusters = dedup_fuzzy(docs, text_col, id_col, **fuzzy_kwargs)
    return docs.join(clusters.select(id_col, "cluster"), id_col).withColumn(
        "split",
        split_column(F.col("cluster").cast("string"), fractions, backend=backend),
    )


def incremental_fuzzy_dedup(
    catalog,
    new_docs: DataFrame,
    index_table: str = "fuzzy_band_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    backend: str = "md5",
    within_batch_bands: "int | None" = None,
    **dedup_kwargs,
) -> DataFrame:
    """NEAR-duplicate admission for a new batch against the full corpus
    history WITHOUT rescanning it — the fuzzy twin of
    :func:`incremental_dedup`. The catalog keeps an LSH band index of
    every admitted document: ``(doc_id, band, bucket, sig)`` rows, where
    ``sig`` is the MinHash signature. Batch flow:

    1. within-batch cluster dedup (:func:`drop_fuzzy_duplicates`);
    2. batch band rows join the historical index on ``(band, bucket)``;
       colliding pairs verify by MINHASH-ESTIMATED Jaccard (fraction of
       agreeing signature components) ≥ ``threshold`` — historical TEXT
       is never needed, only its ``n_hashes``-long signature;
    3. rejected docs drop; survivors' band+signature rows append.

    Each increment costs O(batch + colliding-index-rows), never O(corpus)
    — the production crawl-snapshot shape. The estimate-based verify has
    MinHash variance (~1/√n_hashes), honest for an admission gate; an
    audit pass over admitted docs can re-verify exactly offline. Same
    serial-increment exactly-once contract as :func:`incremental_dedup`
    — the fuzzy generalization of the reference's incremental-upsert
    guarantee (idempotent re-population against accumulated state,
    ``reference src/bio2bel/manager/namespace_manager.py:262-296``).
    The within-batch dedup inherits ``bands`` so batch-local and
    cross-batch banding share one recall profile by default;
    ``within_batch_bands`` overrides ONLY the within-batch banding —
    index rows always use ``bands`` to stay join-compatible with the
    historical index (a band-count mismatch would silently zero the
    collision join).

    Returns the admitted (new, near-unique) rows of ``new_docs``.
    """
    eff_bands = within_batch_bands if within_batch_bands is not None else bands
    dedup_kwargs["bands"] = eff_bands
    # ONE md5 shingle pass per batch: the shared projection feeds the
    # signature (arithmetic fold), the banding, the within-batch verify,
    # and the index rows — without the seam each consumer would re-hash
    # the batch's text (measured 3x the md5 work per increment)
    shingle_n = dedup_kwargs.get("shingle_n", 3)
    sh = _shingle_projection(new_docs, text_col, id_col, shingle_n, backend)
    sig_df = _sig_from_shingles(sh, id_col, n_hashes)
    # within-batch banding honors within_batch_bands; the CROSS-batch index
    # banding must stay on ``bands``. The two bandings share one projection
    # when the counts agree (the common case).
    banded = _bands_from_sig(sig_df, id_col, n_hashes, eff_bands)
    # the within-batch dedup (LSH pairs + verify + components) feeds TWO
    # consumers — the admitted return AND the index rows — so materialize
    # its tiny id list ONCE rather than re-running it per consumer; the
    # id universe comes from the CACHED shingle projection, not another
    # corpus scan (banded+shingles bypass every other docs use inside
    # dedup_fuzzy). Round-7 trim, ~3 s/increment at sf0.1.
    surv_ids = (
        dedup_fuzzy(
            sh.select(id_col), text_col, id_col,
            n_hashes=n_hashes, threshold=threshold, backend=backend,
            banded=banded, shingles=sh.select(id_col, "__sh"),
            **dedup_kwargs,
        )
        .filter("keep")
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    survivors = new_docs.join(surv_ids, id_col, "left_semi")
    banded_index = (
        banded if eff_bands == bands
        else _bands_from_sig(sig_df, id_col, n_hashes, bands)
    )
    sigs = sig_df.select(
        F.col(id_col), F.col("__sig").alias("sig")
    ).join(surv_ids, id_col, "left_semi")
    batch_index = banded_index.join(sigs, id_col)
    if catalog.table_exists(index_table):
        hist = catalog.read_table(index_table).select(
            F.col("band"), F.col("bucket"), F.col("sig").alias("__hsig")
        )
        est = F.aggregate(
            F.zip_with(
                F.col("sig"), F.col("__hsig"),
                lambda a, b: (a == b).cast("int"),
            ),
            F.lit(0),
            lambda acc, m: acc + m,
        ) / F.lit(n_hashes)
        rejected = (
            batch_index.join(hist, ["band", "bucket"])
            .where(est >= threshold)
            .select(id_col)
            .distinct()
            # detach from the index table we are about to append to:
            # `rejected` is the ONLY path through which survivors or the
            # new index rows read the historical index, and it is tiny
            # (rejected ids only) — checkpointing it here means neither
            # downstream plan touches the table at append/consume time
            # (recache-by-path would otherwise re-execute over the
            # appended rows). Round-7 trim: this replaces eager
            # full-width checkpoints of survivors AND batch_index
            # (text + band rows — 2-3 s per increment at sf0.1).
            .localCheckpoint(eager=True)
        )
        survivors = survivors.join(rejected, id_col, "left_anti")
        batch_index = batch_index.join(rejected, id_col, "left_anti")
    catalog.write_table(
        batch_index.select(id_col, "band", "bucket", "sig"),
        index_table,
        mode="append",
    )
    return survivors


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    max_dist: int = 2,
    prefix_len: int = 1,
) -> DataFrame:
    """Record-linkage near-pairs by Levenshtein distance ≤ ``max_dist``
    over SHORT strings (names, titles, codes): ``(id_a, id_b, dist)``.
    The classic entity-resolution step MinHash cannot serve (token-set
    similarity is blind to character typos in single-token names).

    Blocking keeps it off the quadratic cliff: candidates must agree on
    ``(length bucket, normalized prefix)`` — two strings within edit
    distance ``d`` differ in length by ≤ ``d``, so each string probes its
    own bucket plus the ``d`` buckets above (bucket width = ``max_dist +
    1`` ⇒ at most TWO adjacent buckets), an equi-join on the block key.
    A typo inside the first ``prefix_len`` characters escapes the block —
    the standard blocking recall trade, sized by ``prefix_len``; the
    in-block verify is the exact JVM ``levenshtein`` with its early-exit
    threshold form. Self-pairs and symmetric duplicates are removed via
    ``id_a < id_b``.
    """
    width = max_dist + 1
    norm = F.lower(F.trim(F.col(col)))
    base = df.select(
        F.col(id_col).alias("__id"),
        norm.alias("__s"),
        (F.length(norm) / width).cast("int").alias("__lb"),
        F.substring(norm, 1, prefix_len).alias("__pf"),
    ).where(F.length("__s") > 0)
    # each string appears under its own bucket and the one below, so any
    # pair within |len diff| <= max_dist shares at least one block row
    probe = base.select(
        "__id", "__s", "__pf", F.explode(
            F.array(F.col("__lb"), F.col("__lb") + 1)
        ).alias("__blk"),
    )
    a = probe.select(
        F.col("__blk"), F.col("__pf"),
        F.col("__id").alias("id_a"), F.col("__s").alias("__sa"),
    )
    b = probe.select(
        F.col("__blk"), F.col("__pf"),
        F.col("__id").alias("id_b"), F.col("__s").alias("__sb"),
    )
    return (
        a.join(b, ["__blk", "__pf"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.levenshtein("__sa", "__sb").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
        .distinct()
    )
