"""Sketching and deterministic-sampling operators for corpus-scale stats.

Beyond-reference extensions (SURVEY §7.2): a 100 TB training-data pipeline
needs cardinality/frequency answers without a full ``count(distinct)``
shuffle, and dataset splits that are reproducible across runs and engines.
Everything here is deterministic by construction — hashes of the data, never
``rand()`` — so results are stable under retries, repartitioning, and
cross-engine (DuckDB) replay.

* :func:`kmv_distinct` — K-Minimum-Values distinct-count sketch (Bar-Yossef
  et al. 2002; the classic ``(k-1)/max_of_k_min_normalized_hashes``
  estimator). Unlike Spark's HLL-based ``approx_count_distinct`` the KMV
  synopsis is exactly reproducible in ANSI SQL, so the estimate itself is
  oracle-checkable bit-for-bit. Plan shape: map-side hash → ``distinct`` →
  ``TakeOrdered(k)`` — the global "sort" only ever sees k values.
* :func:`hash_split` — train/val/test assignment by bucketed hash of a key
  column: pure projection, no shuffle, no state; every engine that can md5
  agrees on the split. The split survives appends (a row's assignment never
  depends on other rows).
* :func:`heavy_hitters` — exact frequent-items via two-stage (salted)
  aggregation; the map-side partial agg bounds reducer state, and the final
  ``TakeOrdered`` returns only the top k.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataops.dedup import portable_hash

__all__ = [
    "kmv_state",
    "kmv_merge",
    "kmv_estimate",
    "kmv_distinct",
    "kmv_state_grouped",
    "kmv_estimate_grouped",
    "hll_state",
    "hll_merge",
    "hll_estimate",
    "hll_distinct",
    "hll_state_grouped",
    "hll_merge_grouped",
    "hll_estimate_grouped",
    "cms_state",
    "cms_merge",
    "cms_estimate",
    "bloom_state",
    "bloom_merge",
    "bloom_probe",
    "bloom_filtered_join",
    "hash_split",
    "split_counts",
    "heavy_hitters",
    "sample_per_group",
    "weighted_sample_per_group",
    "quantile_sample_state",
    "quantile_sample_merge",
    "quantile_estimate",
    "quantile_sample_state_grouped",
    "quantile_estimate_grouped",
    "weighted_mixture",
]

#: normalization constant: portable_hash is uniform on [0, 2^32)
_HASH_SPACE = float(1 << 32)


def kmv_state(df: DataFrame, col: str, k: int = 256,
              backend: str = "md5") -> DataFrame:
    """The KMV synopsis itself: the ``k`` smallest distinct hash values of
    ``col``, as a ``(h)`` DataFrame of ≤ k rows.

    States are MERGEABLE: ``min-k(min-k(A) ∪ min-k(B)) = min-k(A ∪ B)``
    exactly, so per-shard/per-day sketches combine into the global sketch
    with :func:`kmv_merge` — the property that lets a 1000-executor job
    keep k longs per partition instead of a distinct-count shuffle.
    """
    # distinct on the VALUE before hashing: the map-side-combinable distinct
    # reduces the stream to unique values first, so digest cost scales with
    # cardinality instead of row count and the hashing parallelizes past the
    # scan's split count. The second distinct (on h) preserves the sketch's
    # exact prior semantics when two distinct values collide on the 32-bit
    # hash; it runs over cardinality-many rows, not the raw input.
    return (
        df.select(F.col(col).cast("string").alias("__v"))
        .where(F.col("__v").isNotNull())
        .distinct()
        .select(portable_hash(F.col("__v"), backend=backend).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_merge(states: Sequence[DataFrame], k: int = 256) -> DataFrame:
    """Combine KMV states into the state of the union of their inputs."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.distinct().orderBy("h").limit(k)


def kmv_estimate(state: DataFrame, k: int = 256) -> DataFrame:
    """Estimate row ``(n_hashes, estimate)`` from a KMV state."""
    return state.agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.round(
            F.when(
                F.count(F.lit(1)) < k,
                F.count(F.lit(1)).cast("double"),
            ).otherwise(
                (F.lit(k - 1)) / (F.max("h") / F.lit(_HASH_SPACE))
            ),
            6,
        ).alias("estimate"),
    )


def kmv_distinct(df: DataFrame, col: str, k: int = 256,
                 backend: str = "md5") -> DataFrame:
    """One-row DataFrame with the KMV distinct-count estimate of ``col``.

    Keeps the ``k`` smallest distinct 32-bit hash values; if the k-th
    smallest normalized hash is ``m`` then ``(k-1)/m`` estimates the
    cardinality (standard error ~ ``1/sqrt(k-2)``). When fewer than ``k``
    distinct hashes exist the sketch is exact and returns that count.

    Composition of :func:`kmv_state` → :func:`kmv_estimate`; build
    per-shard states and :func:`kmv_merge` them when the input is already
    partitioned by source.

    Output: ``(n_hashes, estimate)`` with ``estimate`` rounded to 6dp for
    cross-engine float parity.
    """
    return kmv_estimate(kmv_state(df, col, k=k, backend=backend), k=k)


def split_column(key: Column | str, fractions: Mapping[str, float],
                 n_buckets: int = 10_000, backend: str = "md5") -> Column:
    """Split-name column from a deterministic hash of ``key``.

    Buckets ``[0, n_buckets)`` are carved into contiguous ranges by the
    cumulative fractions (insertion order of ``fractions``); rows therefore
    keep their split under appends, filters, and repartitioning.
    """
    key = F.col(key) if isinstance(key, str) else key
    bucket = F.pmod(portable_hash(key.cast("string"), backend=backend),
                    F.lit(n_buckets))
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    expr = None
    hi = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        hi += frac
        cond = bucket < int(round(hi * n_buckets))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    return F.lit(last) if expr is None else expr.otherwise(F.lit(last))


def hash_split(df: DataFrame, key: str, fractions: Mapping[str, float],
               n_buckets: int = 10_000, backend: str = "md5") -> DataFrame:
    """Attach a ``split`` column — pure projection, zero shuffle."""
    return df.withColumn(
        "split", split_column(key, fractions, n_buckets=n_buckets,
                              backend=backend)
    )


def split_counts(df: DataFrame, key: str, fractions: Mapping[str, float],
                 n_buckets: int = 10_000, backend: str = "md5") -> DataFrame:
    """Per-split row counts — the audit query for a split assignment."""
    return (
        hash_split(df, key, fractions, n_buckets=n_buckets, backend=backend)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def sample_per_group(
    df: DataFrame, by: str, key: str, n: int, backend: str = "md5"
) -> DataFrame:
    """Deterministic stratified sample: exactly ``min(n, |group|)`` rows per
    ``by`` group, chosen by hash order of ``key`` (corpus-curation quota
    sampling — every engine and every run picks the same rows).

    One shuffle (window by group); per-group state is a row counter. Hash
    ordering makes the quota independent of input order and partitioning —
    unlike ``df.limit`` per group, which is nondeterministic under shuffles.
    Ties on the hash (colliding keys) break by ``key`` itself.
    """
    from pyspark.sql import Window

    h = portable_hash(F.col(key).cast("string"), backend=backend)
    w = Window.partitionBy(by).orderBy(h.asc(), F.col(key).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_sample_per_group(
    df: DataFrame,
    by: str,
    key: str,
    weight_col: str,
    n: int,
    backend: str = "md5",
) -> DataFrame:
    """Deterministic WEIGHTED sampling without replacement: ``min(n,
    |group|)`` rows per group, with inclusion probability proportional to
    ``weight_col`` — the Efraimidis–Spirakis A-ES scheme (each row scores
    ``u^(1/w)`` for a uniform ``u``; the top-``n`` scores are an exact
    weighted sample). Quality-weighted corpus curation in one pass:
    up-weight high-quality documents without a full sort by quality.

    ``u`` derives from the portable hash of ``key`` (never an RNG), so
    every engine, run, and partitioning picks the SAME rows, and appending
    data never changes surviving rows' scores. Scores compare via
    ``ln(u)/w`` (monotone in ``u^(1/w)``, numerically safe for tiny
    weights); rows with weight <= 0 are excluded (their A-ES score is
    -inf). Ties break by ``key``. One shuffle (window per group), counter
    state only — the same 100 TB envelope as :func:`sample_per_group`.
    """
    from pyspark.sql import Window

    h = portable_hash(F.col(key).cast("string"), backend=backend)
    # (h + 1) / 2^32 in (0, 1]; ln(1)=0 top score for the minimal hash
    u = (h + F.lit(1.0)) / F.lit(float(1 << 32))
    score = F.log(u) / F.col(weight_col)
    w = Window.partitionBy(by).orderBy(score.desc(), F.col(key).asc())
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def weighted_mixture(
    df: DataFrame,
    by: str,
    key: str,
    rates: Mapping[str, float],
    backend: str = "md5",
    default_rate: float = 0.0,
) -> DataFrame:
    """Data-mixture downsampling: keep each row with its group's rate,
    decided by a deterministic hash of ``key`` — the standard way to hit a
    target source mixture (e.g. 3x web, 0.3x forums) reproducibly.

    Pure projection+filter: no shuffle, no RNG, append-stable (a row's fate
    never depends on other rows), and pushdown-friendly. Rates > 1 should be
    handled by epoch repetition downstream, not here (kept ``<= 1``).
    """
    for name, rate in rates.items():
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0, 1], got {rate}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    h = F.pmod(portable_hash(F.col(key).cast("string"), backend=backend),
               F.lit(1_000_000))
    rate_col = None
    for name, rate in rates.items():
        cond = F.col(by) == name
        thr = F.lit(int(round(rate * 1_000_000)))
        rate_col = F.when(cond, thr) if rate_col is None else rate_col.when(cond, thr)
    rate_col = (
        rate_col.otherwise(F.lit(int(round(default_rate * 1_000_000))))
        if rate_col is not None
        else F.lit(int(round(default_rate * 1_000_000)))
    )
    return df.filter(h < rate_col)


def temperature_mixture_rates(
    df: DataFrame, by: str, alpha: float = 0.5
) -> DataFrame:
    """Per-group sampling rates implementing TEMPERATURE mixture
    flattening (the multilingual α-sampling rule of mBERT/XLM-R): after
    downsampling each group ``g`` at ``rate_g``, the kept mass is
    proportional to ``share_g^alpha`` — ``alpha = 1`` keeps the natural
    mixture, ``alpha < 1`` flattens it toward uniform (rare
    languages/domains upweighted), ``alpha = 0`` is fully uniform.
    ``rate_g = share_g^(alpha-1)`` normalized so the rarest-favored group
    keeps EVERYTHING (rates stay in (0, 1] — no epoch repetition needed).

    Returns ``(by, n_rows, share, rate)`` (6-dp, oracle-stable). One
    combinable grouped count plus window math over the group-count-sized
    table; feed the collected rates to :func:`weighted_mixture` for the
    deterministic hash-based application.
    """
    from pyspark.sql import Window

    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    w = Window.partitionBy(F.lit(1))
    counts = df.groupBy(by).agg(F.count(F.lit(1)).alias("n_rows"))
    share = F.col("n_rows") / F.sum("n_rows").over(w)
    wt = F.pow(share, F.lit(float(alpha) - 1.0))
    rate = wt / F.max(wt).over(w)
    return counts.select(
        F.col(by),
        F.col("n_rows"),
        F.round(share, 6).alias("share"),
        F.round(rate, 6).alias("rate"),
    )


def heavy_hitters(df: DataFrame, cols: Sequence[str] | str, k: int = 20) -> DataFrame:
    """Exact top-k most frequent value combinations of ``cols``.

    groupBy + count benefits from map-side partial aggregation (each task
    pre-counts its partition before the shuffle), and the ordered ``limit``
    compiles to TakeOrderedAndProject — only k rows cross to the driver side
    of the plan. Ties broken by the value itself for determinism.
    """
    cols = [cols] if isinstance(cols, str) else list(cols)
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), *[F.asc(c) for c in cols])
        .limit(k)
    )


def _cms_h1_h2(col: Column, backend: str) -> tuple[Column, Column]:
    """The two base hashes of the Kirsch-Mitzenmacher family, from ONE
    hash evaluation per value.

    ``md5``: halves of a single digest — ``h1`` = hex chars 1-8, ``h2`` =
    chars 9-16, each a uniform 32-bit value (DuckDB replays with
    ``('0x' || substr(md5(x), 1, 8))::BIGINT`` / ``substr(..., 9, 8)``).
    ``xxhash64``: two seeded evaluations (still cheap; no oracle parity).
    """
    if backend == "md5":
        digest = F.md5(col)
        h1 = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
        h2 = F.conv(F.substring(digest, 9, 8), 16, 10).cast("long")
        return h1, h2
    if backend == "xxhash64":
        space = F.lit(1 << 32)
        return (
            F.pmod(F.xxhash64(col), space).cast("long"),
            F.pmod(F.xxhash64(F.lit(1), col), space).cast("long"),
        )
    raise ValueError(f"unknown hash backend {backend!r} (md5 | xxhash64)")


def _cms_w(h1: Column, h2: Column, d, width: int) -> Column:
    """Row-``d`` bucket: ``(h1 + d*h2) mod width``. With h1, h2 < 2^32 and
    small ``d`` the product stays far inside long range — no ANSI overflow."""
    d = F.lit(d) if isinstance(d, int) else d
    return F.pmod(h1 + d * h2, F.lit(width))


def cms_state(
    df: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    backend: str = "md5",
    pre_aggregate: bool = True,
) -> DataFrame:
    """Count-min sketch state: sparse ``(d, w, cnt)`` counters.

    Row ``d``'s bucket is ``(h1 + d*h2) mod width`` with ``h1``/``h2`` the
    two halves of ONE portable digest per value — the Kirsch-Mitzenmacher
    double-hashing family ("Less Hashing, Same Performance", 2006), which
    preserves the CMS error bounds while hashing each row once instead of
    ``depth`` times. Every engine (and every shard) builds the identical
    grid, so the state is oracle-replayable AND MERGEABLE: summing two
    states' counters gives the state of the concatenated inputs, which is
    what lets per-partition/per-day sketches roll up without a raw recount.
    groupBy(d, w) is map-side combinable; state size is ≤ depth×width rows
    regardless of input size.

    SINGLE PASS over the input: the digest is computed in the pre-explode
    projection (once per value), then each value fans out into its ``depth``
    grid cells — a union of ``depth`` full selects would scan a 100 TB
    table ``depth`` times for a sketch whose whole point is one pass.

    ``pre_aggregate`` (default): count per distinct VALUE first (map-side
    combinable groupBy), then hash each value once and scale by its count —
    frequency sketches target skewed/bounded domains, where distinct values
    are orders of magnitude fewer than rows, so this slashes digest cost and
    parallelizes the hashing past the scan's split count. For a near-unique
    domain (where the per-partition agg state would rival the input) pass
    ``pre_aggregate=False``: pure map-side hashing, zero pre-shuffle state.
    """
    if pre_aggregate:
        base = df.groupBy(F.col(col).cast("string").alias("__v")).agg(
            F.count(F.lit(1)).alias("__n")
        )
        h1, h2 = _cms_h1_h2(F.col("__v"), backend)
        base = base.select(h1.alias("__h1"), h2.alias("__h2"), "__n")
    else:
        h1, h2 = _cms_h1_h2(F.col(col).cast("string"), backend)
        base = df.select(
            h1.alias("__h1"), h2.alias("__h2"), F.lit(1).alias("__n")
        )
    cells = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda d: F.struct(
                    d.alias("d"),
                    _cms_w(F.col("__h1"), F.col("__h2"), d, width).alias("w"),
                ),
            )
        ).alias("c"),
        F.col("__n"),
    ).select("c.d", "c.w", "__n")
    return cells.groupBy("d", "w").agg(F.sum("__n").cast("long").alias("cnt"))


def bloom_state(
    df: DataFrame,
    col: str,
    m: int = 1 << 20,
    k: int = 4,
    backend: str = "md5",
) -> DataFrame:
    """Bloom filter as a sparse set of set bit positions: a ``(pos)``
    DataFrame with ≤ ``m`` distinct rows.

    Value positions come from the same Kirsch-Mitzenmacher family as the
    count-min grid — ``(h1 + j*h2) mod m`` for ``j < k`` with one digest per
    DISTINCT value — so every engine and every shard sets identical bits.
    MERGEABLE: the union of two states (distinct) is the state of the union
    of their inputs, so per-shard/per-day filters roll up for free. The
    sparse representation keeps the membership sketch joinable: no bitset
    blob, no UDF, and a filter built from millions of keys is still only
    ≤ m rows of one int column (broadcastable at the default m ≈ 1M ≈ 8 MB).

    Classic 100 TB use: build the filter over a SMALL benchmark/blocklist
    table, probe the corpus with :func:`bloom_probe` — a broadcast join
    instead of shuffling the corpus against the blocklist.
    """
    h1, h2 = _cms_h1_h2(F.col("__v"), backend)
    return (
        df.select(F.col(col).cast("string").alias("__v"))
        .where(F.col("__v").isNotNull())
        .distinct()
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k - 1)),
                    lambda j: F.pmod(h1 + j * h2, F.lit(m)),
                )
            ).alias("pos")
        )
        .distinct()
    )


def bloom_merge(states: Sequence[DataFrame]) -> DataFrame:
    """Union of set bits: the state of the unioned inputs."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.distinct()


def bloom_probe(
    state: DataFrame,
    df: DataFrame,
    col: str,
    m: int = 1 << 20,
    k: int = 4,
    backend: str = "md5",
    flag_col: str = "maybe_member",
) -> DataFrame:
    """``df`` + boolean ``flag_col``: True iff ALL ``k`` of the value's bit
    positions are set in ``state`` (standard Bloom semantics — no false
    negatives; false positives at rate ``≈ (1 - e^{-kn/m})^k``).

    The state is bounded by construction (≤ m bits = m/8 bytes — 128 KB at
    the default m), so it is collected ONCE into a driver-side bitmask and
    embedded in the plan as a literal array of longs. The probe is then a
    PURE MAP — ``getbit`` lookups inside whole-stage codegen, no join, no
    shuffle, nothing wide touching the corpus — the same shape as Spark's
    own DPP bloom pushdown, but with an engine-portable hash family. A null
    probe value yields False (it was never inserted).
    """
    n_words = (m + 63) // 64
    words = [0] * n_words
    for row in state.collect():
        words[row["pos"] >> 6] |= 1 << (row["pos"] & 63)
    # two's-complement fold: Spark long literals are signed 64-bit
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    # explicit element type: when every word happens to fit in 32 bits
    # (small filters), F.lit would infer array<int> and getbit would then
    # reject positions >= 32 — the mask must always be 64-bit words
    wcol = F.lit(words).cast("array<bigint>")

    val = F.col(col).cast("string")
    h1, h2 = _cms_h1_h2(val, backend)
    conds = []
    for j in range(k):
        pos = F.pmod(h1 + j * h2, F.lit(m))
        word = F.element_at(wcol, F.floor(pos / F.lit(64)).cast("int") + 1)
        conds.append(F.getbit(word, F.pmod(pos, F.lit(64))) == 1)
    member = conds[0]
    for c in conds[1:]:
        member = member & c
    return df.withColumn(
        flag_col, F.when(val.isNull(), F.lit(False)).otherwise(member)
    )


def cms_merge(states: Sequence[DataFrame]) -> DataFrame:
    """Sum counters cell-wise: the state of the unioned inputs."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    state: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    backend: str = "md5",
) -> DataFrame:
    """Point-frequency estimates for ``keys``: ``(key_col, estimate)``.

    Classic CMS read: min over the ``depth`` counters each key hashes to
    (missing cell ⇒ 0). One fan-out of ``depth`` rows per key, one join
    against the (tiny, broadcastable) state, one min-agg back to the key —
    never touches the original data. Estimates are upper bounds:
    ``true ≤ est ≤ true + εN`` with ``ε ≈ e/width``.
    """
    h1, h2 = _cms_h1_h2(F.col(key_col).cast("string"), backend)
    probes = keys.select(
        F.col(key_col), h1.alias("__h1"), h2.alias("__h2")
    ).select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
        F.col("__h1"),
        F.col("__h2"),
    ).withColumn(
        "w", _cms_w(F.col("__h1"), F.col("__h2"), F.col("d"), width)
    ).drop("__h1", "__h2")
    return (
        probes.join(state, ["d", "w"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("estimate"))
    )


def kmv_state_grouped(
    df: DataFrame,
    col: str,
    by: str,
    k: int = 64,
    backend: str = "md5",
) -> DataFrame:
    """Per-group KMV synopses: the ``k`` smallest distinct hashes of ``col``
    within each ``by`` group, as ``(by, h)`` rows (≤ k per group).

    Same two-stage shape as the global sketch — distinct on (group, value)
    first so digests are paid per distinct pair — with the min-k selection
    as a ``row_number`` window, which Spark executes as WindowGroupLimit
    (per-partition top-k, no full sort). States merge per group exactly
    like the global ones: union → distinct → re-take min-k.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy("h")
    return (
        df.select(F.col(by), F.col(col).cast("string").alias("__v"))
        .where(F.col("__v").isNotNull())
        .distinct()
        .select(
            F.col(by), portable_hash(F.col("__v"), backend=backend).alias("h")
        )
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate_grouped(state: DataFrame, by: str, k: int = 64) -> DataFrame:
    """Per-group ``(by, n_hashes, estimate)`` from a grouped KMV state —
    the same ``(k-1)/max_normalized_hash`` estimator applied group-wise;
    groups with fewer than ``k`` distinct hashes are exact."""
    return state.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.round(
            F.when(
                F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
            ).otherwise(
                F.lit(k - 1) / (F.max("h") / F.lit(_HASH_SPACE))
            ),
            6,
        ).alias("estimate"),
    )


def _hash60(col, backend: str = "md5") -> Column:
    """Deterministic 60-bit-range hash (15 md5 hex chars → BIGINT).

    DuckDB twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — verified
    value-identical, which is what makes the HLL registers (and therefore
    the estimate) replayable in ANSI SQL.
    """
    col = F.col(col) if isinstance(col, str) else col
    if backend != "md5":
        raise ValueError("hll: only the md5 backend is cross-engine portable")
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def hll_state(df: DataFrame, col: str, b: int = 9, backend: str = "md5") -> DataFrame:
    """HyperLogLog register table for ``col``: ``(reg, rho)`` with at most
    ``m = 2^b`` rows (absent registers are implicitly 0).

    Flajolet et al. 2007 layout over the portable 60-bit hash: ``reg = h mod
    m`` and ``rho`` = position of the leftmost 1-bit of the remaining
    ``60-b`` bits (``60-b+1`` when they are all zero). The leftmost-1
    position is computed exactly via the base-2 string length (``conv``/
    ``to_base``), never floating ``log2`` — float log at an exact power of
    two can round below the integer and corrupt the register.

    One map pass + one ``max`` aggregation with map-side combine; executor
    state is m counters regardless of input size. Complements KMV: HLL
    state is O(m) bytes with standard error ``1.04/sqrt(m)``, and states
    merge by register-wise max (:func:`hll_merge`) — per-shard/per-day
    synopses combine exactly.
    """
    m = 1 << b
    w_bits = 60 - b
    h = _hash60(col, backend)
    rows = df.where(F.col(col).isNotNull()).select(
        F.pmod(h, F.lit(m)).cast("int").alias("reg"),
        # h div m as an exact bitshift — h is a 60-bit value, so a float
        # division here would shave the low bits (the mantissa is 53 bits)
        F.shiftright(h, b).alias("__v"),
    )
    bitlen = F.length(F.conv(F.col("__v").cast("string"), 10, 2))
    rho = (
        F.when(F.col("__v") == 0, F.lit(w_bits + 1))
        .otherwise(F.lit(w_bits) - (bitlen - F.lit(1)))
        .cast("int")
    )
    return rows.select("reg", rho.alias("rho")).groupBy("reg").agg(
        F.max("rho").alias("rho")
    )


def hll_merge(states: Sequence[DataFrame]) -> DataFrame:
    """Merge HLL register tables: register-wise max (exact, associative —
    the property that makes per-shard synopses combine without rescans)."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("reg").agg(F.max("rho").alias("rho"))


def hll_estimate(state: DataFrame, b: int = 9) -> DataFrame:
    """Cardinality estimate from an HLL register table: one row
    ``(m, used_registers, estimate)``.

    Standard estimator with the small-range (linear counting) correction:
    ``E = alpha_m * m^2 / (sum(2^-rho) + (m - used))`` — absent registers
    contribute ``2^0 = 1`` each — and ``E <= 2.5m`` with empty registers
    falls back to ``m * ln(m / zeros)``. The estimate is rounded to 4dp:
    every term ``2^-rho`` is an exact dyadic, so the only cross-engine
    wiggle is summation order (~1e-15 relative), far inside the rounding.
    """
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = state.agg(
        F.count(F.lit(1)).cast("long").alias("used"),
        # coalesce: an EMPTY state (no rows ever sketched) sums to null;
        # with 0 the m absent registers drive raw into the linear-counting
        # branch and the estimate comes out exactly 0, not null
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("rho"))), F.lit(0.0)
        ).alias("__s"),
    )
    raw = (F.lit(alpha * m * m)) / (
        F.col("__s") + (F.lit(m) - F.col("used"))
    )
    zeros = F.lit(m) - F.col("used")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.lit(m).alias("m"),
        F.col("used").alias("used_registers"),
        F.round(est, 4).alias("estimate"),
    )


def hll_distinct(
    df: DataFrame, col: str, b: int = 9, backend: str = "md5"
) -> DataFrame:
    """End-to-end HLL distinct count: state → estimate (one scan)."""
    return hll_estimate(hll_state(df, col, b, backend), b)


def hll_state_grouped(
    df: DataFrame, col: str, by: str, b: int = 9, backend: str = "md5"
) -> DataFrame:
    """Per-group HLL register tables: ``(by, reg, rho)`` with ≤ ``2^b``
    register rows per group — the distinct-users-per-day shape.

    Identical register construction to :func:`hll_state`, grouped by
    ``(by, reg)``: one map pass + one max aggregation with map-side
    combine, executor state m counters per group. Per-group states merge
    with :func:`hll_merge_grouped` (register-wise max within the group).
    """
    m = 1 << b
    w_bits = 60 - b
    h = _hash60(col, backend)
    rows = df.where(F.col(col).isNotNull()).select(
        F.col(by),
        F.pmod(h, F.lit(m)).cast("int").alias("reg"),
        F.shiftright(h, b).alias("__v"),
    )
    bitlen = F.length(F.conv(F.col("__v").cast("string"), 10, 2))
    rho = (
        F.when(F.col("__v") == 0, F.lit(w_bits + 1))
        .otherwise(F.lit(w_bits) - (bitlen - F.lit(1)))
        .cast("int")
    )
    return (
        rows.select(by, "reg", rho.alias("rho"))
        .groupBy(by, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge_grouped(states: Sequence[DataFrame], by: str) -> DataFrame:
    """Merge grouped HLL states: register-wise max within each group."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(by, "reg").agg(F.max("rho").alias("rho"))


def hll_estimate_grouped(state: DataFrame, by: str, b: int = 9) -> DataFrame:
    """Per-group ``(by, used_registers, estimate)`` — the same alpha_m
    estimator with linear-counting correction as :func:`hll_estimate`,
    applied group-wise in one aggregation."""
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = state.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("__s"),
    )
    raw = F.lit(alpha * m * m) / (F.col("__s") + (F.lit(m) - F.col("used")))
    zeros = F.lit(m) - F.col("used")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.col(by),
        F.col("used").alias("used_registers"),
        F.round(est, 4).alias("estimate"),
    )


def quantile_sample_state(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 1024,
    backend: str = "md5",
) -> DataFrame:
    """Quantile synopsis: the ``k`` rows whose row-identity hash is smallest,
    as ``(h, v)`` — a deterministic uniform sample (the hash is computed on
    ``id_col``, never the value, so sampling is independent of the value
    distribution; the classic bottom-k / hash-ordered sample of Cohen &
    Kaplan 2007).

    Plan shape: map-side hash projection → ``TakeOrdered(k)`` — the global
    "sort" only ever sees k rows per partition, no full-data shuffle.
    Deterministic by construction, so the sample (and every quantile read
    from it) replays bit-for-bit in ANSI SQL and is stable under retries
    and appends-with-resketch. Null values are excluded (quantiles over
    nulls are undefined); hash ties break on the value.
    """
    return (
        df.select(
            portable_hash(F.col(id_col).cast("string"), backend=backend).alias("h"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("v").isNotNull())
        .orderBy("h", "v")
        .limit(k)
    )


def quantile_sample_merge(states: Sequence[DataFrame], k: int = 1024) -> DataFrame:
    """Merge synopses from disjoint batches: union → distinct → re-take the
    k hash-smallest rows. Idempotent (re-merging the same batch collapses on
    the (h, v) distinct) and order-insensitive."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("h", "v").limit(k)


def quantile_estimate(
    state: DataFrame, probs: Sequence[float] = (0.25, 0.5, 0.75, 0.9, 0.99)
) -> DataFrame:
    """``(p, q)`` rows: interpolated percentiles of the sampled values —
    ``percentile_cont`` semantics, matching DuckDB ``quantile_cont`` on the
    same sample exactly."""
    arr = F.percentile("v", F.array(*[F.lit(float(p)) for p in probs]))
    return state.agg(arr.alias("__qs")).select(
        F.posexplode(
            F.arrays_zip(
                F.array(*[F.lit(float(p)) for p in probs]).alias("p"),
                F.col("__qs").alias("q"),
            )
        ).alias("__i", "__pq")
    ).select(
        F.col("__pq")["p"].alias("p"),
        F.round(F.col("__pq")["q"], 6).alias("q"),
    )


def quantile_sample_state_grouped(
    df: DataFrame,
    value_col: str,
    by: str,
    id_col: str,
    k: int = 256,
    backend: str = "md5",
) -> DataFrame:
    """Per-group quantile synopsis: k hash-smallest rows per ``by`` group as
    ``(by, h, v)``. The min-k selection is a ``row_number`` window that
    Spark executes as WindowGroupLimit (per-partition top-k, no full sort).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy("h", "v")
    return (
        df.select(
            F.col(by),
            portable_hash(F.col(id_col).cast("string"), backend=backend).alias("h"),
            F.col(value_col).cast("double").alias("v"),
        )
        .where(F.col("v").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def quantile_estimate_grouped(
    state: DataFrame,
    by: str,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group ``(by, p, q)`` from a grouped quantile synopsis."""
    arr = F.percentile("v", F.array(*[F.lit(float(p)) for p in probs]))
    return (
        state.groupBy(by)
        .agg(arr.alias("__qs"))
        .select(
            F.col(by),
            F.posexplode(
                F.arrays_zip(
                    F.array(*[F.lit(float(p)) for p in probs]).alias("p"),
                    F.col("__qs").alias("q"),
                )
            ).alias("__i", "__pq"),
        )
        .select(
            F.col(by),
            F.col("__pq")["p"].alias("p"),
            F.round(F.col("__pq")["q"], 6).alias("q"),
        )
    )


def bloom_filtered_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    m: int = 1 << 20,
    k: int = 4,
    backend: str = "md5",
) -> DataFrame:
    """EXACT equi-join with a Bloom prefilter on the large side — the
    row-level runtime filtering trick (Spark's own DPP/bloom pushdown,
    made explicit and engine-portable): build the ≤ ``m``-bit filter over
    the SMALL side's keys, probe the large side as a pure map (literal
    bitmask + ``getbit`` in codegen — no join, no shuffle), and only the
    surviving rows enter the real join.

    Bloom filters have NO false negatives, so for ``inner`` and
    ``left_semi`` joins the result is IDENTICAL to the unfiltered join —
    what changes is the shuffle: at 100 TB, a large side where only a few
    percent of rows match now ships that few percent instead of the whole
    table. False positives only cost wasted shuffle (they drop out of the
    join itself), at rate ``≈ (1-e^{-kn/m})^k``.

    ``how`` is restricted to ``inner``/``left_semi`` — outer/anti joins
    need the non-matching rows the prefilter discards.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_filtered_join supports inner|left_semi, got {how!r} "
            "(outer/anti joins need the rows the prefilter discards)"
        )
    state = bloom_state(small, on, m=m, k=k, backend=backend)
    probed = bloom_probe(
        state, large, on, m=m, k=k, backend=backend, flag_col="__maybe"
    )
    filtered = probed.where(F.col("__maybe")).drop("__maybe")
    return filtered.join(small, on, how)
