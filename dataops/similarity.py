"""Similarity search over embedding columns (``array<float>``).

Beyond-reference extension (SURVEY §7.2 phase 6):

* :func:`cosine_topk` — exact brute-force cosine top-k, the correctness
  baseline. Dot products run as ``aggregate(zip_with(...))`` — JVM-side,
  no Python boundary, scans the embedding table once;
* :func:`ivf_assign` / :func:`ivf_topk` — IVF-style approximate search:
  vectors are bucketed by nearest centroid (deterministic seed centroids =
  the first K vec_ids, making results reproducible and oracle-checkable);
  queries probe only the ``nprobe`` nearest clusters. At 100 TB the
  embedding table is *partitioned by cluster id*, so a probe reads only
  nprobe/K of the data (partition pruning does the work);
* :func:`embedding_near_pairs` — embedding-cosine near-duplicate pairs via
  cluster-bucketed self-join (exact within cluster).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (JVM-side HOFs)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    Ties break on id for full determinism. The plan is scan → project →
    TakeOrderedAndProject: no shuffle, partial top-k computed map-side.
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def seed_centroids(
    embeddings: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Deterministic seed centroids: the vectors of the ``n_clusters``
    smallest ids (no RNG; a k-means refinement can replace this without
    changing any caller). Driver-side list — centroid sets are tiny."""
    rows = (
        embeddings.orderBy(id_col).limit(n_clusters).select(vec_col).collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def _centroid_sims(cents: list, vec_col: str) -> Column:
    """Per-row array of cosines against every (inlined literal) centroid.

    Built as ONE ``F.expr`` string rather than K×d ``F.lit`` Column calls:
    each ``lit``/HOF builder is a py4j round trip, and at K=8, d=64 the
    Column-by-Column construction cost ~1.3 s of DRIVER time per
    assignment — paid again every Lloyd iteration because refined
    centroids are new literals. One parsed SQL string is ~20 ms. The
    arithmetic is unchanged expression-for-expression (same left-to-right
    folds, centroid norms still Python-side constants computed with the
    same sequential sum), so assignments are bit-identical to the Column
    form. ``repr(float)`` round-trips exactly through Spark's double
    literal parser, keeping the inlined values exact.
    """
    import math

    q = vec_col.replace("`", "``")
    v_sql = f"cast(`{q}` as array<double>)"
    items = []
    for c in cents:
        cn = math.sqrt(sum(float(x) * float(x) for x in c)) or 1.0
        arr = ", ".join(f"{float(x)!r}D" for x in c)
        items.append(f"named_struct('cv', array({arr}), 'cn', {cn!r}D)")
    return F.expr(
        f"transform(array({', '.join(items)}), s -> "
        f"aggregate(zip_with({v_sql}, s.cv, (x, y) -> x * y), 0.0D, "
        f"(acc, v) -> acc + v)"
        f" / (sqrt(aggregate({v_sql}, 0.0D, (acc, v) -> acc + v * v)) * s.cn))"
    )


def ivf_assign(
    embeddings: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: "list | None" = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (map-only pass).

    ``centroids`` defaults to :func:`seed_centroids` of the input; pass an
    explicit list to assign one table against another table's index (the
    k-NN join path). Centroids are inlined as literals, so assignment never
    shuffles.
    """
    cents = centroids if centroids is not None else seed_centroids(
        embeddings, n_clusters, vec_col, id_col
    )
    sims = _centroid_sims(cents, vec_col)
    return embeddings.withColumn(
        "cluster", (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: "list[Sequence[float]] | DataFrame",
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` clusters whose centroids
    are nearest the query, brute-force inside them.

    ``centroids`` is a DataFrame ``(cidx int, cv array<double>)`` (or a
    driver list, converted to one). Centroid ranking runs through the same
    ``cosine`` column expression as everything else — one distributed top-
    nprobe job — so a 65k-list IVF index never funnels through a Python
    ``sorted``; only the ``nprobe`` winning ids are collected. Keeping the
    probe set as literals in an ``isin`` filter is what lets a
    cluster-partitioned table prune at scan time (the 100 TB path reads
    nprobe/K of the data).
    """
    spark = assigned.sparkSession
    if not isinstance(centroids, DataFrame):
        centroids = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cidx int, cv array<double>",
        )
    q = F.array(*[F.lit(float(x)) for x in query])
    probe = (
        centroids.select("cidx", cosine(F.col("cv"), q).alias("c_sim"))
        .orderBy(F.desc("c_sim"), F.col("cidx"))
        .limit(nprobe)
        .collect()
    )
    probe_ids = [r["cidx"] for r in probe]
    return (
        assigned.filter(F.col("cluster").isin(probe_ids))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_assign_multi(
    embeddings: DataFrame,
    n_clusters: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: "list | None" = None,
) -> DataFrame:
    """Multi-probe assignment: one row per (vector, probed cluster) for the
    ``nprobe`` nearest centroids (ties: lower cluster index first).

    Still a map-only pass — the sims array is sorted per row and sliced, so
    fan-out is exactly ``nprobe``. This is the standard IVF recall knob:
    near-duplicate pairs split across a cluster boundary meet in their
    shared second-choice cluster.
    """
    cents = centroids if centroids is not None else seed_centroids(
        embeddings, n_clusters, vec_col, id_col
    )
    sims = _centroid_sims(cents, vec_col)
    # struct (-sim, idx) sorts lexicographically == (sim desc, idx asc)
    ranked = F.array_sort(
        F.zip_with(
            sims,
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda s, i: F.struct((-s).alias("ns"), i.alias("i")),
        )
    )
    return embeddings.withColumn(
        "cluster",
        F.explode(
            F.transform(
                F.slice(ranked, 1, nprobe), lambda s: s["i"].cast("int")
            )
        ),
    )


def embedding_near_pairs_multiprobe(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 4,
    max_block_rows: int = 200_000,
) -> DataFrame:
    """Near-duplicate pairs with multi-probe candidate generation.

    Candidate pairs are those sharing ANY probed cluster; each shared
    cluster's pair space is evaluated by the block-matmul grid
    (:func:`_grid_near_pairs` keyed by cluster), and a pair meeting in
    several probed clusters — emitted once per shared cluster with a
    bit-identical score — dedups on ``(id_a, id_b)``. That dedup shuffle
    moves only the *surviving* near-pairs (threshold applied inside the
    cells), not the ``nprobe²``-inflated candidate set the old
    ids-first-then-verify plan had to distinct. Strictly higher recall than
    :func:`embedding_near_pairs` at ``nprobe×`` the scored volume.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    # two consumers (centroid take + probe assignment): persist the narrow
    # projection so upstream reads/augmentation run once
    embeddings = embeddings.select(F.col(id_col), F.col(vec_col)).transform(tracked_persist)
    probes = ivf_assign_multi(
        embeddings, n_clusters, nprobe, vec_col, id_col
    ).select(
        F.col("cluster"),
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    return _grid_near_pairs(
        probes, threshold, n_blocks, ("cluster",), max_block_rows
    ).dropDuplicates(["id_a", "id_b"]).select("id_a", "id_b", "cos_sim")


def embedding_near_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 4,
    max_block_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bucketed by IVF cluster.

    Pairing is restricted to same-cluster pairs — the scalable
    approximation of all-pairs cosine (recall loss only across cluster
    boundaries; raise ``n_clusters``/add multi-probe for tighter recall).
    Each cluster's pair space runs through the block-matmul grid
    (:func:`_grid_near_pairs` keyed by cluster); every vector lives in
    exactly one cluster, so no pair dedup is needed.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    # two consumers (centroid take + assignment): persist the narrow
    # projection so upstream reads/augmentation run once
    embeddings = embeddings.select(F.col(id_col), F.col(vec_col)).transform(tracked_persist)
    assigned = ivf_assign(embeddings, n_clusters, vec_col, id_col).select(
        F.col("cluster"),
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    return _grid_near_pairs(assigned, threshold, n_blocks, ("cluster",), max_block_rows)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Batch ANN search: for every query row, the top-``k`` corpus
    neighbors by cosine — ``(query_id, vec_id, cos_sim, rank)``.

    The corpus is bucketed once by its own IVF index (one cluster per
    vector); each query probes its ``nprobe`` nearest clusters of THAT
    index, so the join touches ``nprobe/n_clusters`` of the corpus per
    query instead of all of it. Ranking uses the 6dp-rounded cosine with id
    tie-breaks, making the result reproducible across engines.

    Scale shape: centroids are literals (map-only assignment on both
    sides); the only shuffles are the cluster equi-join and the per-query
    top-k window, both keyed well. With the corpus written
    cluster-partitioned, scan pruning keeps each query's read to its probed
    lists.
    """
    from bio2bel_spark.operators.caching import tracked_persist

    cents = seed_centroids(corpus, n_clusters, vec_col, id_col)
    v = F.col(vec_col).cast("array<double>")
    c = (
        ivf_assign(corpus, n_clusters, vec_col, id_col, centroids=cents)
        .select(
            "cluster",
            F.col(id_col),
            v.alias("__cv"),
            _norm(v).alias("__cn"),
        )
        .transform(tracked_persist)
    )
    q = ivf_assign_multi(
        queries, n_clusters, nprobe, vec_col, id_col, centroids=cents
    ).select(
        "cluster",
        F.col(id_col).alias(query_id),
        v.alias("__qv"),
        _norm(v).alias("__qn"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cos_sim"), F.col(id_col).asc()
    )
    return (
        q.join(c, "cluster")
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cos_sim", "rank")
    )


def kmeans_refine(
    embeddings: DataFrame,
    n_clusters: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: "list | None" = None,
) -> list:
    """Lloyd's refinement of the IVF centroids; returns the refined centroid
    list (driver-side, K×d — tiny by construction).

    Each iteration is ONE distributed pass: map-only assignment against
    literal centroids, then a groupBy(cluster) with per-dimension ``sum``
    aggregates — 100% map-side combinable, so executor state is K×d
    regardless of corpus size (the posexplode alternative would shuffle
    N×d rows). Empty clusters keep their previous centroid.

    Centroid components are rounded to 9dp after every averaging step: the
    cross-engine stability contract (float sums are order-dependent; 9dp is
    far above the ~1e-13 drift and far below any real signal).
    """
    cents = centroids if centroids is not None else seed_centroids(
        embeddings, n_clusters, vec_col, id_col
    )
    dim = len(cents[0])
    vec = F.col(vec_col).cast("array<double>")
    for _ in range(iterations):
        assigned = ivf_assign(
            embeddings, n_clusters, vec_col, id_col, centroids=cents
        )
        rows = assigned.groupBy("cluster").agg(
            *[F.sum(vec[i]).alias(f"s{i}") for i in range(dim)],
            F.count(F.lit(1)).alias("n"),
        ).collect()
        means = {
            r["cluster"]: [round(r[f"s{i}"] / r["n"], 9) for i in range(dim)]
            for r in rows
        }
        cents = [means.get(i, cents[i]) for i in range(len(cents))]
    return cents


def embedding_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iterations: int = 50,
) -> DataFrame:
    """Cluster-level embedding dedup: ``(id, cluster, keep)`` — the
    embedding-space twin of ``dedup.dedup_fuzzy``.

    Multi-probe cosine near-pairs feed connected components
    (:func:`bio2bel_spark.operators.graph.min_label_components`), so
    transitive near-duplicates (A≈B≈C with A,C never paired directly)
    collapse to one surviving vector — the min id per cluster.
    """
    from bio2bel_spark.operators.graph import min_label_components

    pairs = embedding_near_pairs_multiprobe(
        embeddings, threshold, n_clusters, nprobe, vec_col, id_col
    )
    comp = min_label_components(
        pairs, src="id_a", dst="id_b", max_iterations=max_iterations
    )
    return (
        embeddings.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster"),
            (F.coalesce("component", F.col(id_col)) == F.col(id_col)).alias("keep"),
        )
    )


def _grid_near_pairs(
    rows: DataFrame,
    threshold: float,
    n_blocks: int,
    key_cols: Sequence[str] = (),
    max_block_rows: int = 200_000,
) -> DataFrame:
    """Shared block-matrix core for every near-pair operator.

    ``rows`` carries ``__id`` (long), ``__v`` (array<double>) and the
    optional ``key_cols`` that scope which rows may pair (empty = all-pairs;
    ``["cluster"]`` = same-cluster pairs). Within each key, the pair space
    is partitioned into a B×B grid of block pairs: each row hashes to one of
    ``n_blocks`` blocks and is replicated to the B grid cells its block
    participates in (B× shuffle volume — NOT n×). Each (key, bi, bj) cell
    then scores ALL of its pairs with ONE Arrow-batched numpy matmul under
    ``applyInPandas`` — per-pair cost is a row of a BLAS matmul instead of
    an interpreted 64-term ``aggregate(zip_with(...))`` fold, and the plan
    is a single hash shuffle keyed by grid cell (no CartesianProduct, no
    row-explosion join).

    The grid is also the executor-memory story at 100 TB: pick ``n_blocks``
    so one block (rows-per-key/B × dim doubles) fits an executor; the
    ``max_block_rows`` guard fails loudly instead of OOMing when a key
    outgrows that budget (the skewed-cluster failure mode).

    Output: ``(id_a, id_b, cos_sim)`` with ``id_a < id_b``, cosine rounded
    to 6dp, filtered to ``>= threshold``. A pair sharing several keys is
    emitted once per shared key with a bit-identical score (same two
    vectors, same arithmetic) — callers with overlapping keys dedup on
    ``(id_a, id_b)``.
    """
    import numpy as np
    import pandas as pd

    key_cols = list(key_cols)

    def _cell(key, pdf):
        bi, bj = int(key[-2]), int(key[-1])
        if len(pdf) > 2 * max_block_rows:
            raise ValueError(
                f"_grid_near_pairs: grid cell key={tuple(key)} holds "
                f"{len(pdf)} rows (cap {2 * max_block_rows}); raise n_blocks "
                "so one block fits an executor"
            )
        ids = pdf["__id"].to_numpy()
        blk = pdf["__blk"].to_numpy()
        V = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        V /= np.sqrt((V * V).sum(axis=1, keepdims=True))
        if bi == bj:
            a_ids, b_ids, A, B = ids, ids, V, V
        else:
            sel = blk == bi
            a_ids, b_ids, A, B = ids[sel], ids[~sel], V[sel], V[~sel]
        if not (len(a_ids) and len(b_ids)):
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                }
            )
        # 6dp rounding happens before the threshold on BOTH engines, so the
        # ~1e-15 summation-order drift vs the sequential fold cannot flip a
        # comparison (no representable cosine sits within 1e-15 of a 5e-7
        # boundary in practice)
        sims = np.round(A @ B.T, 6)
        mask = sims >= threshold
        if bi == bj:
            # strictly-upper by id: dedups the symmetric matrix and drops
            # self-pairs in one stroke
            mask &= a_ids[:, None] < b_ids[None, :]
        ia, ib = np.nonzero(mask)
        ida, idb = a_ids[ia], b_ids[ib]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ida, idb).astype("int64"),
                "id_b": np.maximum(ida, idb).astype("int64"),
                "cos_sim": sims[ia, ib],
            }
        )

    rows = rows.withColumn(
        "__blk", F.pmod(F.hash(F.col("__id")), F.lit(n_blocks)).cast("int")
    ).where(F.col("__v").isNotNull())
    # a row in block k joins grid cell (min(k,o), max(k,o)) for every block
    # o — each unordered block pair owns each row exactly once, so no
    # cross-cell dedup is ever needed (keys never overlap within a cell)
    grid = rows.withColumn(
        "__other", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    ).select(
        *key_cols,
        F.least("__blk", "__other").alias("__bi"),
        F.greatest("__blk", "__other").alias("__bj"),
        "__id",
        "__v",
        "__blk",
    )
    return grid.groupBy(*key_cols, "__bi", "__bj").applyInPandas(
        _cell, "id_a long, id_b long, cos_sim double"
    )


def exact_near_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_blocks: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block_rows: int = 200_000,
) -> DataFrame:
    """Exact all-pairs cosine near-pairs via the block-matrix grid.

    Same answer as a crossJoin + per-pair HOF formulation — every pair is
    scored — but evaluated as B(B+1)/2 independent matmul cells
    (:func:`_grid_near_pairs`), the only viable exact shape at 100 TB.
    Output: ``(id_a, id_b, cos_sim)``, ``id_a < id_b``, 6dp, ``>=
    threshold``.
    """
    rows = embeddings.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    return _grid_near_pairs(rows, threshold, n_blocks, (), max_block_rows)


def hard_negative_samples(
    embeddings: DataFrame,
    n_clusters: int = 8,
    k: int = 2,
    seed: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``k`` deterministic HARD negatives per vector: negatives drawn from
    the anchor's OWN IVF cluster, so they are semantically close (the hard
    tier of contrastive sampling) while still being pseudo-random inside it.

    Within each cluster, rows are ranked by a seeded hash (one window per
    cluster — no global sort), and rank ``r`` pairs with ranks ``(r + s_j)
    mod n_c`` for ``s_j = floor(j*n_c/(k+1))``. Cluster sizes ride in on a
    broadcast (``n_clusters`` rows). Degenerate picks in tiny clusters
    (stride 0 or collisions between strides) are filtered/dedup'd rather
    than emitted, so an anchor never sees itself and sees each negative at
    most once; clusters with one row emit nothing.

    Plan: map-only IVF assignment (literal centroids) → per-cluster window
    rank → broadcast sizes → bounded explode (k) → rank self-join keyed by
    (cluster, rank). Output: ``(id_col, cluster, neg_id)``.
    """
    from pyspark.sql import Window

    from bio2bel_spark.operators.ordering import shuffle_hash

    assigned = ivf_assign(
        embeddings.select(id_col, vec_col), n_clusters, vec_col, id_col
    ).select(id_col, "cluster")
    okey = F.concat(
        shuffle_hash(F.col(id_col), seed),
        F.lit("|"),
        F.col(id_col).cast("string"),
    )
    w = Window.partitionBy("cluster").orderBy("__ok")
    ranked = (
        assigned.withColumn("__ok", okey)
        .withColumn("__r", F.row_number().over(w) - 1)
        .drop("__ok")
    )
    sizes = ranked.groupBy("cluster").agg(F.count(F.lit(1)).alias("__nc"))
    nc = F.col("__nc")
    fanned = (
        ranked.join(F.broadcast(sizes), "cluster")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.col("__nc"),
            F.explode(
                F.array(
                    *[
                        ((F.col("__r") + F.floor(F.lit(j) * nc / (k + 1))) % nc)
                        for j in range(1, k + 1)
                    ]
                )
            ).alias("__nr"),
            F.col("__r"),
        )
        .filter(F.col("__nr") != F.col("__r"))
        .select(id_col, "cluster", "__nr")
        .distinct()
    )
    neg = ranked.select(
        F.col("cluster"), F.col("__r").alias("__nr"), F.col(id_col).alias("neg_id")
    )
    return fanned.join(neg, ["cluster", "__nr"]).select(id_col, "cluster", "neg_id")


def label_consistency(
    embeddings: DataFrame,
    label_col: str = "label",
    k: int = 5,
    n_clusters: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """kNN label-agreement screen for LABEL NOISE: for every labeled vector,
    the fraction of its ``k`` nearest ANN neighbors (self excluded) that
    share its label. Rows with low consistency are the mislabeling
    candidates a training pipeline routes to review — the neighborhood
    -agreement heuristic behind confident-learning-style cleaning.

    Composes :func:`knn_join` of the table against itself (k+1 so the
    guaranteed self-match can be dropped without losing a neighbor), then
    two broadcast-size label joins and one grouped aggregation. Inherits
    the ANN scale shape: literal-centroid assignment, per-cluster
    candidates only.

    Returns ``(id_col, label_col, n_neighbors, n_same_label, consistency)``.
    """
    emb = embeddings.select(id_col, vec_col, label_col)
    nn = knn_join(
        emb.select(id_col, vec_col),
        emb.select(id_col, vec_col),
        k=k + 1,
        n_clusters=n_clusters,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
    ).filter(F.col(id_col) != F.col("query_id"))
    labels = embeddings.select(F.col(id_col), F.col(label_col))
    n_lab = labels.select(
        F.col(id_col), F.col(label_col).alias("__n_label")
    )
    a_lab = labels.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("__a_label")
    )
    return (
        nn.join(n_lab, id_col)
        .join(a_lab, "query_id")
        .groupBy(F.col("query_id").alias(id_col), F.col("__a_label").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.sum(
                (F.col("__n_label") == F.col("__a_label")).cast("long")
            ).alias("n_same_label"),
            F.round(
                F.avg((F.col("__n_label") == F.col("__a_label")).cast("double")),
                6,
            ).alias("consistency"),
        )
    )


def srp_planes(bits: int, dim: int, seed: int = 0) -> "list[list[float]]":
    """Deterministic pseudo-random Gaussian hyperplanes for signed random
    projection — seeded stdlib PRNG, so any engine/process regenerates the
    identical planes from (bits, dim, seed)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def srp_signature(
    embeddings: DataFrame,
    bits: int = 32,
    dim: int = 64,
    seed: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "srp",
) -> DataFrame:
    """Signed-random-projection fingerprint (Charikar 2002 cosine LSH): bit
    ``j`` is the sign of the dot product with hyperplane ``h_j``; close
    vectors (high cosine) collide on most bits, so hamming distance on the
    fingerprint approximates angular distance.

    Map-only: the ``bits × dim`` plane matrix is inlined as ONE parsed SQL
    expression (the :func:`_centroid_sims` lesson — Column-by-Column
    construction costs seconds of driver time), and each row folds its
    vector once per plane inside whole-stage codegen. Pairs come from
    :func:`dataops.dedup.hamming_near_pairs` over the
    fingerprint — banded, never all-pairs.
    """
    if bits > 63:
        raise ValueError(f"bits must fit a signed long, got {bits}")
    planes = srp_planes(bits, dim, seed)
    q = vec_col.replace("`", "``")
    v_sql = f"cast(`{q}` as array<double>)"
    terms = []
    for j, h in enumerate(planes):
        arr = ", ".join(f"{float(x)!r}D" for x in h)
        dot = (
            f"aggregate(zip_with({v_sql}, array({arr}), (x, y) -> x * y), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0.0D THEN {1 << j}L ELSE 0L END)")
    return embeddings.withColumn(out_col, F.expr(" + ".join(terms)))


def srp_near_pairs(
    embeddings: DataFrame,
    bits: int = 32,
    dim: int = 64,
    seed: int = 0,
    max_hamming: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine near-duplicate candidates via SRP + pigeonhole banding:
    ``(id_a, id_b, hamming)`` — the embedding analog of SimHash text dedup,
    sharing the banded hamming core (equi-join on max_hamming+1 band keys,
    popcount verify, never all-pairs; exact recall by pigeonhole)."""
    from dataops.dedup import hamming_near_pairs

    fps = srp_signature(
        embeddings, bits, dim, seed, vec_col, id_col
    ).select(id_col, "srp")
    return hamming_near_pairs(
        fps, fp_col="srp", id_col=id_col, bits=bits, max_hamming=max_hamming
    )


def mean_pool_vectors(
    df: DataFrame,
    by: str,
    vec_col: str = "embedding",
    out_col: str = "embedding",
) -> DataFrame:
    """Mean-pool many vectors into one per group — the multi-vector →
    single-vector reduction (token embeddings → document embedding,
    chunk embeddings → parent embedding): ``(by, n_vectors, out_col)``.

    Scale shape: ``posexplode`` to ``(group, dim, value)`` rows, ONE
    map-side-combinable average per ``(group, dim)``, then the vector is
    reassembled with ``array_agg`` over a per-group sort of the (tiny —
    one row per dimension) aggregated table. Never collects a group's
    vector LIST anywhere — per-reducer state is one running sum per
    (group, dim), so million-vector groups pool in constant memory.

    Degenerate inputs are explicit, not silent: ``n_vectors`` counts the
    group's non-null, non-empty vectors BEFORE the explode (null/empty
    embeddings are excluded from the mean but still visible in the gap
    between ``n_vectors`` and the group's row count); a RAGGED group
    (vectors of different lengths — per-dimension counts disagree, so
    each dimension would average over a different denominator) yields a
    NULL ``out_col`` rather than a silently skewed mean. Groups with no
    usable vector at all return ``(by, 0, NULL)``.
    """
    counts = df.groupBy(by).agg(
        F.count(
            F.when(
                F.col(vec_col).isNotNull() & (F.size(vec_col) > 0), F.lit(1)
            )
        ).cast("long").alias("n_vectors")
    )
    exploded = df.select(
        F.col(by), F.posexplode(F.col(vec_col)).alias("__d", "__v")
    )
    per_dim = exploded.groupBy(by, "__d").agg(
        F.avg("__v").alias("__m"), F.count(F.lit(1)).alias("__n")
    )
    pooled = (
        per_dim.groupBy(by)
        .agg(
            F.min("__n").alias("__nlo"),
            F.max("__n").alias("__nhi"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__d"), F.col("__m")))
                ),
                lambda s: F.round(s["__m"], 6),
            ).alias("__pool"),
        )
    )
    # null-SAFE equality: a NULL group key groups fine on both sides but a
    # null-unsafe join condition would miss it, silently nulling that
    # group's pooled embedding even when its vectors averaged correctly.
    joined = counts.alias("c").join(
        pooled.alias("p"), F.col(f"c.{by}").eqNullSafe(F.col(f"p.{by}")), "left"
    )
    return joined.select(
        F.col(f"c.{by}").alias(by),
        F.col("n_vectors"),
        F.when(F.col("__nlo") == F.col("__nhi"), F.col("__pool")).alias(out_col),
    )


def soft_cluster_assign(
    embeddings: DataFrame,
    n_clusters: int = 8,
    temperature: float = 10.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: "list | None" = None,
) -> DataFrame:
    """SOFT cluster membership (topic-mixture view of the IVF index):
    per vector, a softmax over centroid cosines at ``temperature`` —
    ``(id, cluster, top_prob, entropy)`` with the argmax cluster, its
    probability mass, and the Shannon entropy (nats) of the full mixture.
    High entropy = the vector sits between topics (boundary content, the
    rows a hard assignment silently mis-files); low entropy = confident
    membership. The standard soft routing for mixture-of-sources
    curricula and cluster-balanced sampling.

    Same map-only envelope as :func:`ivf_assign`: centroids inline as
    literals (one parsed expression), the softmax is array arithmetic in
    codegen, nothing shuffles. ``exp`` is stabilized by subtracting the
    max cosine before exponentiation (softmax invariance), so large
    temperatures cannot overflow.
    """
    cents = centroids if centroids is not None else seed_centroids(
        embeddings, n_clusters, vec_col, id_col
    )
    sims = _centroid_sims(cents, vec_col)
    t = F.lit(float(temperature))
    mx = F.array_max(F.col("__sims"))
    expd = F.transform(F.col("__sims"), lambda s: F.exp(t * (s - mx)))
    tot = F.aggregate(
        F.col("__exp"), F.lit(0.0), lambda acc, x: acc + x
    )
    probs = F.transform(F.col("__exp"), lambda x: x / F.col("__tot"))
    ent = -F.aggregate(
        F.col("__probs"),
        F.lit(0.0),
        lambda acc, p: acc + F.when(p > 0, p * F.log(p)).otherwise(0.0),
    )
    return (
        embeddings.withColumn("__sims", sims)
        .withColumn("__exp", expd)
        .withColumn("__tot", tot)
        .withColumn("__probs", probs)
        .select(
            F.col(id_col),
            (F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))) - 1)
            .cast("int")
            .alias("cluster"),
            F.round(F.array_max(F.col("__probs")), 6).alias("top_prob"),
            F.round(ent, 6).alias("entropy"),
        )
    )


def _as_double_vec(vec_col) -> Column:
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(col, lambda x: x.cast("double"))


def _absmax_scale(v: Column) -> Column:
    """Per-vector symmetric quantization scale (max-abs component)."""
    return F.array_max(F.transform(v, F.abs))


def _dequantized(v: Column, scale: Column, levels: int) -> Column:
    """The ONE definition of the quantize→dequantize round trip
    (``round(x/scale*levels) * scale/levels``; zero vectors pass through
    as zeros instead of dividing by zero under ANSI mode) — shared by the
    quantizer, the fidelity report, and the recall check so a convention
    change lands in exactly one place (plus the mirrored oracle SQL)."""
    return F.when(
        scale > 0,
        F.transform(
            v, lambda x: F.round(x / scale * levels, 0) * scale / levels
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0.0)))


def quantize_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 127,
) -> DataFrame:
    """Symmetric per-vector int8-style quantization: each vector is scaled
    by its max-abs component and rounded onto ``[-levels, levels]``
    integers — the 4× memory cut (float32 → int8) that keeps a 100 TB
    embedding store ANN-searchable in RAM. Output:
    ``(id, scale, qvec array<int>)``; zero vectors quantize to all-zero
    with scale 0 instead of dividing by zero (ANSI mode throws).

    Map-only column expressions (zip_with/aggregate HOFs) — no shuffle, no
    Python; the dequantized value of component ``i`` is
    ``qvec[i] * scale / levels``.
    """
    v = _as_double_vec(vec_col)
    scale = _absmax_scale(v)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale * levels, 0).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("qvec"),
    )


def quantization_report(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 127,
) -> DataFrame:
    """Per-vector quantization fidelity: cosine between the original vector
    and its dequantized int8 twin, plus the max absolute component error in
    original units. The acceptance gate a pipeline runs before swapping an
    ANN index onto quantized vectors.
    """
    v = _as_double_vec(vec_col)
    scale = _absmax_scale(v)
    deq = _dequantized(v, scale, levels)
    base = df.select(
        F.col(id_col), v.alias("__v"), deq.alias("__d"), scale.alias("__s")
    )
    err = F.array_max(
        F.zip_with(F.col("__v"), F.col("__d"), lambda a, b: F.abs(a - b))
    )
    cos = F.when(
        F.col("__s") > 0, cosine(F.col("__v"), F.col("__d"))
    ).otherwise(F.lit(None).cast("double"))
    return base.select(
        id_col,
        F.round("__s", 6).alias("scale"),
        F.round(cos, 6).alias("cos_q"),
        F.round(err, 6).alias("max_abs_err"),
    )


def quantized_recall(
    embeddings: DataFrame,
    query: "Sequence[float]",
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    levels: int = 127,
) -> DataFrame:
    """Recall@k of brute-force cosine search over the DEQUANTIZED int8
    corpus vs the exact float corpus, for one literal query vector — the
    end-to-end acceptance check before an ANN index switches to the 4×
    smaller store. Returns one row ``(k, n_overlap, recall)``.

    Both top-k runs are TakeOrdered (map-side partial heaps, no shuffle);
    the overlap is a semi join of two k-row frames.
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    v = _as_double_vec(vec_col)
    deq = _dequantized(v, _absmax_scale(v), levels)
    exact = (
        embeddings.select(
            F.col(id_col), F.round(cosine(v, q), 6).alias("__c")
        )
        .orderBy(F.desc("__c"), F.col(id_col))
        .limit(k)
        .select(id_col)
    )
    quant = (
        embeddings.select(
            F.col(id_col), F.round(cosine(deq, q), 6).alias("__c")
        )
        .orderBy(F.desc("__c"), F.col(id_col))
        .limit(k)
        .select(id_col)
    )
    return exact.join(quant, id_col, "semi").agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.round(F.count(F.lit(1)) / F.lit(float(k)), 6).alias("recall"),
    )
