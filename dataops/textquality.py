"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting (beyond-reference extensions, SURVEY §7.2 phase 6).

Everything is a JVM-side column expression (regexps + HOFs) — zero Python in
the hot path, so these run at parquet-scan speed over a 100 TB corpus; all
are deterministic and DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny per-language stopword profiles (n-gram heuristic seeds). Real
#: deployments swap in fasttext-style models via mapInPandas; the operator
#: shape (profile table → scores → argmax) stays identical.
LANGUAGE_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}

#: BPE-ish token pattern: word pieces OR single non-space punctuation
TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def tokens(col) -> Column:
    """Whitespace tokens of the lowercased text."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != ""
    )


def whitespace_token_count(col) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col) -> Column:
    """Sub-word-ish token count: counts word pieces + punctuation marks
    (a cheap deterministic proxy for a BPE tokenizer's length)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(col, F.lit(TOKEN_PATTERN)).cast("long")


def language_scores(col, profiles: dict[str, list[str]] = None) -> Column:
    """Per-language stopword-hit counts as a map<lang, count>."""
    profiles = profiles or LANGUAGE_PROFILES
    toks = tokens(col)
    entries = []
    for lang, words in profiles.items():
        entries.append(F.lit(lang))
        entries.append(
            F.size(F.filter(toks, lambda t: t.isin(words))).cast("long")
        )
    return F.create_map(*entries)


def detect_language(col, profiles: dict[str, list[str]] = None, min_hits: int = 1) -> Column:
    """Argmax language by stopword hits; ties break by profile order;
    below ``min_hits`` → 'und' (undetermined)."""
    profiles = profiles or LANGUAGE_PROFILES
    toks = tokens(col)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(words)))
        for lang, words in profiles.items()
    }
    best = F.greatest(*scores.values()) if len(scores) > 1 else list(scores.values())[0]
    expr = F.lit("und")
    for lang in reversed(list(profiles)):  # earlier profiles win ties
        expr = F.when((scores[lang] == best) & (best >= min_hits), F.lit(lang)).otherwise(expr)
    return expr


def quality_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: "tuple[str, ...]" = (),
) -> DataFrame:
    """Quality-signal columns: lengths, ratios, and a composite score.

    Signals follow the public C4/Gopher-style heuristics: document length,
    mean word length, punctuation density, stopword fraction. ``keep``
    passes extra input columns through (e.g. a group key for downstream
    per-group selection).
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(t)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(LANGUAGE_PROFILES["en"])))
    punct = F.regexp_count(t, F.lit(r"[^\w\s]")).cast("double")
    mean_word_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        / n_tok,
    ).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), 0.4).otherwise(0.0)
        + F.when((mean_word_len >= 2.0) & (mean_word_len <= 12.0), 0.3).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.2).otherwise(0.0)
        + F.when(stop_ratio >= 0.01, 0.1).otherwise(0.0)
    )
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_chars.cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(score, 2).alias("quality_score"),
    )


def top_quality_per_group(
    docs: DataFrame,
    by: str = "source",
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents per group by composite quality score (curation
    selection). One window shuffle on the group key; deterministic ordering
    (rounded score desc, id asc) so ties never flap between runs or engines.
    """
    from pyspark.sql import Window

    feats = quality_features(docs, text_col, id_col, keep=(by,))
    w = Window.partitionBy(by).orderBy(
        F.desc("quality_score"), F.asc(id_col)
    )
    return (
        feats.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(by, id_col, "quality_score")
    )


#: modulus for the rolling fingerprint (fits in a long with 31× headroom)
FINGERPRINT_MOD = (1 << 53) - 111


def fingerprint(col) -> Column:
    """Order-sensitive rolling document fingerprint.

    Left fold over token hashes: ``acc = (acc * 31 + h(token)) mod M`` with
    the portable md5-prefix hash — reproducible anywhere (DuckDB:
    ``list_reduce`` over the same values).
    """
    hashes = F.transform(
        tokens(col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )
    return F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(FINGERPRINT_MOD),
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
) -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document: ``(id, term, tf, score)``.

    Smooth-idf formulation (the scikit-learn default, so results are
    checkable against any reference): ``idf = ln((N+1)/(df+1)) + 1``,
    ``score = tf * idf``, ties broken by term ascending for determinism.

    Scale shape: explode is map-only; term frequencies shuffle once on
    ``(id, term)`` with map-side combine; document frequencies re-aggregate
    the (already small) tf table by term; N rides in as a broadcast 1-row
    cross join; the idf join shuffles on term (AQE may broadcast a small
    vocabulary); the final top-n is one window per document partition. No
    Python, no collect.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # the corpus count is a 1-row broadcast: the nested-loop join this plans
    # to is O(1) per probe row (build side is a single scalar), not a
    # quadratic blow-up — allowlisted in the plan guardrails like kg_summary
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    idf = df_t.crossJoin(F.broadcast(n_docs)).select(
        "term",
        (
            F.log((F.col("__n") + 1) / (F.col("df") + 1)) + F.lit(1.0)
        ).alias("idf"),
    )
    scored = tf.join(idf, "term").select(
        F.col(id_col),
        F.col("term"),
        F.col("tf"),
        (F.col("tf") * F.col("idf")).alias("__score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__score"), F.asc("term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .select(
            id_col, "term", "tf", F.round("__score", 6).alias("tfidf")
        )
    )


def bigrams(col) -> Column:
    """Adjacent token pairs of the lowercased text as ``struct(g, w1)``
    (the bigram string and its context word). Empty array for texts with
    fewer than two tokens."""
    toks = tokens(col)
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(
                F.concat(a, F.lit(" "), b).alias("g"), a.alias("w1")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<g:string,w1:string>>"))


def lm_model(
    reference: DataFrame, text_col: str = "text", persist: bool = False
) -> "dict[str, DataFrame]":
    """Fit the add-smoothing bigram LM count tables once:
    ``{"bi": (g, c_bi), "uni": (w1, c_uni), "vocab": 1-row (__v)}`` —
    the reusable model :func:`lm_perplexity` scores against.

    ``persist=True`` pins the three tables (MEMORY_AND_DISK via
    ``tracked_persist``) for MULTI-CONSUMER use — the incremental
    maintainer's shape, where the same frozen reference model scores
    every micro-batch: the fit is paid once per stream, not once per
    batch (per-batch cost drops from O(reference + batch) to O(batch))."""
    ref_bi = reference.select(F.explode(bigrams(text_col)).alias("b"))
    bi_counts = ref_bi.groupBy(F.col("b.g").alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("c_bi")
    )
    ref_uni = reference.select(F.explode(tokens(text_col)).alias("w1"))
    # the unigram table feeds BOTH the scoring join and the vocabulary
    # size, so it is always pinned (bounded by |vocab| rows — never the
    # corpus); without the pin each reference re-runs the corpus explode
    from bio2bel_spark.operators.caching import tracked_persist

    uni_counts = ref_uni.groupBy("w1").agg(
        F.count(F.lit(1)).cast("long").alias("c_uni")
    ).transform(tracked_persist)
    # |vocab| == the row count of the unigram table — deriving it there
    # instead of count_distinct over ref_uni removes a third full
    # explode pass over the reference corpus (identical value by
    # construction: uni_counts has exactly one row per distinct w1)
    vocab = uni_counts.agg(F.count(F.lit(1)).cast("double").alias("__v"))
    model = {"bi": bi_counts, "uni": uni_counts, "vocab": vocab}
    if persist:
        # uni is already pinned above — re-persisting logs a CacheManager
        # warning and does nothing
        model = {
            k: (v if k == "uni" else v.transform(tracked_persist))
            for k, v in model.items()
        }
    return model


def lm_perplexity(
    docs: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    model: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Bigram language-model quality score per document — the CCNet/KenLM-
    style perplexity filter, self-trained on ``reference`` (default: the
    scored corpus itself). Pass ``model`` (a :func:`lm_model` result) to
    score against an already-fit — typically persisted — model instead of
    re-fitting; ``reference`` is ignored then.

    Model: add-``alpha`` smoothed bigram LM,
    ``P(w2|w1) = (c(w1 w2) + alpha) / (c(w1) + alpha * V)`` with unigram
    context counts and vocabulary size ``V``. Output per doc:
    ``(id, n_bigrams, avg_bits, perplexity)`` where ``avg_bits`` is the
    average negative log2 probability and ``perplexity = 2^avg_bits``
    (lower = more natural text under the reference distribution). Docs with
    fewer than two tokens keep a row with ``n_bigrams = 0`` and null scores
    so a downstream gate can treat them explicitly.

    Scale shape: both count tables are map-side-combinable groupBys; the
    vocabulary size rides in as a broadcast 1-row cross join (O(1) nested
    loop, allowlisted like ``tfidf_top_terms``); scoring is two equi-joins
    keyed by gram/context (AQE broadcasts small vocabularies); the per-doc
    average is one shuffle on the doc id. No Python, no collect, no
    iteration.
    """
    if model is None:
        model = lm_model(
            reference if reference is not None else docs, text_col
        )
    bi_counts, uni_counts, vocab = model["bi"], model["uni"], model["vocab"]

    doc_bi = docs.select(
        F.col(id_col), F.explode(bigrams(text_col)).alias("b")
    ).select(id_col, F.col("b.g").alias("g"), F.col("b.w1").alias("w1"))
    scored = (
        doc_bi.join(bi_counts, "g", "left")
        .join(uni_counts, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            (
                -(
                    F.log(
                        (F.coalesce("c_bi", F.lit(0)) + F.lit(alpha))
                        / (F.coalesce("c_uni", F.lit(0)) + F.lit(alpha) * F.col("__v"))
                    )
                    / F.log(F.lit(2.0))
                )
            ).alias("bits"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.avg("bits").alias("__avg"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round("__avg", 6).alias("avg_bits"),
            F.round(F.pow(F.lit(2.0), F.col("__avg")), 3).alias("perplexity"),
        )
    )


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    short_doc_tokens: int = 20,
) -> DataFrame:
    """One-row corpus health report in a single scan + single reduce:
    ``(n_docs, n_empty, n_short, n_tokens, avg_tokens, distinct_texts,
    exact_dup_rate)``.

    The curation dashboard numbers every ingest round needs before any
    per-doc decision: volume, emptiness, shortness, token mass, and the
    exact-duplicate rate (1 - distinct normalized texts / docs). All
    aggregates are map-side combinable except ``count_distinct``, which
    Spark plans as a two-stage partial distinct on the 32-bit text hash —
    the same hash the exact-dedup family uses, so the rate agrees with
    :func:`dataops.dedup.exact_duplicates` by construction.
    """
    from dataops.dedup import normalize_text, portable_hash

    toks = F.when(
        F.col(text_col).isNotNull(), F.size(tokens(text_col))
    ).otherwise(F.lit(0))
    rows = docs.select(
        F.col(id_col),
        toks.alias("__n_tok"),
        F.when(
            F.col(text_col).isNotNull(),
            portable_hash(normalize_text(text_col)),
        ).alias("__h"),
    )
    return rows.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("__n_tok") == 0).cast("long")).alias("n_empty"),
        F.sum(
            ((F.col("__n_tok") > 0) & (F.col("__n_tok") < short_doc_tokens)).cast("long")
        ).alias("n_short"),
        F.sum("__n_tok").cast("long").alias("n_tokens"),
        F.round(F.avg("__n_tok"), 4).alias("avg_tokens"),
        F.count_distinct(F.col("__h")).cast("long").alias("distinct_texts"),
        F.round(
            F.lit(1.0)
            - F.count_distinct(F.col("__h"))
            / F.sum((F.col("__h").isNotNull()).cast("long")),
            6,
        ).alias("exact_dup_rate"),
    )


def cooccurrence_pmi(
    docs: DataFrame,
    window: int = 3,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pointwise mutual information of word pairs co-occurring within
    ``window`` tokens — the classic distributional-association score
    (Church & Hanks 1990) used for collocation mining and embedding
    evaluation.

    Pair generation is LINEAR, not quadratic: each token emits at most
    ``window`` (position, offset) probes (a bounded explode), and the probe
    joins the token table back on ``(doc, position)`` — an equi-join, never
    a per-document cross join. Pairs are unordered (the lexicographically
    smaller word is ``w1``). PMI = ln(n_pair * n_tokens / (n_w1 * n_w2)),
    computed from three combinable counts; pairs below ``min_count`` are
    dropped before the (tiny) count joins.
    """
    from dataops.dedup import normalize_text

    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias(
            "__p", "__w"
        ),
    ).where(F.col("__w") != "")
    from bio2bel_spark.operators.caching import tracked_persist

    toks = toks.transform(tracked_persist)

    probes = toks.select(
        F.col(id_col),
        F.col("__w").alias("__wa"),
        F.explode(
            F.sequence(F.col("__p") + 1, F.col("__p") + window)
        ).alias("__p"),
    )
    pairs = (
        probes.join(toks, [id_col, "__p"])
        .select(
            F.least(F.col("__wa"), F.col("__w")).alias("w1"),
            F.greatest(F.col("__wa"), F.col("__w")).alias("w2"),
        )
        .where(F.col("w1") != F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    wc = toks.groupBy(F.col("__w").alias("w")).agg(
        F.count(F.lit(1)).alias("n_w")
    )
    # the corpus total is ONE bounded scalar — taking it via count() keeps
    # the plan free of 1-row nested-loop joins (same convention as pagerank's
    # node count); toks is persisted, so this costs one cheap re-aggregation
    n_tokens = toks.count()
    return (
        pairs.join(wc.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1")), "w1")
        .join(wc.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2")), "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair")
                    * F.lit(float(n_tokens))
                    / (F.col("n_w1") * F.col("n_w2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: "list[str]",
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document against a literal term set — the
    lexical-retrieval complement of the ANN search tier (Robertson &
    Spärck Jones probabilistic weighting, the Lucene default).

    Everything is Catalyst: one token explode filtered TO THE QUERY TERMS
    (so the shuffle carries only matching postings), per-(doc, term) tf,
    per-term document frequency, and the usual
    ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` fold. Corpus size and
    average document length are two bounded driver scalars (same convention
    as pagerank's node count). Documents matching no term are absent (score
    0 rows would be the whole corpus).
    """
    import math

    from bio2bel_spark.operators.caching import tracked_persist
    from dataops.dedup import normalize_text

    terms = sorted({t.lower() for t in query_terms})
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__w"),
    )
    dl = docs.select(
        F.col(id_col),
        F.size(F.split(normalize_text(text_col), " ")).cast("double").alias("__dl"),
    ).transform(tracked_persist)
    scal = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("__dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = scal["n"], float(scal["avgdl"])

    hits = toks.where(F.col("__w").isin(terms))
    tf = hits.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__tf"))
    df_t = (
        tf.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__df"))
        .withColumn(
            "__idf",
            F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5)
            ),
        )
    )
    denom_norm = 1.0 - b
    per_term = (
        tf.join(F.broadcast(df_t.select("__w", "__idf")), "__w")
        .join(dl, id_col)
        .select(
            F.col(id_col),
            (
                F.col("__idf")
                * (F.col("__tf") * (k1 + 1.0))
                / (
                    F.col("__tf")
                    + k1 * (denom_norm + b * F.col("__dl") / avgdl)
                )
            ).alias("__s"),
        )
    )
    return per_term.groupBy(id_col).agg(
        F.round(F.sum("__s"), 6).alias("bm25")
    )


def zipf_fit(
    docs: DataFrame,
    top_n: int = 1000,
    text_col: str = "text",
) -> DataFrame:
    """Least-squares fit of the Zipf power law over the corpus' top
    ``top_n`` words: one row ``(n_words, slope, intercept, r2)`` for
    ``ln(freq) ~ slope * ln(rank) + intercept`` — natural language sits
    near slope -1; a corpus that doesn't is machine junk or template spam
    (the cheap "is this even language" corpus gate).

    The full-corpus work is one combinable word count + TakeOrdered(top_n);
    ranking then happens on the bounded top set (a window over <= top_n
    rows — deliberately tiny, never the corpus), and the fit is closed-form
    population moments in one aggregation. Ties rank by word ascending so
    the fit is engine-reproducible.
    """
    from pyspark.sql import Window

    from dataops.dedup import normalize_text

    wc = (
        docs.select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("__w")
        )
        .where(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("__w"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("__n"), F.asc("__w"))
    pts = wc.select(
        F.log(F.row_number().over(w).cast("double")).alias("__lr"),
        F.log(F.col("__n").cast("double")).alias("__lf"),
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(
            F.covar_pop("__lr", "__lf") / F.var_pop("__lr"), 6
        ).alias("slope"),
        F.round(
            F.avg("__lf")
            - (F.covar_pop("__lr", "__lf") / F.var_pop("__lr")) * F.avg("__lr"),
            6,
        ).alias("intercept"),
        F.round(F.pow(F.corr("__lr", "__lf"), 2), 6).alias("r2"),
    )


def lexical_diversity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexical-diversity profile: ``(id, n_tokens, n_types,
    type_token_ratio, word_entropy)`` — the vocabulary-richness signals a
    quality-filtering pipeline thresholds on (template spam and keyword
    stuffing collapse type/token ratio; natural prose sits high on both).

    ``word_entropy`` is the Shannon entropy (nats) of the document's word
    distribution: ``-Σ p ln p`` with ``p = tf / n_tokens``.

    Scale shape: explode is map-only; ONE shuffle on ``(id, word)`` with
    map-side combine; the per-document rollup re-aggregates the already
    collapsed tf table on ``id``. Entropy is computed as
    ``ln(N) - Σ tf·ln(tf) / N`` so both aggregations stay combinable sums
    — no per-document array materialization, no Python.
    """
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("__w"))
        .groupBy(id_col, "__w")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    n = F.sum("__tf")
    return tf.groupBy(id_col).agg(
        n.cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(F.count(F.lit(1)) / n, 6).alias("type_token_ratio"),
        F.round(
            F.log(n) - F.sum(F.col("__tf") * F.log("__tf")) / n, 6
        ).alias("word_entropy"),
    )


def vocab_divergence(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary drift per corpus slice: ``(by, n_tokens, kl_vs_corpus,
    js_vs_corpus)`` comparing each slice's unigram distribution ``P`` to
    the whole-corpus distribution ``Q`` — the text twin of the numeric
    ``psi_drift`` screen (a source whose vocabulary diverges from the
    mixture is the first place contamination and template floods show up).

    ``KL(P‖Q)`` is finite because every slice token occurs in the corpus
    (``Q ⊇ P``); ``JS = (KL(P‖M) + KL(Q‖M))/2`` with ``M = (P+Q)/2`` uses
    the slice-side expansion only (terms of ``KL(Q‖M)`` where ``P = 0``
    contribute ``q·ln(q/(q/2)) = q·ln 2``, folded in closed form via the
    missing probability mass) so ONE join on the slice vocabulary suffices.

    Scale shape: one combinable count shuffle on ``(by, word)``, one
    corpus re-aggregation on ``word``, one join keyed by ``word`` (AQE
    broadcasts small vocabularies), per-slice totals broadcast back. No
    Python, no collect.
    """
    toks = docs.select(F.col(by), F.explode(tokens(text_col)).alias("__w"))
    slice_tf = toks.groupBy(by, "__w").agg(
        F.count(F.lit(1)).cast("double").alias("__sn")
    )
    corpus_tf = slice_tf.groupBy("__w").agg(F.sum("__sn").alias("__cn"))
    slice_tot = slice_tf.groupBy(by).agg(F.sum("__sn").alias("__st"))
    corpus_tot = corpus_tf.agg(F.sum("__cn").alias("__ct"))

    j = (
        slice_tf.join(corpus_tf, "__w")
        .join(F.broadcast(slice_tot), by)
        .crossJoin(F.broadcast(corpus_tot))
    )
    p = F.col("__sn") / F.col("__st")
    q = F.col("__cn") / F.col("__ct")
    m = (p + q) / 2
    per_slice = j.groupBy(by).agg(
        F.max("__st").cast("long").alias("n_tokens"),
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        # shared-vocab parts of both KL(P||M) and KL(Q||M); the corpus
        # mass q_miss living on words the slice never uses contributes
        # exactly q_miss * ln 2 to KL(Q||M)
        (
            (
                F.sum(p * F.log(p / m))
                + F.sum(q * F.log(q / m))
                + (F.lit(1.0) - F.sum(q)) * F.log(F.lit(2.0))
            )
            / 2
        ).alias("__js"),
    )
    return per_slice.select(
        by, "n_tokens", "kl_vs_corpus", F.round("__js", 6).alias("js_vs_corpus")
    )


def oov_rate(
    docs: DataFrame,
    vocab_size: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer-coverage screen: build the corpus top-``vocab_size`` word
    vocabulary (ties broken by word ascending — deterministic and
    engine-reproducible), then score every document's out-of-vocabulary
    fraction: ``(id, n_tokens, n_oov, oov_ratio)``. High OOV flags
    boilerplate in other scripts, encoding damage, and tokenizer-hostile
    junk before an (expensive) real tokenizer ever runs.

    Scale shape: the vocabulary is one combinable word count +
    TakeOrdered(vocab_size) — a bounded table that BROADCASTS to the
    per-token membership join (no shuffle of the exploded token stream);
    the per-doc rollup is one combinable aggregation keyed by ``id``.
    """
    wc = (
        docs.select(F.explode(tokens(text_col)).alias("__w"))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("__w"))
        .limit(vocab_size)
        .select("__w", F.lit(1).alias("__in_vocab"))
    )
    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("__w"))
    return (
        toks.join(F.broadcast(wc), "__w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("__in_vocab").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.col("__in_vocab").isNull().cast("double"))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_ratio"),
        )
    )


def trailing_loop_features(
    docs: DataFrame,
    max_period: int = 8,
    min_repeats: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Degenerate-generation detector: does the document END in a repeating
    token loop ("buy now buy now buy now ...") of period ≤ ``max_period``?
    The signature failure mode of greedy/low-temperature LLM sampling and
    of template spam — a corpus gate no length/entropy heuristic catches
    (a long loop has healthy length and mid entropy).

    For each period ``p``, the longest trailing run where every token
    equals the token ``p`` positions earlier is ``L_p = n -
    max(last_mismatch_index, p)``; a loop fires when the run covers
    ``min_repeats`` full cycles, i.e. ``L_p >= p * (min_repeats - 1)``.
    Output: ``(id, n_tokens, loop_period, loop_len, loop_frac)`` with the
    SMALLEST qualifying period (NULL columns when no loop).

    Scale shape: everything is nested array HOFs over the token array in
    one narrow projection — per-row cost ``O(n * max_period)``, zero
    shuffles, zero Python. ``last_mismatch`` is an ``array_max`` over a
    mismatch-position transform, so no per-position state is carried.
    """
    toks = tokens(text_col)
    n = F.size(F.col("__toks"))

    def run_len(p):  # longest trailing run for period p (column expr)
        last_mismatch = F.array_max(
            F.concat(
                F.array(p.cast("int")),
                F.transform(
                    F.sequence(p + 1, n),
                    lambda i: F.when(
                        F.element_at(F.col("__toks"), i.cast("int"))
                        != F.element_at(F.col("__toks"), (i - p).cast("int")),
                        i.cast("int"),
                    ).otherwise(F.lit(0)),
                ),
            )
        )
        return n - last_mismatch

    cands = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_period), n - 1)),
            lambda p: F.struct(
                p.cast("int").alias("p"), run_len(p).cast("int").alias("l")
            ),
        ),
        lambda s: s["l"] >= s["p"] * (min_repeats - 1),
    )
    # try_element_at: the no-loop case is an EMPTY candidate array, which
    # must yield NULL columns, not an ANSI index error
    first = F.try_element_at(cands, F.lit(1))
    return docs.select(
        F.col(id_col), toks.alias("__toks")
    ).where(n >= 2).select(
        id_col,
        n.cast("long").alias("n_tokens"),
        first["p"].alias("loop_period"),
        (first["l"] + first["p"]).alias("loop_len"),
        F.round((first["l"] + first["p"]) / n, 6).alias("loop_frac"),
    )


def _hashed_gram_buckets(col, buckets: int, include_bigrams: bool = True) -> Column:
    """Hashed n-gram feature buckets of the text as ``array<bigint>``:
    unigrams (+ optional bigrams) each hashed into ``[0, buckets)`` with the
    repo's portable md5 hash (``('0x'||substr(md5(g),1,15))::BIGINT % B`` is
    the exact DuckDB twin), so the featurization is replayable in ANSI SQL."""
    grams = tokens(col)
    if include_bigrams:
        grams = F.concat(grams, F.transform(bigrams(col), lambda b: b["g"]))
    return F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        % F.lit(buckets),
    )


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 512,
    alpha: float = 1.0,
    include_bigrams: bool = True,
) -> DataFrame:
    """DSIR log importance weights per document (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling").

    Featurizes text as hashed n-gram counts over ``buckets`` buckets
    (unigrams + optional bigrams), fits add-``alpha``-smoothed bag-of-words
    models over the ``target`` corpus (p) and the raw ``docs`` corpus being
    scored (q), and scores each raw document with

        ``log w(d) = sum_b c_d[b] * (log p[b] - log q[b])``

    — the importance weight that, fed into Gumbel top-k resampling
    (:func:`dsir_select`), tilts the raw corpus toward the target
    distribution. Output: ``(id, n_grams, log_weight)``; docs with zero
    tokens keep a row with ``n_grams = 0`` and a null weight so a
    downstream gate can treat them explicitly.

    Scale shape: both distribution fits are map-side-combinable groupBys
    bounded by ``buckets`` rows; all ratio arithmetic happens on that
    <=B-row table, which then hits the exploded doc-gram stream as ONE
    broadcast equi-join (plus a 1-row broadcast scalar for the
    unseen-bucket default, O(1) per probe row — the lm_perplexity
    pattern). Per-doc sum is one shuffle on the doc id. No Python, no
    collect, no iteration — linear in corpus size at 100 TB.
    """
    b_col = _hashed_gram_buckets(text_col, buckets, include_bigrams)

    raw_g = docs.select(F.explode(b_col).alias("b"))
    tgt_g = target.select(F.explode(
        _hashed_gram_buckets(text_col, buckets, include_bigrams)
    ).alias("b"))
    rc = raw_g.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("c_r"))
    tc = tgt_g.groupBy("b").agg(F.count(F.lit(1)).cast("double").alias("c_t"))
    return _dsir_score(
        docs, rc, tc, text_col=text_col, id_col=id_col, buckets=buckets,
        alpha=alpha, include_bigrams=include_bigrams,
    )


def _dsir_score(
    docs: DataFrame,
    rc: DataFrame,
    tc: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 512,
    alpha: float = 1.0,
    include_bigrams: bool = True,
) -> DataFrame:
    """Score ``docs`` against raw/target bucket-count tables ``rc (b, c_r)``
    / ``tc (b, c_t)`` — the shared back half of :func:`dsir_log_weights`
    and the incremental-state scorer :func:`dsir_weights_from_state`.

    ``rc``/``tc`` are each consumed TWICE (the smoothing-total scalar and
    the per-bucket log-ratio) — without persistence every reference
    re-executes whatever produced them, which for :func:`dsir_log_weights`
    is a full corpus gram-hash pass each (round-14 plan audit: 16 parquet
    scans / 40 Exchanges in ``dsir_weights``). Both tables are bounded by
    ``buckets`` rows, so pinning them is O(buckets) memory at any corpus
    size and collapses the duplicated fits to one each."""
    from bio2bel_spark.operators.caching import tracked_persist

    rc = rc.transform(tracked_persist)
    tc = tc.transform(tracked_persist)
    b_col = _hashed_gram_buckets(text_col, buckets, include_bigrams)
    totals = (
        rc.agg(F.sum("c_r").alias("n_r"))
        .crossJoin(F.broadcast(tc.agg(F.sum("c_t").alias("n_t"))))
        .select(
            (F.coalesce("n_r", F.lit(0.0)) + alpha * buckets).alias("d_r"),
            (F.coalesce("n_t", F.lit(0.0)) + alpha * buckets).alias("d_t"),
        )
    )
    # log-ratio per bucket, computed entirely on the <=B-row side
    ratio = (
        rc.join(tc, "b", "full")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            (
                F.log((F.coalesce("c_t", F.lit(0.0)) + alpha) / F.col("d_t"))
                - F.log((F.coalesce("c_r", F.lit(0.0)) + alpha) / F.col("d_r"))
            ).alias("lr"),
        )
    )
    # unseen-bucket default: log((alpha/d_t) / (alpha/d_r)) = log(d_r/d_t)
    default = totals.select(F.log(F.col("d_r") / F.col("d_t")).alias("lr0"))

    doc_g = docs.select(F.col(id_col), F.explode(b_col).alias("b"))
    per_doc = (
        doc_g.join(F.broadcast(ratio), "b", "left")
        .crossJoin(F.broadcast(default))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce("lr", F.col("lr0"))).alias("__lw"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.round("__lw", 6).alias("log_weight"),
        )
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    **weight_kwargs,
) -> DataFrame:
    """Gumbel top-``k`` importance resampling over :func:`dsir_log_weights`
    — DSIR's selection step. Each doc gets a deterministic Gumbel
    perturbation from the portable hash of ``(id, seed)`` (so reruns and
    retries select the same set), and the ``k`` largest
    ``log_weight + gumbel`` keys win: sampling without replacement
    proportional to ``w`` (Gumbel-max trick).

    Scale shape: the key is a map-side expression; global top-k is
    Spark's TakeOrdered (per-partition heap + driver merge of k rows) —
    no full sort, no single-reducer window.
    """
    w = dsir_log_weights(docs, target, text_col=text_col, id_col=id_col,
                         **weight_kwargs)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                                  F.lit(str(seed)))), 1, 15),
            16, 10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2 ** 60))
    key = F.col("log_weight") + -F.log(-F.log(u))
    return (
        docs.join(w, id_col)
        .where(F.col("log_weight").isNotNull())
        .withColumn("gumbel_key", F.round(key, 6))
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
    )


def ccnet_perplexity_buckets(
    docs: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    cuts: tuple[float, float] = (0.33, 0.67),
    alpha: float = 1.0,
) -> DataFrame:
    """CCNet-style head/middle/tail perplexity bucketing per language
    (Wenzek et al. 2020): score every doc with :func:`lm_perplexity`, then
    split each language's corpus at the ``cuts`` quantiles of the
    perplexity distribution — ``head`` = most-natural third, ``tail`` =
    noisiest. Docs that can't be scored (< 2 tokens) get ``unscored``.

    Cut determinism: thresholds are computed on the integer
    milli-perplexity domain (``round(ppl * 1000)``) as discrete order
    stats — the smallest value whose cumulative count reaches
    ``ceil(q * n)`` — so the bucket boundary is exact integer arithmetic,
    replayable bit-for-bit in ANSI SQL (no float-interpolation boundary
    ambiguity).

    Scale shape: the cumulative walk runs over the DISTINCT
    ``(lang, milli)`` histogram — bounded by the compressed value domain,
    not the corpus — and the per-language thresholds broadcast back onto
    the doc stream. No full-corpus sort, no single-reducer window over
    data rows.
    """
    # scored feeds BOTH the threshold histogram and the final bucketing —
    # without persistence the whole LM-scoring pipeline (two corpus
    # explodes + two joins) executes twice. The pinned projection is four
    # narrow columns per doc (id, lang, ppl, milli-key), the lightweight
    # proxy the guide's decide-on-small-rows pattern calls for.
    from bio2bel_spark.operators.caching import tracked_persist

    scored = _ppl_scored(
        docs, reference, text_col, id_col, lang_col, alpha
    ).transform(tracked_persist)
    hist = (
        scored.where(F.col("__m").isNotNull())
        .groupBy(lang_col, "__m")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    thr = _ppl_thresholds(hist, cuts, lang_col)
    return _ppl_bucketize(scored, thr, id_col, lang_col)


def _ppl_scored(
    docs: DataFrame,
    reference: "DataFrame | None",
    text_col: str,
    id_col: str,
    lang_col: str,
    alpha: float,
    model: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Per-doc ``(id, lang, perplexity, __m)`` with the integer
    milli-perplexity key — the shared scoring head of the one-pass
    bucketing and the incremental histogram maintainer."""
    ppl = lm_perplexity(
        docs, reference=reference, text_col=text_col, id_col=id_col,
        alpha=alpha, model=model,
    )
    return (
        docs.select(id_col, lang_col)
        .join(ppl, id_col)
        .select(
            id_col,
            lang_col,
            "perplexity",
            F.round(F.col("perplexity") * 1000, 0).cast("long").alias("__m"),
        )
    )


def _ppl_thresholds(
    hist: DataFrame,
    cuts: "tuple[float, float]",
    lang_col: str,
    m_col: str = "__m",
    c_col: str = "__c",
) -> DataFrame:
    """Per-language ``(__tl, __t1, __t2)`` discrete order-stat thresholds
    from a ``(lang, milli, count)`` histogram — the cumulative walk runs
    over the compressed value domain, never the corpus."""
    w_cum = (
        Window.partitionBy(lang_col)
        .orderBy(m_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(lang_col)
    cum = hist.select(
        lang_col,
        F.col(m_col).alias("__m"),
        F.sum(c_col).over(w_cum).alias("__cum"),
        F.sum(c_col).over(w_all).alias("__n"),
    )
    lo, hi = cuts
    thr = cum.groupBy(lang_col).agg(
        F.min(
            F.when(
                F.col("__cum") >= F.ceil(F.lit(float(lo)) * F.col("__n")),
                F.col("__m"),
            )
        ).alias("__t1"),
        F.min(
            F.when(
                F.col("__cum") >= F.ceil(F.lit(float(hi)) * F.col("__n")),
                F.col("__m"),
            )
        ).alias("__t2"),
    )
    # null-safe on the language key: a NULL-lang group is a real group
    # (its docs must meet ITS thresholds), not a silent join miss that
    # would dump every null-lang doc into 'tail'
    return thr.select(F.col(lang_col).alias("__tl"), "__t1", "__t2")


def _ppl_bucketize(
    scored: DataFrame, thr: DataFrame, id_col: str, lang_col: str
) -> DataFrame:
    return (
        scored.join(
            F.broadcast(thr),
            F.col(lang_col).eqNullSafe(F.col("__tl")),
            "left",
        )
        .select(
            id_col,
            lang_col,
            "perplexity",
            # a language the threshold table has never seen (possible only
            # on the maintained-state read path, where the state can lag a
            # brand-new language) is honestly 'unscored', not silently
            # 'tail' via the NULL-threshold fall-through; unreachable in
            # the one-pass fit (thresholds come from the same docs)
            F.when(F.col("__m").isNull(), F.lit("unscored"))
            .when(F.col("__t1").isNull(), F.lit("unscored"))
            .when(F.col("__m") <= F.col("__t1"), F.lit("head"))
            .when(F.col("__m") <= F.col("__t2"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def perplexity_histogram_state(
    docs: DataFrame,
    reference: "DataFrame | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    alpha: float = 1.0,
    model: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """``(lang, m, c)`` integer milli-perplexity histogram over one corpus
    slice, scored against a FIXED ``reference`` LM — the mergeable state
    behind incremental CCNet re-bucketing. The reference corpus must stay
    frozen across increments (the maintainer's contract: scores from
    different LMs are not comparable); state is bounded by the compressed
    milli-perplexity value domain per language, never the corpus size, and
    merging is plain counter summing. Pass ``model`` (a persisted
    :func:`lm_model` fit of the frozen reference) so repeated increments
    pay the reference fit once, not once per batch."""
    scored = _ppl_scored(
        docs, reference, text_col, id_col, lang_col, alpha, model=model
    )
    return (
        scored.where(F.col("__m").isNotNull())
        .groupBy(F.col(lang_col).alias("lang"), F.col("__m").alias("m"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def perplexity_hist_merge(states: "list[DataFrame]") -> DataFrame:
    """Sum-merge ``(lang, m, c)`` histogram states (NOT replay-idempotent —
    pair with the guarded maintainer tier when streaming). Null-safe on
    the language key: NULL-lang rows merge into one group."""
    out = states[0].select("lang", "m", "c")
    for s in states[1:]:
        out = out.unionByName(s.select("lang", "m", "c"))
    return out.groupBy("lang", "m").agg(
        F.sum("c").cast("long").alias("c")
    )


def perplexity_thresholds_from_state(
    state: DataFrame, cuts: "tuple[float, float]" = (0.33, 0.67)
) -> DataFrame:
    """Per-language ``(lang, t1, t2)`` bucket thresholds from accumulated
    histogram state. Counter summing is batch-order-invariant, so the
    thresholds equal a one-pass :func:`ccnet_perplexity_buckets` fit over
    everything the state has seen — re-bucketing a growing corpus costs
    O(histogram), never a history re-scan."""
    thr = _ppl_thresholds(
        state.select(F.col("lang"), F.col("m"), F.col("c")),
        cuts, "lang", m_col="m", c_col="c",
    )
    return thr.select(
        F.col("__tl").alias("lang"),
        F.col("__t1").alias("t1"),
        F.col("__t2").alias("t2"),
    )


def perplexity_buckets_from_state(
    docs: DataFrame,
    state: DataFrame,
    reference: "DataFrame | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    cuts: "tuple[float, float]" = (0.33, 0.67),
    alpha: float = 1.0,
    model: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Bucket documents against MAINTAINED histogram state instead of
    re-fitting thresholds over history — the read side of the incremental
    CCNet maintainer (same output schema as
    :func:`ccnet_perplexity_buckets`). ``reference`` (or ``model``)
    must be the same frozen LM the state was accumulated under."""
    scored = _ppl_scored(
        docs, reference, text_col, id_col, lang_col, alpha, model=model
    )
    thr = perplexity_thresholds_from_state(state, cuts).select(
        F.col("lang").alias("__tl"),
        F.col("t1").alias("__t1"),
        F.col("t2").alias("__t2"),
    )
    return _ppl_bucketize(scored, thr, id_col, lang_col)


def dsir_bucket_state(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    buckets: int = 512,
    include_bigrams: bool = True,
) -> DataFrame:
    """``(b, c_r, c_t)`` gram-bucket counters over one corpus slice — the
    mergeable state behind incremental DSIR. ``c_r`` counts every doc's
    grams; ``c_t`` counts only docs matching ``target_pred`` (the
    in-stream target-domain label). State is bounded by ``buckets`` rows
    regardless of corpus size; merging is plain counter summing."""
    g = docs.select(
        F.explode(
            _hashed_gram_buckets(text_col, buckets, include_bigrams)
        ).alias("b"),
        target_pred.alias("__t"),
    )
    return g.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("c_r"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("long").alias("c_t"),
    )


def dsir_merge(states: "list[DataFrame]") -> DataFrame:
    """Sum-merge DSIR bucket-count states (NOT replay-idempotent — pair
    with the guarded maintainer tier when streaming)."""
    out = states[0].select("b", "c_r", "c_t")
    for s in states[1:]:
        out = out.unionByName(s.select("b", "c_r", "c_t"))
    return out.groupBy("b").agg(
        F.sum("c_r").cast("long").alias("c_r"),
        F.sum("c_t").cast("long").alias("c_t"),
    )


def dsir_weights_from_state(
    docs: DataFrame,
    state: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 512,
    alpha: float = 1.0,
    include_bigrams: bool = True,
) -> DataFrame:
    """Score documents against ACCUMULATED bucket counters instead of
    re-fitting over history — the read side of the incremental DSIR
    maintainer. Counter summing is batch-order-invariant, so weights from
    the maintained state equal a one-pass :func:`dsir_log_weights` fit
    over everything the state has seen."""
    rc = state.select("b", F.col("c_r").cast("double").alias("c_r"))
    tc = state.where(F.col("c_t") > 0).select(
        "b", F.col("c_t").cast("double").alias("c_t")
    )
    return _dsir_score(
        docs, rc, tc, text_col=text_col, id_col=id_col, buckets=buckets,
        alpha=alpha, include_bigrams=include_bigrams,
    )
