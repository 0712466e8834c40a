"""Corpus-cleaning operators: line-level boilerplate removal, repetition
metrics, and PII redaction.

Beyond-reference extensions (SURVEY §7.2): the standard text-cleaning stages
of an LLM training-data pipeline (C4's cross-document line dedup, Gopher's
repetition filters, and regex PII scrubbing), expressed as pure DataFrame
transforms so they run JVM-side at corpus scale.

Design for 100 TB:

* :func:`drop_boilerplate_lines` — the only stage with a shuffle: explode to
  (doc, pos, line), count DISTINCT docs per normalized line (map-side partial
  agg), anti-join the frequent set back, reassemble with a per-doc sort that
  is bounded by document length. Line identity is the trimmed line string —
  no hashing needed, every engine compares strings equally.
* :func:`repetition_features` — per-row higher-order-function expressions
  only (``array_distinct``/``size``); zero shuffles, zero UDFs.
* :func:`top_word_fraction` — the one repetition metric that needs grouping
  (most frequent word per doc); explode + two-stage agg, keyed by doc id.
* :func:`redact_pii` / :func:`pii_counts` — ``regexp_replace`` /
  ``regexp_count`` column expressions; the regexes avoid constructs that
  differ between Java regex and RE2 so DuckDB replays them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "doc_lines",
    "line_frequencies",
    "drop_boilerplate_lines",
    "repetition_features",
    "top_word_fraction",
    "PII_PATTERNS",
    "redact_pii",
    "pii_counts",
    "compression_ratio",
]


def doc_lines(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into ``(id, pos, line)`` — one row per line,
    0-based position preserved so the document can be reassembled."""
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )


def line_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(line_key, n_docs)``: for each trimmed non-empty line, the number
    of DISTINCT documents containing it.

    ``distinct`` before the count makes the count per-document (a line
    repeated inside one doc counts once), and gives the aggregation
    map-side-combinable on (line_key, doc_id).
    """
    return (
        doc_lines(docs, text_col, id_col)
        .select(F.col(id_col), F.trim("line").alias("line_key"))
        .filter(F.col("line_key") != "")
        .distinct()
        .groupBy("line_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def drop_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style cross-document line dedup: remove every line whose trimmed
    form appears in ``min_docs`` or more distinct documents, and reassemble
    each document from its surviving lines in original order.

    Returns ``(id_col, text_col, n_kept, n_dropped)`` — one row per input
    document (a fully-boilerplate document survives with empty text, so the
    corpus row count is stable through the stage).

    Blank lines are never treated as boilerplate (they carry formatting, not
    content). The frequent-line set is usually tiny relative to the corpus —
    Catalyst/AQE will broadcast the anti-join side when it fits.
    """
    lines = doc_lines(docs, text_col, id_col)
    frequent = line_frequencies(docs, text_col, id_col).filter(
        F.col("n_docs") >= min_docs
    )
    kept = lines.join(
        frequent,
        F.trim(lines["line"]) == frequent["line_key"],
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("__clean"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_lines = F.size(F.split(F.col(text_col), "\n"))
    return (
        docs.select(F.col(id_col), n_lines.alias("__total"))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("__clean", F.lit("")).alias(text_col),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("__total") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        )
    )


def repetition_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    keep: "tuple[str, ...]" = (),
) -> DataFrame:
    """Gopher-style within-document repetition metrics, per doc:

    * ``dup_line_frac`` — fraction of lines that are repeats of an earlier
      line in the same doc (0 for single-line docs with unique content);
    * ``dup_word_frac`` — same over whitespace words;
    * ``dup_2gram_frac`` — same over consecutive word 2-grams.

    All three are ``1 - distinct/total`` computed with higher-order
    functions on the split arrays — a pure projection, no shuffle, no UDF.
    Rounded to 6dp for cross-engine float parity. ``keep`` passes extra
    input columns through (the fusion seam :func:`quality_gate` uses to
    stack the other pure-projection signal block on top without a join).
    """

    def frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            F.round(1.0 - F.size(F.array_distinct(arr)) / n, 6)
        )

    # materialize the split arrays as columns FIRST: referencing the split
    # expression inside a HOF lambda would re-evaluate the full regex split
    # per array element (O(tokens²) — the classic HOF re-evaluation trap)
    arrs = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.filter(
            F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
            lambda x: x != "",
        ).alias("__lines"),
        F.split(
            F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "
        ).alias("__words"),
    )
    w = F.col("__words")
    # consecutive 2-grams = zip of the array with itself shifted by one
    grams2 = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return arrs.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        frac(F.col("__lines")).alias("dup_line_frac"),
        frac(w).alias("dup_word_frac"),
        frac(grams2).alias("dup_2gram_frac"),
    )


def top_word_fraction(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, top_word, top_word_frac)``: the most frequent whitespace word
    in each doc and its share of the doc's words (Gopher's "fraction of
    characters in the most common word" family).

    Explode + count is map-side combinable on (doc, word); the per-doc
    argmax AND the per-doc word total both come out of ONE second
    aggregation over the (doc, word) counts — ``total`` is the sum of the
    per-word counts, so the naive second explode pass over the corpus and
    the totals join are algebraically redundant (round-14: one corpus
    explode + two combinable aggs, down from two explodes + three aggs +
    a join). Ties break to the lexicographically largest word (struct
    comparison order), which is deterministic and SQL-replayable.
    """
    words = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    counts = words.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy(id_col).agg(
        F.max(F.struct(F.col("n"), F.col("word"))).alias("__b"),
        F.sum("n").alias("__total"),
    ).select(
        F.col(id_col),
        F.col("__b.word").alias("top_word"),
        F.round(F.col("__b.n") / F.col("__total"), 6).alias("top_word_frac"),
    )


#: PII regexes restricted to the Java-regex ∩ RE2 common subset (no
#: backrefs, no lookarounds) so Spark and DuckDB replay them identically.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}",
}


def redact_pii(col, patterns: dict[str, str] | None = None) -> Column:
    """Replace each PII match with ``<CATEGORY>`` — chained
    ``regexp_replace`` expressions, applied in sorted-category order so the
    composition is deterministic."""
    col = F.col(col) if isinstance(col, str) else col
    out = col
    for name in sorted(patterns or PII_PATTERNS):
        out = F.regexp_replace(
            out, (patterns or PII_PATTERNS)[name], f"<{name.upper()}>"
        )
    return out


def pii_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Per-doc match counts for every PII category plus the redacted text —
    the audit output a scrubbing stage emits before dropping originals."""
    pats = patterns or PII_PATTERNS
    cols = [F.col(id_col)] + [
        F.regexp_count(F.col(text_col), F.lit(p)).alias(f"n_{name}")
        for name, p in sorted(pats.items())
    ] + [redact_pii(F.col(text_col), pats).alias("redacted")]
    return docs.select(*cols)


def compression_ratio(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap junk
    detector (RedPajama/CCNet-family heuristics): highly repetitive
    machine-generated text compresses far below natural language, random
    noise barely compresses at all. Returns ``(id, n_bytes, n_compressed,
    ratio)`` with ``ratio = n_compressed / n_bytes`` (null for empty text).

    zlib is not expressible as a Catalyst function, so this is the honest
    Python tier — Arrow-batched ``mapInPandas`` (the multimodal decode
    shape): the UDF streams pandas batches, never whole partitions, and
    emits only the narrow stats. Fixed compression level keeps the result
    deterministic; zero shuffles.
    """
    import zlib
    from typing import Iterator

    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for batch in batches:
            raw = [
                (t if isinstance(t, str) else "").encode("utf-8")
                for t in batch[text_col]
            ]
            n_bytes = [len(b) for b in raw]
            n_comp = [len(zlib.compress(b, 6)) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: batch[id_col],
                    "n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "n_compressed": pd.Series(n_comp, dtype="int64"),
                    "ratio": [
                        round(c / b, 6) if b else None
                        for b, c in zip(n_bytes, n_comp)
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        run,
        schema=(
            f"{id_col} {id_type}, n_bytes long, n_compressed long, "
            "ratio double"
        ),
    )


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    mean_word_len_range: "tuple[float, float]" = (3.0, 10.0),
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.01,
    max_dup_line_frac: float = 0.3,
    max_dup_2gram_frac: float = 0.2,
    max_top_word_frac: float = 0.2,
) -> DataFrame:
    """Gopher-style composite quality gate (Rae et al. 2021 §A1.1 rule
    family): every document gets ``keep`` plus the array of violated rule
    names — the auditable form a curation pipeline needs (drop REASONS, not
    just drops, so threshold changes can be replayed without re-scoring).

    Rules, in reason order: token count outside ``[min_tokens,
    max_tokens]``; mean word length outside ``mean_word_len_range``;
    punctuation density above ``max_punct_ratio``; stopword ratio below
    ``min_stopword_ratio``; duplicate-line / duplicate-2-gram fractions
    above their caps; most-common-word share above ``max_top_word_frac``.
    All comparisons run on the 6dp-rounded operator outputs, so the gate is
    exactly replayable cross-engine.

    Scale shape: two of the three signal blocks are pure projections
    (:func:`repetition_features`, ``textquality.quality_features``), so
    they are FUSED into one stacked projection over a single corpus scan
    (round-14: the earlier qf-join-rep cost a second scan plus an equi-join
    for columns that never needed one); the top-word share is one
    map-side-combinable aggregation; the gate is then one equi-join on the
    doc id. Linear, no Python, no windows.
    """
    from dataops.textquality import quality_features

    rep = repetition_features(docs, text_col, id_col, keep=(text_col,))
    qf = quality_features(
        rep, text_col, id_col,
        keep=("dup_line_frac", "dup_word_frac", "dup_2gram_frac"),
    )
    tw = top_word_fraction(docs, text_col, id_col).select(
        id_col, "top_word_frac"
    )
    lo_mwl, hi_mwl = mean_word_len_range
    joined = (
        qf.join(tw, id_col, "left")
        .withColumn(
            "__twf", F.coalesce("top_word_frac", F.lit(0.0))
        )
    )
    reasons = F.array_compact(
        F.array(
            F.when(
                (F.col("n_tokens") < min_tokens)
                | (F.col("n_tokens") > max_tokens),
                F.lit("n_tokens"),
            ),
            F.when(
                (F.col("mean_word_len") < lo_mwl)
                | (F.col("mean_word_len") > hi_mwl),
                F.lit("mean_word_len"),
            ),
            F.when(
                F.col("punct_ratio") > max_punct_ratio, F.lit("punct_ratio")
            ),
            F.when(
                F.col("stopword_ratio") < min_stopword_ratio,
                F.lit("stopword_ratio"),
            ),
            F.when(
                F.col("dup_line_frac") > max_dup_line_frac,
                F.lit("dup_line_frac"),
            ),
            F.when(
                F.col("dup_2gram_frac") > max_dup_2gram_frac,
                F.lit("dup_2gram_frac"),
            ),
            F.when(
                F.col("__twf") > max_top_word_frac, F.lit("top_word_frac")
            ),
        )
    )
    return joined.select(
        F.col(id_col),
        reasons.alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )
