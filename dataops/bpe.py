"""Byte-pair-encoding merge learning over a distributed corpus.

Beyond-reference extension (SURVEY §7.2): the real tokenizer-training step
of an LLM data pipeline (Sennrich et al. 2016). Classic BPE iterates:
count adjacent symbol pairs over the word-frequency table, merge the most
frequent pair everywhere, repeat. The word-frequency table (not the raw
corpus) is the working state — after the first aggregation each round
costs O(distinct words), which is why single-node tokenizer trainers work
at all; here the same shape runs distributed.

Determinism/portability contract (what makes the DuckDB twin exact):

* ties on pair count break on the pair string ascending;
* the merge rewrite uses the DOUBLED-SEPARATOR literal-replace trick:
  double every space, replace `" a  b "` with `" ab "`, collapse doubles —
  plain left-to-right literal `replace` then rewrites every occurrence
  (including runs like ``a b a b``) identically on any engine, with no
  regex lookarounds (RE2 has none) and no overlap ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["word_frequencies", "char_symbols", "bpe_learn_merges", "bpe_apply"]


def char_symbols(col) -> Column:
    """A word as its space-joined character sequence (the round-0 BPE
    state). Explicit substring indexing — no empty-pattern split, whose
    edge behavior differs across engines."""
    col = F.col(col) if isinstance(col, str) else col
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.length(col)),
            lambda i: F.substring(col, i, 1),
        ),
        " ",
    )


def word_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(sym, n)``: corpus word-frequency table with each word in round-0
    symbol form. One explode + one combinable count."""
    from dataops.dedup import normalize_text

    return (
        docs.select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("__w")
        )
        .where(F.col("__w") != "")
        .select(char_symbols("__w").alias("sym"))
        .groupBy("sym")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _merge_rewrite(sym: Column, pair: str) -> Column:
    """Apply one learned merge to a symbol string — doubled-separator
    literal replace (module docstring)."""
    a_b = pair.replace(" ", "  ")
    ab = pair.replace(" ", "")
    doubled = F.concat(F.lit(" "), F.replace(sym, F.lit(" "), F.lit("  ")), F.lit(" "))
    merged = F.replace(doubled, F.lit(f" {a_b} "), F.lit(f" {ab} "))
    return F.trim(F.replace(merged, F.lit("  "), F.lit(" ")))


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "list[tuple[str, str, int]]":
    """Learn ``n_merges`` BPE merges: ``[(left, right, pair_count), ...]``
    in merge order.

    One corpus aggregation builds the word-frequency state; each round is
    then a pair count + TakeOrdered(1) over O(distinct words) rows and a
    map-only rewrite, with lineage truncated per round. The top pair per
    round is the only driver-side scalar (same bounded-collect convention
    as k-means centroids).
    """
    # the word-frequency state is tiny (distinct words); coalescing it
    # keeps the 2 jobs/round from scheduling a full partition fan each time
    state = (
        word_frequencies(docs, text_col, id_col)
        .coalesce(8)
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        toks = F.split("sym", " ")
        pairs = state.select(
            F.col("n"),
            F.explode(
                F.when(
                    F.size(toks) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - 1),
                        lambda i: F.concat_ws(
                            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                        ),
                    ),
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, cnt = top[0]["pair"], int(top[0]["cnt"])
        left, right = pair.split(" ", 1)
        merges.append((left, right, cnt))
        state = state.select(
            _merge_rewrite(F.col("sym"), pair).alias("sym"), "n"
        ).localCheckpoint(eager=True)
    return merges


def bpe_apply(col, merges: "list[tuple[str, str, int]]") -> Column:
    """Tokenize a word column with learned merges: the round-0 character
    symbols rewritten by each merge in order — map-only, returns the
    space-joined subword string."""
    sym = char_symbols(col)
    for left, right, _cnt in merges:
        sym = _merge_rewrite(sym, f"{left} {right}")
    return sym
