"""Multi-dimensional data layout: Z-order (Morton) clustering.

Beyond-reference extension. A 100 TB table filtered on several columns at
once (e.g. ``part_key`` AND ``supp_key``) cannot be range-partitioned to
serve both predicates — but writing it in Z-ORDER interleaves the bits of
both keys so rows close in EVERY dimension land in the same files, and
parquet min/max (or partition) pruning then skips most of the table for
either predicate. This is the same layout trick Delta Lake's ``OPTIMIZE
ZORDER BY`` and ClickHouse/DuckDB spatial curves use, built here from
plain Catalyst expressions:

* :func:`zorder_value` — the Morton code of N normalized columns as one
  codegen-friendly unrolled bit-interleave expression (no UDF);
* :func:`zorder_layout` — normalize each column to ``bits``-bit integers
  via min/max scalars (two bounded driver scalars per column, never a
  global sort), attach the Morton code, and range-partition by it so a
  downstream ``write`` produces Z-clustered files.

Scale shape: normalization constants are one tiny ``agg().collect()``
(bounded: 2 scalars per column); the interleave is a pure projection
inside whole-stage codegen; the only shuffle is the final
``repartitionByRange`` on the Morton code — exactly the one shuffle any
re-layout must pay. Skewed/NULL values degrade gracefully: NULLs map to
bucket 0.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "zorder_value",
    "zorder_layout",
    "hilbert_value",
    "hilbert_value_nd",
    "hilbert_layout",
    "file_stats",
    "pruning_selectivity",
]


def _minmax_normalized(df: DataFrame, cols: Sequence[str], bits: int):
    """Per-column min/max-normalized ``[0, 2^bits)`` integer expressions.

    Bounds come from ONE bounded scalar aggregation (2 doubles per column
    — the audited driver-scalar pattern); NULLs normalize to 0, constant
    columns to all-zero bits.
    """
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    top = (1 << bits) - 1
    norm = []
    for i, c in enumerate(cols):
        lo, hi = stats[f"__lo_{i}"], stats[f"__hi_{i}"]
        if lo is None or hi is None or hi == lo:
            norm.append(F.lit(0).cast("long"))
            continue
        scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
            float(hi) - float(lo)
        )
        norm.append(
            F.least(
                F.floor(F.coalesce(scaled, F.lit(0.0)) * (top + 1)).cast("long"),
                F.lit(top),
            )
        )
    return norm


def zorder_value(cols: Sequence[Column], bits: int = 8) -> Column:
    """Morton (Z-curve) code interleaving the low ``bits`` bits of each
    already-normalized integer column: bit ``j`` of column ``c`` lands at
    output position ``j * n_cols + c``. Pure unrolled shift/mask
    arithmetic — stays inside whole-stage codegen; ``n_cols * bits`` must
    fit a signed long (<= 62)."""
    n = len(cols)
    if n < 1:
        raise ValueError("zorder_value needs at least one column")
    if n * bits > 62:
        raise ValueError(f"n_cols*bits = {n * bits} exceeds the 62-bit budget")
    z = F.lit(0).cast("long")
    for c_idx, col in enumerate(cols):
        for j in range(bits):
            z = z + F.shiftleft(
                F.shiftrightunsigned(col.cast("long"), j).bitwiseAND(F.lit(1)),
                j * n + c_idx,
            )
    return z


def zorder_layout(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    n_partitions: int | None = None,
    out_col: str = "__z",
    partition: bool = True,
) -> DataFrame:
    """Return ``df`` with a Morton code column, range-partitioned by it —
    write the result out to get Z-clustered files whose per-file min/max
    ranges are narrow in EVERY ``cols`` dimension at once.

    Each column is min/max-normalized to ``[0, 2^bits)`` with scalar
    bounds fetched in ONE bounded aggregation (2 doubles per column — the
    audited driver-scalar pattern, not a data collect); NULLs normalize
    to 0. Constant columns contribute zero bits (all rows coincide).
    """
    norm = _minmax_normalized(df, cols, bits)
    out = df.withColumn(out_col, zorder_value(norm, bits=bits))
    if not partition:
        # curve column only, no range exchange: for consumers that
        # aggregate/audit the codes rather than write clustered files, the
        # range partitioner would add a sampling pass (recomputing the
        # child) plus a full-table shuffle for zero result effect
        return out
    if n_partitions:
        return out.repartitionByRange(n_partitions, F.col(out_col))
    return out.repartitionByRange(F.col(out_col))


def _nonnegative(c: Column, fn: str, name: str) -> Column:
    """``c`` as a long, failing the query on a negative value: a Hilbert
    index is defined on the nonnegative grid only, and a negative
    coordinate would otherwise collide with a valid cell's index."""
    c = c.cast("long")
    message = F.concat(F.lit(f"{fn}: negative {name} "), c.cast("string"))
    return F.when(c < 0, F.raise_error(message)).otherwise(c)


def hilbert_value(x: Column, y: Column, bits: int = 8) -> Column:
    """Hilbert-curve index of an already-normalized 2-D integer point —
    the space-filling curve with strictly better locality than Z-order
    (no long diagonal jumps: consecutive curve positions are always
    adjacent cells, so per-file bounding boxes come out tighter).

    The classic per-level reflect/rotate walk (Warren, Hacker's Delight
    §16) expressed as ONE ``aggregate`` fold over the level sequence
    carrying ``(x, y, d)`` — state evaluates once per level, so the
    expression stays linear in ``bits`` (an unrolled column expression
    would triple per level). Bit tests use integer shifts by the bound
    level column via ``call_function`` (the python shift wrappers only
    accept literal amounts; the Catalyst expressions do not care).

    A negative coordinate is outside the curve's domain and fails the
    query; a null one gives a null index.
    """
    levels = F.sequence(F.lit(bits - 1), F.lit(0), F.lit(-1))
    init = F.struct(
        _nonnegative(x, "hilbert_value", "x").alias("x"),
        _nonnegative(y, "hilbert_value", "y").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    full = F.lit((1 << bits) - 1).cast("long")  # reflection uses the FULL grid

    def step(acc, i):
        # s = 1 << i; bit tests via integer shifts (the python shiftleft /
        # shiftrightunsigned wrappers only take literal shift amounts, but
        # call_function reaches the Catalyst binary expressions with the
        # lambda-bound level column — no pow/double-division per level)
        s = F.call_function("shiftleft", F.lit(1).cast("long"), i.cast("int"))
        rx = F.call_function("shiftrightunsigned", acc["x"], i.cast("int")) % 2
        ry = F.call_function("shiftrightunsigned", acc["y"], i.cast("int")) % 2
        d = acc["d"] + s * s * (rx * 3).bitwiseXOR(ry)
        refl = rx == 1
        xr = F.when(refl, full - acc["x"]).otherwise(acc["x"])
        yr = F.when(refl, full - acc["y"]).otherwise(acc["y"])
        nx = F.when(ry == 0, yr).otherwise(acc["x"])
        ny = F.when(ry == 0, xr).otherwise(acc["y"])
        return F.struct(nx.alias("x"), ny.alias("y"), d.alias("d"))

    return F.aggregate(levels, init, step, lambda acc: acc["d"])


def hilbert_value_nd(cols: Sequence[Column], bits: int = 8) -> Column:
    """Hilbert-curve index of an already-normalized d-dimensional integer
    point, any ``d >= 2`` — the arity-general companion to the 2-D
    reflect/rotate fold, via Skilling's transpose algorithm (J. Skilling,
    "Programming the Hilbert curve", AIP Conf. Proc. 707, 2004): undo the
    excess rotations level-by-level, Gray-encode across dimensions, then
    bit-interleave MSB-first. Bijective on the full ``2^(d*bits)`` grid
    with unit-step adjacency between consecutive indices (machine-checked
    in ``tests/test_layout.py`` for d = 2 and 3).

    Shaped like the 2-D fold: the level loop is ONE ``aggregate`` over the
    level sequence carrying the d coordinates as a struct (state evaluates
    once per level); the dimension loop, Gray chain, and interleave are
    Python-unrolled over the fold's BOUND accumulator variable, so nothing
    re-evaluates per term. Bit tests inside the fold use integer shifts by
    the bound level column (``call_function``, as in 2-D). Note the
    d = 2 orientation differs from :func:`hilbert_value` (both are true
    Hilbert curves; locality properties are identical).

    ``d * bits`` must fit a signed long (<= 62). A negative coordinate
    fails the query; a null one gives a null index.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("hilbert_value_nd needs at least two columns")
    if n * bits > 62:
        raise ValueError(f"n_cols*bits = {n * bits} exceeds the 62-bit budget")
    levels = F.sequence(F.lit(bits - 1), F.lit(1), F.lit(-1))
    init = F.struct(*[
        _nonnegative(c, "hilbert_value_nd", f"x{i}").alias(f"x{i}")
        for i, c in enumerate(cols)
    ])

    def step(acc, q):
        # 1 << q and bit tests via integer shifts (see hilbert_value)
        big_q = F.call_function(
            "shiftleft", F.lit(1).cast("long"), q.cast("int")
        )
        p = big_q - 1
        xs = [acc[f"x{i}"] for i in range(n)]
        for i in range(n):
            hi_bit = (
                F.call_function("shiftrightunsigned", xs[i], q.cast("int")) % 2
            ) == 1
            if i == 0:
                # t = (x0 ^ x0) & p = 0: the else-branch is a no-op
                xs[0] = F.when(hi_bit, xs[0].bitwiseXOR(p)).otherwise(xs[0])
            else:
                t = xs[0].bitwiseXOR(xs[i]).bitwiseAND(p)
                x0_new = F.when(hi_bit, xs[0].bitwiseXOR(p)).otherwise(
                    xs[0].bitwiseXOR(t)
                )
                xi_new = F.when(hi_bit, xs[i]).otherwise(xs[i].bitwiseXOR(t))
                xs[0], xs[i] = x0_new, xi_new
        return F.struct(*[x.alias(f"x{i}") for i, x in enumerate(xs)])

    def finish(acc):
        xs = [acc[f"x{i}"] for i in range(n)]
        for i in range(1, n):  # Gray encode across dimensions
            xs[i] = xs[i].bitwiseXOR(xs[i - 1])
        t = F.lit(0).cast("long")
        for q in range(bits - 1, 0, -1):
            bit = F.shiftrightunsigned(xs[n - 1], q).bitwiseAND(F.lit(1))
            t = t.bitwiseXOR(bit * F.lit((1 << q) - 1))
        xs = [x.bitwiseXOR(t) for x in xs]
        h = F.lit(0).cast("long")
        for j in range(bits):  # MSB-first interleave across dimensions
            for i in range(n):
                h = h + F.shiftleft(
                    F.shiftrightunsigned(xs[i], j).bitwiseAND(F.lit(1)),
                    j * n + (n - 1 - i),
                )
        return h

    return F.aggregate(levels, init, step, finish)


def hilbert_layout(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    n_partitions: int | None = None,
    out_col: str = "__h",
    partition: bool = True,
) -> DataFrame:
    """:func:`zorder_layout`'s Hilbert twin, any arity >= 2: normalize the
    columns to ``bits``-bit integers, attach the Hilbert index, and
    range-partition by it. Same single-shuffle envelope; tighter per-file
    bounding boxes than the Z-curve on range predicates. d = 2 uses the
    reflect/rotate fold (:func:`hilbert_value`), d >= 3 the Skilling
    transpose (:func:`hilbert_value_nd`)."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("hilbert_layout needs at least two columns")
    if len(cols) * bits > 62:
        raise ValueError(
            f"n_cols*bits = {len(cols) * bits} exceeds the 62-bit budget"
        )
    norms = _minmax_normalized(df, cols, bits)
    cell_cols = [f"__c{i}" for i in range(len(cols))]
    # the curve index is a pure function of the (<= 2^(d*bits)) grid CELL,
    # so the (interpreted) curve fold runs once per DISTINCT cell and
    # broadcast-joins back — bounded by the grid size regardless of table
    # size (measured 7.8 s -> 2 s at sf0.1 for d=2, bits=8), and the join
    # is a map-side broadcast
    if len(cols) == 2:
        curve = hilbert_value(
            F.col(cell_cols[0]), F.col(cell_cols[1]), bits=bits
        )
    else:
        curve = hilbert_value_nd([F.col(c) for c in cell_cols], bits=bits)
    cells = (
        df.select(*[nv.alias(cc) for nv, cc in zip(norms, cell_cols)])
        .distinct()
        .withColumn(out_col, curve)
    )
    out = df
    for nv, cc in zip(norms, cell_cols):
        out = out.withColumn(cc, nv)
    out = out.join(F.broadcast(cells), cell_cols).drop(*cell_cols)
    if not partition:
        # see zorder_layout: skip the range exchange (and its sampling
        # pass over the scan+join child) when the caller only consumes
        # the curve codes — measured 3.0 s -> 2.26 s at sf0.1, identical
        # rows either way
        return out
    if n_partitions:
        return out.repartitionByRange(n_partitions, F.col(out_col))
    return out.repartitionByRange(F.col(out_col))


def file_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-file min/max statistics for ``cols`` over an already-written
    dataset (read it back first): ``(file, n_rows, <c>_min, <c>_max, ...)``
    — the zone-map view a pruning-aware reader consults.

    This scans the data to derive the stats (one combinable aggregation
    keyed by ``input_file_name``); a production deployment would read the
    same numbers straight from the parquet footers via the footer metadata
    API and skip the scan — the REPORT shape (and the selectivity math
    below) is identical either way.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def pruning_selectivity(
    stats: DataFrame, col: str, lo, hi
) -> DataFrame:
    """How well does the current file layout prune the predicate
    ``col BETWEEN lo AND hi``? One row: ``(n_files, n_files_read,
    files_skipped_frac, rows_read, rows_total)`` — a file is read iff its
    ``[min, max]`` zone overlaps the predicate range. The layout quality
    gauge for :func:`zorder_layout` (and any partitioning): run it per
    filter column before committing a 100 TB rewrite.
    """
    overlaps = (F.col(f"{col}_max") >= F.lit(lo)) & (
        F.col(f"{col}_min") <= F.lit(hi)
    )
    return stats.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(overlaps.cast("long")).alias("n_files_read"),
        F.round(
            1 - F.sum(overlaps.cast("double")) / F.count(F.lit(1)), 6
        ).alias("files_skipped_frac"),
        F.sum(F.when(overlaps, F.col("n_rows")).otherwise(0)).alias(
            "rows_read"
        ),
        F.sum("n_rows").alias("rows_total"),
    )
