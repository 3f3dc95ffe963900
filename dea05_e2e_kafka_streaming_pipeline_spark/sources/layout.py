"""Multi-dimensional data layout: Z-order (Morton) clustering.

Beyond reference parity (its lake writes are insertion-ordered:
ingestion/s3-orders-ingestion.py appends arrival order; SURVEY §2.3
S11) — but the single most effective data-skipping lever at 100 TB.
A table range-partitioned and sorted on ONE column prunes scans only
for predicates on that column; interleaving the bits of K columns into
one Morton key makes every parquet row-group a small hyper-rectangle in
K-dim space, so min/max footer stats prune scans for predicates on ANY
clustered column (the technique Delta's OPTIMIZE ZORDER BY popularized;
Morton, 1966).

Everything here is JVM-side codegen arithmetic — shift/and/or folds,
no UDFs — and the write path is one range shuffle, exactly what a sort
by a scalar key costs. The clustering benefit is measured, not assumed:
``tests/test_layout.py`` writes the same table linear- and z-ordered
and asserts the z-layout's zone maps prune strictly more row-groups for
a 2-D box predicate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton interleave of K non-negative integer columns into one
    BIGINT sort key: output bit ``K*i + j`` is bit ``i`` of column
    ``j``. Columns are taken modulo ``2**bits`` (callers rank- or
    range-normalize first if the domain exceeds that; 16 bits × 4 cols
    fills the 63 usable bits of a BIGINT).

    Pure expression fold — ``K*bits`` shift/and/shiftleft terms OR-ed
    together, all inside whole-stage codegen.
    """
    k = len(cols)
    if not (1 <= k * bits <= 63):
        raise ValueError(f"{k} cols x {bits} bits exceeds a BIGINT")
    terms: list[Column] = []
    for j, c in enumerate(cols):
        x = F.pmod(F.col(c).cast("bigint") if isinstance(c, str) else c.cast("bigint"),
                   F.lit(1 << bits))
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), k * i + j)
            )
    return reduce(lambda a, b: a.bitwiseOR(b), terms).alias("zval")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[Column | str],
    bits: int = 16,
    num_files: int = 8,
) -> None:
    """Cluster ``df`` on the Morton key of ``cols`` and write it as
    parquet: each key is range-normalized onto ``[0, 2**bits)`` from
    one min/max aggregate (so keys of any domain — doubles, negative
    ids, wide longs — use the full bit budget), interleaved with
    :func:`zorder_key`, then one range shuffle on the key (equal-size
    output files via range partitioning, robust to key skew) + an
    in-partition sort so each row-group covers a contiguous Morton
    range — a tight K-dim hyper-rectangle in the zone maps.

    At 100 TB this is the table-maintenance OPTIMIZE job: cost is one
    stats aggregate plus a single full-table range shuffle, amortized
    over every subsequent selective scan on any of the clustered
    columns."""
    keys = [(F.col(c) if isinstance(c, str) else c).cast("double") for c in cols]
    bounds = df.agg(*[f(k) for k in keys for f in (F.min, F.max)]).first()
    levels = (1 << bits) - 1
    ranked = []
    for j, k in enumerate(keys):
        lo, hi = bounds[2 * j], bounds[2 * j + 1]
        if lo is None or hi <= lo:  # empty or constant key
            ranked.append(F.lit(0))
        else:
            ranked.append(F.round((k - F.lit(lo)) / F.lit(hi - lo) * levels))
    (
        df.withColumn("_zval", zorder_key(ranked, bits))
        .repartitionByRange(num_files, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval")
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroups_matching_box(
    stats: DataFrame,
    box: dict[str, tuple[float, float]],
) -> DataFrame:
    """Which (file, row-group)s can a conjunctive box predicate match,
    judged purely from zone maps (min/max footer stats as produced by
    :func:`..sources.catalog.rowgroup_stats`)? The data-skipping
    decision itself, as a DataFrame op: a row-group survives iff for
    EVERY predicate column its [min,max] interval overlaps the box —
    the same pruning rule Spark's parquet reader and every lakehouse
    format apply. Used by tests to MEASURE a layout's skipping power:
    fewer surviving row-groups = fewer pages read at scale."""
    import functools as _ft

    preds = [
        (
            (F.col("column") == c)
            & (F.col("min_value").cast("double") <= F.lit(float(hi)))
            & (F.col("max_value").cast("double") >= F.lit(float(lo)))
        )
        for c, (lo, hi) in box.items()
    ]
    hit_any = _ft.reduce(lambda a, b: a | b, preds)
    return (
        stats.filter(F.col("column").isin(list(box)))
        .withColumn("_hit", hit_any.cast("int"))
        .groupBy("file_name", "row_group")
        .agg(
            F.sum("_hit").alias("cols_overlapping"),
            F.count("*").alias("cols_checked"),
        )
        .filter(F.col("cols_overlapping") == F.col("cols_checked"))
        .select("file_name", "row_group")
    )


def hilbert_key(xcol: Column | str, ycol: Column | str, bits: int = 4) -> Column:
    """Hilbert-curve index of a 2-D point — the locality-preserving
    alternative to :func:`zorder_key` (the technique behind
    liquid-clustering-style layouts): consecutive curve positions are
    ALWAYS adjacent cells (unit L1 step, tested exhaustively), where
    Morton order takes long diagonal jumps at power-of-two seams, so
    row-groups sorted by Hilbert rank cover tighter 2-D rectangles and
    zone maps prune box predicates at least as well on average.

    The classic per-level fold (Wikipedia ``xy2d``): at each of
    ``bits`` levels, quadrant bits (rx, ry) contribute
    ``s²·((3·rx) XOR ry)`` to the rank and the frame rotates/reflects.
    Unrolled here into pure codegen shift/and/when arithmetic. CAVEAT:
    the single-Column form QUADRUPLES its expression tree per level
    (each rotated coordinate references both predecessors twice), so it
    is only usable to ~5 bits — use :func:`with_hilbert` for the
    practical 8-bit default; it breaks the growth by materializing the
    per-level state as real columns. Inputs are taken modulo
    2**bits like ``zorder_key``.
    """
    n = 1 << bits
    x = F.pmod(
        (F.col(xcol) if isinstance(xcol, str) else xcol).cast("bigint"), F.lit(n)
    )
    y = F.pmod(
        (F.col(ycol) if isinstance(ycol, str) else ycol).cast("bigint"), F.lit(n)
    )
    d: Column = F.lit(0).cast("bigint")
    s = n >> 1
    while s > 0:
        k = s.bit_length() - 1
        rx = F.shiftright(x, k).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, k).bitwiseAND(F.lit(1))
        d = d + F.lit(s * s) * (rx * 3).bitwiseXOR(ry)
        swap = ry == 0
        flip = swap & (rx == 1)
        fx = F.when(flip, F.lit(n - 1) - x).otherwise(x)
        fy = F.when(flip, F.lit(n - 1) - y).otherwise(y)
        x, y = (
            F.when(swap, fy).otherwise(fx),
            F.when(swap, fx).otherwise(fy),
        )
        s >>= 1
    return d.alias("hval")


def with_hilbert(
    df: DataFrame,
    xcol: Column | str,
    ycol: Column | str,
    bits: int = 8,
    out_col: str = "hval",
) -> DataFrame:
    """Hilbert rank as a DataFrame fold: one chained projection per
    level, so the (x, y, d) state is materialized as named columns and
    the expression tree stays LINEAR in ``bits`` (the Column form
    :func:`hilbert_key` quadruples per level and overflows the
    analyzer beyond ~5 bits). Still zero shuffle, zero UDF — the whole
    chain is per-row arithmetic inside one codegen stage.
    """
    n = 1 << bits
    x = (F.col(xcol) if isinstance(xcol, str) else xcol).cast("bigint")
    y = (F.col(ycol) if isinstance(ycol, str) else ycol).cast("bigint")
    out = df.withColumns(
        {
            "__hx": F.pmod(x, F.lit(n)),
            "__hy": F.pmod(y, F.lit(n)),
            "__hd": F.lit(0).cast("bigint"),
        }
    )
    s = n >> 1
    while s > 0:
        k = s.bit_length() - 1
        rx = F.shiftright(F.col("__hx"), k).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("__hy"), k).bitwiseAND(F.lit(1))
        swap = ry == 0
        flip = swap & (rx == 1)
        fx = F.when(flip, F.lit(n - 1) - F.col("__hx")).otherwise(F.col("__hx"))
        fy = F.when(flip, F.lit(n - 1) - F.col("__hy")).otherwise(F.col("__hy"))
        out = out.withColumns(
            {
                "__hd": F.col("__hd") + F.lit(s * s) * (rx * 3).bitwiseXOR(ry),
                "__hx": F.when(swap, fy).otherwise(fx),
                "__hy": F.when(swap, fx).otherwise(fy),
            }
        )
        s >>= 1
    return out.withColumnRenamed("__hd", out_col).drop("__hx", "__hy")
