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
    bits: int = 10,
    num_files: int = 64,
    stats: list[tuple[float, float]] | None = None,
) -> None:
    """Z-order-clustered Parquet layout: each of ``cols`` is min/max
    scaled into ``bits`` levels (``2**bits - 1`` steps, clamped), keyed
    with :func:`zorder_key`, and the rows are range-partitioned on the
    key (equal-size output files, robust to key skew) and sorted within
    each file — so every file and row-group covers a tight K-dim
    hyper-rectangle, and per-file AND per-row-group (min, max) ranges on
    ALL the clustered columns stay narrow, which is what data skipping
    consumes. A column with no spread keys as 0.

    Where the skipping is exploited: parquet predicate pushdown skips
    row groups inside each file (vanilla Spark, automatic — the engine's
    scans push comparison filters, see tests/test_plans.py); file-level
    skipping additionally needs a stats-tracking table format (Delta/
    Iceberg ``OPTIMIZE ZORDER`` consumes exactly this layout). The
    clustering benefit is asserted from parquet footer stats in
    tests/test_medallion.py.

    ``stats`` ((min, max) per column of ``cols``, in order) skips the
    one min/max aggregate job; at scale pass known bounds or reuse
    catalog stats. At 100 TB this is the table-maintenance OPTIMIZE
    job: a single full-table range shuffle, amortized over every later
    selective scan on any of the clustered columns."""
    exprs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if stats is None:
        row = df.agg(*(f(e) for e in exprs for f in (F.min, F.max))).collect()[0]
        stats = [(row[2 * i], row[2 * i + 1]) for i in range(len(exprs))]
    levels = (1 << bits) - 1
    scaled = []
    for e, (lo, hi) in zip(exprs, stats):
        if lo is None or float(hi) <= float(lo):  # empty input or no spread
            scaled.append(F.lit(0))
            continue
        norm = (e.cast("double") - F.lit(float(lo))) / F.lit(float(hi) - float(lo))
        clamped = F.least(F.greatest(norm, F.lit(0.0)), F.lit(1.0))
        scaled.append(F.round(clamped * levels, 0))
    (
        df.withColumn("_zval", zorder_key(scaled, bits))
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


def with_hilbert(
    df: DataFrame,
    xcol: Column | str,
    ycol: Column | str,
    bits: int = 8,
    out_col: str = "hval",
) -> DataFrame:
    """Hilbert-curve rank of a 2-D point — the locality-preserving
    alternative to :func:`zorder_key` (the technique behind
    liquid-clustering-style layouts): consecutive curve positions are
    ALWAYS adjacent cells (unit L1 step, tested exhaustively), where
    Morton order takes long diagonal jumps at power-of-two seams, so
    row-groups sorted by Hilbert rank cover tighter 2-D rectangles and
    zone maps prune box predicates at least as well on average.

    The classic per-level fold (Wikipedia ``xy2d``): at each of
    ``bits`` levels, quadrant bits (rx, ry) contribute
    ``s²·((3·rx) XOR ry)`` to the rank and the frame rotates/reflects.
    It runs as one chained projection per level, so the (x, y, d) state
    is materialized as named columns and the expression tree stays
    LINEAR in ``bits`` (as a single Column expression each rotated
    coordinate references both predecessors twice, so the tree would
    quadruple per level and stop planning beyond ~5 bits). Still zero
    shuffle, zero UDF — the whole chain is per-row arithmetic inside
    one codegen stage. Inputs are taken modulo ``2**bits`` like
    ``zorder_key``.
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
