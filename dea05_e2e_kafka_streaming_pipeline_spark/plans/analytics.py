"""General analytics plans beyond the reference's two gold queries —
the OLAP shapes a lakehouse engine must cover (sorts, top-k per group,
multi-way star joins, wide aggregate sweeps), all Catalyst-native.

Determinism discipline matches plans/gold.py: monetary/measure sums
aggregate as exact decimals and surface as doubles; orderings always
carry a unique tie-break key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


SMALL_ROWS: dict[str, int] = {
    "connected_components": 1_000_000,
    "k_core": 1_000_000,
    "global_row_number": 2_000_000,
    "global_cumsum": 2_000_000,
    "theil_sen": 8_000_000,
}
"""Row bound of the single-node branch of each size-adaptive operator:
inputs of at most ``SMALL_ROWS[op]`` rows run on the driver or in ONE
task instead of the distributed plan, whose fixed per-stage cost
dominates small inputs. The bound is what keeps that single node's
memory bounded:

- ``connected_components`` (edges; driver heap): two int64 arrays via
  Arrow (16 B/edge) plus the union-find dict and the (node → component)
  mapping, ~300 B/edge when every endpoint is distinct — ~0.3 GB at
  the gate.
- ``k_core`` (canonical edges; driver heap): two int64 arrays plus the
  per-vertex degree array and two masks, ~26 B/edge — ~26 MB at the
  gate (see ``operators.graph._kcore_driver``).
- ``global_row_number`` (rows; one JVM task): the ``Coalesce(1)`` sort
  buffers each row's UnsafeRow bytes plus a 16 B pointer/prefix entry
  in that task's execution memory (spillable).
- ``global_cumsum`` (distinct values; one task): the same sort buffer;
  its Python worker holds one Arrow batch at a time.
- ``theil_sen`` (pairwise slopes or intercept candidates; one JVM
  task): the ``repartition(1)`` sort of one 8- or 16-byte key, ~40 B/row
  with row overhead and sort pointer — ~0.3 GB at the bound.

Every entry is read at call time, so a test can force the distributed
branch with ``monkeypatch.setitem(SMALL_ROWS, op, 0)``.
"""


def size_gate(df: DataFrame, op: str) -> tuple[DataFrame, int, bool]:
    """The one size gate of the size-adaptive operators: pin ``df``
    with a lazy ``localCheckpoint`` and count it exactly once. Returns
    ``(pinned, n, small)``, where ``small`` is ``n <= SMALL_ROWS[op]``.

    The count materializes the pin, so the input plan runs ONCE for
    either branch: the small branch collects or coalesces the pinned
    blocks, the distributed branch reads them (a ``take(bound + 1)``
    probe would re-run the plan over the bound and collect up to bound
    boxed Rows under it). NOT ``.persist()``: the
    checkpoint binds to this DataFrame object, so nothing leaks across
    invocations the way a plan-matched cache entry does. Callers project
    to the columns they need first, so the pin is a narrow-table write.
    """
    pinned = df.localCheckpoint(eager=False)
    n = pinned.count()
    return pinned, n, n <= SMALL_ROWS[op]


def _running_sums(sum_cols: list[str], prefix: str):
    """``mapInArrow`` function appending ``prefix + c``, the running
    total of each integer column ``c`` within the partition.
    Arrow-native, not mapInPandas: payload and DECIMAL order columns
    pass through as untouched Arrow buffers (pandas would box every
    decimal) and the int64 cumsum runs vectorized."""

    def running(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        carry = {c: 0 for c in sum_cols}
        for batch in batches:
            names = list(batch.schema.names)
            cols = list(batch.columns)
            for c in sum_cols:
                col = pc.cast(batch.column(names.index(c)), pa.int64())
                cs = pc.add(pc.cumulative_sum_checked(col), carry[c])
                if batch.num_rows:
                    carry[c] = cs[batch.num_rows - 1].as_py()
                cols.append(cs)
                names.append(f"{prefix}{c}")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return running


def _prefix_scaffold(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """The distributed running-total plan behind :func:`global_cumsum`
    and :func:`global_row_number` (the DataFrame form of RDD
    ``zipWithIndex``), never the single-reducer ``OVER (ORDER BY ...)``
    collapse — Spark plans that window as an Exchange to ONE partition,
    the canonical 100 TB anti-pattern (one task sorts the world):

    1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
       key — a normal range shuffle, every partition sorted and
       globally ordered BETWEEN partitions;
    2. one Arrow pass stamps the local running totals and the JVM
       stamps the partition id, with zero shuffle;
    3. per-partition totals (a ≤ num_partitions-row aggregate) come
       back to the driver, prefix-summed into offsets, and broadcast-
       joined back: ``cum_c = offset[pid] + local_c``.

    The stamped stream is pinned with a lazy ``localCheckpoint`` because
    steps 2→3 take two actions over it; at lake scale the natural form
    is "write the range-sorted table, then offset from file totals" —
    the local checkpoint is the interactive equivalent. ``sum_cols``
    must be integer-typed (the offsets add exactly in any schedule).
    Output: the input columns plus ``cum_<c>`` for each ``c``.
    """
    from pyspark.sql import types as T

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    out_schema = T.StructType(
        list(ranged.schema.fields)
        + [T.StructField(f"__lcs_{c}", T.LongType(), False) for c in sum_cols]
    )
    local = (
        ranged.mapInArrow(_running_sums(sum_cols, "__lcs_"), out_schema)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = sorted(
        (r["__pid"], tuple(r[f"__t_{c}"] for c in sum_cols))
        for r in local.groupBy("__pid")
        .agg(*[F.sum(c).alias(f"__t_{c}") for c in sum_cols])
        .collect()
    )
    offsets, acc = [], [0] * len(sum_cols)
    for pid, tots in totals:
        offsets.append((pid, *acc))
        acc = [a + (t or 0) for a, t in zip(acc, tots)]
    off_schema = "__pid int, " + ", ".join(f"__off_{c} long" for c in sum_cols)
    off_df = spark.createDataFrame(offsets, off_schema)
    out = local.join(F.broadcast(off_df), "__pid")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.col(f"__off_{c}") + F.col(f"__lcs_{c}"))
    return out.drop(
        "__pid", *[f"__lcs_{c}" for c in sum_cols], *[f"__off_{c}" for c in sum_cols]
    )


def _row_number_scaffold(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed row numbering: the running count in ``order_cols``
    order is the :func:`_prefix_scaffold` running total of a literal-1
    column."""
    return (
        _prefix_scaffold(
            df.withColumn("__one", F.lit(1).cast("long")),
            order_cols,
            ["__one"],
            num_partitions,
        )
        .drop("__one")
        .withColumnRenamed("cum___one", out_col)
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Total-order global row numbering (1-based, in ``out_col``)
    WITHOUT the single-reducer ``row_number() OVER (ORDER BY ...)``
    collapse. ``order_cols`` must be a total order (include a unique
    tie-break) for the result to be deterministic.

    Size-adaptive (:func:`size_gate`): inputs of at most
    ``SMALL_ROWS["global_row_number"]`` rows are numbered in ONE sorted
    single-partition JVM pass — an explicit ``coalesce(1)``, never a
    silent ``Window.orderBy`` collapse; ``monotonically_increasing_id``
    on the one sorted partition is the position, whole-stage codegen,
    no Python boundary. That skips the scaffold's fixed cost (range-
    shuffle sample job + pin + per-partition-count collect + broadcast
    join — measured ~0.9 s at any input size). Larger inputs run
    :func:`_prefix_scaffold` over the already-pinned input, counting a
    literal-1 column.

    Also the exact-ntile building block: ``bucket = 1 +
    (rn-1)*k/total`` gives equal-frequency buckets without the
    unpartitioned ``ntile`` window (see ``customer_spend_quartiles``'s
    scale note).
    """
    df, _, small = size_gate(df, "global_row_number")
    if not small:
        return _row_number_scaffold(df, order_cols, out_col, num_partitions)
    # one sorted partition → monotonically_increasing_id IS the 0-based
    # position (partition 0 contributes no high bits)
    return (
        df.coalesce(1)
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .withColumn(out_col, (F.monotonically_increasing_id() + 1).cast("long"))
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Running totals of ``sum_cols`` in ``order_cols`` order WITHOUT the
    single-reducer ``sum() OVER (ORDER BY ...)`` collapse. ``order_cols``
    should be a total order for a deterministic result; ``sum_cols``
    must be integer-typed (the offsets add exactly in any schedule —
    the same order-insensitivity discipline as the fixed-point
    aggregates elsewhere).

    Output: the input columns plus ``cum_<c>`` for each ``c`` in
    ``sum_cols``.

    Size-adaptive (:func:`size_gate`): every caller feeds this a
    DISTINCT-VALUE counts table, so the input is usually bounded by the
    value domain, not the row count — at that size the scaffold's fixed
    cost dwarfs the work. Inputs of at most
    ``SMALL_ROWS["global_cumsum"]`` rows take ONE sorted single-
    partition Arrow pass (explicit ``coalesce(1)``); larger inputs run
    :func:`_prefix_scaffold` over the already-pinned input.
    """
    from pyspark.sql import types as T

    df, _, small = size_gate(df, "global_cumsum")
    if not small:
        return _prefix_scaffold(df, order_cols, sum_cols, num_partitions)
    small_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(f"cum_{c}", T.LongType(), True) for c in sum_cols]
    )
    return (
        df.coalesce(1)
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .mapInArrow(_running_sums(sum_cols, "cum_"), small_schema)
    )


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: filter on ship
    date (pushed to the parquet scan) → groupBy(returnflag, linestatus)
    → 8 aggregates in one partial+final hash agg.

    Decimal typing per measure keeps every product exact:
    price(12,2) × (1−disc)(4,2) → (17,4); × (1+tax)(4,2) → (22,6).
    """
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    disc_price = price * (F.lit(1).cast("decimal(4,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(4,2)") + tax)
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(ship_cutoff).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def top_customers_per_region(
    orders: DataFrame, customers: DataFrame, k: int = 3
) -> DataFrame:
    """Top-k customers by lifetime value within each region — the
    ranking-window capability the reference imported but never used
    (enriched/custome_lifetime_value.py:1-2). One shuffle for the
    per-customer aggregate, broadcast join to the dimension, one
    shuffle for the per-region window. Ties break on customer_id."""
    lv = orders.groupBy("customer_id").agg(
        F.sum(F.col("order_amount").cast("decimal(18,2)"))
        .cast("double")
        .alias("lifetime_value")
    )
    joined = lv.join(F.broadcast(customers.select("customer_id", "region")), "customer_id")
    w = Window.partitionBy("region").orderBy(
        F.desc("lifetime_value"), F.col("customer_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("region", "rank", "customer_id", "lifetime_value")
    )


def customer_order_gaps(orders: DataFrame, min_orders: int = 2) -> DataFrame:
    """Per-customer inter-order gap statistics via a ``lag`` window —
    the sequential-analysis shape (churn / re-engagement cadence) the
    reference's per-customer aggregates stop short of
    (enriched/custome_lifetime_value.py:17-20).

    One shuffle on ``customer_id`` serves BOTH the window and the
    follow-on groupBy (same partitioning, Catalyst reuses the
    exchange). Gap arithmetic is integer day counts; the only float is
    the final single-division average, so output hashes are
    engine-stable."""
    w = Window.partitionBy("customer_id").orderBy("order_date", "order_id")
    gaps = orders.select(
        "customer_id",
        "order_date",
        "order_id",
        F.datediff(F.col("order_date"), F.lag("order_date").over(w))
        .cast("long")  # bigint in any engine (DuckDB date_diff is bigint)
        .alias("gap_days"),
    )
    return (
        gaps.groupBy("customer_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("gap_days").alias("n_gaps"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
            (
                F.sum("gap_days").cast("double") / F.count("gap_days")
            ).alias("avg_gap_days"),
        )
        .filter(F.col("n_orders") >= min_orders)
    )


def running_monthly_revenue(orders: DataFrame) -> DataFrame:
    """Monthly revenue with running cumulative total, month-over-month
    delta (``lag``), and share-of-total — the frame-based window sweep
    (ROWS UNBOUNDED PRECEDING) beyond the ranking windows elsewhere.

    Scale note: the windows here run over the POST-AGGREGATE month
    table (cardinality = number of months, dozens of rows at any data
    scale), so the unpartitioned ordered frame is a deliberate
    single-partition pass over a tiny input — the raw orders scan
    never sees a global sort. All sums stay DECIMAL inside the frames
    and surface as doubles only at the end (order-insensitive exactness
    at 1000 executors)."""
    monthly = orders.groupBy(
        F.year("order_date").alias("o_year"),
        F.month("order_date").alias("o_month"),
    ).agg(
        F.sum(F.col("order_amount").cast("decimal(18,2)")).alias("_rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    run = (
        Window.partitionBy()
        .orderBy("o_year", "o_month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lagw = Window.partitionBy().orderBy("o_year", "o_month")
    total = Window.partitionBy()
    return monthly.select(
        "o_year",
        "o_month",
        "n_orders",
        F.col("_rev").cast("double").alias("revenue"),
        F.sum("_rev").over(run).cast("double").alias("cumulative_revenue"),
        (F.col("_rev") - F.lag("_rev").over(lagw))
        .cast("double")
        .alias("mom_delta"),
        F.round(
            F.col("_rev").cast("double") / F.sum("_rev").over(total).cast("double"),
            6,
        ).alias("share_of_total"),
    )


def local_supplier_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q5-shaped six-table join: revenue from lineitems where the
    ordering customer and the shipping supplier sit in the SAME nation,
    within one region and order-date year span.

    Join strategy for 100 TB: nation/region/supplier broadcast
    (bounded dims); customer⋈orders⋈lineitem are the shuffle joins on
    their natural keys. The c_nationkey = s_nationkey equality rides
    the join condition (no post-filter materialization of the
    cross-nation pairs). Date range prunes the orders scan; the final
    groupBy key cardinality is |nation|."""
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    n = F.broadcast(
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == region_name)),
            nation["n_regionkey"] == region["r_regionkey"],
        ).select("n_nationkey", "n_name")
    )
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = customer.join(n, customer["c_nationkey"] == n["n_nationkey"]).select(
        "c_custkey", F.col("n_nationkey").alias("c_nkey"), "n_name"
    )
    s = F.broadcast(
        supplier.select("s_suppkey", F.col("s_nationkey").alias("s_nkey"))
    )
    return (
        lineitem.select("l_orderkey", "l_suppkey", rev.alias("_rev"))
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(s, (F.col("l_suppkey") == s["s_suppkey"]) & (F.col("c_nkey") == s["s_nkey"]))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.sum("_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-07-01",
) -> DataFrame:
    """TPC-H Q14-shaped promotion-revenue share: one conditional-sum
    pass over a ship-date slice of lineitem joined to the part dim
    (broadcast). Both sums stay exact decimals; the share is the single
    double division at the end, so the one-row output hash-matches any
    execution order."""
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    zero = F.lit(0).cast("decimal(17,4)")
    joined = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .select("l_partkey", rev.alias("_rev"))
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    return joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("_rev")).otherwise(zero))
        .cast("double")
        .alias("promo_revenue"),
        F.sum("_rev").cast("double").alias("total_revenue"),
        F.round(
            F.sum(F.when(F.col("p_type") == "PROMO", F.col("_rev")).otherwise(zero))
            .cast("double")
            * 100.0
            / F.sum("_rev").cast("double"),
            6,
        ).alias("promo_share_pct"),
    )


def cheapest_supplier_per_part(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    max_size: int = 10,
) -> DataFrame:
    """TPC-H Q2-flavored correlated-minimum: for each (filtered) part,
    the supplier that shipped it at the lowest observed unit price.
    The classic correlated subquery is expressed as a ranking window
    over the part key — one shuffle on ``l_partkey``, no self-join.

    The unit price is a SINGLE IEEE division of two source doubles
    (bit-identical in any engine), so the rank-1 row is deterministic;
    ties break on supplier key."""
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    p = F.broadcast(
        part.filter(F.col("p_size") <= max_size).select("p_partkey", "p_name")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = (
        lineitem.select("l_partkey", "l_suppkey", unit)
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    sn = F.broadcast(
        supplier.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            supplier["s_nationkey"] == nation["n_nationkey"],
        ).select("s_suppkey", "s_name", "n_name")
    )
    return best.join(sn, F.col("l_suppkey") == sn["s_suppkey"]).select(
        F.col("p_partkey").alias("part_key"),
        F.col("p_name").alias("part_name"),
        F.col("s_name").alias("supplier_name"),
        F.col("n_name").alias("supplier_nation"),
        F.round("unit_price", 6).alias("best_unit_price"),
    )


def percentile_outliers(
    df: DataFrame, key_col: str, value_col: str, cutoff: float = 0.99
) -> DataFrame:
    """Rank-based extreme-value screen: rows at or above the
    ``cutoff`` percent-rank of ``value_col`` within each key group.
    percent_rank is the pure rational (rank-1)/(n-1) — no interpolated
    quantile floats — so membership is engine-exact.

    Scale note: this exact variant sorts each key group (one shuffle,
    low-cardinality keys ⇒ watch skew). The 100 TB screen for huge
    groups is approx_percentile thresholds broadcast-joined back; this
    window form is the exact-semantics baseline the approximate path
    is validated against."""
    w = Window.partitionBy(key_col).orderBy(value_col)
    return (
        df.withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("pct_rank") >= cutoff)
    )


def trailing_window_counts(
    df: DataFrame, key_col: str, ts_col: str, window_seconds: int = 300
) -> DataFrame:
    """Per-key trailing event count over a time-RANGE frame (events in
    the last ``window_seconds`` including the current row) — the
    burst/velocity primitive behind rate alerting and abuse detection.

    The frame is anchored on ``unix_micros`` so sub-second timestamps
    bound the window exactly (peers at the same microsecond are frame
    peers in any engine). One shuffle on the key; each key group sorts
    once and the frame slides incrementally — no self-join explosion of
    the (event × window) pairs."""
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(us)
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    return df.withColumn("n_trailing", F.count(F.lit(1)).over(w))


def approx_distinct_report(
    df: DataFrame, key_col: str, col: str, rsd: float = 0.01
) -> DataFrame:
    """Per-key HyperLogLog++ cardinality next to the exact distinct
    count, with the relative error surfaced — the sketch that replaces
    count(DISTINCT) at 100 TB (mergeable partial aggregates, no
    per-key value shuffle). The exact column exists to *audit* the
    sketch at test scale; production callers drop it and keep the
    one-pass HLL."""
    return df.groupBy(key_col).agg(
        F.approx_count_distinct(col, rsd=rsd).alias("approx_distinct"),
        F.countDistinct(col).alias("exact_distinct"),
        F.round(
            F.abs(
                F.approx_count_distinct(col, rsd=rsd).cast("double")
                - F.countDistinct(col).cast("double")
            )
            / F.countDistinct(col).cast("double"),
            6,
        ).alias("rel_err"),
    )


def bi_nation_trade_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    date_from: str = "1995-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q7-shaped bi-nation trade volume: revenue shipped between
    two specific nations, per (supplier nation, customer nation, ship
    year) — both directions kept as separate rows.

    Join strategy for 100 TB: the nation dim filters to TWO rows before
    joining, so the supplier and customer legs each broadcast a
    pre-pruned (key → nation name) map; lineitem⋈orders is the one
    shuffle join. The pair constraint (supp_nation ≠ cust_nation over
    the two allowed names) rides the post-join filter on two
    broadcast-provided columns — at most |lineitem| rows evaluated,
    never materialized per-pair. Ship-year comes from the lineitem row
    itself, so no extra shuffle for the final 3-key groupBy (year ×
    2 directed pairs ⇒ tiny result)."""
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    n2 = nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
        "n_nationkey", "n_name"
    )
    s = F.broadcast(
        supplier.join(n2, supplier["s_nationkey"] == n2["n_nationkey"]).select(
            "s_suppkey", F.col("n_name").alias("supp_nation")
        )
    )
    c = F.broadcast(
        customer.join(n2, customer["c_nationkey"] == n2["n_nationkey"]).select(
            "c_custkey", F.col("n_name").alias("cust_nation")
        )
    )
    o = orders.select("o_orderkey", "o_custkey")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").alias("ship_year"),
            rev.alias("_rev"),
        )
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(F.sum("_rev").cast("double").alias("revenue"))
    )


def disjunctive_part_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    branches: tuple[tuple[str, int, float, float], ...] = (
        ("Brand#1", 5, 1.0, 11.0),
        ("Brand#2", 10, 10.0, 20.0),
        ("Brand#3", 15, 20.0, 30.0),
    ),
) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate revenue: an equi-join on
    the part key whose residual filter is an OR of AND-branches mixing
    columns from BOTH sides (brand + size from part, quantity from
    lineitem).

    The scale story is what Catalyst does with the OR: each side's
    implied disjunction is extracted and PUSHED BELOW the join
    (PushExtraPredicateThroughJoin), so the part scan reads only the
    branch brands/sizes and the lineitem scan only the covering
    quantity range — the join then evaluates the exact cross-side
    branches on the survivors. One filter expression, no per-branch
    union-of-scans (which would re-read lineitem once per branch)."""
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    cond = None
    for brand, size_max, qty_lo, qty_hi in branches:
        b = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= size_max)
            & (F.col("l_quantity") >= qty_lo)
            & (F.col("l_quantity") <= qty_hi)
        )
        cond = b if cond is None else cond | b
    return (
        lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def part_supplier_attr_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    size_max: int = 20,
    excl_brand: str = "Brand#5",
    min_acctbal: float = 1000.0,
) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity per part attribute: how many
    DISTINCT suppliers have shipped each (brand, type, size) combination
    — excluding one brand and every supplier below an account-balance
    floor (the Q16 complaints NOT-IN rewritten as a join-free pruning
    of a broadcast exclusion set).

    Scale shape: the excluded-supplier set is an anti-join against a
    broadcast (bounded: suppliers are a dim); part attrs arrive by
    broadcast join; the one real shuffle is the distinct-supplier
    aggregation keyed by (brand, type, size, suppkey) partial-first —
    count(DISTINCT) over the pre-deduped pairs, not a value shuffle of
    raw lineitems."""
    bad = F.broadcast(
        supplier.filter(F.col("s_acctbal") < min_acctbal).select("s_suppkey")
    )
    p = F.broadcast(
        part.filter(
            (F.col("p_brand") != excl_brand) & (F.col("p_size") <= size_max)
        ).select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(bad, lineitem["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(p, lineitem["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    cohort_type: str = "signup",
) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    ``cohort_type`` event, counted as active in each later week they
    produced ANY event — the (cohort_week, week_offset, n_active)
    triangle every growth dashboard draws.

    Shape for 100 TB: activity is pre-deduplicated to DISTINCT
    (user, week) pairs BEFORE the cohort join (map-side reduction from
    |events| to at most |users|·|weeks| rows — orders of magnitude at
    event-stream densities), the cohort table is |users|-sized (AQE
    broadcasts it at test scale, shuffle-joins on the user key beyond),
    and the final distinct-count aggregate runs over the already-small
    pair set. Weeks truncate to Monday in both engines; events BEFORE
    the user's cohort week are excluded (negative offsets are
    pre-signup activity, not retention).
    """
    week = lambda c: F.date_trunc("week", F.col(c))
    cohorts = (
        events.filter(F.col(type_col) == cohort_type)
        .groupBy(user_col)
        .agg(F.min(week(ts_col)).alias("cohort_week"))
    )
    activity = events.select(
        F.col(user_col), week(ts_col).alias("activity_week")
    ).distinct()
    return (
        activity.join(cohorts, user_col)
        .filter(F.col("activity_week") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            (
                F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
            user_col,
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(user_col).alias("n_active"))
    )


def sole_late_supplier(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    late_after_days: int = 90,
) -> DataFrame:
    """TPC-H Q21-shaped blame query: suppliers who were the ONLY late
    shipper on an order that involved at least one other supplier
    ("late" = shipped more than ``late_after_days`` after the order
    date; the testdata has no commit/receipt dates, so order-date lag
    stands in for Q21's receipt-vs-commit lag).

    Q21's correlated EXISTS / NOT EXISTS pair is decorrelated into two
    order-keyed aggregates — EXISTS(other supplier on the order) ⇒
    distinct-supplier count ≥ 2; NOT EXISTS(other LATE supplier) ⇒
    late-supplier count = 1 (the candidate being that one) — the
    rewrite Catalyst itself would have to produce from the subquery
    form, stated directly. Every join and aggregate is keyed on
    l_orderkey, so the exchanges line up (one shuffle partitioning
    reused across the pipeline); the supplier dim broadcasts at the
    end.
    """
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    late = (
        li.filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_after_days} DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    # the EXISTS side only matters for orders that HAVE a late
    # candidate — semi-join first so the distinct-supplier count runs
    # over the late orders' lineitems, not the whole fact table
    late_orders = late.select("l_orderkey").distinct()
    multi = (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(late_orders, "l_orderkey", "left_semi")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .filter(F.col("n_supp") >= 2)
        .select("l_orderkey")
    )
    sole = (
        late.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_late_supp"))
        .filter(F.col("n_late_supp") == 1)
        .select("l_orderkey")
    )
    return (
        late.join(multi, "l_orderkey")
        .join(sole, "l_orderkey")
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def quantile_sketch_report(
    df: DataFrame,
    key_col: str,
    value_col: str,
    percentiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 1000,
) -> DataFrame:
    """Per-key KLL-style approximate percentiles AUDITED against their
    own rank-error contract — the sketch that replaces exact
    percentile sorts at 100 TB (mergeable partials, no per-key value
    shuffle), shipped with its proof.

    ``percentile_approx`` guarantees the returned element's rank is
    within ``±N/accuracy`` of ``p·N``. The audit computes, for each
    (key, p): the element's rank interval [count(value < x)+1,
    count(value ≤ x)] via one conditional re-aggregation against the
    broadcast sketch results, and flags a violation when that interval
    misses [floor((p−ε)·N), ceil((p+ε)·N)]. Two scans total (sketch +
    audit), both single hash aggregates; production callers run only
    the first.
    """
    pcts = F.array(*[F.lit(p) for p in percentiles])
    sketch = df.groupBy(key_col).agg(
        F.percentile_approx(value_col, pcts, accuracy).alias("approx_vals"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    exploded = sketch.select(
        key_col,
        "n_rows",
        F.posexplode("approx_vals").alias("p_idx", "approx_val"),
    )
    audit = df.join(F.broadcast(exploded), key_col).groupBy(
        key_col, "p_idx", "approx_val", "n_rows"
    ).agg(
        F.sum((F.col(value_col) < F.col("approx_val")).cast("long")).alias("n_lt"),
        F.sum((F.col(value_col) <= F.col("approx_val")).cast("long")).alias("n_le"),
    )
    p_arr = F.array(*[F.lit(float(p)) for p in percentiles])
    p = F.element_at(p_arr, F.col("p_idx") + 1)
    eps = F.lit(1.0 / accuracy)
    n = F.col("n_rows").cast("double")
    lo = F.floor((p - eps) * n)
    hi = F.ceil((p + eps) * n)
    return audit.select(
        F.col(key_col),
        p.alias("pct"),
        F.col("approx_val"),
        (F.col("n_lt") + 1).alias("min_rank"),
        F.col("n_le").alias("max_rank"),
        lo.alias("rank_lo"),
        hi.alias("rank_hi"),
        ((F.col("n_le") < lo) | ((F.col("n_lt") + 1) > hi)).alias("violation"),
    )


def revenue_by_geo(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue rolled up the real star-schema geography chain
    (orders → customer → nation → region). The two geo dims broadcast;
    customer broadcasts at test scale and hash-joins at 100 TB — either
    way the only unavoidable shuffle is the final group-by, whose key
    cardinality is |region|."""
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .join(F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def priority_waiting_orders(
    orders: DataFrame,
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
    late_days: int = 90,
) -> DataFrame:
    """TPC-H Q4-shaped order-priority checking: count orders placed in a
    quarter that had at least one lineitem shipped more than
    ``late_days`` after the order date, per priority (the schema lacks
    commit/receipt dates, so "late" is shipdate vs orderdate + N).

    The EXISTS becomes a LEFT SEMI join — Spark never materializes the
    multi-lineitem match, and the order-date window is pushed to the
    orders scan before the join, so the semi join probes only one
    quarter of orders. The residual late-ship predicate (a cross-table
    comparison) rides the join condition; the post-semi aggregate is
    5 rows."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > F.date_add(o["o_orderdate"], late_days)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def nation_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    market_region: str = "ASIA",
    share_nation: str = "NATION_8",
    part_keys: DataFrame | None = None,
    date_from: str = "1995-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q8-shaped national market share: within one region's
    customer market (optionally restricted to a part segment via
    ``part_keys``), the share of revenue supplied by one nation, per
    order year.

    Scale shape: customer×nation×region collapses to a broadcast
    (custkey) filter set for the market region; supplier×nation to a
    broadcast (suppkey → is_share_nation) map; the single shuffle join
    is lineitem⋈orders. The share is a conditional sum over the joined
    rows — numerator and denominator in ONE aggregate pass, not two
    plans over the fact table."""
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    market_nations = nation.join(
        region.filter(F.col("r_name") == market_region),
        nation["n_regionkey"] == region["r_regionkey"],
    ).select("n_nationkey")
    mkt_cust = F.broadcast(
        customer.join(
            market_nations, customer["c_nationkey"] == market_nations["n_nationkey"]
        ).select("c_custkey")
    )
    supp = F.broadcast(
        supplier.join(
            nation.select("n_nationkey", "n_name"),
            supplier["s_nationkey"] == F.col("n_nationkey"),
        ).select(
            "s_suppkey", (F.col("n_name") == share_nation).alias("_is_share")
        )
    )
    li = lineitem.select("l_orderkey", "l_suppkey", "l_partkey", rev.alias("_rev"))
    if part_keys is not None:
        li = li.join(F.broadcast(part_keys), li["l_partkey"] == part_keys[part_keys.columns[0]], "left_semi")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("order_year"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(mkt_cust, o["o_custkey"] == mkt_cust["c_custkey"], "left_semi")
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy("order_year")
        .agg(
            F.sum(F.when(F.col("_is_share"), F.col("_rev")))
            .cast("double")
            .alias("share_revenue"),
            F.sum("_rev").cast("double").alias("total_revenue"),
        )
        .withColumn(
            "market_share",
            F.round(F.col("share_revenue") / F.col("total_revenue"), 6),
        )
    )


def product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_pattern: str = "bolt",
    cost_factor: str = "0.60",
) -> DataFrame:
    """TPC-H Q9-shaped product profit: for parts whose name contains a
    pattern, profit per (supplier nation, order year). The schema has
    no partsupp.ps_supplycost, so unit cost is ``cost_factor`` ×
    p_retailprice — same expression shape (a per-row join-derived
    cost), different constant.

    Scale shape: the part filter collapses to a broadcast (partkey →
    retailprice) map BEFORE the fact join (contains() can't push to the
    lineitem scan, but it prunes the broadcast build side); supplier →
    nation is a second broadcast; orders joins shuffled only to fetch
    the year. Profit is exact decimal arithmetic per row, summed as
    decimal, surfaced as double — partitioning-order independent."""
    profit = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
        - F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit(cost_factor).cast("decimal(4,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
    )
    p = F.broadcast(
        part.filter(F.col("p_name").contains(name_pattern)).select(
            "p_partkey", "p_retailprice"
        )
    )
    s = F.broadcast(
        supplier.join(
            nation.select("n_nationkey", "n_name"),
            supplier["s_nationkey"] == F.col("n_nationkey"),
        ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = orders.select("o_orderkey", F.year("o_orderdate").alias("order_year"))
    return (
        lineitem.join(p, lineitem["l_partkey"] == p["p_partkey"])
        .join(s, lineitem["l_suppkey"] == s["s_suppkey"])
        .join(o, lineitem["l_orderkey"] == o["o_orderkey"])
        .groupBy("supp_nation", "order_year")
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


def returnflag_priority_counts(
    lineitem: DataFrame,
    orders: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q12-shaped shipping-category audit: per lineitem category
    (return flag stands in for the absent ship mode), how many of the
    year's shipments belonged to critical-priority orders vs not — the
    two counts as conditional sums in one pass.

    Scale shape: the date window pushes to the lineitem scan; the join
    fetches only (orderkey → priority); the aggregate is map-side
    combinable to |flags| rows."""
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    o = orders.select("o_orderkey", "o_orderpriority")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_priority_count"),
        )
    )


def customer_order_distribution(
    customer: DataFrame,
    orders: DataFrame,
    exclude_status: str = "P",
) -> DataFrame:
    """TPC-H Q13-shaped customer order-count distribution: LEFT OUTER
    join customers to their (filtered) orders, count per customer —
    customers with no qualifying orders count 0 — then histogram the
    counts: (order_count, number of customers with that count).

    Scale shape: two aggregates, each map-side combinable. The first
    groups the join output by custkey (the join's own key, so AQE
    coalesces without an extra shuffle); the second groups |customers|
    rows by a small-cardinality count. The status filter must sit on
    the ORDERS side before the outer join (in the WHERE it would turn
    the outer join inner and silently drop zero-order customers)."""
    o = orders.filter(F.col("o_orderstatus") != exclude_status).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, customer["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_count"))
    )
    return (
        per_cust.groupBy("order_count")
        .agg(F.count(F.lit(1)).alias("customer_count"))
    )


def top_supplier_revenue(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-shaped top supplier: each supplier's revenue over one
    quarter, keeping the supplier(s) whose revenue equals the maximum
    (ties kept, as the spec's scalar-subquery formulation does).

    Scale shape: the revenue aggregate reduces the fact table to
    |suppliers| rows BEFORE the max-selection, and the max itself is a
    1-row aggregate broadcast back as a filter (the spec's
    scalar-subquery form verbatim) — no global-ORDER-BY window, so
    nothing ever moves to a single partition even when |suppliers| is
    large. The supplier dim then broadcast-joins onto ≤ tie-count
    rows."""
    rev = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
    )
    per_supp = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev).cast("double").alias("total_revenue"))
    )
    top = per_supp.agg(F.max("total_revenue").alias("__max_rev"))
    best = per_supp.join(F.broadcast(top)).filter(
        F.col("total_revenue") == F.col("__max_rev")
    ).drop("__max_rev")
    return best.join(
        F.broadcast(supplier.select("s_suppkey", "s_name")),
        best["l_suppkey"] == F.col("s_suppkey"),
    ).select("s_suppkey", "s_name", "total_revenue")


def exact_moment_correlation(
    lineitem: DataFrame,
    x_col: str = "l_quantity",
    y_col: str = "l_extendedprice",
) -> DataFrame:
    """Pearson correlation and sample covariance via EXACT decimal
    moment sums — the statistical-aggregate discipline for 1000-executor
    runs: built-in ``corr()``/``covar_samp()`` stream doubles through
    Welford-style updates whose result depends on partition order, so
    two runs of the same query can differ in low bits (and never match
    an external engine). Here the five moments (Σx, Σy, Σxy, Σx², Σy²)
    aggregate as decimals — associative, commutative, EXACT under any
    partial-agg schedule — and the textbook formulas evaluate once on
    the driver-side 1-row result in doubles, identically in any engine.

    Input columns must be fixed-precision reals (2-decimal money/qty
    here: products fit decimal(25,4), sums decimal(35,4)). One map-side
    combinable aggregate, 1-row shuffle."""
    x = F.col(x_col).cast("decimal(12,2)")
    y = F.col(y_col).cast("decimal(12,2)")
    m = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov_num = F.col("sxy") - F.col("sx") * F.col("sy") / n
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / n
    var_y = F.col("syy") - F.col("sy") * F.col("sy") / n
    return m.select(
        "n",
        (cov_num / (n - F.lit(1.0))).alias("covar_samp"),
        (cov_num / F.sqrt(var_x * var_y)).alias("pearson_corr"),
    )


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
) -> DataFrame:
    """Equi-width histogram with FIXED bounds via ``width_bucket`` —
    the one-pass distribution profile (dashboards, drift monitors,
    data-profiling). Fixed bounds are a design choice, not a
    limitation: a min/max pre-scan would serialize two passes over
    100 TB, while domain bounds (price caps, score ranges) are known
    upfront; out-of-range rows land in the 0 / n+1 overflow buckets
    the SQL-standard function defines. One map-side-combinable
    aggregate over ≤ n+2 groups; sums stay decimal-exact.

    The bucket expression is spelled out (floor((v−lo)/width)+1 with
    width precomputed) rather than calling ``width_bucket``: the
    explicit form is the same codegen arithmetic AND engine-portable —
    external oracles reproduce it bit-for-bit without relying on a
    particular engine's width_bucket edge-case conventions."""
    v = F.col(value_col)
    width = (hi - lo) / n_buckets
    b = (
        F.when(v < lo, F.lit(0))
        .when(v >= hi, F.lit(n_buckets + 1))
        .otherwise(F.floor((v - F.lit(lo)) / F.lit(width)) + 1)
    )
    return (
        df.groupBy(b.cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def rolling_active_users(
    events: DataFrame,
    windows: tuple[int, ...] = (1, 7, 28),
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Rolling distinct-user counts per day — DAU/WAU/MAU, the growth
    metrics every engagement dashboard reports. Exact, not sketched:
    a trailing COUNT(DISTINCT) can't run as a window function, so each
    (user, day) activity fact is EXPLODED into the future report days
    it contributes to (≤ max(windows) rows each) and a plain
    conditional count-distinct aggregate runs per report day.

    Scale shape: the stream first dedups to (user, day) — the only
    full-data pass; the explode multiplies that bounded activity table
    by max(windows), NOT the raw events; the per-day aggregate
    computes all window widths in one pass via conditional distincts.
    Report days cover only days present in the data (dashboards join
    a spine separately if they want gap rows)."""
    max_w = max(windows)
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    activity = (
        events.select(F.col(user_col).alias("user_id"), day.alias("day"))
        .distinct()
    )
    contrib = activity.select(
        "user_id",
        F.col("day").alias("active_day"),
        F.explode(
            F.sequence(
                F.col("day"),
                F.date_add(F.col("day"), max_w - 1),
                F.expr("interval 1 day"),
            )
        ).alias("report_day"),
    )
    report_days = activity.select(F.col("day").alias("report_day")).distinct()
    aggs = [
        F.count_distinct(
            F.when(
                F.datediff(F.col("report_day"), F.col("active_day")) < w,
                F.col("user_id"),
            )
        ).alias(f"active_{w}d")
        for w in windows
    ]
    return (
        contrib.join(report_days, "report_day")  # only days that exist
        .groupBy("report_day")
        .agg(*aggs)
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two slices of the same
    measure — the standard drift monitor between a reference window and
    a current window (feature drift, data-quality regression, training/
    serving skew). Each side histograms once (map-side combinable, ≤
    n+2 groups), the bucket tables full-outer join (both tiny), and
    the per-bucket PSI contribution ``(p_a − p_b)·ln(p_a/p_b)`` is
    emitted PER BUCKET: consumers sum the column for the headline
    number, while per-bucket rows localize WHERE the distribution
    moved. Shares are exact counts over exact totals (one double
    division); empty buckets clamp to ``eps``; the ln contribution is
    rounded to 9 decimals so the result is engine-portable (a raw
    libm ``ln`` may differ in the final ulp across engines — the same
    fixed-point discipline as unigram surprisal).
    """
    def hist(df: DataFrame, side: str) -> DataFrame:
        return equi_width_histogram(df, value_col, lo, hi, n_buckets).select(
            "bucket", F.col("n_rows").alias(f"n_{side}")
        )

    counts = hist(df_a, "a").join(hist(df_b, "b"), "bucket", "full").select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    joined = counts.crossJoin(F.broadcast(totals))
    pa = F.greatest(
        F.col("n_a").cast("double") / F.col("_ta").cast("double"), F.lit(eps)
    )
    pb = F.greatest(
        F.col("n_b").cast("double") / F.col("_tb").cast("double"), F.lit(eps)
    )
    return joined.select(
        "bucket",
        "n_a",
        "n_b",
        F.round((pa - pb) * F.log(pa / pb), 9).alias("psi_term"),
    )


def gap_fill_daily(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Time-series regularization: a dense per-user DAILY spine over
    each user's own active span, with missing days filled — zero event
    counts, last-observation-carried-forward daily value, and
    days-since-last-activity. The resample/gap-fill/LOCF triple every
    monitoring or feature-engineering pipeline needs before windowed
    models, expressed without a calendar table or UDF.

    Scale shape: the raw stream first reduces to (user, day) grain —
    the only pass over full data; the spine is a per-user
    ``sequence``/``explode`` bounded by span length, never a cartesian
    with a calendar dim; the fill windows all partition on user and
    order by day, sharing one exchange. Values quantize to
    decimal(18,6) BEFORE summing (a double sum's low bits depend on
    partition order; the quantized sum is exact and engine-portable).
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    daily = events.groupBy(
        F.col(user_col).alias("user_id"), day.alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("_day_sum"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("_d0"), F.max("day").alias("_d1")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("_d0"), F.col("_d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    joined = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        "_day_sum",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        "n_events",
        F.coalesce(
            F.last("_day_sum", ignorenulls=True).over(w).cast("double"),
            F.lit(0.0),
        ).alias("locf_day_value"),
        F.datediff(
            F.col("day"),
            F.max(F.when(F.col("n_events") > 0, F.col("day"))).over(w),
        ).alias("days_since_activity"),
    )


def forecast_revenue_change(
    lineitem: DataFrame,
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    disc_center: float = 0.06,
    disc_band: float = 0.01,
    max_qty: int = 24,
) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue-change: the canonical pure
    filter-and-sum — revenue that would be recovered by dropping
    discounts in a band, for small-quantity lineitems in one year.

    Scale shape: the simplest possible plan and deliberately so — ALL
    four predicates (date range, discount band, quantity cap) push to
    the parquet scan as min/max row-group pruning + page filters, the
    projection reads exactly 2 columns, and the single global sum is a
    partial+final agg with a 1-row shuffle. At 100 TB this query is
    I/O-bound on pruned scan throughput, which is the point.

    The discount band compares raw doubles against double literals —
    deliberately NOT decimal-cast: a cast on the column would block
    parquet pushdown, and both engines parse the same literal to the
    same IEEE double, so boundary membership is identical anyway. Only
    the summed measure goes through exact decimals."""
    lo = round(disc_center - disc_band, 2)
    hi = round(disc_center + disc_band, 2)
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
        "l_discount"
    ).cast("decimal(4,2)")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
            & (F.col("l_discount") >= F.lit(lo))
            & (F.col("l_discount") <= F.lit(hi))
            & (F.col("l_quantity") < max_qty)
        )
        .agg(
            F.sum(revenue).cast("double").alias("forecast_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def important_part_value(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#1",
    fraction: float = 0.001,
) -> DataFrame:
    """TPC-H Q11-shaped important-stock screen, reshaped over lineitem
    (the testdata has no partsupp table): per-part shipped value
    (qty × price) within one brand, keeping parts whose value exceeds
    ``fraction`` of the brand's grand total.

    Scale shape: the classic two-level aggregate with a scalar
    threshold. The per-part aggregate reduces the fact table to
    |parts| rows; the grand total re-aggregates THOSE |parts| rows (a
    second tiny agg, never a second fact scan — Catalyst reuses the
    exchange); the scalar lands as a broadcast cross-join onto the
    aggregate, so the fact table is scanned exactly once. The
    threshold compare is double×double — but membership only, the
    output values themselves are exact decimal sums, so output hashes
    are engine-stable for any non-adversarial threshold."""
    value = F.col("l_quantity").cast("decimal(12,2)") * F.col(
        "l_extendedprice"
    ).cast("decimal(12,2)")
    li = lineitem.join(
        F.broadcast(part.filter(F.col("p_brand") == brand).select("p_partkey")),
        lineitem["l_partkey"] == F.col("p_partkey"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum(value).alias("_val_dec")
    )
    total = per_part.agg(
        F.sum("_val_dec").cast("double").alias("_grand_total")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("_val_dec").cast("double")
            > F.col("_grand_total") * F.lit(fraction)
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("_val_dec").cast("double").alias("part_value"),
        )
    )


def excess_shipment_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    type_prefix: str = "PROMO",
    date_from: str = "1996-01-01",
    date_to: str = "1997-01-01",
    factor: float = 1.5,
) -> DataFrame:
    """TPC-H Q20-shaped excess-shipment screen, reshaped over lineitem
    (no partsupp in the testdata): for parts of one type family,
    find suppliers who shipped MORE than ``factor`` × the per-part
    average supplier volume in the window — the spec's correlated
    ``ps_availqty > 0.5 * sum(l_quantity)`` turned into a decorrelated
    per-(supplier, part) vs per-part comparison, then a distinct
    supplier roll-up joined to the supplier dim.

    Scale shape: Q20's nested correlated subqueries decorrelate into
    ONE aggregate at (suppkey, partkey) grain; the per-part average
    derives from it with a window over partkey (reusing the exchange's
    partkey co-partitioning — no second fact scan, no self-join). The
    filtered part dim broadcasts into the fact scan, and the final
    supplier join runs on ≤|suppliers| aggregated rows."""
    li = lineitem.filter(
        (F.col("l_shipdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(date_to).cast("timestamp"))
    ).join(
        F.broadcast(
            part.filter(F.col("p_type").startswith(type_prefix)).select("p_partkey")
        ),
        lineitem["l_partkey"] == F.col("p_partkey"),
    )
    pair = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("_qty_dec")
    )
    # window sums stay decimal (order-insensitive exact); doubles appear
    # only in the single membership compare and the final projection
    w = Window.partitionBy("l_partkey")
    flagged = pair.withColumn(
        "part_avg_qty",
        F.sum("_qty_dec").over(w).cast("double") / F.count(F.lit(1)).over(w),
    ).filter(
        F.col("_qty_dec").cast("double") > F.col("part_avg_qty") * F.lit(factor)
    )
    per_supp = flagged.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("excess_parts"),
        F.sum("_qty_dec").cast("double").alias("excess_qty"),
    )
    return per_supp.join(
        F.broadcast(supplier.select("s_suppkey", "s_name")),
        per_supp["l_suppkey"] == F.col("s_suppkey"),
    ).select("s_suppkey", "s_name", "excess_parts", "excess_qty")


def hbos_scores(
    df: DataFrame,
    feature_cols: list[str],
    id_col: str,
    bins: int = 16,
    k: int = 25,
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel, 2012): per
    feature, an equal-width histogram over the observed [min, max];
    a row's score is Σ_features −ln(density of its bin) — high where
    ANY feature sits in a sparse bin. The linear-time multivariate
    outlier screen (assumes feature independence — that's the
    published trade that makes it embarrassingly parallel, vs
    tree/distance methods that need pair or partition state).

    Determinism: per-bin weight ``ln(n/count)`` quantizes to integer
    micro-nats, so the per-row sum across features is exact; top-k
    orders by (score, id) — a total order.

    Scale shape: one global min/max aggregate (broadcast one-row), one
    |bins|-row histogram aggregate per feature (map-side combinable),
    broadcast-joined back onto the fact rows as pure projections, then
    TakeOrdered partial top-k. Nothing but the fact scan touches data
    volume; adding features adds broadcast joins, never shuffles.

    Returns ``(id, bin_<feature>..., hbos_micro)`` for the top ``k``.
    """
    aggs = []
    for f in feature_cols:
        aggs += [
            F.min(F.col(f).cast("double")).alias(f"__min_{f}"),
            F.max(F.col(f).cast("double")).alias(f"__max_{f}"),
        ]
    aggs.append(F.count(F.lit(1)).alias("__n"))
    stats = df.agg(*aggs)
    binned = df.crossJoin(F.broadcast(stats))
    bin_cols = []
    for f in feature_cols:
        lo, hi = F.col(f"__min_{f}"), F.col(f"__max_{f}")
        b = F.when(
            hi > lo,
            F.least(
                F.floor(
                    (F.col(f).cast("double") - lo) / (hi - lo) * bins
                ).cast("int"),
                F.lit(bins - 1),
            ),
        ).otherwise(F.lit(0))
        bin_cols.append(b.alias(f"bin_{f}"))
    binned = binned.select(
        F.col(id_col), F.col("__n"), *bin_cols
    )
    out = binned
    score = None
    for f in feature_cols:
        hist = (
            binned.groupBy(f"bin_{f}")
            .agg(F.count(F.lit(1)).alias("__c"))
            .select(
                f"bin_{f}",
                F.col("__c").alias(f"__c_{f}"),
            )
        )
        out = out.join(F.broadcast(hist), f"bin_{f}")
        w = F.round(
            F.log(F.col("__n").cast("double") / F.col(f"__c_{f}")) * F.lit(1e6),
            0,
        ).cast("long")
        score = w if score is None else score + w
    return (
        out.select(
            F.col(id_col),
            *[F.col(f"bin_{f}") for f in feature_cols],
            score.alias("hbos_micro"),
        )
        .orderBy(F.desc("hbos_micro"), F.col(id_col))
        .limit(k)
    )


def ks_two_sample(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic — the
    distribution-free companion to :func:`psi_drift`: PSI localizes
    drift per bucket but needs a binning choice; KS is the sup-norm
    distance between the two EXACT empirical CDFs, so it catches any
    distributional change without tuning, the standard gate between a
    reference window and a current window (training/serving skew,
    feature drift) before a model retrain is triggered.

    Plan shape for 100 TB: each side first collapses to per-distinct-
    value counts in ONE tagged union + conditional-sum aggregate (map-
    side combinable; the grain after this is |distinct values|, not
    rows). The ECDFs need a cumulative sum in value order —
    :func:`global_cumsum` does it with a range shuffle + broadcast
    offsets, never a single-partition window. The statistic itself is
    computed in EXACT INTEGER arithmetic: at each distinct value the
    ECDF difference is |cum_a·tot_b − cum_b·tot_a| over the common
    denominator tot_a·tot_b, so ``d_num`` (the max numerator, as
    decimal(38,0) internally — overflow-safe to ~1e19 rows per side)
    is engine-exact and only the final division is floating point.

    Output: ONE row — ``n_a``, ``n_b``, ``d_num`` (exact integer
    numerator of D), ``d_stat`` = d_num/(n_a·n_b) rounded to 9 dp.
    """
    tagged = df_a.select(
        F.col(value_col).alias("v"), F.lit(1).alias("__a")
    ).unionByName(
        df_b.select(F.col(value_col).alias("v"), F.lit(0).alias("__a"))
    )
    counts = tagged.groupBy("v").agg(
        F.sum("__a").cast("long").alias("n_a"),
        F.sum(1 - F.col("__a")).cast("long").alias("n_b"),
    )
    cum = global_cumsum(counts, ["v"], ["n_a", "n_b"])
    totals = cum.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    dec = "decimal(38,0)"
    diff = F.abs(
        F.col("cum_n_a").cast(dec) * F.col("tot_b").cast(dec)
        - F.col("cum_n_b").cast(dec) * F.col("tot_a").cast(dec)
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("tot_a").cast("long").alias("n_a"),
            F.max("tot_b").cast("long").alias("n_b"),
            F.max(diff).cast("long").alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("d_stat"),
        )
    )


def mann_whitney_u(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) between two samples —
    the nonparametric location-shift companion to :func:`ks_two_sample`
    (KS asks "same distribution?"; MWU asks "is one systematically
    larger?") and to ``welch_ttest_segments`` (which assumes means are
    the story). Used to gate "did the new cohort really spend more?"
    questions where heavy tails make the t-test lie.

    Same scale scaffolding as KS: both sides collapse to per-distinct-
    value counts in one tagged union + conditional-sum aggregate, then
    :func:`global_cumsum` stamps pooled cumulative counts in value
    order (range shuffle, no single-partition window). Midrank algebra
    runs in DOUBLED integers so ties stay exact: the average rank of a
    tied block is ``cum_before + (n+1)/2``, so ``2·R_a = Σ n_a·(2·
    cum_before + n + 1)`` is integer-exact under any partial-agg
    schedule. The tie-corrected normal approximation ``z`` is the only
    floating-point step (one sqrt at the end, rounded to 6 dp).

    Output: ONE row — ``n_a``, ``n_b``, ``u2_a`` (exact 2·U_a, so
    half-integer U from ties stays integral), ``z`` (tie-corrected).
    """
    tagged = df_a.select(
        F.col(value_col).alias("v"), F.lit(1).alias("__a")
    ).unionByName(
        df_b.select(F.col(value_col).alias("v"), F.lit(0).alias("__a"))
    )
    return mann_whitney_u_tagged(tagged, "v", "__a")


def mann_whitney_u_tagged(
    tagged: DataFrame, value_col: str, tag_col: str
) -> DataFrame:
    """:func:`mann_whitney_u` over a single PRE-TAGGED table — rows
    carry ``tag_col`` in {1, 0} for sample A/B membership. Callers whose
    label is already a column (e.g. ``ranking_auc_int8``'s top-20
    membership flag) use this entry point directly: splitting into two
    DataFrames and re-unioning them would derive the (often expensive)
    scored subtree once per side (r8 measurement), where one tagged
    pass reads it once. Identical exact-integer midrank algebra."""
    tagged = tagged.select(
        F.col(value_col).alias("v"), F.col(tag_col).alias("__a")
    )
    counts = tagged.groupBy("v").agg(
        F.sum("__a").cast("long").alias("n_a"),
        F.sum(1 - F.col("__a")).cast("long").alias("n_b"),
    )
    pooled = counts.select(
        "v", "n_a", "n_b", (F.col("n_a") + F.col("n_b")).alias("n_v")
    )
    cum = global_cumsum(pooled, ["v"], ["n_v"])
    dec = "decimal(38,0)"
    # 2*rank_avg of the tied block at v = 2*cum_before + n_v + 1
    two_r = (
        2 * (F.col("cum_n_v") - F.col("n_v")) + F.col("n_v") + 1
    ).cast(dec)
    tie_term = (
        F.col("n_v").cast(dec) * F.col("n_v").cast(dec) * F.col("n_v").cast(dec)
        - F.col("n_v").cast(dec)
    )
    agg = cum.agg(
        F.sum("n_a").cast("long").alias("n_a"),
        F.sum("n_b").cast("long").alias("n_b"),
        F.sum(F.col("n_a").cast(dec) * two_r).cast(dec).alias("two_ra"),
        F.sum(tie_term).cast(dec).alias("ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u2 = (
        F.col("two_ra").cast(dec)
        - (F.col("n_a").cast(dec) * (F.col("n_a").cast(dec) + 1))
    )
    mu2 = na * nb  # 2*mean(U) = n_a*n_b
    var = (na * nb / 12.0) * (
        (n + 1) - F.col("ties").cast("double") / (n * (n - 1))
    )
    return agg.select(
        "n_a",
        "n_b",
        u2.cast("long").alias("u2_a"),
        F.round(
            (u2.cast("double") - mu2) / (2.0 * F.sqrt(var)), 6
        ).alias("z"),
    )


def theil_sen(
    series: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Theil-Sen robust trend: slope = median of all pairwise slopes
    (y_j−y_i)/(x_j−x_i), intercept = median of (y_i − slope·x_i) — the
    estimator that shrugs off the outlier days OLS would chase (29%
    breakdown point), the robust companion to the OLS
    `forecast_revenue` fit.

    Exactness discipline: slopes and intercepts are quantized to
    1e-9 fixed point and the MEDIAN IS RANK-DEFINED — the value at
    row_number (n+1)//2 in slope order (one sorted task up to
    ``SMALL_ROWS["theil_sen"]`` pairs, the range-shuffle row-number
    scaffold above), NOT an interpolating percentile whose
    arithmetic differs between engines. Ties are harmless: ranks
    within a tie block are arbitrary but the VALUE at the target rank
    is unique, so the result is deterministic and hash-matches the
    oracle bit-for-bit.

    Scale shape: runs on a POST-AGGREGATE bounded series (daily grain
    — the documented STL/Kaplan-Meier exception); the pair space is
    |series|², generated by a range self-join at day grain, never over
    raw facts. For multi-year daily series that is ~10⁶–10⁷ slope
    rows — a small shuffle, and the two median passes are rank
    selections over it.

    Output: ONE row — n_points, n_pairs, the exact fixed-point medians
    (slope_q, intercept_q, 1e-9 units) and their double views.
    """
    # pin the series once (r9): un-pinned it was re-aggregated THREE
    # times — once per self-join side and once for the residuals; the
    # per-x count aggregate below doubles as the pin's materialization
    s = series.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).localCheckpoint(eager=False)
    # n_points / n_pairs arithmetically from per-x counts (one tiny
    # aggregate over the bounded series) instead of counting the pair
    # join output: pairs require xi < xj STRICTLY, so ties contribute
    # nothing and n_pairs = (k² − Σ c_x²) / 2 exactly
    stats = (
        s.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").cast("long").alias("k"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("c2"),
        )
        .head()
    )
    n_points = int(stats["k"] or 0)
    n_pairs = (n_points * n_points - int(stats["c2"] or 0)) // 2
    a = s.select(F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = s.select(F.col("x").alias("xj"), F.col("y").alias("yj"))
    # The slope rank runs on the DOUBLE from round() directly (r9) —
    # NOT on a decimal(38,0) cast of it: round() computes in double, so
    # the decimal rendering is a monotone INJECTIVE image of the double
    # (integer-valued doubles map to distinct integers exactly, at any
    # magnitude — above 2^53 every representable double IS an integer).
    # Ranking the doubles therefore selects the identical median value,
    # while the sort key drops from 16-byte decimal128 comparisons to
    # radix-friendly 8-byte doubles and 2.9M cast expressions disappear.
    # int64 is still NOT safe: extreme pairwise slopes of a cents series
    # pass ~9.2e18 at the x10 tier (observed CAST_OVERFLOW on 9.47e18);
    # the median itself is small and is rendered exactly from the
    # double by int() below.
    # the pairs carry the RAW double slope·1e9 — round() is monotone
    # non-decreasing, so the k-th order statistic commutes with it
    # (sorted(round(x)) == round(sorted(x)) elementwise) and the
    # HALF_UP BigDecimal round runs on ONE selected row instead of
    # every pair (measured 1.4 s of per-value BigDecimal allocation
    # over the 2.9M-pair space); the round stays a Spark expression so
    # its exact-decimal semantics are untouched
    slopes = (
        a.join(b, F.col("xi") < F.col("xj"))
        .select(
            (
                (F.col("yj") - F.col("yi"))
                / (F.col("xj") - F.col("xi"))
                * F.lit(1e9)
            ).alias("slope_q")
        )
    )

    def value_at_rank(
        df: DataFrame, col: str, n: int, finalize=None
    ) -> int:
        # selection, not numbering: n is already known, so the table is
        # derived exactly ONCE — its parallel compute feeds a
        # repartition(1) exchange (upstream stays parallel; an explicit
        # 1-partition sort, never a silent Window collapse) and the
        # single sorted task streams to the target rank. Bounded input
        # by contract (daily-grain pair space ~2.9M rows at every SF —
        # docstring); above ``SMALL_ROWS["theil_sen"]`` fall back to the
        # range-shuffle scaffold over a pinned copy.
        target = (n + 1) // 2
        if n > SMALL_ROWS["theil_sen"]:
            ranked = _row_number_scaffold(
                df.localCheckpoint(eager=False), [col], "__rn"
            )
        else:
            ranked = (
                df.repartition(1)
                .sortWithinPartitions(col)
                .withColumn(
                    "__rn",
                    (F.monotonically_increasing_id() + 1).cast("long"),
                )
            )
        picked = ranked.filter(F.col("__rn") == target).select(
            (finalize(F.col(col)) if finalize else F.col(col)).alias("__v")
        )
        return int(picked.head()["__v"])

    slope_q = value_at_rank(
        slopes, "slope_q", n_pairs, finalize=lambda c: F.round(c)
    )
    # Intercept candidates in EXACT decimal arithmetic:
    #   round((y − slope·x)·1e9) == round(y·1e9 − slope_q·x)
    # algebraically, but the left form evaluates in DOUBLE and a
    # cents-scale series pushes y·1e9 past 2^53, where each engine's
    # double→decimal digit rendering differs (observed at the x10
    # tier: ...467840 vs ...468000). The right form is integer/decimal
    # math end-to-end — bit-exact at every tier when x is integral and
    # y has ≤6 decimal places (the quantized-cents discipline of every
    # caller); otherwise exact to the 6-dp grain of the casts below.
    slope_q_dec = F.lit(str(slope_q)).cast("decimal(18,0)")
    resid = s.select(
        (
            F.col("y").cast("decimal(20,6)")
            * F.lit(1000000000).cast("decimal(10,0)")
            - slope_q_dec * F.col("x").cast("decimal(20,6)")
        )
        .cast("decimal(38,0)")
        .alias("icept_q")
    )
    icept_q = value_at_rank(resid, "icept_q", n_points)
    spark = series.sparkSession
    # surface the exact fixed-point medians plus their double views —
    # no re-rounding (a 6-dp round of a 9-dp quantity can tie-break
    # differently across engines; q/1e9 is one exact double division).
    # The medians stay decimal(38,0) in the OUTPUT too: a cents-scale
    # series' median intercept at the 1e-9 grain passes int64 around
    # 9e9 cents/day (observed 1.56e19 at the x10 tier).
    from decimal import Decimal

    return spark.createDataFrame(
        [
            (
                n_points,
                n_pairs,
                Decimal(slope_q),
                Decimal(icept_q),
                slope_q / 1e9,
                icept_q / 1e9,
            )
        ],
        "n_points long, n_pairs long, slope_q decimal(38,0),"
        " intercept_q decimal(38,0), slope double, intercept double",
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact Spearman rank correlation (midrank tie handling) — the
    monotonic-association companion to the exact-moment Pearson
    (`price_quantity_correlation`): immune to monotone transforms and
    heavy tails, the correlation a skew-ridden measure pair actually
    supports.

    rho = Pearson over DOUBLED midranks, which are exact integers
    (the midrank of a tie block is ``cum_before + (cnt+1)/2``, so its
    double is ``2·cum − cnt + 1``): every moment accumulates in
    decimal(38,0), order-insensitive under any partial-agg schedule,
    and only the final divide/sqrt is floating point — Pearson is
    scale-invariant, so doubling changes nothing.

    Scale shape: each column collapses to value-grain counts (map-side
    combinable), :func:`global_cumsum` stamps cumulative counts with a
    range shuffle (never a single-partition RANK window — the oracle
    uses one, same rows, opposite scaling), and the rank tables join
    back to the fact rows on the value key. Three shuffles total at
    value/fact grain; no payload wider than (value, long) ever moves.

    Output: ONE row — n_rows, rho (9 dp).
    """
    def rank_table(col: str, out: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("__v")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        cum = global_cumsum(counts, ["__v"], ["__c"])
        return cum.select(
            F.col("__v").alias(col),
            (2 * F.col("cum___c") - F.col("__c") + 1).alias(out),
        )

    ranked = (
        df.select(x_col, y_col)
        .join(rank_table(x_col, "__rx"), x_col)
        .join(rank_table(y_col, "__ry"), y_col)
    )
    dec = "decimal(38,0)"
    rx = F.col("__rx").cast(dec)
    ry = F.col("__ry").cast(dec)
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(rx).cast(dec).alias("sx"),
        F.sum(ry).cast(dec).alias("sy"),
        F.sum(rx * rx).cast(dec).alias("sxx"),
        F.sum(ry * ry).cast(dec).alias("syy"),
        F.sum(rx * ry).cast(dec).alias("sxy"),
    )
    # n*S_xy - S_x*S_y etc. stay EXACT in decimal(38,0) (~1e24 here,
    # far under 1e38); the single cast to double is the only rounding
    # before the divide/sqrt
    nd = F.col("n_rows").cast(dec)
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast(dec)
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast(dec)
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast(dec)
    return m.select(
        "n_rows",
        F.round(
            num.cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double")),
            9,
        ).alias("rho"),
    )


def ks_by_group(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Per-group exact KS — the MONITORING-TABLE form of
    :func:`ks_two_sample`: one D statistic per group (per month, per
    segment, per feature), the table a drift dashboard reads to ask
    "WHERE did the distribution move", with the same exact-integer
    numerator discipline.

    Scale shape: same tagged-union value-grain pre-aggregation; the
    cumulative counts run in a window PARTITIONED BY the group — groups
    sort independently in parallel (this is the legitimate use of a
    window here: partition = group, not the whole table; the global
    two-sample form uses :func:`global_cumsum` precisely because it
    has no group to partition by). Output grain is |groups| rows.
    """
    tagged = df_a.select(
        *[F.col(g) for g in group_cols],
        F.col(value_col).alias("v"),
        F.lit(1).alias("__a"),
    ).unionByName(
        df_b.select(
            *[F.col(g) for g in group_cols],
            F.col(value_col).alias("v"),
            F.lit(0).alias("__a"),
        )
    )
    counts = tagged.groupBy(*group_cols, "v").agg(
        F.sum("__a").cast("long").alias("n_a"),
        F.sum(1 - F.col("__a")).cast("long").alias("n_b"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.select(
        *group_cols,
        F.sum("n_a").over(w).alias("ca"),
        F.sum("n_b").over(w).alias("cb"),
    )
    dec = "decimal(38,0)"
    tot = cum.groupBy(*group_cols).agg(
        F.max("ca").cast("long").alias("tot_a"),
        F.max("cb").cast("long").alias("tot_b"),
    )
    joined = cum.join(tot, group_cols)
    diff = F.abs(
        F.col("ca").cast(dec) * F.col("tot_b").cast(dec)
        - F.col("cb").cast(dec) * F.col("tot_a").cast(dec)
    )
    return (
        joined.groupBy(*group_cols)
        .agg(
            F.max("tot_a").alias("n_a"),
            F.max("tot_b").alias("n_b"),
            F.max(diff).cast("long").alias("d_num"),
        )
        .select(
            *group_cols,
            "n_a",
            "n_b",
            "d_num",
            F.round(
                F.col("d_num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                9,
            ).alias("d_stat"),
        )
    )


def isotonic_calibration(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str = "y",
    bin_width: float = 25000.0,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of an event rate
    against a score, via the CLOSED FORM of pool-adjacent-violators
    (Ayer et al. 1955; Robertson, Wright & Dykstra 1988):

        iso(i) = max_{j ≤ i} min_{k ≥ i} mean(y over bins j..k)

    — the standard way to turn a raw model/quality score into a
    calibrated probability without assuming a parametric link (the
    non-parametric sibling of Platt scaling). Used in training-data
    pipelines to calibrate quality-classifier scores before
    threshold-based corpus filtering.

    Scale shape: PAV is inherently sequential, so instead of iterating
    pools we (1) reduce the fact table to FIXED-WIDTH score bins in
    ONE map-side-combining aggregate — the only shuffle that sees fact
    rows — then (2) evaluate the max-min closed form on the bounded
    bin relation (B bins → B³/6 segment rows; B is ~20-60 regardless
    of SF, so the post-aggregate cost is constant at any data scale
    and every join on it broadcasts). Segment means are exact-integer
    sums divided once in double, so min/max see deterministic values;
    no windows, no iteration, no driver-side state.

    Output: one row per bin — bin, n_rows, raw_rate, isotonic_rate
    (both rounded 6); isotonic_rate is non-decreasing in bin by
    construction.
    """
    b = df.select(
        F.floor(F.col(score_col).cast("double") / F.lit(float(bin_width)))
        .cast("long")
        .alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    )
    bins = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    j = bins.select(F.col("bin").alias("j"))
    k = bins.select(F.col("bin").alias("k"))
    m = bins.select(F.col("bin").alias("m"), "n", "s")
    seg = (
        j.join(F.broadcast(k), F.col("j") <= F.col("k"))
        .join(
            F.broadcast(m),
            (F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")),
        )
        .groupBy("j", "k")
        .agg(
            (F.sum("s").cast("double") / F.sum("n").cast("double")).alias(
                "avg_jk"
            )
        )
    )
    i = bins.select(F.col("bin").alias("i"))
    fitted = (
        i.join(
            F.broadcast(seg),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("minavg"))
        .groupBy("i")
        .agg(F.max("minavg").alias("iso"))
    )
    return (
        bins.join(F.broadcast(fitted), bins["bin"] == fitted["i"])
        .select(
            "bin",
            F.col("n").alias("n_rows"),
            F.round(
                F.col("s").cast("double") / F.col("n").cast("double"), 6
            ).alias("raw_rate"),
            F.round(F.col("iso"), 6).alias("isotonic_rate"),
        )
    )
