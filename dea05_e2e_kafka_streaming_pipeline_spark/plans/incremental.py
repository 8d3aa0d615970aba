"""Incremental aggregate maintenance (materialized-view upkeep).

At 100 TB you do not recompute a gold aggregate from scratch because a
day of new facts arrived — you keep the aggregate as a PARTIAL-state
table (sums, counts, mins, maxes per group) and fold each new batch
into it: ``new_state = merge(state, partial(batch))``. The final
metrics (averages, double-typed sums) are a stateless projection over
the state, computed at read time.

This is exactly Spark's own partial-aggregation contract
(`partial_sum` → final merge in every HashAggregate pair) lifted to
the table level, with the same algebra requirements: every maintained
measure must be a commutative monoid over the partial columns. sum /
count / min / max are; avg is maintained as (sum, count) and finalized
by division. Monetary sums stay exact decimals IN THE STATE and only
become doubles at finalize — merge order can never change a result
(the same discipline the batch gold plans use).

Correctness is pinned two ways: the `incremental_daily_sales` registry
row computes a day-level aggregate by splitting the fact table,
folding the halves through partial→merge→finalize, and hash-matching
DuckDB's direct GROUP BY over the whole table; property tests assert
merge associativity and state-vs-recompute equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "partial_aggregate",
    "fold_partials",
    "merge_partials",
    "finalize_aggregate",
    "incremental_update",
]

_MONEY = "decimal(18,2)"
_KINDS = ("sum", "count", "min", "max", "avg")


def _state_cols(name: str, kind: str) -> list[str]:
    if kind == "sum":
        return [f"__{name}_sum"]
    if kind == "count":
        return [f"__{name}_cnt"]
    if kind == "avg":
        return [f"__{name}_sum", f"__{name}_cnt"]
    return [f"__{name}_{kind}"]  # min / max


def partial_aggregate(
    df: DataFrame,
    keys: list[str],
    spec: list[tuple[str, str, str]],
    money: str = _MONEY,
) -> DataFrame:
    """Aggregate a batch to its partial state: one row per group with
    the mergeable partial columns for every measure in ``spec``
    (``(out_name, source_col, kind)`` with kind in sum / count / min /
    max / avg). Numeric sums accumulate as exact decimal."""
    aggs = []
    for name, src, kind in spec:
        if kind not in _KINDS:
            raise ValueError(f"unknown agg kind {kind!r} for {name!r}")
        if kind in ("sum", "avg"):
            aggs.append(
                F.sum(F.col(src).cast(money)).alias(f"__{name}_sum")
            )
        if kind in ("count", "avg"):
            target = F.col(src) if kind == "avg" else F.col(src)
            aggs.append(F.count(target).alias(f"__{name}_cnt"))
        if kind == "min":
            aggs.append(F.min(src).alias(f"__{name}_min"))
        if kind == "max":
            aggs.append(F.max(src).alias(f"__{name}_max"))
    return df.groupBy(*keys).agg(*aggs)


def merge_partials(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    spec: list[tuple[str, str, str]],
) -> DataFrame:
    """Fold two partial-state tables into one (:func:`fold_partials`
    over their union) — groups present in only one side pass through.
    Associative and commutative by construction, so any merge tree over
    any batch split yields the same state."""
    return fold_partials(a.unionByName(b), keys, spec)


def fold_partials(
    state: DataFrame,
    keys: list[str],
    spec: list[tuple[str, str, str]],
) -> DataFrame:
    """Fold a partial-state table holding any number of rows per group
    (e.g. the union of many epochs' partials) to one row per group:
    sums and counts add, mins take min, maxes take max."""
    aggs = []
    for name, _src, kind in spec:
        for c in _state_cols(name, kind):
            if c.endswith("_min"):
                aggs.append(F.min(c).alias(c))
            elif c.endswith("_max"):
                aggs.append(F.max(c).alias(c))
            else:  # _sum or _cnt
                aggs.append(F.sum(c).alias(c))
    return state.groupBy(*keys).agg(*aggs)


def finalize_aggregate(
    state: DataFrame,
    keys: list[str],
    spec: list[tuple[str, str, str]],
) -> DataFrame:
    """The read-time projection from partial state to final metrics:
    sums surface as double, avgs divide double(sum) by count — the
    same finalization the one-shot gold plans apply, so incremental
    and from-scratch results are bit-identical."""
    cols = [F.col(k) for k in keys]
    for name, _src, kind in spec:
        if kind == "sum":
            cols.append(F.col(f"__{name}_sum").cast("double").alias(name))
        elif kind == "count":
            cols.append(F.col(f"__{name}_cnt").alias(name))
        elif kind == "avg":
            cols.append(
                (
                    F.col(f"__{name}_sum").cast("double")
                    / F.col(f"__{name}_cnt")
                ).alias(name)
            )
        else:
            cols.append(F.col(f"__{name}_{kind}").alias(name))
    return state.select(*cols)


def incremental_update(
    state: DataFrame | None,
    batch: DataFrame,
    keys: list[str],
    spec: list[tuple[str, str, str]],
    money: str = _MONEY,
) -> DataFrame:
    """One maintenance step: partial-aggregate the new batch and merge
    it into the existing state (``None`` state = first batch). Cost is
    one shuffle of the BATCH plus a state-sized merge — never a
    rescan of history."""
    part = partial_aggregate(batch, keys, spec, money=money)
    if state is None:
        return part
    return merge_partials(state, part, keys, spec)


def signed_cdc_facts(
    cdc: DataFrame,
    cols: list[str],
    op_col: str = "op",
    before_prefix: str = "before_",
    after_prefix: str = "after_",
) -> DataFrame:
    """Lower a CDC batch (Debezium-style op c/u/d with before/after
    images) to SIGNED fact rows — the retraction algebra of
    incremental view maintenance: an insert contributes its after
    image at +1, a delete its before image at -1, and an update is
    delete(before) + insert(after), which makes GROUP-CHANGING updates
    (the case naive "adjust the group in place" maintenance gets
    wrong) correct by construction: each image lands in its own group
    with its own sign.

    Debezium's snapshot-read op ``r`` is an insert (the initial table
    image arrives as ``r`` rows before the first ``c``), so it signs
    +1 like ``c``. Any OTHER op value raises at execution time rather
    than silently vanishing — a feed with an unrecognized op is a
    contract violation, and dropping its rows would corrupt the view
    with no error.

    Output: ``cols`` (un-prefixed) + ``sign`` (+1/-1). Map-only — one
    pass over the batch, the union is a narrow transformation.
    """
    def image(prefix: str, sign: int) -> list:
        return [F.col(f"{prefix}{c}").alias(c) for c in cols] + [
            F.lit(sign).alias("sign")
        ]

    op = F.col(op_col)
    inserts = cdc.filter(op.isin("c", "r")).select(*image(after_prefix, 1))
    deletes = cdc.filter(op == "d").select(*image(before_prefix, -1))
    upd_out = cdc.filter(op == "u").select(*image(before_prefix, -1))
    upd_in = cdc.filter(op == "u").select(*image(after_prefix, 1))
    # Executor-side guard: rows whose op is none of c/r/u/d become a
    # raise_error branch of the union — zero such rows costs nothing,
    # one such row fails the job with the offending value in the
    # message instead of silently dropping the change.
    types = dict(cdc.select(*image(after_prefix, 1)).dtypes)
    err = F.raise_error(
        F.concat(
            F.lit("signed_cdc_facts: unrecognized op value: "),
            F.coalesce(op.cast("string"), F.lit("NULL")),
        )
    )
    bad = cdc.filter(~op.isin("c", "r", "u", "d") | op.isNull()).select(
        *[err.cast(types[c]).alias(c) for c in cols],
        err.cast("int").alias("sign"),
    )
    return (
        inserts.unionByName(deletes)
        .unionByName(upd_out)
        .unionByName(upd_in)
        .unionByName(bad)
    )


def retractable_update(
    state: DataFrame | None,
    signed: DataFrame,
    keys: list[str],
    measures: list[tuple[str, str]],
    money: str = _MONEY,
) -> DataFrame:
    """Fold a signed-fact batch (:func:`signed_cdc_facts`) into
    retractable aggregate state: per group, ``sum_<m>`` accumulates
    ``sign·value`` as exact decimal and ``cnt`` accumulates ``sign`` —
    an abelian-GROUP algebra (unlike the monoid-only
    :func:`incremental_update`, deletes and updates are first-class;
    the price is that only sum/count/avg-style measures qualify —
    min/max are not invertible and stay with the monoid path).
    Groups whose live row count returns to zero are REMOVED from the
    state, so a fully-deleted group disappears exactly as it would
    from a from-scratch GROUP BY.

    ``measures`` is ``[(out_name, source_col), ...]``. Cost per step:
    one shuffle of the BATCH at group grain + a state-sized merge —
    history is never rescanned.
    """
    aggs = [
        F.sum(F.col(src).cast(money) * F.col("sign")).alias(f"__{name}_sum")
        for name, src in measures
    ] + [F.sum("sign").cast("long").alias("__cnt")]
    part = signed.groupBy(*keys).agg(*aggs)
    if state is None:
        # A stateless per-batch partial MUST keep __cnt == 0 groups: a
        # batch of same-group value updates has count delta 0 but a
        # non-zero sum delta, and that delta still has to reach the
        # merge (read paths re-filter dead groups at finalize time).
        return part
    return fold_retractable(state.unionByName(part), keys, measures)


def fold_retractable(
    state: DataFrame,
    keys: list[str],
    measures: list[tuple[str, str]],
) -> DataFrame:
    """Fold signed partial state holding any number of rows per group
    (state plus a batch's partial, or many epochs' partials) to one row
    per group: signed sums and live counts add. A zero live count means
    the group's inserts were all retracted (sums are zero too under
    consistent CDC), so the group is dropped, as it would be from a
    fresh GROUP BY."""
    aggs = [
        F.sum(f"__{name}_sum").alias(f"__{name}_sum") for name, _ in measures
    ] + [F.sum("__cnt").cast("long").alias("__cnt")]
    return state.groupBy(*keys).agg(*aggs).filter(F.col("__cnt") != 0)


def finalize_retractable(
    state: DataFrame,
    keys: list[str],
    measures: list[tuple[str, str]],
) -> DataFrame:
    """Read-time projection of retractable state: decimal sums surface
    as double, the live row count as ``n_rows`` — bit-identical to a
    from-scratch GROUP BY over the post-change fact table (the oracle
    contract the registry query pins)."""
    cols = [F.col(k) for k in keys]
    for name, _src in measures:
        cols.append(F.col(f"__{name}_sum").cast("double").alias(name))
    cols.append(F.col("__cnt").alias("n_rows"))
    return state.select(*cols)


def _pin(df: DataFrame) -> DataFrame:
    """Lazy lineage truncation for a SMALL state table referenced more
    than once in the same maintenance step. A DataFrame re-derives its
    whole logical subtree at every reference, so a state table used by
    (say) the horizon probe, the merge, and the rebuild gate multiplies
    its upstream plan by the reference count — the un-pinned
    retractable-min/max step planned 564 parquet scans / 676 exchanges
    (13.8k-line physical plan) for a job whose data is k·groups rows.
    ``localCheckpoint(eager=False)`` rebases every reference onto ONE
    shared RDD: computed once at action time, no job at plan-build time
    (the registry's lazy-build contract holds), and nothing persists
    across runs — each invocation recomputes from the parquet inputs.
    In production IVM the state table is a materialized table between
    maintenance steps anyway (tests/test_incremental.py round-trips it
    through parquet); the pin is the in-flight equivalent."""
    return df.localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# Retractable MIN/MAX — bounded value buffers with a recompute escape hatch
# ---------------------------------------------------------------------------
#
# sum/count are invertible (abelian), so :func:`retractable_update`
# maintains them under deletes for free. min/max are NOT: deleting the
# current minimum needs the runner-up, which plain aggregate state has
# already forgotten. The classical fix (per-group value MULTISET) is
# unbounded; the bounded fix kept here is the one real IVM engines ship
# (e.g. Materialize's top-k-backed MIN/MAX, F1 Lightning's reservoirs):
#
#   per (group, side) keep the K SMALLEST distinct live values with
#   multiplicities (max side stores values NEGATED so both sides share
#   the "k smallest" algebra), plus a `complete` flag: whether the
#   buffer holds ALL the group's distinct values.
#
# Invariant: every live value ≤ max(buffer) is IN the buffer. So while
# the buffer is non-empty, min = min(buffer) exactly: anything
# untracked is strictly above every tracked value. Changes below the
# horizon fold into the buffer; inserts above it are discarded
# (irrelevant to min), deletes above it can only hit untracked values
# (also irrelevant). When deletes EMPTY an incomplete buffer, the true
# min may be an untracked value — the underflow path rebuilds just
# those groups from the base table (the maintained table IVM systems
# keep next to the view anyway): cost O(underflowing groups), only on
# adversarial delete storms that burn through K runner-ups.

def _explode_sides(
    per_val: DataFrame, keys: list[str], extra: list[str] | None = None
) -> DataFrame:
    """Expand per-(group, value) rows into the two buffer sides (min:
    value as-is, max: value negated so both share the "k smallest"
    algebra). Post-aggregation explode instead of a pre-aggregation
    union: the multiplicity of value v is the same on both sides, so
    counting once at (group, value) grain and THEN fanning out halves
    the rows crossing the (group, value) exchange and scans the base
    a single time (the union form re-derived the whole upstream
    subtree per side)."""
    sv = F.explode(
        F.array(
            F.struct(
                F.lit("min").alias("__side"), F.col("__v").alias("__val")
            ),
            F.struct(
                F.lit("max").alias("__side"), (-F.col("__v")).alias("__val")
            ),
        )
    )
    extra = extra or []
    return per_val.select(
        *keys, F.col("__cnt"), *extra, sv.alias("__sv")
    ).select(
        *keys,
        F.col("__sv.__side").alias("__side"),
        F.col("__sv.__val").alias("__val"),
        "__cnt",
        *extra,
    )


def minmax_state_from_base(
    base: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 32,
) -> DataFrame:
    """Build min/max buffer state from a base fact table: per (group,
    side), the k smallest distinct (sign-adjusted) values with their
    multiplicities; ``complete`` marks groups with ≤ k distinct values
    (their buffer IS the whole multiset). One shuffle at (group, value)
    grain (the sides fan out AFTER the aggregation — see
    :func:`_explode_sides`), the distinct-value count rides a window
    over the aggregated value table instead of a second aggregate +
    join, then one bounded per-(group, side) rank."""
    long = base.select(
        *keys, F.col(value_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    per_val = long.groupBy(*keys, "__v").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    # distinct values per group == rows per group of the aggregated
    # table, identical for both sides; computed here (pre-explode, on
    # half the rows) so the rank window below keeps its WindowGroupLimit
    # top-k pushdown (a count over ITS partition would force full sorts)
    per_val = per_val.withColumn(
        "__nd", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    )
    sides = _explode_sides(per_val, keys, extra=["__nd"])
    w = Window.partitionBy(*keys, "__side").orderBy("__val")
    ranked = sides.withColumn("__rk", F.row_number().over(w))
    return ranked.filter(F.col("__rk") <= k).select(
        *keys, "__side", "__val", "__cnt",
        (F.col("__nd") <= k).alias("__complete"),
    )


def retractable_minmax_update(
    state: DataFrame,
    signed: DataFrame,
    base_after: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 32,
) -> DataFrame:
    """One min/max maintenance step over a signed CDC batch
    (:func:`signed_cdc_facts`): fold batch changes at or below each
    buffer's horizon into the buffer, re-trim to k distinct values,
    and REBUILD from ``base_after`` (the post-batch base table) only
    the groups whose buffer underflowed — emptied by deletes while
    incomplete — or that the state has never seen. Cost: one shuffle
    of the batch at (group, value) grain, a state-sized merge, and a
    semi-joined rebuild of the (normally tiny) underflow set.
    """
    state = _pin(state)
    batch_long = signed.select(
        *keys, F.col(value_col).alias("__v"), F.col("sign")
    ).filter(F.col("__v").isNotNull())
    # one shuffle of the batch at (group, value) grain; the two sides
    # fan out AFTER the aggregation (sign sums are side-independent) —
    # see _explode_sides. Pinned (lazy localCheckpoint): the delta is
    # referenced by both the merge and the new-group probe, and WITHOUT
    # the pin each reference re-derives the whole batch subtree — the
    # state/delta/trim tables here are k·groups-sized, so materializing
    # them is noise next to re-running their lineage (the un-pinned
    # plan re-planned the base scans 500+ times; 13.8k-line plan).
    batch_delta = _pin(
        _explode_sides(
            batch_long.groupBy(*keys, "__v").agg(
                F.sum("sign").cast("long").alias("__cnt")
            ),
            keys,
        )
    )
    # overlap the two INDEPENDENT pin materializations (guide §2.6
    # thread-pool submit, r9): the state pin derives from the base
    # table and the delta pin from the CDC batch — no shared lineage —
    # but left lazy they materialize one after the other when the
    # downstream build first touches each. Two concurrent count()
    # actions back-fill one job's straggler tail with the other's
    # tasks; the counts themselves are state-sized scalars.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(lambda d: d.count(), (state, batch_delta)))

    # per-buffer horizon: the largest tracked value; a COMPLETE buffer
    # has no horizon (every change folds in)
    horizon = state.groupBy(*keys, "__side").agg(
        F.max("__val").alias("__hz"),
        F.min("__complete").alias("__complete"),
    )
    delta_known = batch_delta.join(horizon, [*keys, "__side"], "inner").filter(
        F.col("__complete") | (F.col("__val") <= F.col("__hz"))
    )
    merged = (
        state.select(*keys, "__side", "__val", "__cnt")
        .unionByName(delta_known.select(*keys, "__side", "__val", "__cnt"))
        .groupBy(*keys, "__side", "__val")
        .agg(F.sum("__cnt").alias("__cnt"))
        .filter(F.col("__cnt") > 0)
        .join(horizon.select(*keys, "__side", "__complete"), [*keys, "__side"])
    )
    # re-trim to k smallest distinct; trimming discards real values, so
    # a trimmed buffer is no longer complete
    w = Window.partitionBy(*keys, "__side").orderBy("__val")
    trimmed = (
        merged.withColumn("__rk", F.row_number().over(w))
        .withColumn(
            "__complete",
            F.col("__complete")
            & (F.max("__rk").over(Window.partitionBy(*keys, "__side")) <= k),
        )
        .filter(F.col("__rk") <= k)
        .select(*keys, "__side", "__val", "__cnt", "__complete")
    )
    # pinned: referenced by the survivor probe AND the final anti-join —
    # un-pinned, each re-derives the merge+trim subtree (state-sized
    # data, but the LINEAGE re-plans the whole upstream DAG)
    trimmed = _pin(trimmed)

    # groups needing a rebuild: a BUFFER (group, side) existed but is
    # now empty while incomplete (underflow — per SIDE: a delete storm
    # of the smallest values can empty the min buffer while the max
    # buffer loses nothing), or the batch touched a group the state has
    # never tracked (new group). Rebuild replaces BOTH sides of the
    # affected group, so its surviving-side rows leave `trimmed`.
    survivor_sides = trimmed.select(*keys, "__side").distinct()
    had = horizon.select(*keys, "__side", "__complete")
    underflow = (
        had.filter(~F.col("__complete"))
        .join(survivor_sides, [*keys, "__side"], "left_anti")
        .select(*keys)
        .distinct()
    )
    new_groups = (
        batch_delta.select(*keys)
        .distinct()
        .join(had.select(*keys).distinct(), keys, "left_anti")
    )
    # pinned: feeds both the rebuild semi-join and the final anti-join
    rebuild_keys = _pin(underflow.unionByName(new_groups).distinct())
    rebuilt = minmax_state_from_base(
        base_after.join(rebuild_keys, keys, "left_semi"),
        keys, value_col, k=k,
    )
    return trimmed.join(rebuild_keys, keys, "left_anti").unionByName(rebuilt)


def finalize_retractable_minmax(
    state: DataFrame,
    keys: list[str],
    min_name: str = "min_val",
    max_name: str = "max_val",
) -> DataFrame:
    """Read-time projection: per group, min = smallest tracked min-side
    value, max = -(smallest tracked max-side value) — exact while the
    buffers are live (the update path's invariant), bit-identical to a
    from-scratch GROUP BY min/max over the post-change fact table."""
    return (
        state.groupBy(*keys)
        .agg(
            F.min(F.when(F.col("__side") == "min", F.col("__val"))).alias(
                min_name
            ),
            (-F.min(
                F.when(F.col("__side") == "max", F.col("__val"))
            )).alias(max_name),
        )
    )
