"""Debezium CDC decoding operators.

The reference consumes Debezium Postgres CDC events (Avro) and flattens
them defensively — one code path tolerates both enveloped and already-flat
inputs (``curated/dq_kafka.py:148-165``; ``mage-programs/delta_metadata.py:56``).
This module makes that a first-class operator:

- :func:`normalize_cdc` — flatten ``after.*`` when the envelope is
  present, pass through when not; optionally keeps CDC metadata (op,
  ts_ms) for downstream merge logic.
- :func:`decode_epoch_days` — ``io.debezium.time.Date`` int32
  days-since-epoch → DATE (reference ``curated/dq_kafka.py:176-179``).
- :func:`decode_cdc_orders` — the composed orders-entity decode:
  flatten + epoch-date decode + decimal(10,2) amount, yielding the
  canonical orders schema.

All pure Column expressions — flattening a struct is a projection,
so Catalyst still prunes/pushes into the scan underneath.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.functions.scalars import epoch_day_to_date

if TYPE_CHECKING:
    import pyarrow as pa


def normalize_cdc(
    df: DataFrame,
    keep_meta: bool = False,
    drop_deletes: bool = True,
) -> DataFrame:
    """Flatten a Debezium envelope if present; pass through flat input.

    Mirrors the reference's ``if "after" in df.columns`` branch
    (curated/dq_kafka.py:148). For delete events (``op = 'd'``) the
    ``after`` payload is NULL — they are dropped by default (the
    reference never handles deletes; downstream merge logic can opt in
    via ``drop_deletes=False`` + ``keep_meta=True``).
    """
    if "after" not in df.columns:
        return df
    # Deletes (the WHOLE `after` struct is NULL) surface their columns
    # from the `before` image — required for downstream merge logic
    # (apply_cdc_changes). The fallback keys on the struct, not per
    # field: a per-field coalesce would resurrect old values for
    # legitimate set-to-NULL updates. Partial envelopes without a
    # `before` column flatten `after` alone.
    has_before = "before" in df.columns
    cols = [
        (
            F.when(F.col("after").isNull(), F.col(f"before.{f.name}")).otherwise(
                F.col(f"after.{f.name}")
            )
            if has_before
            else F.col(f"after.{f.name}")
        ).alias(f.name)
        for f in df.schema["after"].dataType
    ]
    if keep_meta:
        cols += [F.col("op").alias("_cdc_op"), F.col("ts_ms").alias("_cdc_ts_ms")]
    out = df
    if drop_deletes:
        out = out.filter(F.col("after").isNotNull())
    return out.select(*cols)


def decode_epoch_days(df: DataFrame, columns: list[str]) -> DataFrame:
    """Decode io.debezium.time.Date columns (int days since 1970-01-01)
    in place (reference curated/dq_kafka.py:176-179)."""
    for c in columns:
        df = df.withColumn(c, epoch_day_to_date(c))
    return df


def latest_change_per_key(
    changes: DataFrame,
    key: str,
    ts_col: str = "_cdc_ts_ms",
    op_col: str = "_cdc_op",
    seq_col: str | None = None,
) -> DataFrame:
    """The first half of :func:`apply_cdc_changes`: the LATEST change per
    key of a change batch, ties at the same ``ts_col`` broken by op
    (delete wins over upsert), then by ``seq_col`` when given. One
    window shuffle over the batch; the output keeps every input column
    and is what :func:`merge_latest_changes` consumes."""
    from pyspark.sql import Window

    order = [F.desc(ts_col), F.desc(F.col(op_col) == "d")]
    if seq_col is not None:
        order.append(F.desc(seq_col))
    w = Window.partitionBy(key).orderBy(*order)
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_latest_changes(
    target: DataFrame,
    latest: DataFrame,
    key: str,
    op_col: str = "_cdc_op",
) -> DataFrame:
    """The second half of :func:`apply_cdc_changes`: merge at most one
    change per key (the output of :func:`latest_change_per_key`) into
    ``target``. Target rows whose key changed are dropped (left-anti
    join), and the non-delete changes are unioned in with the target's
    columns."""
    upserts = latest.filter(F.col(op_col) != "d").select(*target.columns)
    untouched = target.join(latest.select(key), key, "left_anti")
    return untouched.unionByName(upserts)


def apply_cdc_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    ts_col: str = "_cdc_ts_ms",
    op_col: str = "_cdc_op",
    seq_col: str | None = None,
) -> DataFrame:
    """Merge a CDC change batch into a snapshot — the MERGE INTO the
    reference's Delta flavor implies, emulated on vanilla Spark
    (anti-join + union + ranking window):

    1. keep only the LATEST change per key (ties broken by op:
       delete wins over upsert at the same ts_ms);
    2. ``op = 'd'`` removes the key; c/u/r upserts the ``after`` image;
    3. target rows for untouched keys pass through.

    Step 1 is :func:`latest_change_per_key`, steps 2-3
    :func:`merge_latest_changes`. This is the merge over DataFrames;
    the one merge into a stored table,
    ``streaming/pipeline.py:upsert_batch_into_parquet``, calls the two
    halves separately: it pins the window output between them and
    merges only the target buckets the batch touches, publishing each
    batch as one snapshot-log version (``sources/txlog.py``). A small
    merge collects that pin and runs :func:`merge_latest_changes_arrow`
    as the second half.

    ``changes`` is the output of ``normalize_cdc(df, keep_meta=True,
    drop_deletes=False)``. Cost: one window shuffle over the (small)
    change batch + one hash join against the target — the target is
    never shuffled when the join broadcasts the change-key set.

    ``seq_col`` is the final tie-break for two non-delete changes
    sharing (key, ts_ms): pass a total-order column from the source
    (Postgres LSN / Kafka offset — Debezium carries ``source.lsn``).
    Debezium's ts_ms has millisecond resolution, so same-key same-ms
    updates DO happen in bursts; without ``seq_col`` the winner among
    equal-ts non-deletes is whichever row_number sees first
    (partition-order-dependent).
    """
    latest = latest_change_per_key(changes, key, ts_col, op_col, seq_col)
    return merge_latest_changes(target, latest, key, op_col)


def merge_latest_changes_arrow(
    target: pa.Table, latest: pa.Table, key: str, op_col: str = "_cdc_op"
) -> pa.Table:
    """:func:`merge_latest_changes` over pyarrow Tables, for merges
    small enough to run on the driver (the single-node branch of
    ``upsert_batch_into_parquet``, whose ``latest`` is the collected
    output of :func:`latest_change_per_key`). Target rows whose key
    changed are dropped — a NULL key never matches, as in the left-anti
    join — and the non-delete changes (a NULL op is not one, as in
    ``filter(op != 'd')``) are appended with the target's columns, cast
    to its schema."""
    import pyarrow as pa
    import pyarrow.compute as pc

    upserts = latest.filter(pc.not_equal(latest[op_col], "d"))
    changed = pc.drop_null(latest[key])
    untouched = target.filter(pc.invert(pc.is_in(target[key], value_set=changed)))
    return pa.concat_tables(
        [untouched, upserts.select(target.column_names).cast(target.schema)]
    )


def scd2_history(
    changes: DataFrame,
    *,
    key_col: str,
    attr_cols: tuple[str, ...],
    seq_cols: tuple[str, ...],
    delete_col: str | None = None,
    suppress_unchanged: bool = True,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change log — the
    lakehouse pattern behind "what did this dimension row look like at
    time T" (the reference's Delta MERGE keeps only the latest image,
    mage-programs/orders_delta_lake.py:39-63; SCD2 is the audit-grade
    upgrade that keeps them all).

    Per key, ordered by ``seq_cols``: consecutive changes whose
    ``attr_cols`` are unchanged collapse into one version (no-op
    updates are CDC noise, ``suppress_unchanged=False`` keeps them);
    each surviving version is valid from its own change time until the
    NEXT version's (half-open ``[valid_from, valid_to)``), the last
    one is ``is_current`` with a NULL ``valid_to``. Rows flagged true
    in ``delete_col`` CLOSE the previous interval without opening one
    — a later re-insert starts a fresh version even if its attributes
    match the deleted image (the lag compares against the delete
    marker, never across it). Version numbers are assigned BEFORE the
    delete rows drop out, so a gap in ``version`` marks a deletion
    epoch — deliberate: renumbering would erase the only history of
    the delete from the surviving rows.

    Scale shape: everything is ONE shuffle on the key — the lag
    (suppression), lead (interval close), and row_number (version)
    windows share the same partitioning and ordering prefix, so
    Catalyst plans a single exchange + sort and evaluates the three
    frames in two window operators over it. No self-join against the
    "previous version" (the naive SQL formulation), no second pass.
    """
    from pyspark.sql import Window

    seq = [F.col(c) for c in seq_cols]
    w = Window.partitionBy(key_col).orderBy(*seq)
    img = F.struct(
        *[F.col(c) for c in attr_cols],
        *( [F.col(delete_col).cast("boolean")] if delete_col else [] ),
    )
    with_prev = changes.withColumn("__prev", F.lag(img).over(w)).withColumn(
        "__img", img
    )
    if suppress_unchanged:
        keep = F.col("__prev").isNull() | ~F.col("__prev").eqNullSafe(
            F.col("__img")
        )
        with_prev = with_prev.filter(keep)
    w2 = Window.partitionBy(key_col).orderBy(*seq)
    out = (
        with_prev.withColumn("valid_from", seq[0])
        .withColumn("valid_to", F.lead(seq[0]).over(w2))
        .withColumn("version", F.row_number().over(w2).cast("int"))
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    if delete_col is not None:
        out = out.filter(~F.col(delete_col).cast("boolean"))
    return out.select(
        key_col,
        *attr_cols,
        "valid_from",
        "valid_to",
        "version",
        "is_current",
    )


def decode_cdc_orders(df: DataFrame) -> DataFrame:
    """Full orders CDC decode: envelope flatten → epoch-day date →
    decimal(10,2) amount surfaced as double (the batch-path dtype,
    reference curated/data_quality.py:12)."""
    flat = normalize_cdc(df)
    flat = decode_epoch_days(flat, ["order_date"])
    return flat.withColumn(
        "order_amount", F.col("order_amount").cast("decimal(10,2)").cast("double")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple[str, ...],
    compare_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Change-data-feed between two snapshots of the same table — the
    INVERSE of :func:`apply_cdc_changes`: given yesterday's and today's
    images, emit the minimal change rows (``op`` ∈ i/u/d) that a CDC
    log would have carried (Delta calls this Change Data Feed; on plain
    parquet it is how a pipeline without CDC taps still feeds
    incremental consumers).

    Semantics: full outer join on the key. Key only in ``new`` → ``i``
    (insert, after-image); only in ``old`` → ``d`` (delete,
    before-image — what a Debezium delete carries); in both →
    ``u`` ONLY when some ``compare_cols`` value differs (null-safe
    comparison: NULL→value and value→NULL are real updates, NULL→NULL
    is not). Unchanged rows are dropped — the output is the delta, not
    the table.

    Scale shape: ONE full-outer shuffle join on the key, then a
    null-safe struct inequality filter — no per-column join chains, no
    row hashing pass (struct equality short-circuits in codegen). At
    100 TB both snapshots partition by the same key expression, so a
    bucketed/pre-partitioned layout makes this exchange-free.
    """
    if compare_cols is None:
        compare_cols = tuple(
            c for c in new.columns if c not in key_cols
        )
    o = old.select(
        *[F.col(c).alias(f"__ok_{c}") for c in key_cols],
        F.struct(*[F.col(c) for c in compare_cols]).alias("__oimg"),
    )
    n = new.select(
        *[F.col(c).alias(f"__nk_{c}") for c in key_cols],
        F.struct(*[F.col(c) for c in compare_cols]).alias("__nimg"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__ok_{c}") == F.col(f"__nk_{c}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")
    in_old = F.col(f"__ok_{key_cols[0]}").isNotNull()
    in_new = F.col(f"__nk_{key_cols[0]}").isNotNull()
    op = (
        F.when(~in_old, F.lit("i"))
        .when(~in_new, F.lit("d"))
        .when(~F.col("__oimg").eqNullSafe(F.col("__nimg")), F.lit("u"))
    )
    img = F.when(in_new, F.col("__nimg")).otherwise(F.col("__oimg"))
    keyed = [
        F.coalesce(F.col(f"__nk_{c}"), F.col(f"__ok_{c}")).alias(c)
        for c in key_cols
    ]
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keyed,
            "op",
            *[img[c].alias(c) for c in compare_cols],
        )
    )


def scd2_snapshot(history: DataFrame, as_of) -> DataFrame:
    """Point-in-time (AS OF) snapshot over an :func:`scd2_history`
    table: the version of every key whose half-open validity interval
    ``[valid_from, valid_to)`` contains ``as_of`` — the query Delta's
    ``VERSION AS OF`` time travel answers from its log, answered here
    from the dimension history itself (works on any storage, and at
    row granularity rather than table-commit granularity).

    Keys deleted before ``as_of`` (interval closed, no successor) and
    keys born after it simply produce no row.

    Scale shape: a pure filter — no join, no shuffle. On a history
    table written sorted/partitioned by ``valid_from`` (e.g. via
    write_zordered), the ``valid_from <= as_of`` predicate prunes
    row groups by footer min/max, so old snapshots read a fraction of
    the history."""
    # string timestamps cast explicitly; numeric/other sequence domains
    # (scd2_history accepts any orderable seq col) compare as-is
    ts = F.lit(as_of)
    if isinstance(as_of, str):
        ts = ts.cast("timestamp")
    return history.filter(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    )
