"""Partitioned lake sinks (SURVEY §2.1 S6, S11-S13).

The reference writes date/region-partitioned Parquet for gold tables
(``enriched/daily_sales_aggregation.py:29-32``) and JSON quarantine
prefixes for failed DQ batches (``curated/data_quality.py:174``). The
engine keeps the same Hive-style partition layout — it is what makes
downstream partition pruning work — and bounds output file counts so a
1000-executor write doesn't produce a million tiny files.

Server-side encryption: the reference's ingestion sink sets
``ServerSideEncryption="AES256"`` per object (boto3,
``ingestion/s3-orders-ingestion.py:54``). On Spark that is a
filesystem-layer concern, not a writer option — for S3A set
``spark.hadoop.fs.s3a.server-side-encryption-algorithm=AES256`` (or
``SSE-KMS`` + key id) on the session and every sink in this module
inherits it; nothing per-write is needed, which is why no function here
takes an encryption parameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
    compression: str | None = None,
) -> None:
    """Partitioned Parquet write.

    ``maxRecordsPerFile`` caps file size at scale; Hive-style
    ``partitionBy`` preserves downstream static/dynamic partition pruning.

    ``compression``: None inherits the session codec (Spark default:
    snappy). At 100 TB the usual choice is ``zstd`` — ~25-30% smaller
    files than snappy at similar scan throughput, which is pure S3/
    network savings on every downstream read; pass it per-table here
    or set ``spark.sql.parquet.compression.codec`` session-wide.
    """
    writer = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int = 5_000_000,
    compression: str | None = None,
) -> None:
    """Partitioned ORC write — same layout discipline as
    :func:`write_parquet_partitioned` (Hive-style partition dirs,
    bounded file sizes) on the other bundled columnar format. ORC's
    built-in stripe/row-group min-max indexes give the same
    footer-level pruning the parquet zone maps provide; default codec
    differs (ORC: zlib) unless overridden."""
    writer = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table — the co-located-join layout for 100 TB
    fact tables: two tables bucketed on the same key join with NO
    exchange on either side (plan-asserted in
    tests/test_medallion.py::test_bucketed_join_no_shuffle). Bucketing
    requires the catalog (saveAsTable)."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def write_delta(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    overwrite_schema: bool = True,
) -> None:
    """Delta sink (SURVEY S12): overwrite + schema evolution +
    partitioning, matching the reference's Delta writes
    (mage-programs/orders_delta_lake.py:53 — ``format("delta")
    .mode("overwrite").option("overwriteSchema","true")``; partitioned
    variants data_quality.py:229-231, gold_aggregations.py:60,
    customer_lifetime_value.py:82).

    Requires delta-spark on the classpath; jar-gated like
    ``read_delta`` so the core engine runs on vanilla Spark."""
    writer = df.write.format("delta").mode(mode)
    if overwrite_schema and mode == "overwrite":
        writer = writer.option("overwriteSchema", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.save(path)
    except Exception as exc:
        raise RuntimeError(
            "Delta writes need the delta-spark package on the classpath "
            "(configure spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension). "
            f"Underlying error: {exc}"
        ) from exc


def write_json_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """JSON-lines write — quarantine / report sinks (small data only;
    Parquet is the lake format for anything at scale)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Small-files compaction — the OPTIMIZE half of lakehouse table
    maintenance (the reference's streaming ingester writes one object
    per ≤5-record flush, ingestion/s3-orders-ingestion.py:33-58 — at
    scale that accretes millions of tiny files and every scan pays the
    per-file open cost).

    Sizing comes from the scan's own ``_metadata.file_size`` (one
    aggregate job, no driver-side listing): the table is rewritten into
    ``ceil(total_bytes / target_file_bytes)`` files via round-robin
    repartition — parallel-write-friendly and size-balanced, unlike
    ``coalesce`` which caps write parallelism at the output file count.
    With ``partition_by``, rows are repartitioned on the partition
    columns first so each Hive partition compacts into few full files.

    Writes to a NEW prefix (``out_path``) and returns the output file
    count: Spark cannot safely read and overwrite the same path in one
    job, and atomic swap is a catalog/table-format concern (Delta's
    OPTIMIZE does it transactionally; on plain parquet the caller swaps
    the prefix after validation).
    """
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
        file_inventory,
    )

    df = spark.read.parquet(in_path)
    inv = file_inventory(df).agg(
        F.sum("size_bytes").alias("bytes"), F.count(F.lit(1)).alias("files")
    ).collect()[0]
    total = inv["bytes"] or 0
    n_files = max(1, -(-int(total) // int(target_file_bytes)))
    if partition_by:
        out = df.repartition(n_files, *[F.col(c) for c in partition_by])
        writer = out.write.mode("overwrite").partitionBy(*partition_by)
    else:
        out = df.repartition(n_files)
        writer = out.write.mode("overwrite")
    writer.parquet(out_path)
    return n_files


def delete_keys_rewrite(
    spark,
    path: str,
    key_col: str,
    keys: list,
) -> dict:
    """Targeted hard delete over an immutable parquet table (the
    GDPR right-to-erasure primitive): locate the FILES that contain any
    affected key via the scan's ``_metadata.file_path`` (one pushed-
    down scan), rewrite ONLY those files without the deleted rows, and
    leave every other file untouched — at 100 TB a delete of a few
    users rewrites a few hundred MB, never the table. The same
    copy-on-write move Delta/Iceberg DELETE performs, on plain parquet.

    Files rewrite 1:1 (one replacement per affected file, preserving
    the layout's file sizing); a file whose every row is deleted is
    removed. Returns ``{"files_total", "files_rewritten",
    "rows_deleted"}``. The rewrite materializes via localCheckpoint
    BEFORE any source file is removed, then lands as new uniquely-named
    files in the same directory — crash-safe ordering (a crash between
    write and delete leaves duplicates to re-delete, never data loss).
    """
    import os
    import uuid

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    key_lit = [k for k in keys]
    affected_files = [
        r.f
        for r in (
            df.filter(F.col(key_col).isin(key_lit))
            .select(F.col("_metadata.file_path").alias("f"))
            .distinct()
            .collect()
        )
    ]
    all_files = [
        r.f
        for r in df.select(F.col("_metadata.file_path").alias("f"))
        .distinct()
        .collect()
    ]
    if not affected_files:
        return {
            "files_total": len(all_files),
            "files_rewritten": 0,
            "rows_deleted": 0,
        }
    victim = df.filter(F.col("_metadata.file_path").isin(affected_files))
    rows_deleted = victim.filter(F.col(key_col).isin(key_lit)).count()
    survivors = (
        victim.filter(~F.col(key_col).isin(key_lit))
        # 1:1 file replacement keeps the table's file-size profile
        .repartition(len(affected_files))
        .localCheckpoint(eager=True)  # materialize before deleting sources
    )
    tmp_out = os.path.join(path, f"_rewrite_{uuid.uuid4().hex[:8]}")
    survivors.write.mode("overwrite").parquet(tmp_out)
    # move rewritten files up, drop sources — driver-side fs metadata ops
    for fname in os.listdir(tmp_out):
        if fname.endswith(".parquet"):
            os.rename(
                os.path.join(tmp_out, fname),
                os.path.join(path, f"rewrite-{uuid.uuid4().hex[:8]}-{fname}"),
            )
    import shutil

    shutil.rmtree(tmp_out)
    for f in affected_files:
        # _metadata.file_path is a URI ("file:///..." or "file:/...")
        from urllib.parse import urlparse

        local = urlparse(f).path if "://" in f or f.startswith("file:") else f
        os.remove(local)
    return {
        "files_total": len(all_files),
        "files_rewritten": len(affected_files),
        "rows_deleted": rows_deleted,
    }


def mark_deleted(spark, path: str, key_col: str, keys: list) -> None:
    """Merge-on-read delete marker (the deletion-vector half of the
    delete tradeoff; :func:`delete_keys_rewrite` is copy-on-write):
    append the deleted keys to a ``_deletes`` sidecar under the table
    path — an O(|keys|) write with ZERO data-file rewrites. Reads go
    through :func:`read_with_deletes`, which anti-joins the (small,
    broadcast) marker set. CoW pays at delete time and keeps reads
    clean; MoR pays a broadcast anti-join on every read until a
    compaction applies the markers via ``delete_keys_rewrite`` and
    clears the sidecar — the same economics Delta deletion vectors /
    Iceberg delete files implement."""
    spark.createDataFrame([(k,) for k in keys], f"{key_col} long").write.mode(
        "append"
    ).parquet(f"{path}/_deletes")


def read_with_deletes(spark, path: str, key_col: str) -> DataFrame:
    """Read a parquet table minus its ``_deletes`` sidecar markers
    (broadcast anti-join; no markers → plain scan)."""
    import os

    df = spark.read.parquet(path)
    if not os.path.isdir(f"{path}/_deletes"):
        return df
    dels = spark.read.parquet(f"{path}/_deletes").distinct()
    return df.join(F.broadcast(dels), key_col, "left_anti")


def write_avro_distributed(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    record_name: str = "topLevelRecord",
    mode: str = "append",
) -> dict:
    """Jar-less DISTRIBUTED Avro sink: each partition encodes its rows
    with the vendored pure-Python writer (``sources/avro_lite.py``) and
    lands one container file — the write-side twin of
    ``registry.read_avro_distributed`` (round-trip property-tested,
    including against the schema of the reference's real Debezium
    captures ``testing/streaming.public.order.avro``).

    Commit protocol: each task writes a hidden ``.staging-<job>-*``
    file (invisible to every Spark file source); only after the whole
    job succeeds does the driver rename them to
    ``part-NNNNN-<job>.avro`` and drop a ``_SUCCESS`` marker. A failed
    job leaves the directory as it was, staging files removed. An empty
    partition lands no file. ``mode="append"`` adds this job's files
    (the job id keeps names unique); ``mode="overwrite"`` then removes
    everything else in ``path``, after the new files are in place, so a
    crash in between leaves duplicates, never a loss. Encoding runs
    row-at-a-time in Python — acceptable for a SINK (this is the
    jar-less fallback, spark-avro's JVM writer is the 100 TB path).
    Requires a filesystem the driver and all executors can reach (true
    in local mode and on any shared/posix mount; object stores need the
    JVM writer). Returns the Avro writer schema used.
    """
    import glob
    import os
    import shutil
    import uuid

    from dea05_e2e_kafka_streaming_pipeline_spark.sources import avro_lite

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    schema = avro_lite.spark_schema_to_avro(df.schema, name=record_name)
    os.makedirs(path, exist_ok=True)
    job = uuid.uuid4().hex[:8]

    def write_partition(rows):
        from pyspark import TaskContext

        records = [r.asDict(recursive=True) for r in rows]
        if not records:
            return
        tc = TaskContext.get()
        staged = os.path.join(path, f".staging-{job}-{tc.taskAttemptId()}")
        avro_lite.write_avro(staged, schema, records, codec=codec)
        yield staged, f"part-{tc.partitionId():05d}-{job}.avro"

    try:
        staged = df.rdd.mapPartitions(write_partition).collect()
        for tmp, name in staged:
            os.replace(tmp, os.path.join(path, name))
    finally:
        # a failed job's and a failed attempt's staged files
        for tmp in glob.glob(os.path.join(path, f".staging-{job}-*")):
            os.remove(tmp)
    if mode == "overwrite":
        keep = {name for _, name in staged}
        for entry in os.listdir(path):
            if entry not in keep:
                full = os.path.join(path, entry)
                if os.path.isdir(full):
                    shutil.rmtree(full)
                else:
                    os.remove(full)
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass
    return schema


def drop_partitions_older_than(
    path: str,
    partition_col: str,
    cutoff: str,
) -> list[str]:
    """Retention sweep on a Hive-partitioned table: drop every
    ``<partition_col>=<value>`` directory whose value sorts strictly
    below ``cutoff`` (ISO dates compare lexicographically). Partition
    drops are THE retention mechanism at 100 TB — a directory unlink
    per expired day, zero data reads, zero rewrites — which is why
    time-partitioned layouts (``ingest_to_lake``'s date partitions)
    are non-negotiable for data with a TTL. Returns the dropped
    partition values."""
    import os
    import shutil

    if not os.path.isdir(path):
        return []
    dropped = []
    prefix = f"{partition_col}="
    for name in sorted(os.listdir(path)):
        if name.startswith(prefix) and name[len(prefix):] < cutoff:
            shutil.rmtree(os.path.join(path, name))
            dropped.append(name[len(prefix):])
    return dropped


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
) -> None:
    """Idempotent partition backfill: rewrite ONLY the partitions
    present in ``df``, leaving every other partition untouched —
    ``partitionOverwriteMode=dynamic`` over a plain partitioned lake
    such as :func:`~..streaming.pipeline.ingest_to_lake`'s (a CDC
    table publishes through ``sources/txlog.py`` instead, atomically
    per batch). THE reprocessing
    primitive at 100 TB: recomputing one bad day replaces one
    ``date=...`` directory atomically-per-partition instead of
    rewriting (or worse, appending duplicates into) the whole table.
    Re-running the same backfill converges to the same state."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    compression: str = "gzip",
) -> DataFrame:
    """Training-consumption export: size-bounded compressed JSONL
    shards (the format every training loader reads) plus a MANIFEST —
    one row per shard with row count and byte size — so downstream
    loaders can plan epochs/sampling without listing or re-reading the
    data. The manifest also lands as ``_manifest.jsonl`` next to the
    shards (driver-side write; it is |shards| rows by construction).

    The re-read for the manifest is column-pruned to the hidden
    ``_metadata`` struct — file names/sizes come from the listing, row
    counts from a count-only scan of each shard."""
    import os

    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", compression)
        .json(path)
    )
    spark = df.sparkSession
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
        file_inventory,
    )

    manifest = file_inventory(spark.read.schema(df.schema).json(path))
    pdf = manifest.toPandas()
    pdf["file"] = pdf["file"].map(os.path.basename)
    pdf.to_json(
        os.path.join(path, "_manifest.jsonl"), orient="records", lines=True
    )
    return manifest
