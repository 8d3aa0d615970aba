"""Typed source registry — batch readers for every format the reference
touches (SURVEY §2.1 S1, S7-S10).

All readers take an explicit schema where the format is not
self-describing; schema inference is a full extra scan the engine never
performs on large inputs.

Avro and Delta are optional runtime dependencies (spark-avro /
delta-spark jars); readers raise a clear error when the package is
missing rather than failing deep inside the JVM.

Jar provisioning attempt (round 3, 2026-08-13): this container has no
network (DNS resolution fails for repo1.maven.org; `curl` exit 6) and
ships neither jar — the Spark distributions under /opt carry only core
avro-1.12.1 (serialization lib, not the DataSource), and no local maven/
ivy/sbt cache exists. The JVM paths therefore remain exercised through
their error/gating tests only; the jar-less Avro story is instead made
scale-credible by :func:`read_avro_distributed` (binaryFile +
mapInPandas over the vendored pure-Python decoder — distributed, no
driver materialization; ``read_avro(fallback=True)`` uses it), verified
against the reference's real Debezium captures.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar lake scan (reference enriched/daily_sales_aggregation.py:10-11).

    Parquet carries its own schema; Catalyst pushes filters and prunes
    columns into the scan automatically.
    """
    return spark.read.parquet(path)


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The first-batch read of a sink that merges into its own output:
    the current target, or ``None`` when there is none yet. Exactly two
    states mean "none": the path does not exist (``PATH_NOT_FOUND``) or
    holds no data files (``UNABLE_TO_INFER_SCHEMA``, e.g. a bucketed
    target whose every bucket was deleted). Any other failure — a
    corrupt footer, IO, permissions — propagates, so the batch fails
    and the checkpoint retries it instead of the sink rewriting its
    target from the batch alone."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def read_parquet_lenient(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan that SKIPS corrupt/truncated files instead of
    failing the job — the disaster-recovery read for a prefix damaged
    by a bad writer or partial upload (the default scan fails the whole
    100 TB query for one bad object; this trades completeness for
    availability, so it is a separate reader and never the default:
    pair it with ``sources.catalog.file_inventory`` against the listing
    to quantify exactly what was skipped)."""
    return spark.read.option("ignoreCorruptFiles", "true").parquet(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan across SCHEMA GENERATIONS — files written before a
    column existed read as NULL for it (the additive-evolution story
    Delta gives for free, reproduced on plain parquet; the reference's
    Delta sink relies on ``overwriteSchema``,
    mage-programs/orders_delta_lake.py:53).

    ``mergeSchema`` reconciles ALL file footers instead of sampling one
    — a real (driver-side, metadata-only) cost at millions of files,
    which is why it is a separate reader and not the default:
    :func:`read_parquet` stays one-footer fast for stable-schema
    tables, and tables under active evolution should graduate to a
    table format with a tracked schema. Type WIDENING conflicts
    (int→long etc.) still fail loudly — additive columns only.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC lake scan — the other columnar interchange format Spark
    ships natively (orc-core is bundled with core Spark, no extra jar).
    Same optimizer story as parquet: embedded schema, predicate
    pushdown into stripe/row-group indexes, column pruning, vectorized
    read. The reference is parquet/delta-only; ORC rounds out the
    engine's lake-format surface for Hive-lineage estates."""
    return spark.read.orc(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines lake scan (reference curated/data_quality.py:131-132).

    The reference inferred schemas; here the schema is mandatory — an
    inference pass over a 100 TB JSON prefix is a non-starter, and typed
    reads catch drift at plan time instead of mid-query.
    """
    return spark.read.schema(schema).json(path)


def read_json_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """JSON scan with parse-level quarantine: returns ``(good, bad)``
    where ``bad`` carries the RAW malformed line in ``corrupt_record``.
    This is the resilience layer BELOW the DQ suite — the DQ gate
    screens well-formed rows with bad values; this screens bytes that
    don't parse at all (truncated producer writes, mixed schemas), which
    PERMISSIVE mode would otherwise fold in silently as all-NULL rows.

    Scale shape: one scan, two lazy views split on corrupt-record
    nullness — at 100 TB the bad side is typically ~0 rows, and writing
    it to a quarantine prefix costs only what's actually malformed.
    The corrupt column must be both declared in the schema and selected
    (Spark refuses raw-only queries on it otherwise); callers get it
    pre-wired here.
    """
    full = T.StructType(
        schema.fields + [T.StructField("corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .json(path)
        .cache()  # one pass serves both splits; unpersist after landing
    )
    good = df.filter(F.col("corrupt_record").isNull()).drop("corrupt_record")
    bad = df.filter(F.col("corrupt_record").isNotNull()).select("corrupt_record")
    return good, bad


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV seed-data scan (reference streaming-source/csv_to_orders_topic.py:15
    used pandas; the engine reads CSV distributed)."""
    return spark.read.option("header", header).schema(schema).csv(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """CSV scan with parse-level quarantine — the CSV twin of
    :func:`read_json_quarantine`: ``(good, bad)`` where ``bad`` carries
    each unparseable line raw (wrong column count, type mismatch).
    PERMISSIVE mode would fold these in silently as NULL-padded rows;
    the split makes producer drift visible at the ingest boundary,
    matching the reference's CSV seeds (``data/orders.csv``) under
    real-world mess. One cached scan serves both splits."""
    full = T.StructType(
        schema.fields + [T.StructField("corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .csv(path)
        .cache()
    )
    good = df.filter(F.col("corrupt_record").isNull()).drop("corrupt_record")
    bad = df.filter(F.col("corrupt_record").isNotNull()).select("corrupt_record")
    return good, bad


def read_avro(
    spark: SparkSession, path: str, fallback: bool = False
) -> DataFrame:
    """Avro CDC dump scan (reference curated/dq_kafka.py:140-141).

    Prefers the JVM spark-avro connector when its jar is on the
    classpath (codegen decode, block-level splits). When absent —
    this container, see docs/JAR_ATTEMPT.md — ``fallback=True``
    switches to the engine's jar-less scan,
    :func:`read_avro_distributed`: one task per container file,
    decoded on executors.
    """
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # pragma: no cover - depends on jar availability
        if fallback:
            return read_avro_distributed(spark, path)
        raise RuntimeError(
            "Avro reads need the spark-avro package "
            "(--packages org.apache.spark:spark-avro_2.13:<spark-version>); "
            "pass fallback=True to read with the engine's jar-less "
            "binaryFile scan (distributed, one task per file). "
            f"Underlying error: {exc}"
        ) from exc


def decode_avro_files(files: DataFrame, spark_schema: T.StructType) -> DataFrame:
    """Decode a binaryFile frame (batch or streaming) of whole Avro
    container files into rows of ``spark_schema``: each file is decoded
    on an executor with the vendored pure-Python reader
    (``sources/avro_lite.py``) inside an Arrow-batched ``mapInPandas``.
    The one Avro decode of the engine; the batch scan and the stream
    entry (``streaming/sources.py:avro_file_stream``) both use it."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources import avro_lite

    names = [f.name for f in spark_schema.fields]

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            frames = []
            for p, buf in zip(pdf["path"], pdf["content"]):
                schema, records = avro_lite.read_avro_bytes(bytes(buf), name=p)
                for rec in records:
                    avro_lite.walk_logicals(rec, schema)
                frames.append(pd.DataFrame.from_records(records, columns=names))
            if frames:
                yield pd.concat(frames)

    return files.select("path", "content").mapInPandas(decode, spark_schema)


def read_avro_distributed(
    spark: SparkSession, path: str, spark_schema: T.StructType | None = None
) -> DataFrame:
    """Jar-less DISTRIBUTED Avro scan: the binaryFile source lists and
    ships whole container files to executors, where
    :func:`decode_avro_files` decodes them — no spark-avro required and
    no driver-side materialization. ``read_avro(fallback=True)`` reads
    through here.

    The work unit is a FILE (Avro blocks within a file are not
    range-split the way the JVM reader does), which matches the shape of
    Kafka-topic dumps — many medium objects (reference layout:
    ``curated/dq_kafka.py:140-141`` reads ``partition=0/*``).

    Without ``spark_schema`` the driver reads the writer schema from the
    HEADER of the first listed file. The listing is the JVM's (globs;
    ``_``/``.``-prefixed markers and staging files skipped); the header
    is read through the local file system, so pass the schema where the
    driver cannot open the files.
    """
    files = spark.read.format("binaryFile").load(path)
    if spark_schema is None:
        from urllib.parse import urlparse
        from urllib.request import url2pathname

        from dea05_e2e_kafka_streaming_pipeline_spark.sources import avro_lite

        listed = files.inputFiles()
        if not listed:
            raise FileNotFoundError(f"no Avro container files under {path}")
        first = url2pathname(urlparse(min(listed)).path)
        spark_schema = avro_lite.avro_to_spark_type(avro_lite.read_avro_schema(first))
    return decode_avro_files(files, spark_schema)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    row_tag: str = "row",
) -> DataFrame:
    """XML scan via Spark 4's built-in XML source (spark-xml was folded
    into core in 4.0 — no extra jar). Same typed-read policy as
    :func:`read_json`: the schema is mandatory because an inference pass
    over a large XML prefix is a non-starter, and typed reads catch
    drift at plan time. ``rowTag`` selects the repeating record
    element; files split by row boundaries, so reads parallelize like
    any text source."""
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(schema)
        .load(path)
    )


def read_xml_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    row_tag: str = "row",
) -> tuple[DataFrame, DataFrame]:
    """XML scan with parse-level quarantine — the same ``(good, bad)``
    contract as :func:`read_json_quarantine`: records that match
    ``rowTag`` but fail to parse into the schema land in ``bad`` with
    the raw record text in ``corrupt_record``, instead of folding in
    silently as all-NULL rows under plain PERMISSIVE mode. One scan,
    two lazy views split on corrupt-record nullness."""
    full = T.StructType(
        schema.fields + [T.StructField("corrupt_record", T.StringType())]
    )
    df = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .schema(full)
        .load(path)
        .cache()  # one pass serves both splits; unpersist after landing
    )
    good = df.filter(F.col("corrupt_record").isNull()).drop("corrupt_record")
    bad = df.filter(F.col("corrupt_record").isNotNull()).select("corrupt_record")
    return good, bad


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (built-in Spark 4 source) — for the interchange feeds
    (regulatory, B2B) that still require XML. One file per partition,
    same parallel-writer shape as every other sink here."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta table scan (reference mage-programs/orders_delta_lake.py:61).

    Requires delta-spark; gated so the core engine runs on vanilla Spark.
    """
    try:
        return spark.read.format("delta").load(path)
    except Exception as exc:  # pragma: no cover - depends on jar availability
        raise RuntimeError(
            "Delta reads need the delta-spark package. "
            f"Underlying error: {exc}"
        ) from exc


_EVENTS_TS_UNIT: dict[str, str] = {}


def _events_ts_unit(sf_dir: str) -> str:
    """Sniff the parquet time unit of ``events.ts`` for one testdata dir.

    Driver testdata generations have shipped ``ts`` as TIMESTAMP(NANOS)
    (rounds 1-2) and TIMESTAMP(MICROS) (round 3) — silently applying the
    nanos→micros division to a micros file corrupts every timestamp by
    1000×, so the unit is read from the footer. This is a pyarrow
    metadata read on the driver (a few KB), NOT a Spark job, so the
    zero-jobs-at-plan-build registry contract holds; the result is
    cached per directory.
    """
    unit = _EVENTS_TS_UNIT.get(sf_dir)
    if unit is None:
        import glob as _glob
        import os

        import pyarrow.parquet as pq

        path = f"{sf_dir}/events.parquet"
        if os.path.isdir(path):
            path = sorted(_glob.glob(os.path.join(path, "*.parquet")))[0]
        unit = pq.ParquetFile(path).schema_arrow.field("ts").type.unit
        _EVENTS_TS_UNIT[sf_dir] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) by name.

    ``events.parquet`` may store ``ts`` as TIMESTAMP(NANOS), which
    Spark's parquet reader rejects outright; the session factory sets
    ``spark.sql.legacy.parquet.nanosAsLong`` once, session-wide (see
    session.py — a per-read toggle would silently change later reads),
    so nanos columns arrive as longs and are converted here with integer
    division — ns epoch values exceed double's 53-bit mantissa, so
    ``div`` (long arithmetic), never ``/``. MICROS generations read
    straight into TimestampType with no conversion (see
    :func:`_events_ts_unit`).
    """
    from dea05_e2e_kafka_streaming_pipeline_spark.schemas import TESTDATA_SCHEMAS

    if name == "events":
        from dea05_e2e_kafka_streaming_pipeline_spark.schemas import EVENTS_TS_SCHEMA

        if _events_ts_unit(sf_dir) != "ns":
            return spark.read.schema(EVENTS_TS_SCHEMA).parquet(
                f"{sf_dir}/events.parquet"
            )
        # defensive for sessions not built by get_spark (runtime-settable)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        return (
            spark.read.schema(TESTDATA_SCHEMAS["events"])
            .parquet(f"{sf_dir}/events.parquet")
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    reader = spark.read
    schema = TESTDATA_SCHEMAS.get(name)
    if schema is not None:
        # explicit schema: no footer-inference job at plan-build time
        reader = reader.schema(schema)
    return reader.parquet(f"{sf_dir}/{name}.parquet")
