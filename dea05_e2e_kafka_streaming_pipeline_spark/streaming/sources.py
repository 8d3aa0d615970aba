"""Streaming sources.

Re-architecture of the reference's hand-rolled Python streaming layer
(SURVEY §2.8): kafka-python producer loops (``streaming-source/*.py``) and
a poll/buffer/flush S3 consumer (``ingestion/s3-orders-ingestion.py``)
become declarative Structured Streaming sources:

- :func:`kafka_json_stream` — the Kafka → JSON-decode path
  (``ingestion/s3-orders-ingestion.py:22-29`` consumer +
  ``streaming-source/csv_to_orders_topic.py:9`` producer format).
  Checkpoint-based offset tracking replaces the reference's
  fresh-consumer-group-per-run (which re-read the topic from the start
  every run, at-least-once with duplicates); file sinks become
  exactly-once.
- :func:`file_stream` — file-based surrogate for local testing and for
  landing-zone tailing (new JSON/parquet files under a prefix);
  :func:`avro_file_stream` tails Avro container files the same way.
- :func:`synthetic_orders_stream` / :func:`synthetic_customers_stream`
  — the Faker generators (``streaming-source/topic_orders_streaming.py:14-21``)
  re-expressed over the ``rate`` source with the same bounded domains
  (ids 1-50, amounts 1-1000, dates within the last year, tenure 1-100),
  entirely as JVM-side column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_kafka_json(raw: DataFrame, schema: T.StructType) -> DataFrame:
    """Kafka wire rows (``value`` bytes/string + ``timestamp``) → typed
    rows. The single decode expression shared by the real Kafka source
    and the file-backed surrogate, so surrogate tests exercise the exact
    production decode path (reference ingestion/s3-orders-ingestion.py:
    44: ``json.loads(message.value)``, here one JVM ``from_json``)."""
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r"),
        F.col("timestamp").alias("_kafka_ts"),
    ).select("r.*", "_kafka_ts")


def kafka_json_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka topic of JSON messages → typed streaming DataFrame.

    ``maxOffsetsPerTrigger`` bounds micro-batch size — the Spark
    equivalent of the reference's ``poll(max_records=10)``
    (ingestion/s3-orders-ingestion.py:66). Requires the
    spark-sql-kafka package on the classpath; everything downstream is
    source-agnostic, so tests exercise the same pipeline via
    :func:`kafka_json_stream_surrogate` / :func:`file_stream`.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return decode_kafka_json(reader.load(), schema)


# Wire schema of the file-backed topic surrogate — the same three fields
# the Kafka source exposes (key, value, timestamp).
KAFKA_SURROGATE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


def produce_kafka_surrogate(
    df: DataFrame, topic_dir: str, key_col: str | None = None
) -> None:
    """Publish a batch to a file-backed topic: rows become Kafka-shaped
    (key, value, timestamp) JSON records via the SAME
    :func:`to_kafka_payload` encoding the real producer uses, appended
    as one file per ``produce`` call — the surrogate's offset chunk.

    No broker exists in this container (docs/JAR_ATTEMPT.md), so this
    is the test-side stand-in for ``write_kafka``: same payload bytes,
    same append-only ordered-chunk semantics, minus the network."""
    (
        to_kafka_payload(df, key_col)
        .withColumn("timestamp", F.current_timestamp())
        .coalesce(1)
        .write.mode("append")
        .json(topic_dir)
    )


def kafka_json_stream_surrogate(
    spark: SparkSession,
    topic_dir: str,
    schema: T.StructType,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Signature-compatible surrogate for :func:`kafka_json_stream` over
    a file-backed topic, mapping the Kafka option surface onto the file
    source's equivalents:

    - ``startingOffsets="earliest"`` → read every existing chunk;
      ``"latest"`` → drop messages whose producer-stamped wire
      ``timestamp`` predates this call (the file source forbids
      ``modifiedAfter`` on streams, so head-joining is expressed as a
      watermark-free filter on the wire timestamp — same observable
      semantics: pre-existing messages never reach the consumer).
    - ``maxOffsetsPerTrigger=N`` → ``maxFilesPerTrigger=N`` (each
      produce call writes one chunk file, so N chunks ≈ N offset
      ranges per micro-batch — the reference's ``poll(max_records)``
      bound).

    Decoding goes through :func:`decode_kafka_json`, the identical
    expression the real Kafka path uses."""
    reader = spark.readStream.format("json").schema(KAFKA_SURROGATE_SCHEMA)
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_offsets_per_trigger)
    raw = reader.load(topic_dir)
    if starting_offsets == "latest":
        import datetime as _dt

        head = _dt.datetime.now()
        raw = raw.filter(F.col("timestamp") > F.lit(head))
    return decode_kafka_json(raw, schema)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a landing-zone prefix for new files (test surrogate for Kafka
    and a real source for object-store landing zones)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


# binaryFile's fixed schema: a streaming file source must be given one.
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def avro_file_stream(
    spark: SparkSession,
    path: str,
    spark_schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Tail a prefix of Avro container files (a jar-less Debezium topic
    dump, or ``avro_stream_sink``'s output): :func:`file_stream` over
    the binaryFile source, decoded by ``registry.decode_avro_files``.
    The file source keeps a checkpointed log of every file it has read,
    so a restarted query reads exactly the files added since, whatever
    their names."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        decode_avro_files,
    )

    files = file_stream(
        spark, path, BINARY_FILE_SCHEMA, "binaryFile", max_files_per_trigger
    )
    return decode_avro_files(files, spark_schema)


def to_kafka_payload(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Encode rows as Kafka (key, value) JSON messages — the engine's
    write-side of the reference's producer loop
    (streaming-source/csv_to_orders_topic.py:7-10: dict → json.dumps →
    send). ``to_json(struct(*))`` serializes whole rows JVM-side."""
    cols = [c for c in df.columns if c != key_col]
    out = df.select(
        *(
            [F.col(key_col).cast("string").alias("key")]
            if key_col
            else [F.lit(None).cast("string").alias("key")]
        ),
        F.to_json(F.struct(*cols)).alias("value"),
    )
    return out


def write_kafka(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    key_col: str | None = None,
) -> None:
    """Batch publish to a Kafka topic (requires the spark-sql-kafka
    package; the payload construction is broker-independent and tested
    via :func:`to_kafka_payload`)."""
    (
        to_kafka_payload(df, key_col)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .save()
    )


def _bounded_int(col, lo: int, hi: int):
    """Uniform-ish int in [lo, hi] from a deterministic-per-row rand."""
    return (F.pmod(col, F.lit(hi - lo + 1)) + lo).cast("int")


def synthetic_orders_stream(
    spark: SparkSession, rows_per_second: int = 1
) -> DataFrame:
    """Rate-source rewrite of the Faker orders producer
    (streaming-source/topic_orders_streaming.py:14-21): order ids and
    customer ids in 1-50, amounts in 1-1000, order dates within the
    last 365 days. ``rows_per_second`` replaces the producer's
    sleep-per-record pacing (delay=1 ⇒ 1 msg/s)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    h = F.xxhash64("value")  # deterministic per row, well-mixed
    return rate.select(
        _bounded_int(h, 1, 50).alias("order_id"),
        F.date_sub(F.current_date(), _bounded_int(F.xxhash64("value", F.lit(1)), 0, 364)).alias(
            "order_date"
        ),
        (F.pmod(F.xxhash64("value", F.lit(2)), F.lit(99900)) / 100.0 + 1.0).alias(
            "order_amount"
        ),
        _bounded_int(F.xxhash64("value", F.lit(3)), 1, 50).alias("customer_id"),
        F.col("timestamp").alias("event_ts"),
    )


def synthetic_customers_stream(
    spark: SparkSession, rows_per_second: int = 1
) -> DataFrame:
    """Rate-source rewrite of the Faker customers producer
    (streaming-source/topic_customers_streaming.py:14-22)."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    cid = _bounded_int(F.xxhash64("value"), 1, 50)
    return rate.select(
        cid.alias("customer_id"),
        F.concat(F.lit("customer_"), cid).alias("name"),
        F.concat(F.lit("customer_"), cid, F.lit("@example.com")).alias("email"),
        F.element_at(
            F.array(*[F.lit(r) for r in ("NORTH", "SOUTH", "EAST", "WEST", "CENTRAL")]),
            (F.pmod(F.xxhash64("value", F.lit(1)), F.lit(5)) + 1).cast("int"),
        ).alias("region"),
        _bounded_int(F.xxhash64("value", F.lit(2)), 1, 100).alias(
            "customer_tenure_days"
        ),
        F.col("timestamp").alias("event_ts"),
    )
