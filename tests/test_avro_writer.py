"""The jar-less Avro path: the pure-Python codec (sources/avro_lite.py),
the distributed sink (sources/sinks.py:write_avro_distributed), the
binaryFile scan (sources/registry.py:read_avro_distributed) and the
binaryFile stream (streaming/sources.py:avro_file_stream).

The writer closes the jar-less Avro round trip: encode → decode must be
the identity, proven (a) on a synthetic schema exercising every
supported shape (unions, enums, arrays, maps, fixed, logical
decimal/date/timestamp), (b) by RE-ENCODING the records of the
reference's real Debezium capture (reference
testing/streaming.public.order.avro) and decoding them back bit-equal,
and (c) Spark-side: entity DataFrame → distributed sink → distributed
scan → identical rows. The sink commits a job's files only when the
whole job succeeds, and the stream reads each file exactly once across
restarts, whatever the files are named.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.sources import avro_lite
from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
    read_avro_distributed,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import (
    write_avro_distributed,
)
from tests.conftest import write_debezium_orders_avro

ORDERS_AVRO = "/root/reference/testing/streaming.public.order.avro"

KITCHEN_SINK_SCHEMA = {
    "type": "record",
    "name": "Everything",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "flag", "type": "boolean"},
        {"name": "ratio", "type": "double"},
        {"name": "small", "type": "float"},
        {"name": "label", "type": ["null", "string"], "default": None},
        {"name": "payload", "type": "bytes"},
        {"name": "state", "type": {"type": "enum", "name": "State",
                                   "symbols": ["NEW", "DONE"]}},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {"name": "digest", "type": {"type": "fixed", "name": "D4", "size": 4}},
        {"name": "amount", "type": {"type": "bytes", "logicalType": "decimal",
                                    "precision": 10, "scale": 2}},
        {"name": "day", "type": {"type": "int", "logicalType": "date"}},
        {"name": "at", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
        {"name": "child", "type": ["null", {
            "type": "record", "name": "Child",
            "fields": [{"name": "x", "type": "int"}],
        }], "default": None},
    ],
}

KITCHEN_SINK_ROWS = [
    {
        "id": 1, "flag": True, "ratio": 2.5, "small": 0.5,
        "label": "first", "payload": b"\x00\x01", "state": "NEW",
        "tags": ["a", "b"], "props": {"k": 7, "j": -3},
        "digest": b"abcd",
        "amount": decimal.Decimal("123.45"),
        "day": dt.date(2024, 2, 29),
        "at": dt.datetime(2024, 2, 29, 12, 30, 15, 123456),
        "child": {"x": 9},
    },
    {
        "id": -2, "flag": False, "ratio": -1e300, "small": 2.0,
        "label": None, "payload": b"", "state": "DONE",
        "tags": [], "props": {},
        "digest": b"\xff\x00\xff\x00",
        "amount": decimal.Decimal("-0.07"),
        "day": dt.date(1969, 12, 31),
        "at": dt.datetime(1970, 1, 1, 0, 0, 0),
        "child": None,
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_kitchen_sink_round_trip(codec):
    buf = avro_lite.write_avro_bytes(
        KITCHEN_SINK_SCHEMA, KITCHEN_SINK_ROWS, codec=codec
    )
    schema, records = avro_lite.read_avro_bytes(buf)
    assert schema == KITCHEN_SINK_SCHEMA
    records = [avro_lite.walk_logicals(r, schema) for r in records]
    assert records == KITCHEN_SINK_ROWS


def test_write_is_deterministic():
    a = avro_lite.write_avro_bytes(KITCHEN_SINK_SCHEMA, KITCHEN_SINK_ROWS)
    b = avro_lite.write_avro_bytes(KITCHEN_SINK_SCHEMA, KITCHEN_SINK_ROWS)
    assert a == b


def test_block_chunking_round_trip():
    rows = [{"n": i} for i in range(257)]
    schema = {"type": "record", "name": "N",
              "fields": [{"name": "n", "type": "int"}]}
    buf = avro_lite.write_avro_bytes(schema, rows, block_records=100)
    # 3 blocks of ≤100 records, each its own sync-framed unit
    _, records = avro_lite.read_avro_bytes(buf)
    assert records == rows


def test_reencode_real_debezium_capture(tmp_path):
    """Encoding the decoded records of the REAL reference capture under
    its own writer schema must decode back identical (raw level: bytes
    decimals and epoch-day ints untouched). Where the capture is absent,
    a Debezium-shaped container of the same envelope stands in."""
    path = ORDERS_AVRO
    if not os.path.exists(path):
        path = write_debezium_orders_avro(str(tmp_path / "order.avro"))
    schema, records = avro_lite.read_avro(path)
    assert records
    buf = avro_lite.write_avro_bytes(schema, records, codec="deflate")
    schema2, records2 = avro_lite.read_avro_bytes(buf)
    assert schema2 == schema
    assert records2 == records


def test_decimal_encode_decode_inverse():
    for s in ("0.00", "123.45", "-0.01", "99999999.99", "-99999999.99"):
        d = decimal.Decimal(s)
        assert avro_lite.decode_decimal(avro_lite.encode_decimal(d, 2), 2) == d


def test_spark_schema_mapping_round_trip(spark):
    """StructType → Avro JSON → StructType is the identity on the
    supported subset (nullability included)."""
    from pyspark.sql import types as T

    st = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.StringType(), True),
        T.StructField("c", T.DecimalType(10, 2), True),
        T.StructField("d", T.DateType(), True),
        T.StructField("e", T.TimestampType(), True),
        T.StructField("f", T.ArrayType(T.DoubleType(), False), True),
        T.StructField("g", T.BinaryType(), True),
    ])
    avro = avro_lite.spark_schema_to_avro(st)
    back = avro_lite.avro_to_spark_type(avro)
    assert back == st


def test_distributed_sink_scan_round_trip(spark, tmp_path):
    """orders entity → write_avro_distributed → read_avro_distributed
    lands the same rows (date + decimal columns survive both hops)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
        load_orders,
    )

    df = load_orders(spark, "/root/testdata/sf0.001").limit(500).repartition(3)
    out = str(tmp_path / "orders_avro")
    schema = write_avro_distributed(df, out, codec="deflate")
    assert schema["type"] == "record"
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    back = read_avro_distributed(spark, out)
    assert back.schema == df.schema
    want = sorted(map(tuple, df.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want


def test_sink_skips_empty_partitions(spark, tmp_path):
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
        load_orders,
    )

    df = load_orders(spark, "/root/testdata/sf0.001").limit(5).repartition(8)
    out = str(tmp_path / "sparse")
    write_avro_distributed(df, out)
    parts = [p for p in os.listdir(out) if p.endswith(".avro")]
    assert 0 < len(parts) <= 5
    assert read_avro_distributed(spark, out).count() == 5


def test_read_avro_fallback_reads_reference_capture(spark):
    """read_avro(fallback=True) on the real Debezium order capture:
    schema from the embedded writer schema, logical decimals decoded,
    row count matching the pure-Python reader."""
    if not os.path.exists(ORDERS_AVRO):
        pytest.skip("reference avro fixtures not present")
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import read_avro

    df = read_avro(spark, ORDERS_AVRO, fallback=True)
    _, recs = avro_lite.read_avro(ORDERS_AVRO)
    assert df.count() == len(recs) > 0
    # Debezium envelope fields present and typed
    assert "payload" in df.columns or len(df.columns) > 0


def test_read_avro_schema_header_only_and_marker_skip(spark, tmp_path):
    """The distributed scan's driver peek must read only the container
    header and must skip _SUCCESS/.crc-style marker files."""
    import shutil

    src = str(tmp_path / "src.avro")
    avro_lite.write_avro(src, KITCHEN_SINK_SCHEMA, KITCHEN_SINK_ROWS)
    schema_full, _ = avro_lite.read_avro(src)
    assert avro_lite.read_avro_schema(src) == schema_full
    # directory with markers that sort before the data file
    d = tmp_path / "dump"
    d.mkdir()
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-0.crc").write_bytes(b"\x00\x01")
    shutil.copy(src, d / "part-0.avro")
    got = read_avro_distributed(spark, str(d))
    assert got.count() > 0


def test_distributed_avro_typed_round_trip(spark, tmp_path):
    """Write a typed frame (decimal, date, timestamp, nulls) with
    write_avro_distributed, read it back — values identical. Multiple
    input partitions → multiple container files → the read runs one
    task per file."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("amount", T.DecimalType(10, 2)),
            T.StructField("day", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("note", T.StringType()),
        ]
    )
    rows = [
        (1, decimal.Decimal("12.34"), dt.date(2024, 1, 2),
         dt.datetime(2024, 1, 2, 3, 4, 5), "a"),
        (2, decimal.Decimal("-0.05"), dt.date(1999, 12, 31),
         dt.datetime(2000, 1, 1, 0, 0, 0), None),
        (3, None, None, None, "c"),
    ]
    df = spark.createDataFrame(rows, schema).repartition(2)
    out = str(tmp_path / "roundtrip")
    write_avro_distributed(df, out, mode="append")

    files = [f for f in os.listdir(out) if f.endswith(".avro")]
    assert len(files) == 2  # one container file per write task
    assert not [f for f in os.listdir(out) if f.startswith(".staging")]

    back = read_avro_distributed(spark, out)
    assert back.schema == schema
    got = sorted(back.collect(), key=lambda r: r.id)
    want = sorted(df.collect(), key=lambda r: r.id)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # distributed read: one task per file
    assert back.rdd.getNumPartitions() == 2


def test_write_avro_distributed_append_then_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    out = str(tmp_path / "modes")
    a = spark.range(5).select(F.col("id"))
    b = spark.range(5, 8).select(F.col("id"))
    write_avro_distributed(a.coalesce(1), out, mode="append")
    write_avro_distributed(b.coalesce(1), out, mode="append")
    assert read_avro_distributed(spark, out).count() == 8
    write_avro_distributed(b.coalesce(1), out, mode="overwrite")
    got = read_avro_distributed(spark, out)
    assert sorted(r.id for r in got.collect()) == [5, 6, 7]


def test_failed_overwrite_keeps_previous_files(spark, tmp_path):
    """An overwrite whose job fails in one partition changes nothing a
    reader can see: the previous container files stay and none of the
    failed job's files become visible, although the other partitions
    finished their writes."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "atomic")
    write_avro_distributed(spark.range(5).coalesce(1), out, mode="append")

    def visible():
        return sorted(f for f in os.listdir(out) if not f.startswith((".", "_")))

    before = visible()

    @F.udf("long")
    def boom(i):
        if i == 7:
            raise ValueError("task failure")
        return i

    bad = spark.range(0, 8, 1, 4).select(boom("id").alias("id"))
    with pytest.raises(Exception, match="task failure"):
        write_avro_distributed(bad, out, mode="overwrite")
    assert visible() == before
    got = read_avro_distributed(spark, out)
    assert sorted(r.id for r in got.collect()) == [0, 1, 2, 3, 4]


def _feed(src, name: str, n: int) -> None:
    avro_lite.write_avro(
        str(src / name),
        {"type": "record", "name": "evt", "fields": [{"name": "n", "type": "long"}]},
        [{"n": n}],
    )


def _drain_avro_stream(spark, src, out: str, ckpt: str) -> None:
    """One availableNow run of the Avro file stream into parquet."""
    from pyspark.sql import types as T

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
        avro_file_stream,
    )

    ddl = T.StructType([T.StructField("n", T.LongType())])
    q = (
        avro_file_stream(spark, str(src), ddl)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)


def test_avro_file_stream_tails_directory_across_restart(spark, tmp_path):
    """Feed 2 files, process, stop the query, add 2 more, restart from
    the SAME checkpoint — exactly the new rows arrive (no replay, no
    loss)."""
    src = tmp_path / "stream-in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "stream-out")
    _feed(src, "batch-0000.avro", 0)
    _feed(src, "batch-0001.avro", 1)
    _drain_avro_stream(spark, src, out, ckpt)
    first = {r.n for r in spark.read.parquet(out).collect()}
    assert first == {0, 1}

    _feed(src, "batch-0002.avro", 2)
    _feed(src, "batch-0003.avro", 3)
    _drain_avro_stream(spark, src, out, ckpt)
    # restart from the checkpoint: exactly the delta arrives —
    # no replay of files 0-1, no loss of 2-3
    second = {r.n for r in spark.read.parquet(out).collect()}
    assert second == {0, 1, 2, 3}


def test_avro_file_stream_resume_reads_new_files_named_before_read_ones(
    spark, tmp_path
):
    """Files added after a restart whose names sort BEFORE the files
    already read (as ``batch=10/`` sorts before ``batch=2/``) arrive
    exactly once, and nothing already read is read again."""
    src = tmp_path / "stream-in"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "stream-out")
    for i in range(3):
        _feed(src, f"batch-{i:04d}.avro", i)
    _drain_avro_stream(spark, src, out, ckpt)
    _feed(src, "a-0003.avro", 3)
    _feed(src, "a-0004.avro", 4)
    _drain_avro_stream(spark, src, out, ckpt)
    assert sorted(r.n for r in spark.read.parquet(out).collect()) == [0, 1, 2, 3, 4]
