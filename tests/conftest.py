"""Shared test fixtures: one local SparkSession and a DuckDB oracle
comparator that mirrors the driver's correctness gate (row-count + schema
+ order-insensitive value comparison, exact — including floats, which is
deliberate: the engine's aggregation discipline must make float outputs
bit-reproducible across engines), plus a writer of a Debezium-shaped
Avro container for the tests that need an envelope."""

from __future__ import annotations

import decimal
import os

import duckdb
import pandas as pd
import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.schemas import TESTDATA_TABLES
from dea05_e2e_kafka_streaming_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything so dtype differences (int32 vs int64, date vs
    # datetime) don't mask value-level agreement — this approximates the
    # driver's value-hash
    out = df.astype(str)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def assert_matches_oracle(spark_df, duck_con, oracle_sql: str) -> None:
    got = _normalize(spark_df.toPandas())
    want = _normalize(duck_con.execute(oracle_sql).df())
    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"
    pd.testing.assert_frame_equal(got, want)


# The Debezium envelope shape of the reference captures, as Kafka
# Connect's AvroConverter writes it: one named ``Value`` record shared
# by ``before``/``after`` (referenced by name the second time), a
# bytes-decimal amount, an epoch-day int date (``io.debezium.time.Date``
# carries no Avro logical type), and the ``source.snapshot`` enum.
DEBEZIUM_ORDER_SCHEMA = {
    "type": "record",
    "name": "Envelope",
    "namespace": "streaming.public.order",
    "fields": [
        {"name": "before", "type": ["null", {
            "type": "record",
            "name": "Value",
            "fields": [
                {"name": "order_id", "type": "int"},
                {"name": "customer_id", "type": ["null", "int"]},
                {"name": "order_date", "type": ["null", {
                    "type": "int",
                    "connect.name": "io.debezium.time.Date",
                }]},
                {"name": "order_amount", "type": ["null", {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 10,
                    "scale": 2,
                    "connect.name": "org.apache.kafka.connect.data.Decimal",
                }]},
            ],
        }]},
        {"name": "after", "type": ["null", "Value"]},
        {"name": "source", "type": {
            "type": "record",
            "name": "Source",
            "namespace": "io.debezium.connector.postgresql",
            "fields": [
                {"name": "connector", "type": "string"},
                {"name": "ts_ms", "type": "long"},
                {"name": "snapshot", "type": [{
                    "type": "enum",
                    "name": "SnapshotRecord",
                    "namespace": "io.debezium.connector.common",
                    "symbols": ["true", "last", "false", "incremental"],
                }, "null"]},
                {"name": "lsn", "type": ["null", "long"]},
            ],
        }},
        {"name": "op", "type": "string"},
        {"name": "ts_ms", "type": ["null", "long"]},
    ],
}


def write_debezium_orders_avro(path: str) -> str:
    """Write a Debezium-shaped orders container (DEBEZIUM_ORDER_SCHEMA)
    to ``path`` and return ``path``: snapshot reads, a create, an update
    and a delete whose image sits in ``before`` only, with NULLs in the
    nullable fields, a negative and the largest decimal(10,2) amount.
    Stands in for the reference capture on hosts without it."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.avro_lite import write_avro

    def image(oid, cust, day, amount):
        return {"order_id": oid, "customer_id": cust, "order_date": day,
                "order_amount": None if amount is None else decimal.Decimal(amount)}

    def event(op, before, after, snapshot, ts, lsn):
        return {"before": before, "after": after, "op": op, "ts_ms": ts,
                "source": {"connector": "postgresql", "ts_ms": ts - 5,
                           "snapshot": snapshot, "lsn": lsn}}

    records = [
        event("r", None, image(21, 4, 19700, "100.25"), "true", 1_000, None),
        event("r", None, image(22, None, 0, "-0.01"), "last", 1_001, None),
        event("c", None, image(23, 7, None, None), "false", 2_000, 40),
        event("u", image(21, 4, 19700, "100.25"),
              image(21, 4, 19701, "99999999.99"), "false", 3_000, 41),
        event("d", image(22, None, 0, "-0.01"), None, None, 4_000, 42),
    ]
    write_avro(path, DEBEZIUM_ORDER_SCHEMA, records)
    return path
