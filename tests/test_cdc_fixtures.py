"""CDC operators against the reference's REAL Debezium Avro captures
(reference testing/streaming.public.order.avro / ...customers.avro),
decoded with the vendored pure-Python reader (sources/avro_lite.py) —
no spark-avro/fastavro in this container.

These are the only ground-truth envelopes: decimal-bytes amounts,
epoch-day dates, enum snapshot field. The engine's decode must match
the reference's flatten+decode output (curated/dq_kafka.py:148-179).
The captures contain only op='c' events; delete handling is exercised
by extending the real capture with a delete built from its own image.
"""

from __future__ import annotations

import datetime
import decimal
import os

import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import (
    apply_cdc_changes,
    decode_cdc_orders,
    normalize_cdc,
)
from dea05_e2e_kafka_streaming_pipeline_spark.schemas import (
    CDC_CUSTOMERS_ENVELOPE,
    CDC_ORDERS_ENVELOPE,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.avro_lite import (
    read_avro,
    walk_decimals,
)
from tests.conftest import write_debezium_orders_avro

FIXTURE_DIR = "/root/reference/testing"
ORDERS_AVRO = f"{FIXTURE_DIR}/streaming.public.order.avro"
CUSTOMERS_AVRO = f"{FIXTURE_DIR}/streaming.public.customers.avro"

needs_captures = pytest.mark.skipif(
    not os.path.exists(ORDERS_AVRO), reason="reference avro fixtures not present"
)


def _records(path):
    schema, recs = read_avro(path)
    return [walk_decimals(r, schema) for r in recs]


@needs_captures
def test_avro_lite_decodes_order_capture():
    recs = _records(ORDERS_AVRO)
    assert len(recs) >= 1
    rec = recs[0]
    assert rec["op"] == "c" and rec["before"] is None
    after = rec["after"]
    # decimal(10,2) bytes amount and epoch-day int date, per the
    # embedded writer schema
    assert isinstance(after["order_amount"], decimal.Decimal)
    assert after["order_amount"] == decimal.Decimal("100.25")
    assert after["order_id"] == 21 and after["customer_id"] == 4
    assert isinstance(after["order_date"], int)
    assert rec["source"]["snapshot"] == "false"  # io.debezium.data.Enum


@needs_captures
def test_avro_lite_decodes_customer_capture():
    recs = _records(CUSTOMERS_AVRO)
    after = recs[0]["after"]
    assert after["customer_id"] == 4
    assert set(after) == {
        "customer_id",
        "name",
        "email",
        "region",
        "customer_tenure_days",
    }


@needs_captures
def test_decode_cdc_orders_on_real_capture(spark):
    env = spark.createDataFrame(_records(ORDERS_AVRO), CDC_ORDERS_ENVELOPE)
    out = decode_cdc_orders(env).collect()
    assert len(out) == 1
    row = out[0]
    raw_after = _records(ORDERS_AVRO)[0]["after"]
    # reference decode: expr("date_add('1970-01-01', order_date)")
    # (curated/dq_kafka.py:176-179)
    expected_date = datetime.date(1970, 1, 1) + datetime.timedelta(
        days=raw_after["order_date"]
    )
    assert row.order_id == 21
    assert row.customer_id == 4
    assert row.order_date == expected_date
    assert row.order_amount == pytest.approx(100.25)
    assert isinstance(row.order_amount, float)  # batch-path dtype


@needs_captures
def test_normalize_cdc_matches_reference_flatten(spark):
    """Engine flatten == the reference's selectExpr('after.*') columns
    (curated/dq_kafka.py:158-165) on the real customers capture."""
    env = spark.createDataFrame(_records(CUSTOMERS_AVRO), CDC_CUSTOMERS_ENVELOPE)
    flat = normalize_cdc(env)
    assert flat.columns == [
        "customer_id",
        "name",
        "email",
        "region",
        "customer_tenure_days",
    ]
    row = flat.collect()[0]
    assert (row.customer_id, row.region, row.customer_tenure_days) == (
        4,
        row.region,
        22,
    )
    assert "@" in row.email


@needs_captures
def test_apply_cdc_changes_delete_on_real_capture(spark):
    """A delete event (after=NULL, before=image) built from the real
    capture removes the key from the snapshot."""
    base = _records(ORDERS_AVRO)[0]
    delete = dict(base)
    delete["before"], delete["after"] = base["after"], None
    delete["op"] = "d"
    delete["ts_ms"] = base["ts_ms"] + 1000

    env = spark.createDataFrame([base], CDC_ORDERS_ENVELOPE)
    target = decode_cdc_orders(env)
    assert target.count() == 1

    changes_env = spark.createDataFrame([base, delete], CDC_ORDERS_ENVELOPE)
    changes = normalize_cdc(changes_env, keep_meta=True, drop_deletes=False)
    changes = changes.withColumn(
        "order_amount",
        changes["order_amount"].cast("decimal(10,2)").cast("double"),
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import (
        decode_epoch_days,
    )

    changes = decode_epoch_days(changes, ["order_date"])
    merged = apply_cdc_changes(target, changes, key="order_id")
    assert merged.count() == 0  # the only key was deleted


@needs_captures
def test_normalize_cdc_delete_surfaces_before_image(spark):
    base = _records(ORDERS_AVRO)[0]
    delete = dict(base)
    delete["before"], delete["after"] = base["after"], None
    delete["op"] = "d"
    env = spark.createDataFrame([delete], CDC_ORDERS_ENVELOPE)
    rows = normalize_cdc(env, keep_meta=True, drop_deletes=False).collect()
    assert len(rows) == 1
    assert rows[0].order_id == 21  # from the before image
    assert rows[0]._cdc_op == "d"


@needs_captures
def test_read_avro_fallback_end_to_end(spark):
    """S9 functional without the spark-avro jar: read_avro(fallback=True)
    decodes the real capture (schema derived from the embedded writer
    schema) and feeds decode_cdc_orders unchanged."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import read_avro

    env = read_avro(spark, ORDERS_AVRO, fallback=True)
    assert "after" in env.columns and "op" in env.columns
    assert env.schema["after"].dataType["order_amount"].dataType.simpleString() == (
        "decimal(10,2)"
    )
    out = decode_cdc_orders(env).collect()
    assert len(out) == 1 and out[0].order_id == 21
    assert out[0].order_amount == pytest.approx(100.25)


def test_avro_lite_truncated_varint_raises_eoferror():
    """A file truncated mid-varint must raise the module's EOFError
    with position context, not a bare IndexError."""
    import pytest as _pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.avro_lite import _Reader

    r = _Reader(b"\xff\xff")  # continuation bits forever, then EOF
    with _pytest.raises(EOFError, match="truncated varint"):
        r.long()


@needs_captures
def test_read_avro_distributed_matches_driver_fallback(spark):
    """The distributed (binaryFile + mapInPandas) jar-less Avro scan
    must decode the reference's REAL Debezium capture identically to the
    driver-side fallback reader."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.avro_lite import (
        read_avro_as_dataframe,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        read_avro_distributed,
    )

    path = "/root/reference/testing/streaming.public.order.avro"
    want = read_avro_as_dataframe(spark, path)
    got = read_avro_distributed(spark, path)
    assert got.schema == want.schema
    key = lambda r: (r["after"]["order_id"], r["op"], r["ts_ms"])
    got_rows = sorted((r.asDict(recursive=True) for r in got.collect()), key=key)
    want_rows = sorted((r.asDict(recursive=True) for r in want.collect()), key=key)
    assert got_rows == want_rows


def test_read_avro_distributed_matches_driver_on_debezium_shape(spark, tmp_path):
    """The distributed (binaryFile + mapInPandas) jar-less Avro scan
    decodes a Debezium-shaped container exactly like the driver-side
    reader: same schema, same rows — snapshot reads, create, update and
    a delete whose image sits in ``before`` only."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.avro_lite import (
        read_avro_as_dataframe,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        read_avro_distributed,
    )

    path = write_debezium_orders_avro(str(tmp_path / "streaming.public.order.avro"))
    want = read_avro_as_dataframe(spark, path)
    got = read_avro_distributed(spark, path)
    assert got.schema == want.schema
    after = got.schema["after"].dataType
    assert after["order_amount"].dataType.simpleString() == "decimal(10,2)"
    assert after["order_date"].dataType.simpleString() == "int"
    key = lambda r: (r["ts_ms"], r["op"])
    got_rows = sorted((r.asDict(recursive=True) for r in got.collect()), key=key)
    want_rows = sorted((r.asDict(recursive=True) for r in want.collect()), key=key)
    assert got_rows == want_rows
    assert [(r["op"], r["source"]["snapshot"]) for r in got_rows] == [
        ("r", "true"), ("r", "last"), ("c", "false"), ("u", "false"), ("d", None)
    ]
    assert got_rows[3]["after"]["order_amount"] == decimal.Decimal("99999999.99")
    assert got_rows[4]["after"] is None
    assert got_rows[4]["before"]["order_amount"] == decimal.Decimal("-0.01")
