"""Structured Streaming layer: checkpointed ingestion, DQ-gated sink,
windowed aggregation streaming/batch equivalence, synthetic sources."""

import time
from pathlib import Path
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.operators.quality import (
    DataQualityValidator,
)
from dea05_e2e_kafka_streaming_pipeline_spark.schemas import EVENTS_SCHEMA
from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table
from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
    read_snapshot,
    snapshot_history,
    snapshot_versions,
)
from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
    dq_gated_sink,
    ingest_to_lake,
    upsert_batch_into_parquet,
    windowed_event_stats,
)
from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
    file_stream,
    synthetic_orders_stream,
)

from tests.conftest import SF_SMOKE


def _land_events_json(spark, path, where=None):
    df = load_table(spark, SF_SMOKE, "events")
    if where is not None:
        df = df.filter(where)
    df.write.mode("append").json(str(path))
    return df.count()


def test_ingest_to_lake_partitioned(spark, tmp_path):
    n = _land_events_json(spark, tmp_path / "landing")
    stream = file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA)
    q = ingest_to_lake(
        stream,
        path=str(tmp_path / "lake"),
        checkpoint=str(tmp_path / "ckpt"),
        date_column="ts",
        available_now=True,
    )
    assert q.awaitTermination(600)
    out = spark.read.parquet(str(tmp_path / "lake"))
    assert out.count() == n
    assert "ingest_time" in out.columns and "date" in out.columns
    # Hive-style date partitions on event time
    days = [d.name for d in (tmp_path / "lake").iterdir() if d.name.startswith("date=")]
    assert len(days) >= 25  # events span ~30 days


def test_ingest_checkpoint_exactly_once(spark, tmp_path):
    """Re-running the same query over the same checkpoint must not
    re-ingest already-processed files (vs the reference's
    fresh-group-per-run consumer which re-read everything)."""
    n = _land_events_json(spark, tmp_path / "landing", F.col("event_id") < 100)
    kwargs = dict(
        path=str(tmp_path / "lake"),
        checkpoint=str(tmp_path / "ckpt"),
        date_column="ts",
        available_now=True,
    )
    q = ingest_to_lake(
        file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA), **kwargs
    )
    assert q.awaitTermination(600)
    assert spark.read.parquet(str(tmp_path / "lake")).count() == n

    # second run, same checkpoint, no new files → no new rows
    q2 = ingest_to_lake(
        file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA), **kwargs
    )
    assert q2.awaitTermination(600)
    assert spark.read.parquet(str(tmp_path / "lake")).count() == n

    # new file arrives → only its rows are added
    m = _land_events_json(
        spark, tmp_path / "landing", (F.col("event_id") >= 100) & (F.col("event_id") < 150)
    )
    q3 = ingest_to_lake(
        file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA), **kwargs
    )
    assert q3.awaitTermination(600)
    assert spark.read.parquet(str(tmp_path / "lake")).count() == n + m


def test_dq_gated_sink_routes_batches(spark, tmp_path):
    # good batch: complete events
    _land_events_json(spark, tmp_path / "landing", F.col("user_id").isNotNull())
    gate_kwargs = dict(
        validator_builder=lambda df: DataQualityValidator(df).check_completeness(
            ["user_id", "event_id"]
        ),
        curated_path=str(tmp_path / "curated"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q = dq_gated_sink(
        file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA), **gate_kwargs
    )
    assert q.awaitTermination(600)
    assert (tmp_path / "curated").exists()
    assert not (tmp_path / "quarantine").exists()

    # bad batch lands: 50% null user_id → quarantined, curated unchanged
    curated_before = spark.read.parquet(str(tmp_path / "curated")).count()
    bad = load_table(spark, SF_SMOKE, "events").withColumn(
        "user_id",
        F.when(F.col("event_id") % 2 == 0, F.col("user_id")),
    )
    bad.write.mode("append").json(str(tmp_path / "landing"))
    q2 = dq_gated_sink(
        file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA), **gate_kwargs
    )
    assert q2.awaitTermination(600)
    assert (tmp_path / "quarantine").exists()
    assert spark.read.parquet(str(tmp_path / "curated")).count() == curated_before


def test_dq_gate_kill_and_resume_exactly_once(spark, tmp_path):
    """Kill the DQ-gated query after its first micro-batch, resume from
    the same checkpoint, and assert exactly-once landing: every source
    row appears in curated exactly once, none lost, none duplicated —
    the headline semantic upgrade over the reference's fresh-group
    at-least-once consumer (ingestion/s3-orders-ingestion.py:25-27),
    which re-read the topic from the start on every run."""
    landing = tmp_path / "landing"
    # three separate files → three micro-batches at maxFilesPerTrigger=1
    n1 = _land_events_json(spark, landing, F.col("event_id") < 60)
    n2 = _land_events_json(
        spark, landing, (F.col("event_id") >= 60) & (F.col("event_id") < 120)
    )
    n3 = _land_events_json(
        spark, landing, (F.col("event_id") >= 120) & (F.col("event_id") < 180)
    )
    total = n1 + n2 + n3
    gate_kwargs = dict(
        validator_builder=lambda df: DataQualityValidator(df).check_completeness(
            ["user_id", "event_id"]
        ),
        curated_path=str(tmp_path / "curated"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint=str(tmp_path / "ckpt"),
    )

    # run 1: stop after the first committed micro-batch (a "kill"
    # between batches — the checkpoint has batch 0 committed, later
    # batches unprocessed)
    q = dq_gated_sink(
        file_stream(spark, str(landing), EVENTS_SCHEMA, max_files_per_trigger=1),
        trigger_seconds=1,
        **gate_kwargs,
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if (q.lastProgress or {}).get("batchId", -1) >= 0 and (
            tmp_path / "curated"
        ).exists():
            break
        time.sleep(0.2)
    q.stop()
    assert q.awaitTermination(600)
    partial = spark.read.parquet(str(tmp_path / "curated")).count()
    assert 0 < partial <= total

    # run 2: same checkpoint drains the remainder — no loss, no dups
    q2 = dq_gated_sink(
        file_stream(spark, str(landing), EVENTS_SCHEMA, max_files_per_trigger=1),
        available_now=True,
        **gate_kwargs,
    )
    assert q2.awaitTermination(600)
    out = spark.read.parquet(str(tmp_path / "curated"))
    assert out.count() == total
    # strict exactly-once: the multiset of event_ids matches the source
    got = sorted(r.event_id for r in out.select("event_id").collect())
    want = sorted(
        r.event_id
        for r in load_table(spark, SF_SMOKE, "events")
        .filter(F.col("event_id") < 180)
        .select("event_id")
        .collect()
    )
    assert got == want


def test_windowed_stats_stream_equals_batch(spark, tmp_path):
    """The same windowed_event_stats plan over readStream must produce
    the batch answer once all data is processed (complete mode)."""
    events = load_table(spark, SF_SMOKE, "events")
    batch = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_stats(events, group_extra=["event_type"]).collect()
    }
    events.write.mode("overwrite").parquet(str(tmp_path / "events_pq"))
    stream = file_stream(
        spark, str(tmp_path / "events_pq"), EVENTS_SCHEMA, fmt="parquet"
    )
    agg = windowed_event_stats(stream, group_extra=["event_type"])
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_stats")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_stats").collect()
    }
    assert got == batch


def test_synthetic_orders_stream_domains(spark, tmp_path):
    q = (
        synthetic_orders_stream(spark, rows_per_second=200)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("synth_orders")
        .start()
    )
    try:
        deadline = time.time() + 60
        rows = []
        while time.time() < deadline and len(rows) < 50:
            time.sleep(1)
            rows = spark.sql("SELECT * FROM synth_orders").collect()
    finally:
        q.stop()
    assert len(rows) >= 50
    for r in rows:
        assert 1 <= r.order_id <= 50
        assert 1 <= r.customer_id <= 50
        assert 1.0 <= r.order_amount <= 1000.0


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join (clicks x views within 30 min)
    must produce the batch join answer once both streams drain."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        stream_stream_join,
    )

    # the natural call: both sides filtered from the SAME source, both
    # keeping the shared `ts`/`user_id` names — the helper must handle
    # self-join ambiguity and name collisions internally
    events = load_table(spark, SF_SMOKE, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    batch_df = stream_stream_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts"
    )
    assert "right_ts" in batch_df.columns  # collision surfaced, not dropped
    batch = batch_df.count()

    clicks.write.mode("overwrite").parquet(str(tmp_path / "clicks"))
    views.write.mode("overwrite").parquet(str(tmp_path / "views"))
    cs = file_stream(spark, str(tmp_path / "clicks"), clicks.schema, fmt="parquet")
    vs = file_stream(spark, str(tmp_path / "views"), views.schema, fmt="parquet")
    joined = stream_stream_join(
        cs, vs, key="user_id", left_ts="ts", right_ts="ts"
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    got = spark.sql("SELECT count(*) c FROM ssj").collect()[0].c
    assert got == batch
    assert batch > 0


def test_dedup_stream_exactly_once_across_restart(spark, tmp_path):
    """Streaming exact dedup must keep the FIRST occurrence of each
    normalized-text fingerprint across micro-batches AND across a query
    restart (state lives in the checkpoint), matching the batch
    operator's keep-set on the drained input."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        dedup_stream,
    )

    landing = tmp_path / "landing"
    docs_schema = "doc_id long, text string"
    f1 = [(i, f"document body number {i}") for i in range(10)]
    f2 = [(10 + i, f"document body number {i}") for i in range(5)]  # dups of 0-4
    f2 += [(20 + i, f"fresh content piece {i}") for i in range(5)]
    spark.createDataFrame(f1, docs_schema).write.mode("append").json(
        str(landing / "b1")
    )
    spark.createDataFrame(f2, docs_schema).write.mode("append").json(
        str(landing / "b2")
    )

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def run():
        stream = file_stream(
            spark, str(landing / "*"), schema, max_files_per_trigger=1
        )
        q = (
            dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "unique"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    run()
    out = spark.read.parquet(str(tmp_path / "unique"))
    assert out.count() == 15  # 10 + 5 fresh, 5 dups dropped
    # first occurrence wins: the duplicated bodies keep doc_id < 10
    kept = {r.text: r.doc_id for r in out.collect()}
    for i in range(5):
        assert kept[f"document body number {i}"] == i

    # restart with a new file full of already-seen bodies → none land
    f3 = [(30 + i, f"document body number {i}") for i in range(10)]
    spark.createDataFrame(f3, docs_schema).write.mode("append").json(
        str(landing / "b3")
    )
    run()
    assert spark.read.parquet(str(tmp_path / "unique")).count() == 15

    # batch mode with order_col pins the representative: exact id-level
    # agreement with dedup_exact's min-id keep-set
    from dea05_e2e_kafka_streaming_pipeline_spark.operators.dedup import dedup_exact

    all_docs = spark.createDataFrame(f1 + f2 + f3, docs_schema)
    batch_kept = dedup_stream(all_docs, order_col="doc_id")
    assert sorted(r.doc_id for r in batch_kept.collect()) == sorted(
        r.doc_id for r in dedup_exact(all_docs).collect()
    )


def test_dedup_stream_watermarked_state_expiry(spark, tmp_path):
    """dropDuplicatesWithinWatermark mode: a duplicate re-sent within
    the horizon is dropped; once the watermark has passed the original's
    timestamp + delay, the key's state is gone and a later re-send lands
    again (the bounded-state semantics the docstring promises).

    Eviction timing (measured, Spark 4.1): state cleanup runs at the
    END of each micro-batch using the batch's STARTING watermark, and
    incoming rows match surviving state without an expiry check — so a
    key becomes re-insertable only one full batch AFTER the watermark
    passes its expiry. The landing sequence therefore inserts an
    eviction batch (b3) between the watermark-advancing batch (b2) and
    the re-send (b4)."""
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        dedup_stream,
    )

    landing = tmp_path / "landing"
    t0 = dt.datetime(2024, 1, 1)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("text", StringType()),
        ]
    )
    rows_schema = "doc_id long, ts timestamp, text string"
    # batch 1: original + a within-horizon duplicate
    # one part-file per landing batch: maxFilesPerTrigger=1 only yields
    # deterministic micro-batch grouping when each batch IS one file
    spark.createDataFrame(
        [(0, t0, "same body"), (1, t0 + dt.timedelta(minutes=30), "same body")],
        rows_schema,
    ).coalesce(1).write.mode("append").json(str(landing / "b1"))
    # batch 2: advances the watermark far past t0 + delay
    spark.createDataFrame(
        [(2, t0 + dt.timedelta(hours=6), "other body")], rows_schema
    ).coalesce(1).write.mode("append").json(str(landing / "b2"))
    # batch 3: starts with the advanced watermark -> its end-of-batch
    # cleanup evicts the expired "same body" state
    spark.createDataFrame(
        [(4, t0 + dt.timedelta(hours=6, minutes=30), "third body")], rows_schema
    ).coalesce(1).write.mode("append").json(str(landing / "b3"))
    # batch 4: re-send of the same body, after eviction
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(hours=7), "same body")], rows_schema
    ).coalesce(1).write.mode("append").json(str(landing / "b4"))

    # the file source orders micro-batches by MODIFICATION TIME; the
    # three writes can land within one clock second, so pin strictly
    # increasing mtimes to make b1 -> b2 -> b3 processing deterministic
    import os as _os
    import time as _time

    now = _time.time()
    for i, d in enumerate(["b1", "b2", "b3", "b4"]):
        for f in (landing / d).glob("*.json"):
            _os.utime(f, (now + 10 * i, now + 10 * i))

    q = (
        dedup_stream(
            file_stream(spark, str(landing / "*"), schema, max_files_per_trigger=1),
            ts_col="ts",
            watermark="1 hour",
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # exactly ONE of {0, 1} survives (same body, same micro-batch — the
    # within-batch representative is arbitrary); 2 and 4 are kept
    # (distinct bodies); 3 lands again because the "same body" state
    # was evicted in the b3 batch once the watermark passed ts+delay
    assert len(kept) == 4 and kept[1:] == [2, 3, 4], kept
    assert kept[0] in (0, 1), kept


def _changes(spark, rows):
    return spark.createDataFrame(
        rows, "order_id long, amount double, _cdc_op string, _cdc_ts_ms long"
    )


def _state(spark, target, version=None):
    got = read_snapshot(spark, str(target), version).select("order_id", "amount")
    return {r.order_id: r.amount for r in got.collect()}


def _files(df):
    """A scan's data files, as local paths."""
    return {urlparse(f).path for f in df.inputFiles()}


def _preload(spark, target, n_buckets=4):
    upsert_batch_into_parquet(
        _changes(spark, [(k, float(k), "r", 0) for k in range(1000)]),
        str(target),
        key="order_id",
        n_buckets=n_buckets,
    )


def _keys_in_bucket(spark, b, n_buckets, n=1000):
    bucket = F.pmod(F.xxhash64("order_id"), F.lit(n_buckets))
    rows = spark.range(n).withColumnRenamed("id", "order_id").filter(bucket == b)
    return [r.order_id for r in rows.collect()]


def _bucket_file(target, b):
    """The one data file of bucket ``b`` in the latest version."""
    (f,) = Path(target).glob(f"data-v*/bucket={b}/part-*.parquet")
    return f


def test_upsert_batch_into_parquet_merge_delete_replay(spark, tmp_path):
    target = str(tmp_path / "silver")
    b1 = _changes(spark, [(1, 10.0, "c", 1), (2, 20.0, "c", 1), (3, 30.0, "c", 1)])
    upsert_batch_into_parquet(b1, target, key="order_id", n_buckets=4)
    b2 = _changes(spark, [(2, 25.0, "u", 2), (1, None, "d", 2)])
    upsert_batch_into_parquet(b2, target, key="order_id", n_buckets=4)
    assert _state(spark, target) == {2: 25.0, 3: 30.0}
    # replaying an already-applied batch is a no-op (crash-recovery path)
    upsert_batch_into_parquet(b2, target, key="order_id", n_buckets=4)
    assert _state(spark, target) == {2: 25.0, 3: 30.0}
    # every version stays readable until a vacuum
    assert snapshot_versions(target) == [0, 1, 2]
    assert _state(spark, target, 0) == {1: 10.0, 2: 20.0, 3: 30.0}
    # meta columns never land in the silver table, nor does the bucket
    assert read_snapshot(spark, target).columns == ["order_id", "amount"]


def test_upsert_batch_clears_fully_deleted_buckets(spark, tmp_path):
    target = str(tmp_path / "silver")
    upsert_batch_into_parquet(
        _changes(spark, [(42, 1.0, "c", 1)]), target, key="order_id", n_buckets=4
    )
    assert snapshot_history(target)[-1]["n_files"] == 1
    upsert_batch_into_parquet(
        _changes(spark, [(42, None, "d", 2)]), target, key="order_id", n_buckets=4
    )
    # the emptied bucket drops out of the file list: an empty version
    assert snapshot_history(target)[-1]["n_files"] == 0
    # the next batch still lands
    upsert_batch_into_parquet(
        _changes(spark, [(7, 3.0, "c", 3)]), target, key="order_id", n_buckets=4
    )
    assert _state(spark, target) == {7: 3.0}


def test_read_snapshot_of_emptied_table(spark, tmp_path):
    """A batch that deletes every key publishes a version with no file;
    it reads as zero rows with the table's columns."""
    target = str(tmp_path / "silver")
    keys = range(50)
    upsert_batch_into_parquet(
        _changes(spark, [(k, float(k), "c", 1) for k in keys]),
        target,
        key="order_id",
        n_buckets=4,
    )
    upsert_batch_into_parquet(
        _changes(spark, [(k, None, "d", 2) for k in keys]),
        target,
        key="order_id",
        n_buckets=4,
    )
    assert snapshot_history(target)[-1]["n_files"] == 0
    emptied = read_snapshot(spark, target)
    assert emptied.count() == 0
    assert emptied.dtypes == read_snapshot(spark, target, 0).dtypes
    assert emptied.columns == ["order_id", "amount"]


def test_upsert_batch_skips_unreadable_untouched_bucket(spark, tmp_path):
    """A corrupt file in a bucket the batch does not touch is never
    opened: the merge succeeds and the file stays listed, so once it is
    put back the table reads every row, the update included."""
    target = tmp_path / "silver"
    _preload(spark, target)
    (key,) = _keys_in_bucket(spark, 1, 4)[:1]
    corrupt = _bucket_file(target, 0)
    good = corrupt.read_bytes()
    corrupt.write_bytes(b"not parquet" * 64)
    upsert_batch_into_parquet(
        _changes(spark, [(key, -1.0, "u", 1)]), str(target), key="order_id", n_buckets=4
    )
    assert snapshot_versions(str(target)) == [0, 1]
    corrupt.write_bytes(good)
    want = {k: -1.0 if k == key else float(k) for k in range(1000)}
    assert _state(spark, target) == want


def test_upsert_batch_raises_on_unreadable_target(spark, tmp_path):
    """A corrupt file in a bucket the batch touches fails the read of
    the target. The upsert must raise (so the checkpoint retries the
    batch) instead of merging against an empty target, which would
    rewrite the bucket from the batch alone; the latest version stays."""
    target = tmp_path / "silver"
    _preload(spark, target)
    (key,) = _keys_in_bucket(spark, 1, 4)[:1]
    _bucket_file(target, 1).write_bytes(b"not parquet" * 64)
    with pytest.raises(Exception):
        upsert_batch_into_parquet(
            _changes(spark, [(key, -1.0, "u", 1)]),
            str(target),
            key="order_id",
            n_buckets=4,
        )
    assert snapshot_versions(str(target)) == [0]


def test_upsert_batch_failed_write_leaves_every_bucket(spark, tmp_path):
    """A corrupt file in a touched bucket that schema inference does not
    read fails the write's scan. Every published file keeps its bytes and
    the latest version stays; once the file is put back, the retry
    overwrites the failed attempt's directory and publishes the batch."""
    target = tmp_path / "silver"
    _preload(spark, target)

    def files():
        published = target.glob("data-v000000/**/*")
        return {p: p.read_bytes() for p in published if p.is_file()}

    before_files = files()
    # touch buckets 1 and 3; schema inference reads the first listed
    # file (bucket=1), so the corrupt bucket-3 file fails the scan
    keys = _keys_in_bucket(spark, 1, 4)[:5] + _keys_in_bucket(spark, 3, 4)[:5]
    batch = _changes(spark, [(k, -1.0, "u", 1) for k in keys])
    corrupt = _bucket_file(target, 3)
    corrupt.write_bytes(b"not parquet" * 64)
    with pytest.raises(Exception):
        upsert_batch_into_parquet(batch, str(target), key="order_id", n_buckets=4)
    assert snapshot_versions(str(target)) == [0]
    after_files = files()
    corrupt.write_bytes(before_files.pop(corrupt))
    assert after_files.pop(corrupt) == b"not parquet" * 64
    assert after_files == before_files
    assert _state(spark, target) == {k: float(k) for k in range(1000)}
    upsert_batch_into_parquet(batch, str(target), key="order_id", n_buckets=4)
    assert snapshot_versions(str(target)) == [0, 1]
    want = {k: -1.0 if k in keys else float(k) for k in range(1000)}
    assert _state(spark, target) == want


def test_upsert_batch_publish_is_atomic(spark, tmp_path, monkeypatch):
    """A reader that lists and reads the table after the merge has
    written its files but before the publish sees the whole pre-batch
    state; a publish that fails leaves that state, and the retry lands
    the whole post-batch state."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources import txlog

    target = tmp_path / "silver"
    _preload(spark, target)
    keys = _keys_in_bucket(spark, 0, 4)[:5] + _keys_in_bucket(spark, 2, 4)[:5]
    batch = _changes(spark, [(k, -1.0, "u", 1) for k in keys] + [(5000, 1.0, "c", 1)])
    pre = {k: float(k) for k in range(1000)}
    post = {**pre, **{k: -1.0 for k in keys}, 5000: 1.0}
    seen = []

    def publish_fails(path, obj):
        assert list(target.glob("data-v000001/bucket=*/part-*.parquet"))
        seen.append(_state(spark, target))
        raise OSError("publish failed")

    monkeypatch.setattr(txlog, "write_json_atomic", publish_fails)
    with pytest.raises(OSError, match="publish failed"):
        upsert_batch_into_parquet(batch, str(target), key="order_id", n_buckets=4)
    monkeypatch.undo()
    assert seen == [pre]
    assert _state(spark, target) == pre
    upsert_batch_into_parquet(batch, str(target), key="order_id", n_buckets=4)
    assert _state(spark, target) == post


def test_upsert_batch_replaces_only_touched_buckets(spark, tmp_path):
    """Version N+1 differs from version N only in the files of the
    buckets the batch touched: one new file each, every other bucket's
    file carried over as is."""
    target = tmp_path / "silver"
    _preload(spark, target)
    keys = _keys_in_bucket(spark, 1, 4)[:3] + _keys_in_bucket(spark, 2, 4)[:3]
    upsert_batch_into_parquet(
        _changes(spark, [(k, None, "d", 1) for k in keys]),
        str(target),
        key="order_id",
        n_buckets=4,
    )
    v0 = _files(read_snapshot(spark, str(target), 0))
    v1 = _files(read_snapshot(spark, str(target), 1))
    assert v0 & v1 == {str(_bucket_file(target, b)) for b in (0, 3)}
    assert sorted(Path(f).parent.name for f in v0 - v1) == ["bucket=1", "bucket=2"]
    assert {Path(f).parent.parent.name for f in v1 - v0} == {"data-v000001"}
    assert sorted(Path(f).parent.name for f in v1 - v0) == ["bucket=1", "bucket=2"]
    assert len(_state(spark, target)) == 1000 - len(keys)


def test_upsert_batch_rejects_other_n_buckets(spark, tmp_path):
    """``n_buckets`` is fixed when the table is first written: a merge
    with another value would read the wrong buckets and leave a second
    row for every key it moves, so it raises before writing anything."""
    target = str(tmp_path / "silver")
    rows = [(k, float(k), "c", 1) for k in range(20)]
    upsert_batch_into_parquet(
        _changes(spark, rows), target, key="order_id", n_buckets=4
    )
    with pytest.raises(ValueError, match="n_buckets"):
        upsert_batch_into_parquet(
            _changes(spark, [(k, -1.0, "u", 2) for k in range(6)]),
            target,
            key="order_id",
            n_buckets=8,
        )
    assert snapshot_versions(target) == [0]
    assert _state(spark, target) == {k: float(k) for k in range(20)}


def test_upsert_batch_writes_one_file_per_bucket(spark, tmp_path):
    """Each touched bucket is rewritten as one file by one task, however
    many partitions the preload and the change batches arrive in, so the
    file count stays at one per bucket across batches."""
    target = str(tmp_path / "silver")
    preload = [(k, float(k), "r", 0) for k in range(200)]
    upsert_batch_into_parquet(
        _changes(spark, preload).repartition(8), target, key="order_id", n_buckets=4
    )
    state = {k: float(k) for k in range(200)}
    for ts in (1, 2, 3):
        rows = [(k, k + ts * 1000.0, "u", ts) for k in range(ts, 200, 7)]
        rows += [(k, None, "d", ts) for k in range(ts + 3, 200, 11)]
        rows += [(1000 * ts + k, 1.0, "c", ts) for k in range(20)]
        upsert_batch_into_parquet(
            _changes(spark, rows).repartition(4), target, key="order_id", n_buckets=4
        )
        for k, amount, op, _ in sorted(rows, key=lambda r: r[2] == "d"):
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = amount
        buckets = [Path(f).parent.name for f in _files(read_snapshot(spark, target))]
        assert sorted(buckets) == [f"bucket={b}" for b in range(4)]
    assert _state(spark, target) == state


def _assert_only_latest_on_disk(spark, target):
    """Nothing is left under the table but its log, the latest version's
    data files with their ``.crc`` sidecars, and that write's
    ``_SUCCESS``: no superseded file, marker or empty directory."""
    live = _files(read_snapshot(spark, str(target)))
    latest = target / f"data-v{snapshot_versions(str(target))[-1]:06d}"
    for p in target.rglob("*"):
        if p.is_dir():
            assert any(p.iterdir()), p
        elif p.parent.name != "_log":
            f = p.with_name(p.name[1:-4]) if p.suffix == ".crc" else p
            assert str(f) in live or f == latest / "_SUCCESS", p


def test_stream_upsert_sink_converges_across_batches(spark, tmp_path):
    import pyspark.sql.types as T

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        stream_upsert_sink,
    )

    landing = tmp_path / "changes"
    landing.mkdir()
    _changes(
        spark, [(1, 10.0, "c", 1), (2, 20.0, "c", 1), (3, 30.0, "c", 1)]
    ).coalesce(1).write.mode("append").json(str(landing / "f1"))
    _changes(spark, [(2, 25.0, "u", 2), (1, None, "d", 3)]).coalesce(1).write.mode(
        "append"
    ).json(str(landing / "f2"))

    schema = T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("_cdc_op", T.StringType()),
            T.StructField("_cdc_ts_ms", T.LongType()),
        ]
    )
    stream = file_stream(
        spark, str(landing / "*"), schema, max_files_per_trigger=1
    )
    q = stream_upsert_sink(
        stream,
        target_dir=str(tmp_path / "silver"),
        checkpoint=str(tmp_path / "ckpt"),
        key="order_id",
        available_now=True,
    )
    assert q.awaitTermination(600)
    assert _state(spark, tmp_path / "silver") == {2: 25.0, 3: 30.0}
    # each publish vacuums the version it superseded
    assert len(snapshot_versions(str(tmp_path / "silver"))) == 1
    _assert_only_latest_on_disk(spark, tmp_path / "silver")


def test_stream_upsert_sink_reads_each_change_once(spark, tmp_path):
    """Over a two-chunk file-backed topic the upsert sink reads every
    change exactly once (the progress' summed ``numInputRows`` is the
    number of changes), and the table ends equal to replaying the
    changes in order."""
    import datetime as dt
    import json
    import os

    import pyspark.sql.types as T

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        stream_upsert_sink,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
        kafka_json_stream_surrogate,
    )

    chunks = [
        [(k, float(k), "c", 1) for k in range(40)],
        [(k, k + 0.5, "u", 2) for k in range(0, 40, 3)]
        + [(k, None, "d", 2) for k in range(1, 40, 5)]
        + [(3, 9.0, "u", 3), (100, 1.0, "c", 2), (100, 2.0, "u", 4)]
        + [(6, None, "d", 3), (6, 7.0, "u", 3)],  # delete wins a tie
    ]
    topic = tmp_path / "topic"
    topic.mkdir()
    t0 = time.time() - 86400
    stamp = dt.datetime.fromtimestamp(t0, dt.timezone.utc).isoformat()
    for i, chunk in enumerate(chunks):
        path = topic / f"chunk-{i}.json"
        path.write_text(
            "".join(
                json.dumps(
                    {
                        "key": str(k),
                        "value": json.dumps(
                            {"order_id": k, "amount": a, "_cdc_op": op, "_cdc_ts_ms": ts}
                        ),
                        "timestamp": stamp,
                    }
                )
                + "\n"
                for k, a, op, ts in chunk
            )
        )
        os.utime(path, (t0 + i, t0 + i))  # the file source reads oldest first
    schema = T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("_cdc_op", T.StringType()),
            T.StructField("_cdc_ts_ms", T.LongType()),
        ]
    )
    q = stream_upsert_sink(
        kafka_json_stream_surrogate(spark, str(topic), schema, max_offsets_per_trigger=1),
        target_dir=str(tmp_path / "silver"),
        checkpoint=str(tmp_path / "ckpt"),
        key="order_id",
        n_buckets=4,
        available_now=True,
    )
    assert q.awaitTermination(600)
    assert q.exception() is None
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 2
    assert sum(p["numInputRows"] for p in batches) == sum(map(len, chunks))

    state: dict[int, float] = {}
    for chunk in chunks:
        for k, a, op, _ in sorted(chunk, key=lambda c: (c[3], c[2] == "d")):
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = a
    got = read_snapshot(spark, str(tmp_path / "silver")).collect()
    assert len(got) == len(state)
    assert {r.order_id: r.amount for r in got} == state
    _assert_only_latest_on_disk(spark, tmp_path / "silver")


def test_windowed_stats_sliding_double_counts(spark):
    """2h/1h sliding windows: every event lands in exactly two
    overlapping windows, so window counts sum to 2x the row count."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        windowed_event_stats,
    )

    events = load_table(spark, SF_SMOKE, "events")
    out = windowed_event_stats(
        events, window_duration="2 hours", slide_duration="1 hour"
    )
    total = out.agg(F.sum("n_events").alias("s")).collect()[0].s
    assert total == 2 * events.count()


def test_funnel_stream_matches_batch_across_batches(spark, tmp_path):
    """In-order streaming funnel must equal the batch fold once all
    events are drained — state (the completed slots) carries across
    micro-batches, so the progression can START in batch 1 and FINISH
    in batch 2."""
    import datetime as dt

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.sessionize import (
        event_funnel,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
        funnel_stream,
    )

    T_ = lambda s: dt.datetime.fromisoformat(f"2024-01-01 00:00:{s:02d}")
    schema = "user_id long, ts timestamp, event_type string"
    b1 = [(1, T_(1), "view"), (2, T_(2), "view"), (1, T_(3), "click")]
    b2 = [(1, T_(4), "purchase"), (2, T_(2), "click"), (3, T_(9), "click")]
    # u1 completes across the batch boundary; u2's click shares the view's
    # timestamp (strictness blocks it); u3 never views.
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(
        str(tmp_path / "ev")
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(
        str(tmp_path / "ev")
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    ev_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = file_stream(
        spark, str(tmp_path / "ev"), ev_schema, fmt="parquet",
        max_files_per_trigger=1,
    )
    steps = ("view", "click", "purchase")
    q = (
        funnel_stream(stream, steps)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_updates")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    emitted = spark.sql("SELECT * FROM funnel_updates").collect()
    # slots are monotone: the row with max stage_reached IS the final state
    final = {}
    for r in emitted:
        if r.user_id not in final or r.stage_reached > final[r.user_id].stage_reached:
            final[r.user_id] = r
    batch = {
        r.user_id: r
        for r in event_funnel(
            spark.createDataFrame(b1 + b2, schema), steps
        ).collect()
    }
    assert set(final) == set(batch) == {1, 2}
    for uid, br in batch.items():
        sr = final[uid]
        assert sr.stage_reached == br.stage_reached
        for s in steps:
            assert getattr(sr, f"{s}_ts") == getattr(br, f"{s}_ts")
    # and the cross-batch completion really happened in batch 2
    assert final[1].stage_reached == 3


def test_funnel_stream_rejects_bad_steps(spark):
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
        funnel_stream,
    )

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="at least 2"):
        funnel_stream(df, ("view",))
    with pytest.raises(ValueError, match="distinct"):
        funnel_stream(df, ("view", "view"))


def test_cms_sketch_stream_matches_batch_and_survives_restart(spark, tmp_path):
    """The streaming sketch equals the batch sketch over the drained
    input (state = depth×width rows, no watermark), and a restart from
    the checkpoint keeps counting — never double-counting the replayed
    files."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.sketches import cms_build
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        cms_sketch_stream,
    )

    landing = tmp_path / "landing"
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    f1 = [(i, "alpha beta gamma " * (i + 1)) for i in range(4)]
    spark.createDataFrame(f1, schema).write.mode("append").json(str(landing / "b1"))

    w, d = 8, 3

    def run():
        stream = file_stream(
            spark, str(landing / "*"), schema, max_files_per_trigger=1
        )
        q = (
            cms_sketch_stream(stream, width=w, depth=d)
            .writeStream.format("memory")
            .queryName("cms_state")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)

    run()
    got = {
        (r.row, r.bucket): r.cnt
        for r in spark.sql("SELECT * FROM cms_state").collect()
    }
    batch1 = spark.createDataFrame(f1, schema)
    want = {(r.row, r.bucket): r.cnt for r in cms_build(batch1, width=w, depth=d).collect()}
    assert got == want
    assert len(got) <= w * d

    # restart with more data: state continues, replay not double-counted
    f2 = [(10 + i, "gamma delta " * 3) for i in range(2)]
    spark.createDataFrame(f2, schema).write.mode("append").json(str(landing / "b2"))
    run()
    got2 = {
        (r.row, r.bucket): r.cnt
        for r in spark.sql("SELECT * FROM cms_state").collect()
    }
    both = batch1.unionByName(spark.createDataFrame(f2, schema))
    want2 = {
        (r.row, r.bucket): r.cnt for r in cms_build(both, width=w, depth=d).collect()
    }
    assert got2 == want2


def test_enrich_stream_static_snapshot_join(spark, tmp_path):
    """Stream-static broadcast enrichment against a fixed dim
    snapshot: every streamed event picks up its dim attribute."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        enrich_stream,
    )

    dim = spark.createDataFrame(
        [(u, "bronze" if u % 2 else "gold") for u in range(150)],
        "user_id long, tier string",
    )
    n = _land_events_json(spark, tmp_path / "landing", F.col("event_id") < 50)
    stream = file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA)
    q = (
        enrich_stream(stream, dim, "user_id")
        .select("event_id", "user_id", "tier")
        .writeStream.format("memory")
        .queryName("enriched_snapshot")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM enriched_snapshot").collect()
    finally:
        q.stop()
    assert len(rows) == n
    assert all(r.tier == ("bronze" if r.user_id % 2 else "gold") for r in rows)


def test_enrich_stream_sink_live_dim_refresh(spark, tmp_path):
    """foreachBatch enrichment re-reads the dim per micro-batch: an
    in-place dim rewrite between batches lands in the next batch with
    no query restart (a pinned static side would crash instead)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        enrich_stream_sink,
    )

    dim_path = str(tmp_path / "dim")
    out = str(tmp_path / "out")

    def write_dim(tier):
        spark.createDataFrame(
            [(u, tier) for u in range(150)], "user_id long, tier string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_path)

    write_dim("bronze")
    _land_events_json(spark, tmp_path / "landing", F.col("event_id") < 50)
    stream = file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA)
    q = enrich_stream_sink(
        stream.select("event_id", "user_id"),
        dim_path,
        "user_id",
        path=out,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        t1 = {r.event_id: r.tier for r in spark.read.parquet(out).collect()}
        assert t1 and set(t1.values()) == {"bronze"}
        write_dim("gold")
        _land_events_json(
            spark, tmp_path / "landing",
            (F.col("event_id") >= 50) & (F.col("event_id") < 100),
        )
        q.processAllAvailable()
        t2 = {r.event_id: r.tier for r in spark.read.parquet(out).collect()}
    finally:
        q.stop()
    new_ids = set(t2) - set(t1)
    assert new_ids and all(t2[i] == "gold" for i in new_ids)
    assert all(t2[i] == "bronze" for i in t1)


def test_visit_count_stream_stateful_processor(spark, tmp_path):
    """Spark 4 StatefulProcessor API (transformWithStateInPandas):
    runs for real where the protobuf package exists; otherwise the
    operator must fail fast with the actionable gating error (this
    container lacks protobuf - same pattern as the Delta/Avro jars)."""
    import pytest as _pytest

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
        visit_count_stream,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    _land_events_json(spark, tmp_path / "landing", F.col("event_id") < 200)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "landing"))
    )
    if not has_protobuf:
        with _pytest.raises(RuntimeError, match="protobuf"):
            visit_count_stream(stream)
        return

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            visit_count_stream(stream)
            .writeStream.format("memory")
            .queryName("visit_counts")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            r.user_id: r.n
            for r in spark.sql(
                "SELECT user_id, max(n_events) AS n FROM visit_counts GROUP BY 1"
            ).collect()
        }
        want = {
            r.user_id: r.n
            for r in load_table(spark, SF_SMOKE, "events")
            .filter(F.col("event_id") < 200)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_metrics_listener_captures_batches(spark, tmp_path):
    """The StreamingQueryListener observability layer: per-batch
    progress rows captured with input-row totals matching the landed
    data, each carrying its durationMs phase breakdown and the
    observe_quality counters, JSONL mirror written with the same rows,
    clean termination recorded, and the listener detached afterward."""
    import json
    import os

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.metrics import (
        capture_stream_metrics,
        observe_quality,
    )

    n = _land_events_json(spark, tmp_path / "landing_m")
    jsonl = str(tmp_path / "metrics.jsonl")
    with capture_stream_metrics(spark, jsonl_path=jsonl) as m:
        stream = observe_quality(
            file_stream(spark, str(tmp_path / "landing_m"), EVENTS_SCHEMA),
            name="dq",
            required=["user_id"],
        )
        q = ingest_to_lake(
            stream,
            path=str(tmp_path / "lake_m"),
            checkpoint=str(tmp_path / "ckpt_m"),
            available_now=True,
        )
        q.awaitTermination(120)
        # q already terminated (availableNow drains then stops)
        deadline = time.time() + 30
        while not m.terminated and time.time() < deadline:
            time.sleep(0.5)
    assert m.total_input_rows() == n
    assert all(r["batch_id"] >= 0 for r in m.progress)
    assert m.started and list(m.terminated.values()) == [None]  # clean stop
    rows = [r for r in m.progress if r["num_input_rows"]]
    assert rows
    for r in rows:
        assert {"addBatch", "getBatch", "queryPlanning", "triggerExecution"} <= set(
            r["duration_ms"]
        )
        assert set(r["observed_metrics"]["dq"]) == {"rows", "null_user_id"}
        assert r["observed_metrics"]["dq"]["rows"] == r["num_input_rows"]
    assert os.path.exists(jsonl)
    lines = [json.loads(line) for line in open(jsonl)]
    assert sum(r["num_input_rows"] for r in lines) == n
    assert [x["duration_ms"] for x in lines] == [r["duration_ms"] for r in m.progress]
    assert [x["observed_metrics"] for x in lines] == [
        r["observed_metrics"] for r in m.progress
    ]


def test_avro_stream_sink_round_trip(spark, tmp_path):
    """Stream → jar-less Avro container sink → distributed Avro scan:
    every landed row survives with its schema, and the epoch-keyed
    layout exists for idempotent replay."""
    import os

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import (
        read_avro_distributed,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        avro_stream_sink,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
        avro_file_stream,
    )

    n = _land_events_json(spark, tmp_path / "landing_av")
    stream = file_stream(spark, str(tmp_path / "landing_av"), EVENTS_SCHEMA)
    out = str(tmp_path / "avro_lake")
    q = avro_stream_sink(
        stream,
        out,
        checkpoint=str(tmp_path / "ckpt_av"),
        available_now=True,
    )
    q.awaitTermination(120)
    batches = [d for d in os.listdir(out) if d.startswith("batch=")]
    assert batches
    back = read_avro_distributed(spark, out)
    assert back.count() == n
    src = load_table(spark, SF_SMOKE, "events")
    assert sorted(back.columns) == sorted(src.columns)
    # the epoch directories tail as a stream too: every row once
    tail = (
        avro_file_stream(spark, out, back.schema)
        .writeStream.format("memory")
        .queryName("avro_sink_tail")
        .option("checkpointLocation", str(tmp_path / "ckpt_av_tail"))
        .start()
    )
    tail.processAllAvailable()
    tail.stop()
    assert spark.table("avro_sink_tail").count() == n


def test_kafka_surrogate_lifecycle_end_to_end(spark, tmp_path):
    """SURVEY §3's E1→E2→E3 lifecycle as ONE continuous pipeline over
    the file-backed topic surrogate, exercising kafka_json_stream's
    full option surface (startingOffsets earliest/latest,
    maxOffsetsPerTrigger→maxFilesPerTrigger) through the SAME
    decode_kafka_json expression the real Kafka path uses:

      CSV → producer (to_kafka_payload chunks) → "topic" →
      bronze (ingest_to_lake, killed + resumed mid-stream) →
      DQ gate → silver → gold daily-sales — with exactly-once
      checked at bronze and the gold result bit-equal to computing
      straight from the source CSV.
    """
    import pyspark.sql.types as T

    from dea05_e2e_kafka_streaming_pipeline_spark.plans.gold import (
        build_daily_sales,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
        load_customers,
        load_orders,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
        kafka_json_stream_surrogate,
        produce_kafka_surrogate,
    )

    orders_schema = T.StructType(
        [
            T.StructField("order_id", T.LongType()),
            T.StructField("order_date", T.DateType()),
            T.StructField("order_amount", T.DoubleType()),
            T.StructField("customer_id", T.LongType()),
        ]
    )

    # E1: the reference's CSV seed (streaming-source/csv_to_orders_topic.py)
    csv_dir = tmp_path / "orders_csv"
    src = load_orders(spark, SF_SMOKE)
    src.write.option("header", True).csv(str(csv_dir))
    total = src.count()

    # producer: CSV → 3 ordered topic chunks (3 offset ranges)
    topic = str(tmp_path / "topic_orders")
    csv_df = spark.read.option("header", True).schema(orders_schema).csv(str(csv_dir))
    for part in range(3):
        # full record as the value, like the reference producer
        # (csv_to_orders_topic.py:7-10 sends the whole dict; a key_col
        # would be carved OUT of the value by to_kafka_payload)
        produce_kafka_surrogate(csv_df.filter(F.col("order_id") % 3 == part), topic)

    # a consumer joining at "latest" sees none of the pre-existing chunks
    time.sleep(1.1)  # file-source modifiedAfter has 1s granularity
    latest = kafka_json_stream_surrogate(
        spark, topic, orders_schema, starting_offsets="latest"
    )
    q_latest = ingest_to_lake(
        latest,
        path=str(tmp_path / "bronze_latest"),
        checkpoint=str(tmp_path / "ckpt_latest"),
        date_column="order_date",
        available_now=True,
    )
    assert q_latest.awaitTermination(600)
    assert not (tmp_path / "bronze_latest").exists() or not [
        p for p in (tmp_path / "bronze_latest").glob("date=*")
    ]

    # E2 bronze: consume from earliest, ONE chunk per micro-batch, and
    # kill the query after its first committed batch
    bronze = str(tmp_path / "bronze")
    ingest_kwargs = dict(
        path=bronze,
        checkpoint=str(tmp_path / "ckpt_bronze"),
        date_column="order_date",
    )
    q = ingest_to_lake(
        kafka_json_stream_surrogate(
            spark,
            topic,
            orders_schema,
            starting_offsets="earliest",
            max_offsets_per_trigger=1,
        ),
        trigger_seconds=1,
        **ingest_kwargs,
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if (q.lastProgress or {}).get("batchId", -1) >= 0 and (
            tmp_path / "bronze"
        ).exists():
            break
        time.sleep(0.2)
    q.stop()
    assert q.awaitTermination(600)
    partial = spark.read.parquet(bronze).count()
    assert 0 < partial <= total

    # resume from the same checkpoint → drains the rest exactly-once
    q2 = ingest_to_lake(
        kafka_json_stream_surrogate(
            spark,
            topic,
            orders_schema,
            starting_offsets="earliest",
            max_offsets_per_trigger=1,
        ),
        available_now=True,
        **ingest_kwargs,
    )
    assert q2.awaitTermination(600)
    bronze_df = spark.read.parquet(bronze)
    assert bronze_df.count() == total
    assert sorted(r.order_id for r in bronze_df.select("order_id").collect()) == sorted(
        r.order_id for r in src.select("order_id").collect()
    )
    assert "_kafka_ts" in bronze_df.columns and "ingest_time" in bronze_df.columns

    # E3a DQ gate: bronze → silver (curated) with quarantine routing
    silver = str(tmp_path / "silver")
    q3 = dq_gated_sink(
        file_stream(spark, bronze, bronze_df.schema, fmt="parquet"),
        validator_builder=lambda df: DataQualityValidator(df).check_completeness(
            ["order_id", "customer_id", "order_amount"]
        ),
        curated_path=silver,
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint=str(tmp_path / "ckpt_dq"),
        available_now=True,
    )
    assert q3.awaitTermination(600)
    assert not (tmp_path / "quarantine").exists()
    silver_df = spark.read.parquet(silver)
    assert silver_df.count() == total

    # E3b gold: daily sales from silver ≡ daily sales straight from CSV
    customers = load_customers(spark, SF_SMOKE)
    got = build_daily_sales(
        silver_df.select("order_id", "order_date", "order_amount", "customer_id"),
        customers,
    )
    want = build_daily_sales(csv_df, customers)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Gap-based session windows: the streaming aggregation (memory
    sink, availableNow drain) must produce exactly the batch result on
    the same data, and sessions must split at gaps > 30 min."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        session_window_stats,
    )

    _land_events_json(spark, tmp_path / "landing", F.col("event_id") < 400)
    batch_df = (
        spark.read.schema(EVENTS_SCHEMA).json(str(tmp_path / "landing"))
    )
    want = session_window_stats(batch_df).collect()

    q = (
        session_window_stats(
            file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA)
        )
        .writeStream.format("memory")
        .queryName("sessions_mem")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sessions_mem").collect()

    key = lambda r: (r.user_id, r.session_start, r.session_end)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert {key(r): (r.n_events, r.total_value) for r in got} == {
        key(r): (r.n_events, r.total_value) for r in want
    }
    # sanity: a crafted two-burst user splits into exactly two sessions
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    crafted = spark.createDataFrame(
        [
            (1, t0, 1.0),
            (1, t0 + dt.timedelta(minutes=10), 2.0),
            (1, t0 + dt.timedelta(hours=3), 4.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    rows = sorted(
        session_window_stats(crafted).collect(), key=lambda r: r.session_start
    )
    assert len(rows) == 2
    assert rows[0].n_events == 2 and rows[0].total_value == 3.0
    assert rows[1].n_events == 1 and rows[1].total_value == 4.0
    # session end = last event + gap
    assert rows[0].session_end == t0 + dt.timedelta(minutes=40)


def test_stream_stream_left_outer_emits_nulls_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: a click with NO view inside the
    join window must still emit — with null view columns — once the
    watermark passes its window. Outer results only flush when the
    watermark moves, so the drain is forced through two micro-batches
    (maxFilesPerTrigger=1) with a later watermark-pushing file."""
    import datetime as dt

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        stream_stream_join,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    clicks_schema = "user_id long, ts timestamp, click_id long"
    views_schema = "user_id long, ts timestamp, view_id long"
    clicks = spark.createDataFrame(
        [(1, t0, 100), (2, t0, 200)], clicks_schema  # user 2: no view
    )
    views = spark.createDataFrame(
        [(1, t0 - dt.timedelta(minutes=5), 900)], views_schema
    )
    late = t0 + dt.timedelta(hours=10)  # pushes the watermark far past t0
    clicks_push = spark.createDataFrame([(99, late, 999)], clicks_schema)
    views_push = spark.createDataFrame([(99, late, 888)], views_schema)

    cdir, vdir = tmp_path / "clicks", tmp_path / "views"
    clicks.coalesce(1).write.mode("append").parquet(str(cdir))
    views.coalesce(1).write.mode("append").parquet(str(vdir))
    clicks_push.coalesce(1).write.mode("append").parquet(str(cdir))
    views_push.coalesce(1).write.mode("append").parquet(str(vdir))

    joined = stream_stream_join(
        file_stream(spark, str(cdir), clicks.schema, fmt="parquet",
                    max_files_per_trigger=1),
        file_stream(spark, str(vdir), views.schema, fmt="parquet",
                    max_files_per_trigger=1),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_outer")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    rows = {r.click_id: r.view_id for r in spark.table("ssj_outer").collect()}
    assert rows[100] == 900  # matched inside the window
    assert rows[200] is None  # unmatched left row emitted with nulls


def test_windowed_stats_under_rocksdb_state_store(spark, tmp_path):
    """The RocksDB state-store provider (the configured option for
    state > memory, session.py:get_spark(rocksdb_state_store=True))
    actually functions in this build: the watermarked windowed
    aggregation runs its state through RocksDB and still reproduces the
    batch answer exactly."""
    _land_events_json(spark, tmp_path / "landing", F.col("event_id") < 150)
    batch = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_stats(
            spark.read.schema(EVENTS_SCHEMA).json(str(tmp_path / "landing")),
            group_extra=["event_type"],
        ).collect()
    }

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            windowed_event_stats(
                file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA),
                group_extra=["event_type"],
            )
            .writeStream.format("memory")
            .queryName("win_rocks")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)
        # the checkpoint's state dir proves RocksDB actually held state
        got = {
            (str(r.window_start), r.event_type): (r.n_events, r.total_value)
            for r in spark.table("win_rocks").collect()
        }
        assert got == batch
        import glob as _g

        assert _g.glob(str(tmp_path / "ckpt" / "state" / "**" / "*.zip"),
                       recursive=True) or _g.glob(
            str(tmp_path / "ckpt" / "state" / "**" / "*.changelog"),
            recursive=True,
        ) or _g.glob(str(tmp_path / "ckpt" / "state" / "**" / "*.sst"),
                     recursive=True)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_observe_quality_metrics_in_progress(spark, tmp_path):
    """Dataset.observe counters ride the ingestion pass and appear in
    each micro-batch's progress (observedMetrics) — continuous
    completeness monitoring with zero extra scans."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.metrics import (
        observe_quality,
    )

    n = _land_events_json(spark, tmp_path / "landing", F.col("event_id") < 120)
    stream = observe_quality(
        file_stream(spark, str(tmp_path / "landing"), EVENTS_SCHEMA),
        name="dq",
        required=["user_id", "event_id"],
        value_col="value",
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "lake"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600)
    observed = [
        p["observedMetrics"]["dq"]
        for p in (q.recentProgress or [])
        if p.get("observedMetrics", {}).get("dq")
    ]
    assert observed, "no observed metrics in any progress"
    assert sum(m["rows"] for m in observed) == n
    assert all(m["null_user_id"] == 0 for m in observed)
    want_sum = (
        spark.read.parquet(str(tmp_path / "lake"))
        .agg(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"))
        .collect()[0][0]
    )
    assert abs(sum(m["sum_value"] for m in observed) - want_sum) < 1e-6

    # batch DataFrames take the same counters (Observation-free read
    # via the plan's CollectMetrics is streaming-only; in batch the
    # call is still valid and the plan carries the metrics node)
    b = observe_quality(
        spark.read.schema(EVENTS_SCHEMA).json(str(tmp_path / "landing")),
        name="dq_b",
        required=["user_id"],
    )
    assert b.count() == n


def test_drift_monitor_batching_invariant_and_alerts(spark, tmp_path):
    """Streaming mean-drift monitor (stateful.drift_monitor_stream):
    the exact-integer state must be IDENTICAL under different
    micro-batch boundaries (1 file per trigger vs all at once), match
    the batch-computed expectation, and fire the alert only for the
    key whose baseline is planted low."""
    import math

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
        drift_monitor_stream,
    )

    landing = tmp_path / "landing"
    # three files -> three micro-batches under maxFilesPerTrigger=1
    for lo, hi in [(0, 60), (60, 120), (120, 200)]:
        _land_events_json(
            spark, landing, (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )

    events = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 200)
    rows = events.select("event_type", "value").collect()
    true_mean_micro: dict[str, int] = {}
    by_type: dict[str, list[float]] = {}
    for r in rows:
        if r.value is not None:
            by_type.setdefault(r.event_type, []).append(float(r.value))
    for et, vals in by_type.items():
        true_mean_micro[et] = int(
            sum(math.floor(v * 1_000_000) for v in vals) / len(vals)
        )
    # plant drift: purchase baseline 50 units low -> mean dev ~ +50e6
    baseline = dict(true_mean_micro)
    baseline["purchase"] = baseline["purchase"] - 50_000_000

    def run(name: str, max_files: int):
        stream = file_stream(
            spark, str(landing), EVENTS_SCHEMA, max_files_per_trigger=max_files
        )
        q = (
            drift_monitor_stream(stream, baseline, threshold_micro=10_000_000)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.table(name).toPandas()
        # update mode emits one row per touched key per batch: the row
        # with the max n_seen per key is the final state
        final = out.sort_values("n_seen").groupby("event_type").tail(1)
        return {
            r.event_type: (r.n_seen, r.cum_dev_micro, r.alert)
            for r in final.itertuples()
        }

    one = run("drift_one_file", 1)
    all_at_once = run("drift_all_files", 100)
    assert one == all_at_once  # batching-invariant exact state

    expected = {
        et: (
            len(vals),
            sum(
                math.floor(v * 1_000_000) - baseline[et] for v in vals
            ),
        )
        for et, vals in by_type.items()
    }
    for et, (n, cum, alert) in one.items():
        assert (n, cum) == expected[et], et
        # only the planted-low key drifts beyond 10 units mean deviation
        assert alert == (et == "purchase"), et


def test_drift_monitor_kill_and_resume_state_exact(spark, tmp_path):
    """Kill the drift monitor after its first committed micro-batch,
    resume from the same checkpoint, and assert the recovered state
    ends EXACTLY where a single uninterrupted run would: the
    applyInPandasWithState store must survive restart with its
    integer accumulators intact (the batch-calc expectation is the
    same oracle as the batching-invariance test)."""
    import math

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
        drift_monitor_stream,
    )

    landing = tmp_path / "landing"
    for lo, hi in [(0, 60), (60, 120), (120, 200)]:
        _land_events_json(
            spark, landing, (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
    events = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 200)
    by_type: dict[str, list[float]] = {}
    for r in events.select("event_type", "value").collect():
        if r.value is not None:
            by_type.setdefault(r.event_type, []).append(float(r.value))
    baseline = {et: 0 for et in by_type}  # raw micro-sums as state

    out = tmp_path / "drift_out"

    def sink(df, _eid):
        df.write.mode("append").parquet(str(out))

    def start(max_files):
        stream = file_stream(
            spark, str(landing), EVENTS_SCHEMA, max_files_per_trigger=max_files
        )
        return (
            drift_monitor_stream(stream, baseline, threshold_micro=1)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .start()
        )

    q = start(1)
    deadline = time.time() + 120
    while time.time() < deadline:
        if (q.lastProgress or {}).get("batchId", -1) >= 0 and out.exists():
            break
        time.sleep(0.2)
    q.stop()
    assert q.awaitTermination(600)

    q2 = start(1)
    q2.processAllAvailable()
    q2.stop()

    got_df = spark.read.parquet(str(out)).toPandas()
    final = got_df.sort_values("n_seen").groupby("event_type").tail(1)
    got = {r.event_type: (r.n_seen, r.cum_dev_micro) for r in final.itertuples()}
    want = {
        et: (len(vals), sum(math.floor(v * 1_000_000) for v in vals))
        for et, vals in by_type.items()
    }
    assert got == want


def test_hll_register_store_matches_batch_and_survives_restart(spark, tmp_path):
    """The streamed register store equals the one-shot batch sketch
    over all drained events (max-semilattice merge), and a restart
    with replayed files converges — max-merging a replay is a no-op."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.sketches import (
        hll_partials,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        hll_register_store_sink,
    )

    landing = tmp_path / "landing"
    store = str(tmp_path / "store")
    schema = StructType(
        [StructField("grp", StringType()), StructField("uid", LongType())]
    )
    f1 = [(f"g{i % 2}", i * 7) for i in range(40)]
    spark.createDataFrame(f1, schema).write.mode("append").json(str(landing / "b1"))

    def run():
        stream = file_stream(
            spark, str(landing / "*"), schema, max_files_per_trigger=1
        )
        q = hll_register_store_sink(
            stream, store, str(tmp_path / "ckpt"), ["grp"], "uid",
            p=5, available_now=True,
        )
        assert q.awaitTermination(600)

    run()
    got = {
        (r.grp, r.reg_idx): r.reg_rho for r in spark.read.parquet(store).collect()
    }
    want = {
        (r.grp, r.reg_idx): r.reg_rho
        for r in hll_partials(
            spark.createDataFrame(f1, schema), ["grp"], "uid", p=5
        ).collect()
    }
    assert got == want

    f2 = [(f"g{i % 2}", i * 7) for i in range(35, 60)]  # overlaps f1
    spark.createDataFrame(f2, schema).write.mode("append").json(str(landing / "b2"))
    run()
    got2 = {
        (r.grp, r.reg_idx): r.reg_rho for r in spark.read.parquet(store).collect()
    }
    both = spark.createDataFrame(f1 + f2, schema)
    want2 = {
        (r.grp, r.reg_idx): r.reg_rho
        for r in hll_partials(both, ["grp"], "uid", p=5).collect()
    }
    assert got2 == want2


def test_hll_register_store_corrupt_read_fails_batch_not_resets(spark, tmp_path):
    """ADVICE r4 (medium): only a MISSING store means 'first batch'. A
    store that exists but cannot be read (corrupt footer / transient
    IO) must FAIL the batch so the checkpoint retries it — treating it
    as empty would overwrite the store with the current batch's
    registers and silently discard all accumulated state."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        hll_register_store_sink,
    )

    landing = tmp_path / "landing"
    store = tmp_path / "store"
    schema = StructType(
        [StructField("grp", StringType()), StructField("uid", LongType())]
    )
    spark.createDataFrame(
        [("g0", 1), ("g1", 2)], schema
    ).write.mode("append").json(str(landing / "b1"))

    # the store EXISTS but holds a corrupt parquet file
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"PAR1 not really parquet")

    stream = file_stream(
        spark, str(landing / "*"), schema, max_files_per_trigger=1
    )
    q = hll_register_store_sink(
        stream, str(store), str(tmp_path / "ckpt"), ["grp"], "uid",
        p=5, available_now=True,
    )
    import pytest
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        q.awaitTermination(600)
    # the corrupt store was NOT overwritten by the failed batch
    assert (store / "part-00000.parquet").read_bytes() == b"PAR1 not really parquet"


def test_ks_drift_stream_equals_batch_and_batching_invariant(spark, tmp_path):
    """r4 verdict item 6: the streaming KS monitor's per-window
    statistic must EQUAL the batch ks_two_sample run on the same
    (micro-quantized) data, be identical under different micro-batch
    boundaries, and alert only when the planted shape shift exceeds
    the threshold."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.analytics import (
        ks_two_sample,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
        ks_drift_stream,
        ks_reference_from_df,
    )

    landing = tmp_path / "landing"
    for lo, hi in [(0, 60), (60, 120), (120, 200)]:
        _land_events_json(
            spark, landing, (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
    events = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 200)

    # reference: same distribution for 'view' (no drift expected) but a
    # +1000-shifted distribution for 'purchase' (full separation, D=1)
    ref_src = events.select(
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("value") + 1000.0)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    reference = ks_reference_from_df(ref_src, "value", "event_type")

    def run(name, max_files):
        stream = file_stream(
            spark, str(landing), EVENTS_SCHEMA, max_files_per_trigger=max_files
        )
        q = (
            ks_drift_stream(stream, reference, threshold_d=0.5)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        out = spark.table(name).toPandas()
        final = out.sort_values("n_seen").groupby("event_type").tail(1)
        return {
            r.event_type: (r.n_seen, r.n_ref, r.d_num, r.d_stat, r.alert)
            for r in final.itertuples()
        }

    one = run("ks_one_file", 1)
    all_at_once = run("ks_all_files", 100)
    assert one == all_at_once  # order/batching-invariant exact state

    # batch twin on the identical micro-quantized data, per type
    micro = F.floor(F.col("value").cast("double") * 1_000_000).cast("long")
    for et, (n_s, n_r, d_num, d_stat, alert) in one.items():
        cur = events.filter(F.col("event_type") == et).select(
            micro.alias("v")
        ).filter(F.col("v").isNotNull())
        ref = ref_src.filter(F.col("event_type") == et).select(
            micro.alias("v")
        ).filter(F.col("v").isNotNull())
        want = ks_two_sample(cur, ref, "v").collect()[0]
        assert (n_s, n_r, d_num, d_stat) == (
            want.n_a, want.n_b, want.d_num, want.d_stat
        ), et
    # only the planted shape shift alerts at D > 0.5
    assert one["purchase"][4] and not one["view"][4]


def test_ks_drift_stream_kill_and_resume_state_exact(spark, tmp_path):
    """Kill the KS monitor after its first committed micro-batch and
    resume from the checkpoint: the recovered histogram state must end
    exactly where an uninterrupted run would (same final d_num)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
        ks_drift_stream,
        ks_reference_from_df,
    )

    landing = tmp_path / "landing"
    for lo, hi in [(0, 60), (60, 120), (120, 200)]:
        _land_events_json(
            spark, landing, (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
    events = load_table(spark, SF_SMOKE, "events").filter(F.col("event_id") < 200)
    reference = ks_reference_from_df(events, "value", "event_type")

    out = tmp_path / "ks_out"

    def sink(df, _eid):
        df.write.mode("append").parquet(str(out))

    def start():
        stream = file_stream(
            spark, str(landing), EVENTS_SCHEMA, max_files_per_trigger=1
        )
        return (
            ks_drift_stream(stream, reference, threshold_d=0.5)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        if (q.lastProgress or {}).get("batchId", -1) >= 0 and out.exists():
            break
        time.sleep(0.2)
    q.stop()
    assert q.awaitTermination(600)

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    got_df = spark.read.parquet(str(out)).toPandas()
    final = got_df.sort_values("n_seen").groupby("event_type").tail(1)
    # stream == reference here, so the final statistic must be 0 drift
    # with the full 200-event count — state survived the restart intact
    for r in final.itertuples():
        assert r.n_seen == r.n_ref and r.d_num == 0 and not r.alert, r


def test_ann_ingest_stream_bitmatches_batch_and_survives_restart(spark, tmp_path):
    """r5 verdict item 6: streaming ANN ingest. Drain vectors through
    the foreachBatch IVF sink in micro-batches, kill, add more files,
    resume from the checkpoint: the accumulated index's cell
    assignments must BIT-MATCH a one-shot batch with_ivf_probes pass
    under the same persisted quantizer, ids must be exactly-once, and
    the drift ledger must carry the PSI/retrain flag."""
    import json

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        with_ivf_probes,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        ann_ingest_sink,
    )
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    import random

    rng = random.Random(31)
    landing = tmp_path / "landing"
    vec_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])

    def land(name, ids):
        rows = [
            (i, [rng.gauss(0, 1) for _ in range(8)]) for i in ids
        ]
        spark.createDataFrame(rows, vec_schema).coalesce(1).write.mode(
            "append"
        ).json(str(landing / name))

    land("b1", range(0, 40))
    land("b2", range(40, 80))

    index = str(tmp_path / "index")
    state_path = str(tmp_path / "ann_state.json")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = file_stream(
            spark, str(landing / "*"), vec_schema, max_files_per_trigger=1
        )
        q = ann_ingest_sink(
            stream, index, state_path, ckpt,
            n_centroids=4, n_probe=2, available_now=True,
        )
        assert q.awaitTermination(600)

    run()
    with open(state_path) as f:
        state1 = json.load(f)
    assert len(state1["centroids"]) == 4 and "psi" in state1

    # restart with more files: same quantizer, no retrain, no dup ids
    land("b3", range(80, 120))
    run()
    with open(state_path) as f:
        state2 = json.load(f)
    assert state2["centroids"] == state1["centroids"]  # never retrained inline

    idx = spark.read.parquet(index)
    assert idx.count() == 120
    assert idx.select("vec_id").distinct().count() == 120  # exactly-once

    # bit-match: accumulated assignments == one-shot batch pass under
    # the same persisted centroids
    all_vecs = idx.select("vec_id", "embedding")
    want = {
        r.vec_id: (list(r.ivf_probes), r.ivf_probes[0])
        for r in with_ivf_probes(
            all_vecs, state2["centroids"], n_probe=2
        ).collect()
    }
    got = {
        r.vec_id: (list(r.ivf_probes), r.ivf_cell) for r in idx.collect()
    }
    assert got == want

    # replay safety: re-running the whole landing dir against the SAME
    # index but a FRESH checkpoint re-delivers every file; the id
    # anti-join must admit nothing new
    stream = file_stream(
        spark, str(landing / "*"), vec_schema, max_files_per_trigger=100
    )
    q = ann_ingest_sink(
        stream, index, state_path, str(tmp_path / "ckpt2"),
        n_centroids=4, n_probe=2, available_now=True,
    )
    assert q.awaitTermination(600)
    assert spark.read.parquet(index).count() == 120


def test_ann_ingest_drift_contract(spark, tmp_path):
    """The re-train trigger: a second wave whose distribution shifts
    mass to one region must push occupancy PSI over the threshold and
    set retrain_due — while the index itself stays append-only and
    assignment-stable (the contract says rebuild offline, never inline).
    """
    import json

    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        ann_ingest_sink,
    )
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    import random

    rng = random.Random(7)
    landing = tmp_path / "landing"
    vec_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])
    # wave 1: two well-separated clusters — trains a balanced quantizer
    rows = [(i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)]) for i in range(50)]
    rows += [
        (50 + i, [-5.0 + rng.gauss(0, 0.2) for _ in range(4)]) for i in range(50)
    ]
    spark.createDataFrame(rows, vec_schema).coalesce(1).write.mode(
        "append"
    ).json(str(landing / "w1"))

    index = str(tmp_path / "index")
    state_path = str(tmp_path / "state.json")

    def run(ckpt):
        stream = file_stream(
            spark, str(landing / "*"), vec_schema, max_files_per_trigger=1
        )
        q = ann_ingest_sink(
            stream, index, state_path, str(tmp_path / ckpt),
            n_centroids=2, n_probe=1, available_now=True,
        )
        assert q.awaitTermination(600)

    run("c1")
    with open(state_path) as f:
        s1 = json.load(f)
    assert not s1["retrain_due"] and abs(s1["psi"]) < 0.05

    # wave 2: 300 vectors, ALL in the first cluster's region — occupancy
    # shifts from ~50/50 to ~87/13 → PSI over 0.25
    rows2 = [
        (1000 + i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)])
        for i in range(300)
    ]
    spark.createDataFrame(rows2, vec_schema).coalesce(1).write.mode(
        "append"
    ).json(str(landing / "w2"))
    run("c1")  # same checkpoint: only the new file is processed
    with open(state_path) as f:
        s2 = json.load(f)
    assert s2["retrain_due"] and s2["psi"] > 0.25
    assert s2["centroids"] == s1["centroids"]  # index never mutated inline
    assert spark.read.parquet(index).count() == 400


def test_ann_versioned_rebuild_and_swap(spark, tmp_path):
    """r6 verdict item 5 — retrain as an OPERATION: ingest through the
    versioned sink, drift past the PSI line, run ann_index_rebuild, and
    assert (a) the rebuilt version bit-matches a from-scratch batch
    index over the same vectors under the new quantizer, (b) readers
    pinned on v0 still see exactly the pre-rebuild index, (c) a
    restarted ingest lands new batches in v1 while v0 stays frozen,
    (d) the new version's PSI baseline reset (retrain_due cleared)."""
    import json
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ann_index_rebuild,
        ann_store_paths,
        ann_store_read,
        ann_store_state,
        ann_store_versions,
        with_ivf_probes,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        ann_ingest_sink_versioned,
    )
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    rng = random.Random(13)
    landing = tmp_path / "landing"
    store = str(tmp_path / "ann_store")
    vec_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])

    def land(name, rows):
        spark.createDataFrame(rows, vec_schema).coalesce(1).write.mode(
            "append"
        ).json(str(landing / name))

    def run(ckpt):
        stream = file_stream(
            spark, str(landing / "*"), vec_schema, max_files_per_trigger=1
        )
        q = ann_ingest_sink_versioned(
            stream, store, str(tmp_path / ckpt),
            n_centroids=2, n_probe=1, available_now=True,
        )
        assert q.awaitTermination(600)

    # wave 1: balanced two-cluster population → bootstrap v0
    w1 = [(i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)]) for i in range(50)]
    w1 += [
        (50 + i, [-5.0 + rng.gauss(0, 0.2) for _ in range(4)])
        for i in range(50)
    ]
    land("w1", w1)
    run("c1")
    assert ann_store_versions(store) == [0]
    s0 = ann_store_state(store)
    assert s0["version"] == 0 and not s0["retrain_due"]

    # wave 2: mass shifts to one region → drift past the PSI line
    w2 = [
        (1000 + i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)])
        for i in range(300)
    ]
    land("w2", w2)
    run("c1")
    s0 = ann_store_state(store)
    assert s0["retrain_due"] and s0["psi"] > 0.25
    v0_rows = {
        (r.vec_id, tuple(r.ivf_probes), r.ivf_cell)
        for r in ann_store_read(spark, store, 0).collect()
    }
    assert len(v0_rows) == 400

    # THE OPERATION: offline rebuild-and-swap
    s1 = ann_index_rebuild(spark, store, n_centroids=2, n_probe=1)
    assert ann_store_versions(store) == [0, 1]
    assert s1["version"] == 1 and s1["rebuilt_from"] == 0
    # determinism: retraining from the same accumulated data is
    # byte-identical (seeded sample + argmin assignment)
    assert s1["centroids"] != s0["centroids"]

    # (a) rebuilt index bit-matches a from-scratch batch pass over the
    # same vectors under the new quantizer
    v1 = ann_store_read(spark, store, 1)
    assert v1.count() == 400
    want = {
        (r.vec_id, tuple(r.ivf_probes), r.ivf_probes[0])
        for r in with_ivf_probes(
            ann_store_read(spark, store, 0).select("vec_id", "embedding"),
            s1["centroids"], n_probe=1,
        ).collect()
    }
    got = {
        (r.vec_id, tuple(r.ivf_probes), r.ivf_cell) for r in v1.collect()
    }
    assert got == want
    # baseline reset: the fresh ref_shares describe the post-drift
    # population, so the new version starts un-drifted
    assert not ann_store_state(store, 1).get("retrain_due", False)

    # (b) readers pinned on v0 see the exact pre-rebuild index
    assert {
        (r.vec_id, tuple(r.ivf_probes), r.ivf_cell)
        for r in ann_store_read(spark, store, 0).collect()
    } == v0_rows

    # (c) post-swap ingest lands in v1; v0 stays frozen
    w3 = [
        (5000 + i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)])
        for i in range(20)
    ]
    land("w3", w3)
    run("c1")  # same checkpoint: only the new file is processed
    assert ann_store_read(spark, store, 1).count() == 420
    assert ann_store_read(spark, store, 0).count() == 400
    # v1 appends used v1's quantizer (assignment-stable under swap)
    idx1 = ann_store_read(spark, store, 1)
    want3 = {
        r.vec_id: tuple(r.ivf_probes)
        for r in with_ivf_probes(
            idx1.select("vec_id", "embedding"), s1["centroids"], n_probe=1
        ).collect()
    }
    got3 = {r.vec_id: tuple(r.ivf_probes) for r in idx1.collect()}
    assert got3 == want3

    # rebuild determinism: a second rebuild from v1's unchanged 420
    # vectors twice in a row would collide on v2 — instead assert the
    # state file round-trips and the manifest is the only commit point
    with open(ann_store_paths(store, 1)[1]) as f:
        assert json.load(f)["rebuilt_from"] == 0


def test_ann_versioned_swap_race_reconciled(spark, tmp_path):
    """A micro-batch that commits into version v AFTER ann_index_rebuild
    has scanned v but BEFORE the sink observes v+1 must not vanish from
    the current view: the sink's first post-swap batch reconciles
    v-only ids into v+1 (round-8 ADVICE item 1). Also pins idempotence
    (a second pass copies nothing) and crash-safety (wiping the
    reconciled_from marker re-runs an anti-join that finds nothing)."""
    import json
    import random

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.similarity import (
        ann_index_ingest_batch,
        ann_index_rebuild,
        ann_store_paths,
        ann_store_read,
        ann_store_state,
        ann_store_versions,
        with_ivf_probes,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
        ann_ingest_sink_versioned,
    )
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    rng = random.Random(29)
    landing = tmp_path / "landing"
    store = str(tmp_path / "ann_store")
    vec_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ])

    def land(name, rows):
        spark.createDataFrame(rows, vec_schema).coalesce(1).write.mode(
            "append"
        ).json(str(landing / name))

    def run():
        stream = file_stream(
            spark, str(landing / "*"), vec_schema, max_files_per_trigger=1
        )
        q = ann_ingest_sink_versioned(
            stream, store, str(tmp_path / "ckpt"),
            n_centroids=2, n_probe=1, available_now=True,
        )
        assert q.awaitTermination(600)

    w1 = [(i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)]) for i in range(50)]
    w1 += [
        (50 + i, [-5.0 + rng.gauss(0, 0.2) for _ in range(4)])
        for i in range(50)
    ]
    land("w1", w1)
    run()
    assert ann_store_versions(store) == [0]
    s0 = ann_store_state(store, 0)

    # offline rebuild scans v0's 100 vectors and publishes v1 ...
    s1 = ann_index_rebuild(spark, store, n_centroids=2, n_probe=1)
    assert ann_store_versions(store) == [0, 1]

    # ... and THEN a batch commits into v0 — the swap race: a sink
    # micro-batch that resolved v0 before the manifest landed
    raced = spark.createDataFrame(
        [(9000 + i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)])
         for i in range(10)],
        vec_schema,
    )
    v0_index, _ = ann_store_paths(store, 0)
    ann_index_ingest_batch(
        raced, v0_index, s0["centroids"], n_probe=s0["n_probe"]
    )
    assert ann_store_read(spark, store, 0).count() == 110
    assert ann_store_read(spark, store, 1).count() == 100  # race victims lost

    # the sink's next batch resolves v1 and must reconcile the 10
    w2 = [
        (5000 + i, [5.0 + rng.gauss(0, 0.2) for _ in range(4)])
        for i in range(20)
    ]
    land("w2", w2)
    run()
    idx1 = ann_store_read(spark, store, 1)
    assert idx1.count() == 130  # 100 rebuilt + 10 reconciled + 20 new
    got_ids = {r.vec_id for r in idx1.select("vec_id").collect()}
    assert all(9000 + i in got_ids for i in range(10))
    # reconciled rows carry v1's quantizer assignments
    want = {
        r.vec_id: tuple(r.ivf_probes)
        for r in with_ivf_probes(
            idx1.select("vec_id", "embedding"), s1["centroids"], n_probe=1
        ).collect()
    }
    got = {r.vec_id: tuple(r.ivf_probes) for r in idx1.collect()}
    assert got == want
    # the ancestor is settled exactly once
    assert ann_store_state(store, 1)["reconciled_from"] == [0]
    # v0 itself is untouched by the reconcile (pinned readers stable)
    assert ann_store_read(spark, store, 0).count() == 110

    # crash-safety: lose the marker (crash between copy and state
    # write) — the next batch re-runs an anti-join that finds nothing
    _, v1_state_path = ann_store_paths(store, 1)
    with open(v1_state_path) as f:
        st = json.load(f)
    del st["reconciled_from"]
    with open(v1_state_path, "w") as f:
        json.dump(st, f)
    land("w3", [(8000, [5.0, 5.0, 5.0, 5.0])])
    run()
    assert ann_store_read(spark, store, 1).count() == 131
    assert ann_store_state(store, 1)["reconciled_from"] == [0]
