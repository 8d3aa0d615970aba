"""Versioned snapshot log (sources/txlog.py): time travel, history,
logical overwrite, vacuum and the CDC merge's publish on plain parquet."""

from __future__ import annotations

import datetime
import decimal
import os

import pytest

from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
    commit_snapshot,
    read_snapshot,
    snapshot_history,
    snapshot_versions,
    vacuum_snapshots,
)
from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
    upsert_batch_into_parquet,
)


def test_append_versions_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = commit_snapshot(spark.range(0, 100), t)
    v1 = commit_snapshot(spark.range(100, 150), t, mode="append")
    assert (v0, v1) == (0, 1)
    assert read_snapshot(spark, t, version=0).count() == 100
    assert read_snapshot(spark, t, version=1).count() == 150
    assert read_snapshot(spark, t).count() == 150  # latest by default
    with pytest.raises(ValueError, match="not in"):
        read_snapshot(spark, t, version=9)
    with pytest.raises(FileNotFoundError, match="no committed"):
        read_snapshot(spark, str(tmp_path / "never_committed"))


def test_overwrite_is_logical_old_versions_survive(spark, tmp_path):
    t = str(tmp_path / "tbl2")
    commit_snapshot(spark.range(0, 100), t)
    commit_snapshot(spark.range(0, 7), t, mode="overwrite")
    assert read_snapshot(spark, t).count() == 7
    assert read_snapshot(spark, t, version=0).count() == 100  # still readable
    hist = snapshot_history(t)
    assert [h["version"] for h in hist] == [0, 1]
    assert hist[1]["mode"] == "overwrite"
    assert all(h["added_bytes"] > 0 for h in hist)


def test_vacuum_drops_only_superseded_files(spark, tmp_path):
    t = str(tmp_path / "tbl3")
    commit_snapshot(spark.range(0, 50), t)                    # v0
    commit_snapshot(spark.range(50, 80), t, mode="append")    # v1 (reuses v0 files)
    commit_snapshot(spark.range(0, 9), t, mode="overwrite")   # v2
    removed = vacuum_snapshots(t, keep_last=1)
    assert removed  # v0/v1 data gone
    assert snapshot_versions(t) == [2]
    assert read_snapshot(spark, t).count() == 9  # survivor intact
    # vacuumed files really deleted from disk, and nothing of v0/v1
    # left behind: no .crc sidecar, _SUCCESS marker or empty directory
    for f in removed:
        assert not os.path.exists(os.path.join(t, f))
    assert sorted(os.listdir(t)) == ["_log", "data-v000002"]
    assert os.listdir(os.path.join(t, "_log")) == ["v000002.json"]


def test_commit_retries_after_failed_write(spark, tmp_path):
    """A commit whose write fails publishes nothing and leaves the
    version's unpublished directory behind; the retry computes the same
    version, overwrites that directory, publishes and reads back."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "wedge")
    commit_snapshot(spark.range(0, 5), t)
    boom = spark.range(0, 10).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="boom"):
        commit_snapshot(boom, t)
    assert snapshot_versions(t) == [0]
    assert os.path.isdir(os.path.join(t, "data-v000001"))
    assert commit_snapshot(spark.range(5, 8), t) == 1
    assert sorted(r.id for r in read_snapshot(spark, t).collect()) == list(range(8))


def test_snapshot_read_runs_no_job_before_its_action(spark, tmp_path):
    """Reads take the schema the manifest records, so planning a read of
    a plain or a bucketed table runs no schema-inference job; a manifest
    without a schema still reads, by inference."""
    import json

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
        manifest_path,
        read_buckets,
    )

    def n_jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    plain, bucketed = str(tmp_path / "plain"), str(tmp_path / "bucketed")
    commit_snapshot(spark.range(0, 10), plain)
    commit_snapshot(spark.range(10, 20), plain)
    upsert_batch_into_parquet(
        spark.createDataFrame(
            [(k, "c", 1) for k in range(20)], "k long, _cdc_op string, _cdc_ts_ms long"
        ),
        bucketed,
        key="k",
        n_buckets=4,
    )
    before = n_jobs()
    reads = [
        read_snapshot(spark, plain),
        read_snapshot(spark, plain, 0),
        read_snapshot(spark, bucketed),
        read_buckets(spark, bucketed, [0, 1, 2, 3], 4),
    ]
    assert n_jobs() == before
    assert [df.count() for df in reads] == [20, 10, 20, 20]
    assert n_jobs() > before

    manifest = manifest_path(os.path.join(plain, "_log"), 1)
    with open(manifest) as f:
        m = json.load(f)
    del m["schema"]
    with open(manifest, "w") as f:
        json.dump(m, f)
    assert read_snapshot(spark, plain).count() == 20


def test_commit_bucket_tables_dictionary_only_where_it_pays(spark, tmp_path):
    """A bucket file written on the driver dictionary-encodes only the
    columns with at most half as many distinct values as rows, as
    Spark's writer keeps a dictionary only where it shrinks the column."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
        commit_bucket_tables,
    )

    t = str(tmp_path / "dict")
    table = pa.table({"id": pa.array(range(100), pa.int64()), "flag": ["a", "b"] * 50})
    schema = spark.createDataFrame([], "id long, flag string").schema
    commit_bucket_tables({0: table}, schema, t, 4)
    (path,) = glob.glob(os.path.join(t, "data-v*", "bucket=0", "part-*.parquet"))
    group = pq.read_metadata(path).row_group(0)
    encodings = {group.column(i).path_in_schema: group.column(i).encodings for i in range(2)}
    assert "RLE_DICTIONARY" not in encodings["id"]
    assert "RLE_DICTIONARY" in encodings["flag"]
    assert sorted(read_snapshot(spark, t).collect()) == sorted(
        (i, "ab"[i % 2]) for i in range(100)
    )


def test_reader_snapshot_isolation(spark, tmp_path):
    """A reader planned against version N does not see a later commit."""
    t = str(tmp_path / "tbl4")
    commit_snapshot(spark.range(0, 10), t)
    df_v0 = read_snapshot(spark, t, version=0)
    commit_snapshot(spark.range(0, 1000), t, mode="overwrite")
    assert df_v0.count() == 10  # plan pinned to v0's file list
    assert read_snapshot(spark, t).count() == 1000


def test_merge_into_snapshot_versioned_upserts(spark, tmp_path):
    """CDC MERGE against the snapshot log: upsert + delete land as a
    new version; the pre-merge snapshot remains readable for audit."""
    t = str(tmp_path / "tbl5")
    meta = "id long, v string, _cdc_ts_ms long, _cdc_op string"
    base = spark.createDataFrame(
        [(1, "a", 0, "r"), (2, "b", 0, "r"), (3, "c", 0, "r")], meta
    )
    upsert_batch_into_parquet(base, t, key="id")
    changes = spark.createDataFrame(
        [
            (2, "B", 100, "u"),   # update
            (4, "d", 100, "c"),   # insert
            (3, None, 100, "d"),  # delete
        ],
        meta,
    )
    upsert_batch_into_parquet(changes, t, key="id")
    assert snapshot_versions(t) == [0, 1]
    got = {
        r.id: r.v
        for r in read_snapshot(spark, t).select("id", "v").collect()
    }
    assert got == {1: "a", 2: "B", 4: "d"}
    # audit: pre-merge snapshot intact
    old = {r.id: r.v for r in read_snapshot(spark, t, version=0).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_snapshot_changes_between_versions(spark, tmp_path):
    """table_changes(v_from, v_to) parity: the change feed between two
    committed versions carries exactly the insert/update/delete rows
    that replay v_from into v_to."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
        snapshot_changes,
    )

    table = str(tmp_path / "t")
    commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string"),
        table,
    )
    commit_snapshot(
        spark.createDataFrame([(2, "B"), (3, "c"), (4, "d")], "id long, v string"),
        table,
        mode="overwrite",
    )

    feed = snapshot_changes(spark, table, 0, 1, key_cols=("id",))
    got = {r.id: r.op for r in feed.collect()}
    assert got == {1: "d", 2: "u", 4: "i"}  # 3 unchanged -> absent

    # defaults to latest target version; key_cols mandatory
    assert {r.id for r in snapshot_changes(
        spark, table, 0, key_cols=("id",)
    ).collect()} == {1, 2, 4}
    with pytest.raises(ValueError):
        snapshot_changes(spark, table, 0, 1)

    # a vacuumed from_version is an out-of-range CDF read
    vacuum_snapshots(table, keep_last=1)
    with pytest.raises(ValueError):
        snapshot_changes(spark, table, 0, 1, key_cols=("id",))


def test_typed_round_trip_as_of_both_versions(spark, tmp_path):
    """Timestamp, decimal, date and nullable string columns come back
    from every version exactly as committed, whatever the host's
    timezone: the write and the read are both JVM parquet."""
    from pyspark.sql import functions as F

    utc = datetime.timezone.utc
    epoch = datetime.datetime(1970, 1, 1, tzinfo=utc)
    schema = "id long, ts timestamp, amount decimal(12,2), d date, note string"
    rows_v0 = [
        (1, datetime.datetime(2024, 3, 10, 12, 0, 0, 123456, tzinfo=utc),
         decimal.Decimal("1234567890.12"), datetime.date(2024, 3, 10), "a"),
        (2, datetime.datetime(1999, 12, 31, 23, 59, 59, tzinfo=utc),
         decimal.Decimal("-0.01"), datetime.date(1970, 1, 1), None),
    ]
    rows_v1 = [
        (3, datetime.datetime(2024, 11, 3, 6, 30, tzinfo=utc),
         decimal.Decimal("0.00"), datetime.date(2000, 2, 29), "c"),
    ]
    t = str(tmp_path / "typed")
    commit_snapshot(spark.createDataFrame(rows_v0, schema), t)
    commit_snapshot(spark.createDataFrame(rows_v1, schema), t, mode="append")

    def expect(rows):
        return sorted(
            (i, (ts - epoch) // datetime.timedelta(microseconds=1), a, d, n)
            for i, ts, a, d, n in rows
        )

    def got(version):
        df = read_snapshot(spark, t, version=version)
        assert [f.dataType.simpleString() for f in df.schema] == [
            "bigint", "timestamp", "decimal(12,2)", "date", "string"
        ]
        return sorted(
            tuple(r)
            for r in df.select(
                "id", F.unix_micros("ts"), "amount", "d", "note"
            ).collect()
        )

    assert got(0) == expect(rows_v0)
    assert got(1) == expect(rows_v0 + rows_v1)


def test_merge_into_snapshot_bootstraps_version_zero(spark, tmp_path):
    """MERGE INTO a path with no committed version lands version 0 =
    the change batch replayed over an empty table: latest change per
    key wins, a delete wins a same-ts tie, deletes leave no row."""
    changes = [
        (1, "a", 1, "c"),
        (1, "a2", 3, "u"),
        (2, "b", 1, "c"),
        (2, None, 2, "d"),
        (3, "c", 5, "c"),
        (3, None, 5, "d"),
        (4, "d", 1, "r"),
    ]
    t = str(tmp_path / "fresh")
    upsert_batch_into_parquet(
        spark.createDataFrame(
            changes, "id long, v string, _cdc_ts_ms long, _cdc_op string"
        ),
        t,
        key="id",
    )
    assert snapshot_versions(t) == [0]

    replay: dict = {}
    for key, val, ts, op in sorted(changes, key=lambda c: (c[2], c[3] == "d")):
        replay[key] = None if op == "d" else val
    want = {k: val for k, val in replay.items() if val is not None}
    df = read_snapshot(spark, t)
    assert df.columns == ["id", "v"]
    assert {r.id: r.v for r in df.collect()} == want
