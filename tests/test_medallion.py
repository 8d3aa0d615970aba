"""End-to-end medallion pipeline, Kafka payload encoding, bucketed
co-located joins, session windows, custom stateful streaming."""

import json

import pyspark.sql.functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.operators.sessionize import (
    session_summary,
)
from dea05_e2e_kafka_streaming_pipeline_spark.plans.medallion import (
    MedallionPaths,
    run_medallion_batch,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.entities import (
    load_customers,
    load_orders,
)
from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table
from dea05_e2e_kafka_streaming_pipeline_spark.sources.sinks import (
    write_bucketed_table,
)
from dea05_e2e_kafka_streaming_pipeline_spark.streaming.pipeline import (
    sessionized_event_stats,
)
from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
    to_kafka_payload,
)
from dea05_e2e_kafka_streaming_pipeline_spark.streaming.stateful import (
    running_user_profile,
)

from tests.conftest import SF_SMOKE


def _paths(tmp_path):
    return MedallionPaths(
        bronze=str(tmp_path / "bronze"),
        silver=str(tmp_path / "silver"),
        quarantine=str(tmp_path / "quarantine"),
        gold_daily_sales=str(tmp_path / "gold/daily_sales"),
        gold_clv=str(tmp_path / "gold/clv"),
    )


def test_medallion_end_to_end_pass(spark, tmp_path):
    orders = load_orders(spark, SF_SMOKE)
    customers = load_customers(spark, SF_SMOKE)
    summary = run_medallion_batch(spark, orders, customers, _paths(tmp_path))
    assert summary["gate_passed"] is True
    assert summary["silver_rows"] == orders.count()
    assert summary["daily_sales_rows"] > 0
    assert summary["clv_rows"] == customers.join(orders, "customer_id").select(
        "customer_id"
    ).distinct().count()
    # bronze carries lineage; gold daily_sales is partitioned by date+region
    bronze = spark.read.parquet(str(tmp_path / "bronze"))
    assert {"ingest_time", "source_file", "ingestion_layer"} <= set(bronze.columns)
    assert any(p.name.startswith("date=") for p in (tmp_path / "gold/daily_sales").iterdir())


def test_medallion_end_to_end_quarantine(spark, tmp_path):
    orders = load_orders(spark, SF_SMOKE).withColumn(
        "customer_id",
        F.when(F.col("order_id") % 10 != 0, F.col("customer_id")),  # 10% nulls
    )
    customers = load_customers(spark, SF_SMOKE)
    summary = run_medallion_batch(spark, orders, customers, _paths(tmp_path))
    assert summary["gate_passed"] is False
    assert (tmp_path / "quarantine").exists()
    assert not (tmp_path / "silver").exists()


def test_kafka_payload_roundtrip(spark):
    df = load_orders(spark, SF_SMOKE).limit(20)
    payload = to_kafka_payload(df, key_col="order_id")
    rows = payload.collect()
    assert payload.columns == ["key", "value"]
    decoded = json.loads(rows[0].value)
    assert set(decoded) <= {"order_date", "order_amount", "customer_id"}
    assert rows[0].key is not None


def test_bucketed_join_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        lineitem = load_table(spark, SF_SMOKE, "lineitem")
        write_bucketed_table(orders, "b_orders", "o_orderkey", 8)
        write_bucketed_table(lineitem, "b_lineitem", "l_orderkey", 8)
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_session_window_agrees_with_lag_sessionize(spark):
    events = load_table(spark, SF_SMOKE, "events")
    sw = (
        sessionized_event_stats(events)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    lag = session_summary(events)
    a = {r.user_id: (r.n_sessions, r.n_events) for r in sw.collect()}
    b = {r.user_id: (r.n_sessions, r.n_events) for r in lag.collect()}
    assert a == b


def test_stateful_running_profile_stream(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    events.write.mode("overwrite").parquet(str(tmp_path / "ev"))
    from dea05_e2e_kafka_streaming_pipeline_spark.schemas import EVENTS_SCHEMA
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import file_stream

    stream = file_stream(spark, str(tmp_path / "ev"), EVENTS_SCHEMA, fmt="parquet")
    q = (
        running_user_profile(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("profiles")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted profile per user must equal the batch ground truth
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.sql(
            "SELECT * FROM profiles"
        ).orderBy("n_events").collect()  # update mode: later rows overwrite
    }
    want = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == want


def test_medallion_stream_bronze_and_silver(spark, tmp_path):
    """Streaming medallion: one source stream feeds checkpointed bronze
    landing AND the DQ-gated silver sink; both drain with availableNow."""
    from dea05_e2e_kafka_streaming_pipeline_spark.plans.medallion import (
        run_medallion_stream,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.streaming.sources import (
        file_stream,
    )

    orders = load_orders(spark, SF_SMOKE)
    customers = load_customers(spark, SF_SMOKE)
    orders.write.mode("overwrite").parquet(str(tmp_path / "landing"))
    stream = file_stream(
        spark, str(tmp_path / "landing"), orders.schema, fmt="parquet"
    )
    paths = _paths(tmp_path)
    bq, sq = run_medallion_stream(
        stream, customers, paths, str(tmp_path / "ck"), available_now=True
    )
    bq.awaitTermination(180)
    sq.awaitTermination(180)
    n = orders.count()
    assert spark.read.parquet(paths.bronze).count() == n
    assert spark.read.parquet(paths.silver).count() == n  # clean data passes gate
    assert not (tmp_path / "quarantine").exists()


def test_zorder_layout_tightens_file_stats(spark, tmp_path):
    """Z-order clustering must make per-file (min, max) ranges on BOTH
    clustered columns tight: for a small 2-D predicate box, far fewer
    z-ordered files overlap the box than in a time-clustered layout of
    the same file count — the overlap count IS the data-skipping story
    (row-group pushdown in vanilla parquet, file skipping under a
    stats-tracking table format)."""
    import pyarrow.parquet as pq

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.layout import (
        write_zordered,
    )
    from tests.conftest import SF_DIR

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    lo_u, hi_u, lo_v, hi_v = events.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    # a ~10% x 10% box in the middle of both domains
    box_u = (lo_u + 0.45 * (hi_u - lo_u), lo_u + 0.55 * (hi_u - lo_u))
    box_v = (lo_v + 0.45 * (hi_v - lo_v), lo_v + 0.55 * (hi_v - lo_v))

    zpath, bpath = str(tmp_path / "zorder"), str(tmp_path / "bytime")
    write_zordered(events, zpath, ["user_id", "value"], num_files=16)
    events.repartitionByRange(16, "ts").write.mode("overwrite").parquet(bpath)

    def overlapping_files(path):
        import glob

        hits, total = 0, 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            iu, iv = names.index("user_id"), names.index("value")
            fu_min = min(md.row_group(g).column(iu).statistics.min for g in range(md.num_row_groups))
            fu_max = max(md.row_group(g).column(iu).statistics.max for g in range(md.num_row_groups))
            fv_min = min(md.row_group(g).column(iv).statistics.min for g in range(md.num_row_groups))
            fv_max = max(md.row_group(g).column(iv).statistics.max for g in range(md.num_row_groups))
            total += 1
            if fu_max >= box_u[0] and fu_min <= box_u[1] and fv_max >= box_v[0] and fv_min <= box_v[1]:
                hits += 1
        return hits, total

    z_hits, z_total = overlapping_files(zpath)
    b_hits, b_total = overlapping_files(bpath)
    assert z_total >= 8 and b_total >= 8
    # time-clustered files are unclustered in (user_id, value): nearly
    # all overlap the box; z-ordered files overlap only around the box
    assert b_hits >= b_total * 0.8, (b_hits, b_total)
    assert z_hits <= z_total // 2, (z_hits, z_total)
    # layout preserves the data
    assert spark.read.parquet(zpath).count() == events.count()
