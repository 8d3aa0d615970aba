"""Registry queries: cdc_lake family. Split from queries.py
(r4 verdict item 2); registration order within the family preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dea05_e2e_kafka_streaming_pipeline_spark.queries._registry import (  # noqa: F401
    register,
)
from dea05_e2e_kafka_streaming_pipeline_spark.queries._shared import *  # noqa: F401,F403
from dea05_e2e_kafka_streaming_pipeline_spark.queries.core_sql import _DAILY_SALES_ORACLE  # noqa: F401,E501




@register("sql_daily_sales", oracle=_DAILY_SALES_ORACLE, bench=False)
def q_sql_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship gold query spelled as RAW SQL through the engine's
    SQL entry point (sources/catalog.py:run_sql + testdata/entity
    views) — hash-matched against the SAME oracle as
    `daily_sales_by_region`, proving the SQL surface and the DataFrame
    surface produce identical results (bench=False: it deliberately
    duplicates that query's work)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import run_sql

    return run_sql(
        spark,
        sf_dir,
        """
        SELECT date_format(o.order_date, 'yyyy-MM-dd') AS date,
               c.region AS region,
               count(o.order_id) AS total_orders,
               CAST(SUM(CAST(o.order_amount AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_revenue,
               CAST(SUM(CAST(o.order_amount AS DECIMAL(18,2))) AS DOUBLE)
                 / count(o.order_amount) AS avg_order_value,
               count(o.customer_id) AS unique_customers
        FROM orders_entity o JOIN customers_entity c USING (customer_id)
        GROUP BY 1, 2
        """,
    )




@register(
    "orders_snapshot_timetravel",
    bench=False,
    oracle=f"""
    WITH o AS (SELECT order_id, order_date,
                      CAST(order_amount AS DECIMAL(18,2)) AS order_amount
               FROM ({ORDERS_SQL})),
    v1 AS (
      SELECT order_id, order_date,
             CASE WHEN order_id % 97 = 0
                  THEN CAST(order_amount + 1 AS DECIMAL(18,2))
                  ELSE order_amount END AS order_amount
      FROM o WHERE order_id % 101 <> 0
    ),
    a0 AS (SELECT CAST(strftime(order_date, '%Y') AS INT) AS year,
                  count(*) AS n_v0,
                  CAST(sum(order_amount) AS DOUBLE) AS sum_v0
           FROM o GROUP BY 1),
    a1 AS (SELECT CAST(strftime(order_date, '%Y') AS INT) AS year,
                  count(*) AS n_v1,
                  CAST(sum(order_amount) AS DOUBLE) AS sum_v1
           FROM v1 GROUP BY 1)
    SELECT a0.year, a0.n_v0, a0.sum_v0, a1.n_v1, a1.sum_v1
    FROM a0 JOIN a1 USING (year)
    """,
)
def q_orders_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot log's FULL flow inside the driver's correctness
    gate: CDC-MERGE orders into an empty table as version 0, then
    deterministic updates (+1.00 on order_id%97) and deletes
    (order_id%101) into version 1,
    then read BOTH versions back via time travel and aggregate each by
    order year. The oracle recomputes v0/v1 purely in SQL — a mismatch
    anywhere in commit/merge/manifest/read breaks the hash. Eager by
    nature (materializes once per process, like the BPE/IVF state);
    bench=False (it re-runs entity reads twice on purpose)."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.sources.txlog import (
        read_snapshot,
    )

    path = _txlog_table(sf_dir)
    v0 = read_snapshot(spark, path, version=0)
    v1 = read_snapshot(spark, path, version=1)

    def agg(df, n_name, s_name):
        return df.groupBy(F.year("order_date").alias("year")).agg(
            F.count(F.lit(1)).alias(n_name),
            F.sum("order_amount").cast("double").alias(s_name),
        )

    return agg(v0, "n_v0", "sum_v0").join(agg(v1, "n_v1", "sum_v1"), "year")




@register(
    "parquet_rowgroup_stats",
    oracle="""
    SELECT regexp_extract(file_name, '[^/]+$') AS file_name,
           CAST(row_group_id AS INT) AS row_group,
           path_in_schema AS column,
           stats_min_value AS min_value,
           stats_max_value AS max_value,
           CAST(stats_null_count AS BIGINT) AS null_count,
           CAST(num_values AS BIGINT) AS num_values
    FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
    WHERE path_in_schema IN ('l_orderkey', 'l_suppkey')
    """,
)
def q_parquet_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map collection (the ANALYZE step): per-(file, row-group,
    column) min/max/null stats read from parquet FOOTERS ONLY, fanned
    out as mapInPandas over the file list — no data pages touched.
    The oracle is DuckDB's parquet_metadata() over the same file; both
    engines read the identical footer fields, so values hash-match.
    (Oracle path is the driver's fixed sf0.01 dataset — the correctness
    sweep's contract scale; the Spark side derives from sf_dir.)"""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.catalog import (
        rowgroup_stats,
    )

    return rowgroup_stats(
        spark, f"{sf_dir}/lineitem.parquet", ["l_orderkey", "l_suppkey"]
    )




@register(
    "customer_priority_scd2",
    oracle="""
    WITH ch AS (
      SELECT o_custkey AS customer_id, o_orderpriority AS priority,
             o_orderdate AS ts, o_orderkey AS seq,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), v AS (
      SELECT customer_id, priority, ts, seq FROM ch
      WHERE prev IS NULL OR prev <> priority
    )
    SELECT customer_id, priority,
           ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           CAST(row_number() OVER w2 AS INTEGER) AS version,
           (lead(ts) OVER w2 IS NULL) AS is_current
    FROM v WINDOW w2 AS (PARTITION BY customer_id ORDER BY ts, seq)
    """,
)
def q_customer_priority_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension history built from a change log (each
    customer's order stream read as priority updates): no-op updates
    collapse, validity intervals come from one lead() pass — a single
    shuffle on the key, no previous-version self-join."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import scd2_history
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
    )
    return scd2_history(
        changes,
        key_col="customer_id",
        attr_cols=("priority",),
        seq_cols=("ts", "seq"),
    )




# ---------------------------------------------------------------------------
# CDC decode (reference curated/dq_kafka.py:148-179) — envelope round-trip:
# wrap the orders entity in a Debezium envelope in-plan, then run the
# engine's normalize + decode; the oracle is the identity projection.
# ---------------------------------------------------------------------------

@register(
    "cdc_orders_decode",
    oracle=f"""
    {_ENTITY_CTES}
    SELECT CAST(order_id AS INT) AS order_id,
           order_date,
           CAST(CAST(order_amount AS DECIMAL(10,2)) AS DOUBLE) AS order_amount,
           CAST(customer_id AS INT) AS customer_id
    FROM o
    """,
)
def q_cdc_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelope flatten + epoch-day date decode + decimal(10,2)
    amount (reference curated/dq_kafka.py:148-179), exercised as a
    round-trip: entity → envelope → normalize_cdc/decode → entity."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import decode_cdc_orders

    orders = load_orders(spark, sf_dir)
    enveloped = orders.select(
        F.struct(
            F.col("order_id").cast("int").alias("order_id"),
            # io.debezium.time.Date: int32 days since epoch
            F.datediff(F.col("order_date"), F.lit("1970-01-01").cast("date")).alias(
                "order_date"
            ),
            F.col("order_amount").cast("decimal(10,2)").alias("order_amount"),
            F.col("customer_id").cast("int").alias("customer_id"),
        ).alias("after"),
        F.lit("c").alias("op"),
        F.lit(0).cast("long").alias("ts_ms"),
    )
    return decode_cdc_orders(enveloped)




@register(
    "snapshot_diff_orders",
    oracle="""
    WITH oldt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 17 = 0
    ), newt AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'i'
                WHEN n.o_orderkey IS NULL THEN 'd'
                ELSE 'u' END AS op,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_custkey
                ELSE o.o_custkey END AS o_custkey,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_orderstatus
                ELSE o.o_orderstatus END AS o_orderstatus,
           CASE WHEN n.o_orderkey IS NOT NULL THEN n.o_totalprice
                ELSE o.o_totalprice END AS o_totalprice
    FROM oldt o FULL JOIN newt n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_custkey IS DISTINCT FROM n.o_custkey
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
    """,
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed emulation: diff a simulated yesterday snapshot
    (10% of keys missing → inserts; stale totals on finished orders →
    updates; shifted phantom keys → deletes) against today's orders —
    one full-outer join + null-safe struct inequality."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import snapshot_diff
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    stale = orders.filter(F.col("o_orderkey") % 10 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderstatus") == "F", F.col("o_totalprice") + F.lit(10.0)
        ).otherwise(F.col("o_totalprice")),
    )
    phantoms = orders.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
    )
    old = stale.unionByName(phantoms)
    return snapshot_diff(
        old,
        orders,
        key_cols=("o_orderkey",),
        compare_cols=("o_custkey", "o_orderstatus", "o_totalprice"),
    )




@register(
    "customer_priority_asof",
    oracle="""
    WITH ch AS (
      SELECT o_custkey AS customer_id, o_orderpriority AS priority,
             o_orderdate AS ts, o_orderkey AS seq,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), v AS (
      SELECT customer_id, priority, ts, seq FROM ch
      WHERE prev IS NULL OR prev <> priority
    ), hist AS (
      SELECT customer_id, priority,
             ts AS valid_from,
             lead(ts) OVER w2 AS valid_to,
             CAST(row_number() OVER w2 AS INTEGER) AS version,
             (lead(ts) OVER w2 IS NULL) AS is_current
      FROM v WINDOW w2 AS (PARTITION BY customer_id ORDER BY ts, seq)
    )
    SELECT customer_id, priority, valid_from, valid_to, version, is_current
    FROM hist
    WHERE valid_from <= TIMESTAMP '1998-06-01'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '1998-06-01')
    """,
)
def q_customer_priority_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension snapshot: every customer's priority
    version valid AS OF 1998-06-01, answered by a pure filter over the
    SCD2 history (no join, no shuffle beyond the history build; footer
    min/max prunes old snapshots on a valid_from-sorted layout)."""
    from pyspark.sql import functions as F

    from dea05_e2e_kafka_streaming_pipeline_spark.operators.cdc import (
        scd2_history,
        scd2_snapshot,
    )
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
    )
    hist = scd2_history(
        changes,
        key_col="customer_id",
        attr_cols=("priority",),
        seq_cols=("ts", "seq"),
    )
    return scd2_snapshot(hist, "1998-06-01")




@register(
    "zorder_orders_keys",
    oracle="""
    WITH bits AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 16) t(i)),
    pts AS (
      SELECT o_orderkey AS order_id,
             CAST(o_custkey % 65536 AS BIGINT) AS x,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y
      FROM orders
    )
    SELECT order_id,
           CAST(SUM( (((x >> i) & 1) << (2 * i))
                   + (((y >> i) & 1) << (2 * i + 1)) ) AS BIGINT) AS zval
    FROM pts, bits
    GROUP BY 1
    """,
)
def q_zorder_orders_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over orders — customer id
    interleaved with order day (sources/layout.py:zorder_key), the sort
    key the OPTIMIZE-style rewrite clusters the table by so zone maps
    prune scans on EITHER column. Pure shift/and/or codegen fold, no
    shuffle; the oracle rebuilds the same interleave as a bit-position
    aggregate. The pruning benefit itself is measured by
    tests/test_layout.py (z-layout vs linear layout row-group
    survival under a 2-D box predicate)."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.layout import zorder_key
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("order_id"),
        zorder_key(
            [
                F.col("o_custkey"),
                F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01")),
            ],
            bits=16,
        ),
    )




@register(
    "hilbert_orders_keys",
    oracle="""
    WITH RECURSIVE pts AS (
      SELECT o_orderkey AS order_id,
             CAST(o_custkey % 256 AS BIGINT) AS x,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) % 256 AS BIGINT) AS y
      FROM orders
    ), h AS (
      SELECT order_id, x, y, CAST(0 AS BIGINT) AS d, CAST(128 AS BIGINT) AS s
      FROM pts
      UNION ALL
      SELECT order_id,
             CASE WHEN (y & s) = 0 THEN
               CASE WHEN (x & s) > 0 THEN 255 - y ELSE y END
             ELSE x END AS x,
             CASE WHEN (y & s) = 0 THEN
               CASE WHEN (x & s) > 0 THEN 255 - x ELSE x END
             ELSE y END AS y,
             d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
                             (CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END)) AS d,
             s // 2 AS s
      FROM h WHERE s > 0
    )
    SELECT order_id, d AS hval FROM h WHERE s = 0
    """,
)
def q_hilbert_orders_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering keys over orders (customer id x order day on
    a 256x256 grid) — the locality-preserving sibling of
    `zorder_orders_keys`: consecutive ranks are always-adjacent cells,
    so a Hilbert-sorted layout gives tighter row-group rectangles for
    2-D box pruning. Per-level codegen arithmetic via the DataFrame
    fold (layout.with_hilbert); the oracle replays the same fold as a
    recursive CTE."""
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.layout import with_hilbert
    from dea05_e2e_kafka_streaming_pipeline_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("__x"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01")
        ).alias("__y"),
    )
    return with_hilbert(pts, "__x", "__y", bits=8).select("order_id", "hval")
